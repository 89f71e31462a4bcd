import json

import pyarrow.parquet as pq

import gen


def _inputs(root, seed):
    gen.gen_corpus(seed, f"{root}/corpus", 300, 2000, 20)
    gen.gen_vectors(seed, f"{root}/vectors", 200, 8)
    gen.gen_query_stream(seed, f"{root}/queries.jsonl", 200, 2000, 200)
    planted = gen.gen_curation_corpus(seed, f"{root}/curate", 400, 2000)
    paths = [f"{root}/{p}" for p in ("corpus", "vectors", "queries.jsonl", "curate")]
    return gen.input_hash(paths), planted


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    h1, p1 = _inputs(tmp_path / "a", 7)
    h2, p2 = _inputs(tmp_path / "b", 7)
    h3, _ = _inputs(tmp_path / "c", 8)
    assert h1 == h2 and p1 == p2
    assert h1 != h3


def test_tokens_are_lowercase_words_and_oov_terms_are_outside_vocab(tmp_path):
    gen.gen_corpus(3, f"{tmp_path}/corpus", 200, 1000, 15)
    texts = pq.read_table(f"{tmp_path}/corpus").column("text").to_pylist()
    vocab = set(gen.make_vocabulary(3, 1000))
    assert all(w.isalpha() and w.islower() for t in texts for w in t.split(" "))
    assert {w for t in texts for w in t.split(" ")} <= vocab
    gen.gen_query_stream(3, f"{tmp_path}/q.jsonl", 400, 1000, 50)
    ops = [json.loads(x) for x in open(f"{tmp_path}/q.jsonl")]
    assert [o["op"] for o in ops[:4]] == ["lex", "knn", "lex", "knn"]
    oov = [w for o in ops if o["op"] == "lex" for w in o["text"].split(" ") if w not in vocab]
    assert oov and all(w.startswith("qx") for w in oov)


def test_planted_duplicates_have_higher_ids_and_one_word_changes(tmp_path):
    planted = gen.gen_curation_corpus(5, f"{tmp_path}/cur", 500, 2000)
    t = pq.read_table(f"{tmp_path}/cur").to_pydict()
    text = dict(zip(t["doc_id"], t["text"]))
    assert len(planted["exact"]) == 25 and len(planted["near"]) == 25
    for a, b in planted["exact"]:
        assert a < 500 <= b and text[a] == text[b]
    for a, b in planted["near"]:
        wa, wb = text[a].split(" "), text[b].split(" ")
        assert a < 500 <= b and len(wa) == len(wb)
        assert sum(x != y for x, y in zip(wa, wb)) == 1
