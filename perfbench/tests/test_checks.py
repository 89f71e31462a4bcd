"""Each output check passes on a correct result and catches a corrupted one."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import checks
import gen


@pytest.fixture()
def con():
    c = checks.connect()
    yield c
    c.close()


def _write(path, table: pa.Table):
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, f"{path}/part-0.parquet")


def _oracle_relation(con, corpus_dir) -> pa.Table:
    """The TF-IDF relation as the program writes it (unrounded scores)."""
    return con.execute(f"""
        WITH docs AS (SELECT doc_id, text FROM read_parquet('{corpus_dir}/*.parquet')),
        tokens AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM docs),
        dwc AS (SELECT word, doc_id, count(*) AS n FROM tokens GROUP BY ALL),
        dfreq AS (SELECT word, count(*) AS df FROM dwc GROUP BY word),
        nd AS (SELECT count(*) AS num_docs FROM docs)
        SELECT word, doc_id, 1.0 + log10(n) AS tf, df,
               (1.0 + log10(n)) * log10(1.0 + floor(num_docs / df)) AS tfidf
        FROM dwc JOIN dfreq USING (word) CROSS JOIN nd
    """).arrow()


def test_tfidf_check_catches_changed_score_and_missing_row(tmp_path, con):
    corpus = f"{tmp_path}/corpus"
    gen.gen_corpus(1, corpus, 200, 500, 20)
    oracle = checks.tfidf_oracle_digest(con, corpus)
    good = _oracle_relation(con, corpus)
    _write(f"{tmp_path}/good", good)
    assert checks.check_tfidf(con, f"{tmp_path}/good", oracle) == []

    scores = good.column("tfidf").to_pylist()
    scores[17] += 1e-3
    bad = good.set_column(good.schema.get_field_index("tfidf"), "tfidf",
                          pa.array(scores, pa.float64()))
    _write(f"{tmp_path}/bad", bad)
    assert checks.check_tfidf(con, f"{tmp_path}/bad", oracle)
    _write(f"{tmp_path}/short", good.slice(1))
    assert checks.check_tfidf(con, f"{tmp_path}/short", oracle)


def test_lexical_check_catches_wrong_score_and_wrong_order(tmp_path, con):
    _write(f"{tmp_path}/idx", pa.table({
        "word": ["aa", "aa", "bb", "bb", "cc"],
        "doc_id": pa.array([1, 2, 2, 3, 3], pa.int64()),
        "tfidf": [0.5, 0.25, 0.25, 0.75, 0.1],
    }))
    checks.load_index(con, f"{tmp_path}/idx")
    want = checks.lexical_oracle(con, "aa bb bb", k=10)
    # bag semantics: bb counts twice; ties broken by doc_id
    assert want == [(3, "1.500000"), (2, "0.750000"), (1, "0.500000")]
    assert checks.check_lexical([(3, 1.5), (2, 0.75), (1, 0.5)], want) == []
    assert checks.check_lexical([(3, 1.5), (2, 0.75), (1, 0.5000011)], want)
    assert checks.check_lexical([(2, 0.75), (3, 1.5), (1, 0.5)], want)
    assert checks.lexical_oracle(con, "qx1", k=10) == []


def test_knn_checks_catch_bad_shapes_and_measure_recall(tmp_path):
    gen.gen_vectors(2, f"{tmp_path}/v", 300, 8)
    exact = checks.ExactKnn(f"{tmp_path}/v")
    truth = exact.truth(5, 10)
    assert len(truth) == 10 and 5 not in truth
    ids = sorted(truth)
    assert checks.check_knn_shape(5, ids) == []
    assert checks.recall(truth, ids) == 1.0
    assert checks.check_knn_shape(5, ids[:9])
    assert checks.check_knn_shape(5, ids[:9] + [ids[0]])
    assert checks.check_knn_shape(5, ids[:9] + [5])
    wrong = [i for i in range(300) if i not in truth and i != 5][:10]
    assert checks.recall(truth, wrong) == 0.0


def test_curated_check_catches_kept_duplicate_repeated_id_and_bad_split(tmp_path, con):
    def out(name, ids, splits):
        _write(f"{tmp_path}/{name}", pa.table({
            "doc_id": pa.array(ids, pa.int64()), "pred_lang": ["en"] * len(ids),
            "quality": [0.9] * len(ids), "split": splits}))
        return f"{tmp_path}/{name}"

    dups = [10, 11]
    assert checks.check_curated(con, out("ok", [1, 2, 3], ["train", "valid", "test"]), dups) == []
    assert checks.check_curated(con, out("dup", [1, 2, 10], ["train"] * 3), dups)
    assert checks.check_curated(con, out("rep", [1, 2, 2], ["train"] * 3), dups)
    assert checks.check_curated(con, out("nosplit", [1, 2, 3], ["train", None, "test"]), dups)
    assert checks.check_curated(con, out("badsplit", [1, 2, 3], ["train", "dev", "test"]), dups)
