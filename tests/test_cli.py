"""CLI end-to-end tests: every reference tool shape runs against a
file-per-document text corpus (the reference's own input format) and a
parquet corpus, writing both sink formats."""

from __future__ import annotations

import math
import subprocess
import sys

import duckdb
import pytest


@pytest.fixture(scope="module")
def text_corpus(tmp_path_factory):
    d = tmp_path_factory.mktemp("corpus")
    (d / "doc_a.txt").write_text("spark data data\n")
    (d / "doc_b.txt").write_text("data lake\n")
    return str(d)


def _run(tool, inp, out, *extra):
    import os

    cmd = [
        sys.executable, "-m", "hadoop_tfidf_spark.cli", tool, inp, out,
        *extra,
    ]
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    res = subprocess.run(
        cmd, capture_output=True, text=True, timeout=300, cwd="/root/repo",
        env=env,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    return res


def test_docwordcount_text_corpus(text_corpus, tmp_path):
    out = str(tmp_path / "dwc")
    _run("docwordcount", text_corpus, out)
    rows = duckdb.sql(f"SELECT word, doc_id, n FROM '{out}/*.parquet'").fetchall()
    got = {(w, d): n for w, d, n in rows}
    assert got[("data", "doc_a.txt")] == 2
    assert got[("spark", "doc_a.txt")] == 1
    assert got[("lake", "doc_b.txt")] == 1


def test_tfidf_tsv_sink(text_corpus, tmp_path):
    out = str(tmp_path / "tfidf")
    _run("tfidf", text_corpus, out, "--format", "tsv")
    rows = duckdb.sql(
        f"SELECT * FROM read_csv('{out}/*.csv', sep='\t', header=false)"
    ).fetchall()
    # (spark,a), (data,a), (data,b), (lake,b)
    assert len(rows) == 4


def test_search_with_query_arg(text_corpus, tmp_path):
    out = str(tmp_path / "search")
    _run("search", text_corpus, out, "--query", "data")
    rows = duckdb.sql(f"SELECT doc_id, score FROM '{out}/*.parquet'").fetchall()
    got = dict(rows)
    # data: df=2, N=2 → idf=log10(2); doc_a tf=1+log10(2)
    assert got["doc_a.txt"] == pytest.approx((1 + math.log10(2)) * math.log10(2))
    assert got["doc_b.txt"] == pytest.approx(1.0 * math.log10(2))


def test_rank_orders_desc(text_corpus, tmp_path):
    out = str(tmp_path / "rank")
    _run("rank", text_corpus, out, "--query", "data")
    rows = duckdb.sql(
        f"SELECT doc_id, rnk FROM '{out}/*.parquet' ORDER BY rnk"
    ).fetchall()
    assert rows[0] == ("doc_a.txt", 1) and rows[1] == ("doc_b.txt", 2)


def test_tfidfrank_limit(text_corpus, tmp_path):
    out = str(tmp_path / "tr")
    _run("tfidfrank", text_corpus, out, "--limit", "2")
    n = duckdb.sql(f"SELECT count(*) FROM '{out}/*.parquet'").fetchone()[0]
    assert n == 2


def test_curate_and_pack(tmp_path):
    """curate: end-to-end curation over a parquet corpus; --pack adds
    split-aware packing columns."""
    import duckdb as _dk

    src = str(tmp_path / "docs.parquet")
    _dk.sql(
        "COPY (SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, 'the data lake holds a big table of rows and the "
            f"query engine scans it fast doc{i} extra words here make "
            f"quality pass easily now')"
            for i in range(20)
        )
        + ") t(doc_id, text)) TO '" + src + "' (FORMAT PARQUET)"
    )
    out = str(tmp_path / "curated")
    _run("curate", src, out)
    cols = {
        r[0]
        for r in duckdb.sql(f"DESCRIBE SELECT * FROM '{out}/*.parquet'").fetchall()
    }
    assert cols == {"doc_id", "pred_lang", "quality", "split"}
    n = duckdb.sql(f"SELECT count(*) FROM '{out}/*.parquet'").fetchone()[0]
    assert n > 0

    out2 = str(tmp_path / "packed")
    _run("curate", src, out2, "--pack", "64")
    cols2 = {
        r[0]
        for r in duckdb.sql(f"DESCRIBE SELECT * FROM '{out2}/*.parquet'").fetchall()
    }
    assert cols2 == {
        "doc_id", "split", "bucket", "pack_id", "n_tokens", "offset_in_pack"
    }


def test_curate_pack_text_dir_string_ids(tmp_path):
    """Regression (ADVICE r6): curate --pack on a TEXT directory — doc_ids
    are STRING filenames, which crashed the old `doc_id % n` packing under
    ANSI. The md5 hash bucket must pack them fine."""
    d = tmp_path / "txt"
    d.mkdir()
    for i in range(8):
        # per-doc suffixed vocabulary: keeps lang/quality passing while
        # sharing no 3-gram shingles, so curation's near-dup stage
        # doesn't (correctly) collapse the corpus to one survivor
        body = (
            f"the data{i} lake{i} holds a big table{i} of rows{i} and "
            f"the query{i} engine{i} scans it fast{i} with extra "
            f"words{i} here to make quality{i} pass easily now{i}"
        )
        (d / f"doc{i}.txt").write_text(f"{body}\n")
    out = str(tmp_path / "packed")
    _run("curate", str(d), out, "--pack", "64")
    rows = duckdb.sql(
        f"SELECT doc_id, bucket FROM '{out}/*.parquet'"
    ).fetchall()
    assert len(rows) == 8
    assert all(did.endswith(".txt") for did, _ in rows)
    assert all(b is not None and 0 <= b < 8 for _, b in rows)


def test_curate_rejects_malformed_splits(tmp_path):
    """Malformed or negative --splits entries die with a clear argparse
    error, not a bare int() traceback (and negatives can't sneak past the
    sum==100 check)."""
    import os
    import subprocess

    src = str(tmp_path / "docs.parquet")
    duckdb.sql(
        "COPY (SELECT 1 AS doc_id, 'a b c' AS text) TO '"
        + src + "' (FORMAT PARQUET)"
    )
    for bad in (
        "train:90",
        "train=90,valid=5,test=5,",
        "train=150,test=-50",
        "train=90,valid=5",      # sum != 100
        "train=50,train=50",     # duplicate name would silently collapse
    ):
        res = subprocess.run(
            [sys.executable, "-m", "hadoop_tfidf_spark.cli", "curate",
             src, str(tmp_path / "out"), "--splits", bad],
            capture_output=True, text=True, timeout=300, cwd="/root/repo",
            env=dict(os.environ, SPARK_GRAFT_CPUS="2"),
        )
        assert res.returncode == 2, (bad, res.returncode, res.stderr[-500:])
        assert "--splits" in res.stderr


def test_curate_decontaminate_flag(tmp_path):
    """--decontaminate drops the candidate doc that verbatim-overlaps the
    benchmark corpus; clean docs survive curation."""
    cand = tmp_path / "cand"
    cand.mkdir()
    bench = tmp_path / "bench"
    bench.mkdir()
    leaked = (
        "the benchmark question asks about a big data lake and the "
        "answer is to scan it fast with extra words to pass quality now"
    )
    clean = (
        "the data engine holds a wide table of rows and it scans fast "
        "with plenty of extra words here to make quality pass easily"
    )
    (cand / "leaked.txt").write_text(leaked + "\n")
    (cand / "clean.txt").write_text(clean + "\n")
    (bench / "bench.txt").write_text(leaked + "\n")
    out = str(tmp_path / "curated")
    _run("curate", str(cand), out, "--decontaminate", str(bench))
    ids = {r[0] for r in duckdb.sql(f"SELECT doc_id FROM '{out}/*.parquet'").fetchall()}
    assert ids == {"clean.txt"}


def test_curate_splits_and_bucket_cap_flags(tmp_path):
    """--splits overrides split percentages (all-train → every row
    'train'); --max-bucket-size engages the capped LSH path;
    --pack-budget is the documented alias of --pack."""
    import duckdb as _dk

    src = str(tmp_path / "docs.parquet")
    _dk.sql(
        "COPY (SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, 'the data lake holds a big table of rows and the "
            f"query engine scans it fast doc{i} extra words here make "
            f"quality pass easily now')"
            for i in range(12)
        )
        + ") t(doc_id, text)) TO '" + src + "' (FORMAT PARQUET)"
    )
    out = str(tmp_path / "curated")
    _run(
        "curate", src, out,
        "--splits", "train=100",
        "--max-bucket-size", "50",
    )
    splits = {
        r[0] for r in duckdb.sql(f"SELECT DISTINCT split FROM '{out}/*.parquet'").fetchall()
    }
    assert splits == {"train"}

    out2 = str(tmp_path / "packed")
    _run("curate", src, out2, "--pack-budget", "64", "--splits", "train=50,test=50")
    cols = {
        r[0]
        for r in duckdb.sql(f"DESCRIBE SELECT * FROM '{out2}/*.parquet'").fetchall()
    }
    assert cols == {
        "doc_id", "split", "bucket", "pack_id", "n_tokens", "offset_in_pack"
    }


def test_curate_semantic_dedup_flag(tmp_path):
    """--semantic-dedup EMB adds the SemDeDup stage: the doc whose
    embedding near-duplicates a lower-id doc's drops, texts being
    lexically distinct; without the flag everything survives."""
    import random

    rng = random.Random(5)
    src = str(tmp_path / "docs.parquet")
    emb = str(tmp_path / "emb.parquet")
    rows, vecs = [], []
    # 24 docs: the CLI's default semantic_k=16 seeds on ids 0-15, so the
    # twin pair (17, 23) are both non-seeds and land in one cell
    for i in range(24):
        words = []
        for j in range(6):
            words += ["the", f"a{i}x{j}", "and", f"b{i}x{j}", "of", f"c{i}x{j}"]
        rows.append((i, " ".join(words)))
        vecs.append((i, [rng.uniform(-1, 1) * 8 for _ in range(8)]))
    vecs[23] = (23, [x + rng.uniform(-0.001, 0.001) for x in vecs[17][1]])
    duckdb.sql(
        "COPY (SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{t}')" for i, t in rows)
        + ") t(doc_id, text)) TO '" + src + "' (FORMAT PARQUET)"
    )
    duckdb.sql(
        "COPY (SELECT * FROM (VALUES "
        + ", ".join(f"({i}, {v}::DOUBLE[])" for i, v in vecs)
        + ") t(vec_id, embedding)) TO '" + emb + "' (FORMAT PARQUET)"
    )
    out = str(tmp_path / "curated")
    _run("curate", src, out, "--min-quality", "0",
         "--semantic-dedup", emb, "--semantic-threshold", "0.9999")
    ids = {r[0] for r in duckdb.sql(f"SELECT doc_id FROM '{out}/*.parquet'").fetchall()}
    assert ids == set(range(23))  # 23 (the semantic twin of 17) dropped


def test_cli_compact(tmp_path):
    """compact subcommand: any-schema parquet in, sized rewrite out, one
    JSON census line on stdout (subprocess, like every CLI test)."""
    import glob
    import json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "frag"
    src.mkdir()
    for i in range(16):
        pq.write_table(
            pa.table({"id": list(range(i * 100, (i + 1) * 100))}),
            str(src / f"part-{i:05d}.parquet"),
        )
    out = str(tmp_path / "compacted")
    cmd = [
        sys.executable, "-m", "hadoop_tfidf_spark.cli", "compact",
        str(src), out, "--target-file-mb", "64",
    ]
    res = subprocess.run(
        cmd, capture_output=True, text=True, timeout=300, cwd="/root/repo",
        env=dict(os.environ, SPARK_GRAFT_CPUS="4"),
    )
    assert res.returncode == 0, res.stderr[-2000:]
    stats = json.loads(res.stdout.strip().splitlines()[-1])
    assert stats["n_input_files"] == 16 and stats["n_output_files"] == 1
    assert len(glob.glob(f"{out}/*.parquet")) == 1
    assert duckdb.sql(
        f"SELECT count(*), min(id), max(id) FROM '{out}/*.parquet'"
    ).fetchone() == (1600, 0, 1599)


def test_cli_select_trains_and_cuts(tmp_path):
    """`select` end-to-end: train on --target, keep the top-n docs whose
    bigram profile matches, carry every input column + the score."""
    src = str(tmp_path / "docs.parquet")
    # every crawl doc has exactly 5 bigram features: DSIR sums (not
    # averages) per-feature log-ratios, so equal feature counts make the
    # ranking reflect target affinity alone
    duckdb.sql(
        "COPY (SELECT * FROM (VALUES "
        "(1, 'the cat sat on the mat', 'wiki'), "
        "(2, 'the cat sat on the rug', 'crawl'), "
        "(3, 'stock market crash wiped savings today', 'crawl'), "
        "(4, 'the dog sat on the mat', 'crawl'), "
        "(5, 'buy cheap pills online now today', 'crawl')"
        ") AS t(doc_id, text, source)) TO '" + src + "' (FORMAT PARQUET)"
    )
    out = str(tmp_path / "selected")
    _run(
        "select", src, out,
        "--target", "source = 'wiki'",
        "--exclude-target", "--top-n", "2",
    )
    rows = duckdb.sql(
        f"SELECT doc_id, source, dsir_logratio FROM '{out}/*.parquet' "
        "ORDER BY dsir_logratio DESC"
    ).fetchall()
    assert len(rows) == 2
    # the wiki doc itself is excluded; the two bigram-sharing docs win,
    # the near-verbatim twin first
    assert all(r[1] == "crawl" for r in rows)
    assert {rows[0][0], rows[1][0]} == {2, 4}
    assert rows[0][0] == 2
    assert rows[0][2] >= rows[1][2]


def test_cli_select_ratios_roundtrip(tmp_path):
    """--save-ratios then --ratios: the saved table scores a DISJOINT
    corpus (the train-on-sample / score-the-corpus deployment) and the
    two runs agree on the shared doc."""
    train = str(tmp_path / "train.parquet")
    duckdb.sql(
        "COPY (SELECT * FROM (VALUES "
        "(1, 'the cat sat on the mat', 'wiki'), "
        "(2, 'stock market crash wiped savings today', 'crawl'), "
        "(3, 'the cat sat on the rug', 'crawl')"
        ") AS t(doc_id, text, source)) TO '" + train + "' (FORMAT PARQUET)"
    )
    score = str(tmp_path / "score.parquet")
    # equal feature counts (5 bigrams each), and doc 11's bigrams all
    # occur in the RAW training corpus: never-trained buckets carry the
    # smoothed prior, which is mildly POSITIVE (the target total is
    # smaller than the raw total), so an all-novel doc would win on a
    # tiny fixture for smoothing reasons, not affinity
    duckdb.sql(
        "COPY (SELECT * FROM (VALUES "
        "(10, 'the cat sat on the rug', 'crawl'), "
        "(11, 'stock market crash wiped savings today', 'crawl')"
        ") AS t(doc_id, text, source)) TO '" + score + "' (FORMAT PARQUET)"
    )
    ratios = str(tmp_path / "ratios")
    out1 = str(tmp_path / "sel1")
    _run(
        "select", train, out1,
        "--target", "source = 'wiki'",
        "--top-n", "3", "--save-ratios", ratios,
    )
    out2 = str(tmp_path / "sel2")
    _run("select", score, out2, "--ratios", ratios, "--top-n", "1")
    got1 = {
        r[0]: r[1]
        for r in duckdb.sql(
            f"SELECT text, dsir_logratio FROM '{out1}/*.parquet'"
        ).fetchall()
    }
    got2 = duckdb.sql(
        f"SELECT doc_id, text, dsir_logratio FROM '{out2}/*.parquet'"
    ).fetchall()
    # the cat-doc wins on the held-out corpus, scored by the saved table
    assert len(got2) == 1 and got2[0][0] == 10
    # identical text => identical score from the same ratio table
    assert got2[0][2] == got1["the cat sat on the rug"]


def test_cli_select_rejects_bad_flag_combos(tmp_path):
    import os

    src = str(tmp_path / "docs.parquet")
    duckdb.sql(
        "COPY (SELECT 1 AS doc_id, 'a b c' AS text) TO '"
        + src + "' (FORMAT PARQUET)"
    )
    for extra in (
        [],                                        # neither target nor ratios
        ["--target", "1=1", "--ratios", "/x"],     # both
        ["--target", "1=1"],                       # missing --top-n
        ["--target", "1=1", "--top-n", "0"],       # non-positive
        ["--ratios", "/x", "--top-n", "1", "--exclude-target"],
        ["--ratios", "/x", "--top-n", "1", "--save-ratios", "/y"],
    ):
        res = subprocess.run(
            [sys.executable, "-m", "hadoop_tfidf_spark.cli", "select",
             src, str(tmp_path / "out"), *extra],
            capture_output=True, text=True, timeout=300, cwd="/root/repo",
            env=dict(os.environ, SPARK_GRAFT_CPUS="2"),
        )
        assert res.returncode == 2, (extra, res.returncode, res.stderr[-500:])
        assert "select:" in res.stderr


def test_cli_bpe_train_roundtrip(tmp_path):
    """bpe-train writes the vocab table bpe_token_counts consumes, plus
    the ordered merge list."""
    src = str(tmp_path / "docs.parquet")
    duckdb.sql(
        "COPY (SELECT * FROM (VALUES "
        "(1, 'low low low lower lowest'), (2, 'low lower newest newest')"
        ") AS t(doc_id, text)) TO '" + src + "' (FORMAT PARQUET)"
    )
    out = str(tmp_path / "vocab")
    merges = str(tmp_path / "merges")
    _run("bpe-train", src, out, "--merges", "4", "--save-merges", merges)
    vocab = duckdb.sql(
        f"SELECT word, n, symbols FROM '{out}/*.parquet' ORDER BY word"
    ).fetchall()
    assert {w for w, _, _ in vocab} == {"low", "lower", "lowest", "newest"}
    assert all(isinstance(s, list) and s for _, _, s in vocab)
    got_merges = duckdb.sql(
        f"SELECT idx, \"left\", \"right\" FROM '{merges}/*.parquet' ORDER BY idx"
    ).fetchall()
    assert [i for i, _, _ in got_merges] == [0, 1, 2, 3]
    # first merge on this corpus: 'l'+'o' ('lo' appears in 6 of 9 words)
    assert (got_merges[0][1], got_merges[0][2]) == ("l", "o")


def test_cli_project_rp_and_pca(tmp_path):
    """project writes the JL projection / PCA scores of an embeddings
    table; rp rows match input ids, pca emits k rows per id."""
    src = str(tmp_path / "emb.parquet")
    duckdb.sql(
        "COPY (SELECT r AS vec_id, [0.1*r, -0.2*r, 0.05*r, 1.0]::DOUBLE[] "
        "AS embedding FROM range(20) t(r)) TO '" + src + "' (FORMAT PARQUET)"
    )
    rp_out = str(tmp_path / "rp")
    _run("project", src, rp_out, "--method", "rp",
         "--out-dim", "3", "--in-dim", "4")
    rp = duckdb.sql(
        f"SELECT vec_id, rp FROM '{rp_out}/*.parquet' ORDER BY vec_id"
    ).fetchall()
    assert len(rp) == 20
    assert all(len(v) == 3 for _, v in rp)
    pca_out = str(tmp_path / "pca")
    _run("project", src, pca_out, "--method", "pca",
         "--out-dim", "2", "--in-dim", "4", "--whiten")
    n = duckdb.sql(
        f"SELECT count(*), count(DISTINCT component) FROM '{pca_out}/*.parquet'"
    ).fetchone()
    assert n == (40, 2)


def test_cli_project_rejects_bad_flags(tmp_path):
    import os

    src = str(tmp_path / "emb.parquet")
    duckdb.sql(
        "COPY (SELECT 1 AS vec_id, [1.0]::DOUBLE[] AS embedding) TO '"
        + src + "' (FORMAT PARQUET)"
    )
    for tool, extra in (
        ("project", []),                              # missing --method
        ("project", ["--method", "rp", "--whiten"]),  # whiten needs pca
        ("bpe-train", ["--merges", "0"]),
    ):
        res = subprocess.run(
            [sys.executable, "-m", "hadoop_tfidf_spark.cli", tool,
             src, str(tmp_path / "out"), *extra],
            capture_output=True, text=True, timeout=300, cwd="/root/repo",
            env=dict(os.environ, SPARK_GRAFT_CPUS="2"),
        )
        assert res.returncode == 2, (tool, extra, res.stderr[-500:])
        assert f"{tool}:" in res.stderr


def test_knn_brute_and_bq(spark, tmp_path):
    """knn end-to-end: brute exact search returns k rows per query in
    the family shape; the bq tier with an uncut budget must agree with
    brute exactly (stage 2 re-ranks exactly)."""
    emb_path = str(tmp_path / "emb.parquet")
    rows = [
        (i, [((i * 29 + d * 13) % 19 - 9) / 10.0 for d in range(8)])
        for i in range(30)
    ]
    spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    ).write.parquet(emb_path)

    out_b = str(tmp_path / "knn_brute")
    _run("knn", emb_path, out_b, "--query-ids", "0,1", "--k", "5",
         "--units", "1000")
    brute = sorted(duckdb.sql(
        f"SELECT query_id, rn, vec_id, d2_u FROM '{out_b}/*.parquet'"
    ).fetchall())
    assert len(brute) == 10
    assert {r[0] for r in brute} == {0, 1}

    out_q = str(tmp_path / "knn_bq")
    _run("knn", emb_path, out_q, "--query-ids", "0,1", "--k", "5",
         "--knn-index", "bq", "--candidates", "100", "--units", "1000")
    bq = sorted(duckdb.sql(
        f"SELECT query_id, rn, vec_id, d2_u FROM '{out_q}/*.parquet'"
    ).fetchall())
    assert bq == brute


def test_knn_build_then_serve_matches_one_shot(spark, tmp_path):
    """The build-once/serve-many split end-to-end through the CLI in
    separate processes: knn-build trains and persists the ivfsq tier
    (printing its manifest census), knn --index-dir serves from the
    stored artifacts, and the served rows hash-equal the one-shot
    build+search twin (deterministic integer Lloyd → identical index
    either way)."""
    import json

    emb_path = str(tmp_path / "emb.parquet")
    rows = [
        (i, [((i * 29 + d * 13) % 19 - 9) / 10.0 for d in range(8)])
        for i in range(40)
    ]
    spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    ).write.parquet(emb_path)

    idx_dir = str(tmp_path / "idx")
    res = _run("knn-build", emb_path, idx_dir, "--knn-index", "ivfsq",
               "--units", "1000")
    census = json.loads(res.stdout.strip().splitlines()[-1])
    assert census["kind"] == "ivfsq"
    assert census["artifacts"] == ["centroids", "vmax"]
    assert census["tables"] == ["index"]

    # nprobe=16 probes every coarse cell: the tiny fixture can then
    # always fill k=5 (2 cells may hold < 5 neighbors)
    out_served = str(tmp_path / "served")
    _run("knn", emb_path, out_served, "--query-ids", "0,3", "--k", "5",
         "--index-dir", idx_dir, "--candidates", "30", "--nprobe", "16")
    served = sorted(duckdb.sql(
        f"SELECT query_id, rn, vec_id, d2_u FROM '{out_served}/*.parquet'"
    ).fetchall())

    out_oneshot = str(tmp_path / "oneshot")
    _run("knn", emb_path, out_oneshot, "--query-ids", "0,3", "--k", "5",
         "--knn-index", "ivfsq", "--candidates", "30", "--nprobe", "16",
         "--units", "1000")
    oneshot = sorted(duckdb.sql(
        f"SELECT query_id, rn, vec_id, d2_u FROM '{out_oneshot}/*.parquet'"
    ).fetchall())

    assert served == oneshot and len(served) == 10

    # tier mismatch between the flag and the manifest fails loudly
    res = subprocess.run(
        [sys.executable, "-m", "hadoop_tfidf_spark.cli", "knn", emb_path,
         str(tmp_path / "x"), "--query-ids", "0", "--index-dir", idx_dir,
         "--knn-index", "bq"],
        capture_output=True, text=True, timeout=300, cwd="/root/repo",
    )
    assert res.returncode != 0 and "ivfsq" in res.stderr

    # ivfpq is build/serve only — the one-shot path refuses it
    res = subprocess.run(
        [sys.executable, "-m", "hadoop_tfidf_spark.cli", "knn", emb_path,
         str(tmp_path / "y"), "--query-ids", "0", "--knn-index", "ivfpq"],
        capture_output=True, text=True, timeout=60, cwd="/root/repo",
    )
    assert res.returncode != 0 and "knn-build" in res.stderr


def test_knn_graph_serves_bulk_from_stored_index(spark, tmp_path):
    """knn-graph end-to-end: build the ivfpq tier once, emit the
    whole-corpus kNN graph from the stored index at a pinned budget —
    every vector appears as a query, ranks are within k, and the output
    is the family shape. Missing --index-dir refuses at argparse
    level."""
    emb_path = str(tmp_path / "emb.parquet")
    rows = [
        (i, [((i * 29 + d * 13) % 19 - 9) / 10.0 for d in range(8)])
        for i in range(40)
    ]
    spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    ).write.parquet(emb_path)
    idx_dir = str(tmp_path / "idx")
    _run("knn-build", emb_path, idx_dir, "--knn-index", "ivfpq",
         "--coarse-k", "4", "--units", "1000")
    out = str(tmp_path / "graph")
    _run("knn-graph", emb_path, out, "--index-dir", idx_dir,
         "--k", "3", "--nprobe", "4", "--candidates", "30")
    got = duckdb.sql(
        f"SELECT query_id, vec_id, rn FROM '{out}/*.parquet'"
    ).fetchall()
    assert {r[0] for r in got} == set(range(40))  # every vector queries
    assert all(1 <= r[2] <= 3 and r[0] != r[1] for r in got)

    res = subprocess.run(
        [sys.executable, "-m", "hadoop_tfidf_spark.cli", "knn-graph",
         emb_path, str(tmp_path / "x")],
        capture_output=True, text=True, timeout=60, cwd="/root/repo",
    )
    assert res.returncode != 0 and "--index-dir" in res.stderr


def test_knn_rejects_missing_query_ids(tmp_path):
    import subprocess

    cmd = [sys.executable, "-m", "hadoop_tfidf_spark.cli", "knn",
           "in.parquet", str(tmp_path / "o")]
    res = subprocess.run(
        cmd, capture_output=True, text=True, timeout=60, cwd="/root/repo"
    )
    assert res.returncode != 0
    assert "--query-ids" in res.stderr


def test_explain_emits_plan_census(tmp_path):
    """explain prints one JSON census line for a declared query and
    rejects unknown names at argparse level."""
    import json
    import os

    cmd = [sys.executable, "-m", "hadoop_tfidf_spark.cli", "explain",
           "doc_word_count", "/root/testdata/sf0.001"]
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    res = subprocess.run(
        cmd, capture_output=True, text=True, timeout=300, cwd="/root/repo",
        env=env,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    line = [l for l in res.stdout.splitlines() if l.startswith("{")][-1]
    d = json.loads(line)
    assert d["query"] == "doc_word_count"
    assert d["cartesian_products"] == 0 and d["shuffle_exchanges"] >= 1

    bad = subprocess.run(
        [sys.executable, "-m", "hadoop_tfidf_spark.cli", "explain",
         "no_such_query", "/root/testdata/sf0.001"],
        capture_output=True, text=True, timeout=120, cwd="/root/repo",
    )
    assert bad.returncode != 0 and "unknown query" in bad.stderr


def test_frontier_emits_six_tier_table(tmp_path):
    """frontier end-to-end (subprocess): six tiers, documented byte
    accounting, one JSON dashboard line on stdout, parquet at OUT."""
    import json
    import os

    out = str(tmp_path / "frontier")
    cmd = [sys.executable, "-m", "hadoop_tfidf_spark.cli", "frontier",
           "/root/testdata/sf0.001", out]
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    res = subprocess.run(
        cmd, capture_output=True, text=True, timeout=300, cwd="/root/repo",
        env=env,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    line = next(
        ln for ln in res.stdout.splitlines() if ln.startswith('{"frontier"')
    )
    rows = {r["tier"]: r for r in json.loads(line)["frontier"]}
    assert set(rows) == {"sq", "ivfsq", "pq", "ivfpq_res", "opq_ivfpq", "bq"}
    assert rows["sq"]["bytes_per_vec"] == 64
    assert rows["bq"]["bytes_per_vec"] == 8
    stored = duckdb.sql(
        f"SELECT count(*) FROM '{out}/*.parquet'"
    ).fetchone()[0]
    assert stored == 6


@pytest.mark.parametrize(
    "sizing", [(), ("--bloom-bits-per-key", "10")], ids=["default", "sized"]
)
def test_curate_decontaminate_bloom_flag(tmp_path, sizing):
    """--decontaminate --decontaminate-bloom routes the drop through a
    Bloom filter, at the default geometry or sized from the benchmark's
    shingle count: the verbatim-leaked doc still drops (Bloom has no
    false negatives), the clean doc still survives."""
    cand = tmp_path / "cand"
    cand.mkdir()
    bench = tmp_path / "bench"
    bench.mkdir()
    leaked = (
        "the benchmark question asks about a big data lake and the "
        "answer is to scan it fast with extra words to pass quality now"
    )
    clean = (
        "the data engine holds a wide table of rows and it scans fast "
        "with plenty of extra words here to make quality pass easily"
    )
    (cand / "leaked.txt").write_text(leaked + "\n")
    (cand / "clean.txt").write_text(clean + "\n")
    (bench / "bench.txt").write_text(leaked + "\n")
    out = str(tmp_path / "curated")
    _run(
        "curate", str(cand), out,
        "--decontaminate", str(bench), "--decontaminate-bloom", *sizing,
    )
    ids = {r[0] for r in duckdb.sql(f"SELECT doc_id FROM '{out}/*.parquet'").fetchall()}
    assert ids == {"clean.txt"}


def test_decontaminate_bloom_flag_requires_bench(tmp_path):
    """--decontaminate-bloom without --decontaminate is an argparse-level
    contract error (no Spark session spent on it)."""
    import os

    res = subprocess.run(
        [
            sys.executable, "-m", "hadoop_tfidf_spark.cli", "curate",
            str(tmp_path), str(tmp_path / "out"), "--decontaminate-bloom",
        ],
        capture_output=True, text=True, timeout=60, cwd="/root/repo",
        env=dict(os.environ, SPARK_GRAFT_CPUS="4"),
    )
    assert res.returncode != 0
    assert "--decontaminate-bloom needs --decontaminate" in res.stderr


def _run_json(tool, inp, out, *extra):
    """_run + parse the one-line JSON census the maintenance verbs print."""
    import json

    res = _run(tool, inp, out, *extra)
    line = [l for l in res.stdout.splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def test_sign_fresh_then_delta_advance(tmp_path):
    """The O(delta) ledger from the CLI: a fresh sign lands
    generation=0; a later crawl advances it via --ledger — the census
    reports the crawl delta, and the new generation carries exactly the
    surviving docs with their new content hashes."""
    gen0 = tmp_path / "crawl0"
    gen0.mkdir()
    (gen0 / "a.txt").write_text("spark data data lake house\n")
    (gen0 / "b.txt").write_text("data lake lives on parquet\n")
    gen1 = tmp_path / "crawl1"
    gen1.mkdir()
    (gen1 / "a.txt").write_text("spark data data lake house v2\n")
    (gen1 / "c.txt").write_text("a brand new page with words\n")
    ledger = str(tmp_path / "sigs")

    fresh = _run_json("sign", str(gen0), ledger)
    assert fresh == {
        "generation": 0, "path": f"{ledger}/generation=0",
        "rows": 2, "mode": "full",
    }
    delta = _run_json("sign", str(gen1), ledger, "--ledger", ledger)
    assert delta["generation"] == 1 and delta["from_generation"] == 0
    assert delta["rows"] == 2 and delta["mode"] == "delta"
    assert delta["diff"] == {
        "added": 1, "changed": 1, "unchanged": 0, "removed": 1,
    }
    rows = {
        r[0]: r[1]
        for r in duckdb.sql(
            f"SELECT doc_id, text_hash FROM '{ledger}/generation=1/*.parquet'"
        ).fetchall()
    }
    want_a = duckdb.sql(
        "SELECT md5('spark data data lake house v2')"
    ).fetchone()[0]
    assert set(rows) == {"a.txt", "c.txt"} and rows["a.txt"] == want_a
    # a ledger is history: re-running the same advance (or a fresh sign
    # onto an existing root) must refuse to overwrite, not clobber
    import os

    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    for extra in (
        # advancing from gen 0 again targets the existing generation=1
        ["sign", str(gen1), ledger, "--ledger", ledger,
         "--from-generation", "0"],
        ["sign", str(gen0), ledger],                        # gen 0 exists
    ):
        res = subprocess.run(
            [sys.executable, "-m", "hadoop_tfidf_spark.cli", *extra],
            capture_output=True, text=True, timeout=300, cwd="/root/repo",
            env=env,
        )
        assert res.returncode == 2 and "already exists" in res.stderr


def test_sign_flag_contracts(tmp_path):
    """--ledger/--generation/--from-generation are sign-only, and
    --from-generation needs --ledger."""
    import os

    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    for extra, msg in (
        (["tfidf", "x", "y", "--ledger", "z"], "sign-only"),
        (["sign", "x", "y", "--from-generation", "3"], "needs --ledger"),
    ):
        res = subprocess.run(
            [sys.executable, "-m", "hadoop_tfidf_spark.cli", *extra],
            capture_output=True, text=True, timeout=120, cwd="/root/repo",
            env=env,
        )
        assert res.returncode == 2 and msg in res.stderr


def test_ledger_compact_verb(tmp_path):
    """The manual OPTIMIZE counterpart of compact_every: fold an
    update-ledger's old generations from the CLI, state invariant."""
    import os

    # build a 4-generation ledger in-process (cheap), then fold via CLI
    sys.path.insert(0, "/root/repo")
    from hadoop_tfidf_spark.session import get_spark
    from hadoop_tfidf_spark.streaming.ledger import (
        ledger_upsert,
        read_ledger,
        reconstruct_latest,
    )

    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    spark = get_spark(app_name="cli_ledger_fixture")
    sink = str(tmp_path / "ledger")
    up = ledger_upsert(sink)
    for b, rows in enumerate(
        [[("a", 1)], [("b", 2)], [("a", 3)], [("c", 4)]]
    ):
        up(spark.createDataFrame(rows, "k STRING, n BIGINT"), b)
    want = sorted(
        map(tuple, reconstruct_latest(read_ledger(spark, sink), ["k"]).collect())
    )

    census = _run_json("ledger-compact", sink, "-", "--keys", "k")
    assert census == {
        "through": 2,
        "folded_generations": 3,
        "generations_on_disk": [2, 3],
    }
    got = sorted(
        map(tuple, reconstruct_latest(read_ledger(spark, sink), ["k"]).collect())
    )
    assert got == want
    # folding the newest generation (or beyond) must refuse — a live
    # stream's replay of that batch would wedge on the base's marker,
    # and a beyond-newest base would shadow every future upsert
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    for bad_through in ("3", "50"):
        res = subprocess.run(
            [sys.executable, "-m", "hadoop_tfidf_spark.cli",
             "ledger-compact", sink, "-", "--keys", "k",
             "--through", bad_through],
            capture_output=True, text=True, timeout=300, cwd="/root/repo",
            env=env,
        )
        assert res.returncode == 2 and "newest generation" in res.stderr


def test_ledger_compact_flag_contracts():
    import os

    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    for extra, msg in (
        (["ledger-compact", "x", "-"], "--keys"),
        (["ledger-compact", "x", "out", "--keys", "k"], "in place"),
        (["ledger-compact", "x", "-", "--keys", " , "], "non-empty"),
        (["tfidf", "x", "y", "--through", "3"], "ledger-compact-only"),
    ):
        res = subprocess.run(
            [sys.executable, "-m", "hadoop_tfidf_spark.cli", *extra],
            capture_output=True, text=True, timeout=120, cwd="/root/repo",
            env=env,
        )
        assert res.returncode == 2 and msg in res.stderr


def test_knn_extend_and_drift_cli(spark, tmp_path):
    """Crawl-over-crawl growth through the CLI in separate processes:
    knn-build trains on the base crawl, knn-extend appends the new
    generation encode-only (its census reports both generations),
    knn --index-dir then serves NEW-generation vectors, and knn-drift
    prints the per-generation recall telemetry with the retrain flag
    quiet on same-distribution data."""
    import json

    base_path = str(tmp_path / "base.parquet")
    delta_path = str(tmp_path / "delta.parquet")
    all_path = str(tmp_path / "all.parquet")
    rows = [
        (i, [((i * 29 + d * 13) % 19 - 9) / 10.0 for d in range(8)])
        for i in range(40)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    )
    emb.where("vec_id % 5 != 0").write.parquet(base_path)
    emb.where("vec_id % 5 = 0").write.parquet(delta_path)
    emb.write.parquet(all_path)

    idx_dir = str(tmp_path / "idx")
    _run("knn-build", base_path, idx_dir, "--knn-index", "ivfpq",
         "--coarse-k", "4", "--units", "1000")
    res = _run("knn-extend", delta_path, idx_dir)
    census = json.loads(res.stdout.strip().splitlines()[-1])
    assert census["kind"] == "ivfpq_res" and census["generation"] == 1
    assert [g["generation"] for g in census["generations"]] == [0, 1]
    assert census["generations"][1]["n_rows"] == 8

    # a new-generation vector is servable as a query over the full corpus
    out = str(tmp_path / "served")
    _run("knn", all_path, out, "--query-ids", "0,7", "--k", "5",
         "--index-dir", idx_dir, "--nprobe", "4", "--candidates", "30")
    got = duckdb.sql(
        f"SELECT query_id, vec_id FROM '{out}/*.parquet'"
    ).fetchall()
    assert {r[0] for r in got} == {0, 7} and len(got) == 10

    res = _run("knn-drift", all_path, "-", "--index-dir", idx_dir,
               "--k", "5", "--nprobe", "4", "--candidates", "30")
    rep = json.loads(res.stdout.strip().splitlines()[-1])
    assert set(rep["by_generation"]) == {"0", "1"}
    assert rep["retrain_due"] is False
    assert 0.0 <= rep["overall"] <= 1.0


def test_knn_build_opq_tier_serves(spark, tmp_path):
    """The OPQ-permuted residual IVFADC tier through the CLI: knn-build
    --knn-index opq persists the permutation as an integer artifact
    beside centroids/codebooks, and knn --index-dir serves from it; the
    one-shot path refuses opq like ivfpq (a per-query-set retrain
    defeats the trained permutation)."""
    import json

    emb_path = str(tmp_path / "emb.parquet")
    rows = [
        (i, [((i * 29 + d * 13) % 19 - 9) / 10.0 for d in range(8)])
        for i in range(40)
    ]
    spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    ).write.parquet(emb_path)
    idx_dir = str(tmp_path / "idx")
    res = _run("knn-build", emb_path, idx_dir, "--knn-index", "opq",
               "--coarse-k", "4", "--units", "1000")
    census = json.loads(res.stdout.strip().splitlines()[-1])
    assert census["kind"] == "opq_ivfpq"
    assert census["artifacts"] == ["centroids", "codebooks", "perm"]
    out = str(tmp_path / "served")
    _run("knn", emb_path, out, "--query-ids", "0,7", "--k", "5",
         "--index-dir", idx_dir, "--nprobe", "4")
    got = duckdb.sql(
        f"SELECT query_id, vec_id, rn FROM '{out}/*.parquet'"
    ).fetchall()
    assert {r[0] for r in got} == {0, 7} and len(got) == 10

    res = subprocess.run(
        [sys.executable, "-m", "hadoop_tfidf_spark.cli", "knn", emb_path,
         str(tmp_path / "x"), "--query-ids", "0", "--knn-index", "opq"],
        capture_output=True, text=True, timeout=60, cwd="/root/repo",
    )
    assert res.returncode != 0 and "knn-build" in res.stderr


def test_knn_flip_and_root_serving(spark, tmp_path):
    """The atomic serving flip through the CLI: knn-flip points a root
    at a validated version, knn/knn-extend/knn-drift accept the ROOT
    (resolving through CURRENT.json), and flipping to a second version
    moves serving without touching any consumer invocation."""
    import json

    emb_path = str(tmp_path / "emb.parquet")
    rows = [
        (i, [((i * 29 + d * 13) % 19 - 9) / 10.0 for d in range(8)])
        for i in range(40)
    ]
    spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    ).write.parquet(emb_path)
    v1 = str(tmp_path / "v1")
    root = str(tmp_path / "serving")
    _run("knn-build", emb_path, v1, "--knn-index", "ivfpq",
         "--coarse-k", "4", "--units", "1000")
    res = _run("knn-flip", v1, root)
    flip = json.loads(res.stdout.strip().splitlines()[-1])
    assert flip["current"].endswith("v1")
    # serve through the ROOT — identical to serving the version directly
    out_root = str(tmp_path / "via_root")
    out_dir = str(tmp_path / "via_dir")
    _run("knn", emb_path, out_root, "--query-ids", "0,7", "--k", "5",
         "--index-dir", root, "--nprobe", "4")
    _run("knn", emb_path, out_dir, "--query-ids", "0,7", "--k", "5",
         "--index-dir", v1, "--nprobe", "4")
    a = sorted(duckdb.sql(
        f"SELECT query_id, vec_id, rn FROM '{out_root}/*.parquet'"
    ).fetchall())
    b = sorted(duckdb.sql(
        f"SELECT query_id, vec_id, rn FROM '{out_dir}/*.parquet'"
    ).fetchall())
    assert a == b and len(a) == 10

    # flipping to an unbuilt version refuses without touching the pointer
    res = subprocess.run(
        [sys.executable, "-m", "hadoop_tfidf_spark.cli", "knn-flip",
         str(tmp_path / "v2"), root],
        capture_output=True, text=True, timeout=60, cwd="/root/repo",
    )
    assert res.returncode != 0
    assert json.load(open(f"{root}/CURRENT.json"))["path"].endswith("v1")


def test_knn_compact_cli(spark, tmp_path):
    """knn-compact end-to-end: build, extend, compact to a fresh dir
    (census reports the folded row count and a single generation),
    flip serving to it, and serve through the root — identical rows to
    serving the multi-generation original."""
    import json

    emb_path = str(tmp_path / "emb.parquet")
    rows = [
        (i, [((i * 29 + d * 13) % 19 - 9) / 10.0 for d in range(8)])
        for i in range(40)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    )
    emb.write.parquet(emb_path)
    base_path = str(tmp_path / "base.parquet")
    delta_path = str(tmp_path / "delta.parquet")
    emb.where("vec_id % 5 != 0").write.parquet(base_path)
    emb.where("vec_id % 5 = 0").write.parquet(delta_path)

    v1 = str(tmp_path / "v1")
    _run("knn-build", base_path, v1, "--knn-index", "ivfpq",
         "--coarse-k", "4", "--units", "1000")
    _run("knn-extend", delta_path, v1)
    v2 = str(tmp_path / "v2")
    res = _run("knn-compact", v1, v2)
    census = json.loads(res.stdout.strip().splitlines()[-1])
    assert census["n_rows"] == 40 and census["generations"] == 1

    root = str(tmp_path / "serving")
    _run("knn-flip", v2, root)
    out_a = str(tmp_path / "a")
    out_b = str(tmp_path / "b")
    _run("knn", emb_path, out_a, "--query-ids", "0,7", "--k", "5",
         "--index-dir", root, "--nprobe", "4")
    _run("knn", emb_path, out_b, "--query-ids", "0,7", "--k", "5",
         "--index-dir", v1, "--nprobe", "4")
    a = sorted(duckdb.sql(
        f"SELECT query_id, vec_id, rn FROM '{out_a}/*.parquet'"
    ).fetchall())
    b = sorted(duckdb.sql(
        f"SELECT query_id, vec_id, rn FROM '{out_b}/*.parquet'"
    ).fetchall())
    assert a == b and len(a) == 10
