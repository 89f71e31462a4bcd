"""Output checks: DuckDB recomputations over the same parquet files, and
exact brute-force neighbours for kNN recall. Each check returns a list of
problems (empty = the output is correct)."""

from __future__ import annotations

import duckdb
import numpy as np
import pyarrow.parquet as pq


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET memory_limit = '1GB'")
    return con


def _glob(path: str) -> str:
    return f"read_parquet('{path}/*.parquet')"


# --- index_build ---------------------------------------------------------

def tfidf_oracle_digest(con, corpus_dir: str) -> tuple[int, int]:
    """(rows, hash sum) of the TF-IDF relation computed in DuckDB from the
    corpus: space-split tokens (equal to the reference tokenizer on
    ``[a-z]+`` words joined by single spaces), integer-division IDF, score
    rounded to 6 decimals."""
    return con.execute(f"""
        WITH docs AS (SELECT doc_id, text FROM {_glob(corpus_dir)}),
        tokens AS (
          SELECT doc_id, word FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM docs
          ) WHERE word <> ''),
        dwc AS (SELECT word, doc_id, count(*) AS n FROM tokens GROUP BY word, doc_id),
        dfreq AS (SELECT word, count(*) AS df FROM dwc GROUP BY word),
        ndocs AS (SELECT count(*) AS num_docs FROM docs)
        SELECT count(*), sum(hash(word, doc_id, df,
               round((1.0 + log10(n)) * log10(1.0 + floor(num_docs / df)), 6)))
        FROM dwc JOIN dfreq USING (word) CROSS JOIN ndocs
    """).fetchone()


def tfidf_output_digest(con, out_dir: str) -> tuple[int, int]:
    return con.execute(f"""
        SELECT count(*), sum(hash(word, doc_id, df, round(tfidf, 6)))
        FROM {_glob(out_dir)}
    """).fetchone()


def check_tfidf(con, out_dir: str, oracle: tuple[int, int]) -> list[str]:
    got = tfidf_output_digest(con, out_dir)
    if tuple(got) != tuple(oracle):
        return [f"tfidf relation digest {got} != oracle {oracle}"]
    return []


# --- query_serve: lexical ------------------------------------------------

def load_index(con, index_dir: str) -> None:
    con.execute(f"CREATE OR REPLACE TABLE idx AS SELECT word, doc_id, tfidf "
                f"FROM {_glob(index_dir)}")


def lexical_oracle(con, text: str, k: int = 10) -> list[tuple[int, str]]:
    """Top-``k`` ``(doc_id, score)`` over the stored index: bag-of-terms
    join (a repeated term counts twice), score = round(sum, 6), ties by
    doc_id."""
    terms = [t for t in text.split(" ") if t]
    rows = con.execute("""
        SELECT doc_id, round(sum(i.tfidf), 6) AS score
        FROM idx i JOIN (SELECT unnest(?::VARCHAR[]) AS word) q USING (word)
        GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT ?
    """, [terms, k]).fetchall()
    return [(int(d), f"{s:.6f}") for d, s in rows]


def check_lexical(got: list[tuple[int, float]], want: list[tuple[int, str]]
                  ) -> list[str]:
    norm = [(int(d), f"{s:.6f}") for d, s in got]
    if norm != want:
        return [f"lexical top-{len(want)} {norm[:3]}... != oracle {want[:3]}..."]
    return []


# --- query_serve: kNN ----------------------------------------------------

class ExactKnn:
    """Brute-force neighbours over the generated vectors (the query
    itself excluded, as the served index excludes it)."""

    def __init__(self, vectors_dir: str):
        col = pq.read_table(vectors_dir).column("embedding")
        self.x = np.stack(col.to_numpy(zero_copy_only=False)).astype(np.float64)
        self._cache: dict[int, set[int]] = {}

    def truth(self, q: int, k: int = 10) -> set[int]:
        if q not in self._cache:
            d = ((self.x - self.x[q]) ** 2).sum(axis=1)
            d[q] = np.inf
            self._cache[q] = set(np.argpartition(d, k)[:k].tolist())
        return self._cache[q]


def check_knn_shape(q: int, ids: list[int], k: int = 10) -> list[str]:
    if len(ids) != k or len(set(ids)) != k or q in ids:
        return [f"knn({q}) returned {len(ids)} ids ({len(set(ids))} distinct, "
                f"self included: {q in ids}); want {k} distinct non-self ids"]
    return []


def recall(truth: set[int], ids: list[int]) -> float:
    return len(truth & set(ids)) / len(truth)


# --- curate --------------------------------------------------------------

SPLITS = ("train", "valid", "test")


def check_curated(con, out_dir: str, exact_dups: list[int]) -> list[str]:
    problems = []
    n, distinct, bad_split = con.execute(f"""
        SELECT count(*), count(DISTINCT doc_id),
               count(*) FILTER (WHERE split IS NULL OR split NOT IN {SPLITS})
        FROM {_glob(out_dir)}
    """).fetchone()
    if n != distinct:
        problems.append(f"{n - distinct} duplicate doc_ids in the output")
    if bad_split:
        problems.append(f"{bad_split} rows without exactly one valid split")
    kept_dups = con.execute(
        f"SELECT count(*) FROM {_glob(out_dir)} WHERE list_contains(?, doc_id)",
        [exact_dups]).fetchone()[0]
    if kept_dups:
        problems.append(f"{kept_dups} planted exact duplicates kept")
    return problems


def kept_ids(con, out_dir: str) -> set[int]:
    return {r[0] for r in con.execute(f"SELECT doc_id FROM {_glob(out_dir)}").fetchall()}
