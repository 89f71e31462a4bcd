"""Seeded input generator for the benchmark.

Every input is a pure function of ``(seed, workload sizes)``: corpora are
written as parquet with fixed writer options, query streams as JSON lines,
so the same seed gives byte-identical files (``input_hashes`` proves it).
Each input draws from its own ``numpy`` stream (``default_rng([seed, n])``),
so resizing one input never changes another.

Words are consonant-vowel syllable strings over a consonant set without
``q`` and ``x``: every token is ``[a-z]+`` (the reference tokenizer and a
single-space split agree on such text), no generated word can equal an
English or German marker word, and ``qx``-prefixed terms are guaranteed
out of vocabulary.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONSONANTS = "bcdfghjklmnprstvz"
VOWELS = "aeiou"
SYLLABLES = [c + v for c in CONSONANTS for v in VOWELS]

#: Function words for the curation corpus: the English head makes the
#: lang-id heuristic pick ``en`` and lifts the quality stopword ratio.
ENGLISH_HEAD = ["the", "a", "of", "and", "is", "to", "in", "it", "an", "or"]
GERMAN_HEAD = ["der", "die", "das", "und", "ist", "nicht"]

ZIPF_S = 1.07
N_PARTS = 16

# Stream ids: one independent numpy stream per generated input.
_S_VOCAB, _S_DOCS, _S_QUERIES, _S_VECS, _S_CURATE = range(5)


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def make_vocabulary(seed: int, size: int) -> np.ndarray:
    """``size`` distinct pseudo-words in a seeded order (rank 0 = most
    frequent under the Zipf draw)."""
    n = len(SYLLABLES)
    words = []
    for i in range(size):
        # two syllables minimum, base-len(SYLLABLES) digits of i after that
        parts = [SYLLABLES[i % n], SYLLABLES[(i // n) % n]]
        rest = i // (n * n)
        while rest:
            parts.append(SYLLABLES[rest % n])
            rest //= n
        words.append("".join(parts))
    order = _rng(seed, _S_VOCAB).permutation(size)
    return np.array(words, dtype=object)[order]


def zipf_cdf(size: int, s: float = ZIPF_S) -> np.ndarray:
    w = np.arange(1, size + 1, dtype=np.float64) ** -s
    return np.cumsum(w / w.sum())


def draw_ranks(rng: np.random.Generator, cdf: np.ndarray, n: int) -> np.ndarray:
    idx = np.searchsorted(cdf, rng.random(n), side="right")
    return np.minimum(idx, len(cdf) - 1)


def doc_lengths(rng: np.random.Generator, n: int, mean: float, sigma: float = 0.6,
                low: int = 1) -> np.ndarray:
    """Log-normal lengths with the requested mean."""
    mu = np.log(mean) - sigma * sigma / 2
    return np.maximum(low, np.round(rng.lognormal(mu, sigma, n))).astype(np.int64)


def _join_docs(words: np.ndarray, lengths: np.ndarray) -> list[str]:
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    return [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(len(lengths))]


def write_docs(path: str, doc_ids, texts) -> None:
    """``(doc_id BIGINT, text STRING)`` parquet in ``N_PARTS`` files, so
    the scan starts with one partition per file."""
    os.makedirs(path, exist_ok=True)
    n = len(texts)
    cuts = np.linspace(0, n, N_PARTS + 1).astype(int)
    for p in range(N_PARTS):
        table = pa.table({
            "doc_id": pa.array(doc_ids[cuts[p]:cuts[p + 1]], pa.int64()),
            "text": pa.array(texts[cuts[p]:cuts[p + 1]], pa.string()),
        })
        pq.write_table(table, f"{path}/part-{p:05d}.parquet",
                       compression="snappy", row_group_size=1 << 20)


def gen_corpus(seed: int, path: str, n_docs: int, vocab_size: int,
               mean_len: float) -> dict:
    """Zipf(1.07) terms over a ``vocab_size`` vocabulary, log-normal doc
    lengths. Returns size facts for the result record."""
    vocab = make_vocabulary(seed, vocab_size)
    rng = _rng(seed, _S_DOCS)
    lengths = doc_lengths(rng, n_docs, mean_len)
    words = vocab[draw_ranks(rng, zipf_cdf(vocab_size), int(lengths.sum()))]
    write_docs(path, np.arange(n_docs, dtype=np.int64), _join_docs(words, lengths))
    return {"docs": n_docs, "tokens": int(lengths.sum()), "vocab": vocab_size}


def gen_query_stream(seed: int, path: str, n_ops: int, vocab_size: int,
                     n_vectors: int, repeat_share: float = 0.2,
                     oov_share: float = 0.05) -> None:
    """Alternating lexical / kNN operations, one JSON object per line.

    Lexical queries have 1-4 terms from the corpus Zipf (head terms match
    many docs, tail terms few); ``oov_share`` of them carry one
    out-of-vocabulary term. ``repeat_share`` of the operations of each
    kind repeat an earlier one of that kind."""
    vocab = make_vocabulary(seed, vocab_size)
    cdf = zipf_cdf(vocab_size)
    rng = _rng(seed, _S_QUERIES)
    lex: list[str] = []
    knn: list[int] = []
    with open(path, "w") as f:
        for i in range(n_ops):
            repeat = rng.random() < repeat_share
            if i % 2 == 0:
                if repeat and lex:
                    text = lex[int(rng.integers(len(lex)))]
                else:
                    terms = list(vocab[draw_ranks(rng, cdf, int(rng.integers(1, 5)))])
                    if rng.random() < oov_share:
                        terms.append(f"qx{int(rng.integers(10**6))}")
                    text = " ".join(terms)
                lex.append(text)
                op = {"op": "lex", "text": text}
            else:
                if repeat and knn:
                    vec_id = knn[int(rng.integers(len(knn)))]
                else:
                    vec_id = int(rng.integers(n_vectors))
                knn.append(vec_id)
                op = {"op": "knn", "vec_id": vec_id}
            f.write(json.dumps(op, sort_keys=True) + "\n")


def gen_vectors(seed: int, path: str, n: int, dim: int, centers: int = 32) -> None:
    """Gaussian-mixture ``(vec_id BIGINT, embedding ARRAY<FLOAT>)``: the
    clustered shape IVF cells are meant for."""
    rng = _rng(seed, _S_VECS)
    c = rng.normal(0.0, 1.0, (centers, dim))
    x = c[rng.integers(centers, size=n)] + rng.normal(0.0, 0.35, (n, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    os.makedirs(path, exist_ok=True)
    table = pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
    })
    pq.write_table(table, f"{path}/part-00000.parquet", compression="snappy")


def gen_curation_corpus(seed: int, path: str, n_base: int, vocab_size: int,
                        dup_share: float = 0.05, near_share: float = 0.05,
                        foreign_share: float = 0.05, short_share: float = 0.05
                        ) -> dict:
    """English-headed docs plus German and short low-quality docs, then
    planted duplicates: exact copies and one-word-changed near copies of
    distinct English docs, appended with higher doc ids (the id every
    dedup rule drops). Returns the planted id lists."""
    vocab = make_vocabulary(seed, vocab_size)
    cdf = zipf_cdf(vocab_size)
    rng = _rng(seed, _S_CURATE)
    kind = rng.random(n_base)
    lengths = doc_lengths(rng, n_base, 60.0, sigma=0.5, low=20)
    texts: list[str] = []
    english: list[int] = []
    for i in range(n_base):
        if kind[i] < short_share:
            # English enough for lang-id, too short and numeric to pass
            # the quality filter
            n = int(rng.integers(3, 7))
            texts.append(" ".join(
                ENGLISH_HEAD[int(v) % 10] if v % 2 else str(int(v))
                for v in rng.integers(10**6, size=n)
            ))
            continue
        words = vocab[draw_ranks(rng, cdf, int(lengths[i]))]
        head = GERMAN_HEAD if kind[i] < short_share + foreign_share else ENGLISH_HEAD
        fw = rng.random(len(words)) < 0.3
        words[fw] = np.array(head, dtype=object)[rng.integers(len(head), size=int(fw.sum()))]
        texts.append(" ".join(words))
        if head is ENGLISH_HEAD:
            english.append(i)
    n_dup = int(n_base * dup_share)
    n_near = int(n_base * near_share)
    src = rng.choice(np.array(english), size=n_dup + n_near, replace=False)
    exact_ids, near_ids = [], []
    for j, s in enumerate(src):
        doc_id = n_base + j
        if j < n_dup:
            texts.append(texts[s])
            exact_ids.append((int(s), doc_id))
            continue
        words = texts[s].split(" ")
        content = [p for p, w in enumerate(words) if w not in ENGLISH_HEAD]
        pos = content[int(rng.integers(len(content)))]
        new = words[pos]
        while new == words[pos]:
            new = vocab[draw_ranks(rng, cdf, 1)[0]]
        words[pos] = new
        texts.append(" ".join(words))
        near_ids.append((int(s), doc_id))
    write_docs(path, np.arange(len(texts), dtype=np.int64), texts)
    return {"docs": len(texts), "exact": exact_ids, "near": near_ids}


def input_hash(paths: list[str]) -> str:
    """sha256 over every file under ``paths`` (sorted relative names and
    contents): equal hashes mean byte-identical inputs."""
    h = hashlib.sha256()
    for root in paths:
        files = (
            [root] if os.path.isfile(root)
            else sorted(os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        )
        for name in files:
            h.update(os.path.relpath(name, os.path.dirname(root)).encode())
            with open(name, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]
