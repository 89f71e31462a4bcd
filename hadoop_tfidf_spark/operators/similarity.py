"""Similarity search over an embedding column (``array<float>``): the
exact brute-force cosine baseline, sign-bit LSH, and a ladder of trained
ANN indexes (IVF, PQ, residual IVFADC, OPQ, IVF-SQ) beside the
training-free flat codes (SQ, BQ, random projection, PCA). North-star
engine surface — the reference has nothing vector-shaped (SURVEY.md §2
gap table).

Every trained index has the same three parts:

* **train** — :func:`_lloyd_units` is the one Lloyd loop. It runs over
  integer micro-units (:func:`quantized_units`), seeds on the first
  ``k`` well-formed rows by id, and costs one persist, one seed collect
  and one means job per round. IVF coarse cells are its ``m=1`` case; PQ
  codebooks train ``m`` subspaces in the same jobs.
* **encode** — a pure projection against the frozen artifacts:
  :func:`ivf_encode`, :func:`ivfpq_encode`, :func:`ivfsq_encode`. A build
  encodes its corpus with the same function that
  ``index_store.extend_index`` and streaming ingest use, so a vector gets
  the same cell and codes however it arrives. Every cell assignment is
  :func:`_assign`: the first-minimum integer L2 argmin, ``-1`` for a
  malformed vector (null, or with a null element), whose codes are null.
* **search** — one skeleton: a probe (:func:`_nearest_centroids` on the
  driver, :func:`nearest_centroid_ids` on executors), a coarse distance
  (cosine, ADC :func:`_adc_score`, code-space L2 or Hamming), a candidate
  cut and exact integer-L2 re-rank (:func:`_two_stage`), and one per-query
  window (:func:`_topk`).

All vector math is built-in higher-order functions (``zip_with`` +
``aggregate``) evaluated JVM-side in codegen — no Python, no UDF. Cosine
paths cast elements to double so Spark and the DuckDB oracle
(``list_cosine_similarity`` on ``DOUBLE[]``) agree well past the 6 rounded
digits the declared queries compare; the index paths are exact BIGINT, so
artifacts, codes and rankings replay bit for bit in DuckDB.
"""

from __future__ import annotations

import dataclasses
import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from hadoop_tfidf_spark.functions.literals import (
    _lit_array,
    _local_relation,
    _sql_literal,
)


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def _d2(a: Column, b: Column) -> Column:
    """Exact BIGINT squared L2 distance between two integer array
    columns (order-independent)."""
    return F.aggregate(
        F.zip_with(a, b, lambda p, q: (p - q) * (p - q)),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def _centroid_d2s(vec: Column, centroids: list[list[int]]) -> Column:
    """``array`` of :func:`_d2` from ``vec`` to every centroid literal."""
    return F.transform(_lit_array(centroids), lambda c: _d2(vec, c))


def _argmin(dists: Column) -> Column:
    """0-based index of the FIRST minimum — ties go to the lowest id."""
    return F.array_position(dists, F.array_min(dists)).cast("int") - 1


def _assign(vec: Column, centroids: list[list[int]]) -> Column:
    """The nearest-centroid id of a micro-unit vector — every cell
    assignment and code in this module: training rounds, build, extend
    and streaming encode. Ties go to the lowest id (the oracle's
    ``row_number`` tie-break mirrors this).

    A malformed vector (null, a null element, or the wrong length) has
    no distance to any centroid and gets ``-1``: a visible unassignable
    cell that no probe reaches and training skips. The literal fallback
    also makes the column provably non-nullable. Without it every
    equi-join on ``cluster`` infers ``IsNotNull(cluster)`` and pushes the
    whole k×dim distance aggregate below any rebalance exchange to the
    scan, evaluating it a second time per row."""
    return F.coalesce(_argmin(_centroid_d2s(vec, centroids)), F.lit(-1))


def _residual(u: Column, centroids: list[list[int]]) -> Column:
    """``u − centroids[cluster]``: the integer residual of a micro-unit
    vector from its cell's centroid literal; null in cell ``-1``."""
    return F.zip_with(
        u, F.get(_lit_array(centroids), F.col("cluster")), lambda a, b: a - b
    )


def _rank(*order, rn_type: str = "int") -> Column:
    """The row number within ``query_id`` ordered by ``order`` — the
    ``rn`` of every ranking here. ``rn_type`` keeps each tier's output
    type (``int`` is row_number's own)."""
    rn = F.row_number().over(Window.partitionBy("query_id").orderBy(*order))
    return rn if rn_type == "int" else rn.cast(rn_type)


def _topk(scored: DataFrame, k: int, rn: Column) -> DataFrame:
    """The per-query top-k every ranking here ends in: ``scored`` with
    its :func:`_rank` column ``rn``, kept while ``rn <= k``. Filtering on
    the rank column itself is what lets Spark push a partial
    WindowGroupLimit below the exchange."""
    return scored.withColumn("rn", rn).where(f"rn <= {int(k)}")


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array columns (double math, element order
    summation — matches the oracle's left-to-right sum)."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(_as_double(a), F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array columns."""
    return dot(a, b) / (norm(a) * norm(b))


def sign_bucket(vec: Column, n_bits: int = 8) -> Column:
    """LSH bucket id in ``[0, 2^n_bits)``: bit ``d`` set iff element ``d+1``
    is positive (coordinate-hyperplane random projection)."""
    bits = [
        F.when(F.element_at(vec, d + 1) > 0, F.lit(1 << d)).otherwise(F.lit(0))
        for d in range(n_bits)
    ]
    total = bits[0]
    for b in bits[1:]:
        total = total + b
    return total.cast("int")


def _cos_from_parts(dot_col: Column, n_a: Column, n_b: Column) -> Column:
    return dot_col / (n_a * n_b)


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: every query vector against the full corpus.

    ``queries`` is broadcast (small by contract); each side's norm is
    computed ONCE per row before the join (not per pair — at q queries
    that's a q× saving on half the flops). Ranking uses the rounded score
    with id tie-breaks so results are total-ordered and engine-portable.
    Returns ``(query_id, vec_id, cos_sim, rn)``.
    """
    emb_n = embeddings.select(
        F.col(id_col), F.col(vec_col), norm(F.col(vec_col)).alias("_nrm")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm(F.col(vec_col)).alias("_qnrm"),
    )
    return _cos_topk(emb_n.crossJoin(F.broadcast(q)), k, id_col, vec_col)


def _cos_topk(joined: DataFrame, k: int, id_col: str, vec_col: str) -> DataFrame:
    """Rank ``(query_id, q_vec, _qnrm)`` × ``(id, vec, _nrm)`` pairs by
    cosine rounded to 6 places, id tie-break: the brute, LSH and IVF
    output ``(query_id, vec_id, cos_sim, rn: bigint)``."""
    scored = joined.where(F.col(id_col) != F.col("query_id")).select(
        "query_id",
        F.col(id_col).alias("vec_id"),
        F.round(
            _cos_from_parts(
                dot(F.col(vec_col), F.col("q_vec")), F.col("_nrm"), F.col("_qnrm")
            ),
            6,
        ).alias("cos_sim"),
    )
    return _topk(
        scored, k, _rank(F.desc("cos_sim"), F.asc("vec_id"), rn_type="bigint")
    )


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k: candidates restricted to the query's LSH
    bucket, then exact cosine rank within it (norms precomputed per row,
    as in :func:`brute_force_topk`). Same output shape; recall < 1 by
    design."""
    emb_b = embeddings.select(
        F.col(id_col),
        F.col(vec_col),
        norm(F.col(vec_col)).alias("_nrm"),
        sign_bucket(F.col(vec_col), n_bits).alias("bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm(F.col(vec_col)).alias("_qnrm"),
        sign_bucket(F.col(vec_col), n_bits).alias("bucket"),
    )
    return _cos_topk(emb_b.join(F.broadcast(q), "bucket"), k, id_col, vec_col)


def quantized_units(vec: Column, units: int) -> Column:
    """``array<bigint>`` of ``round(x · units)`` per element — the
    integer micro-unit form. ``round`` is half-away-from-zero in both
    Spark and DuckDB on the same IEEE double product, so the quantization
    is engine-exact; all downstream arithmetic on the units is integer
    and therefore order-independent."""
    return F.transform(
        _as_double(vec), lambda x: F.round(x * units, 0).cast("bigint")
    )


def ivf_build(
    embeddings: DataFrame,
    k: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    units: int = 1_000_000,
    train: DataFrame | None = None,
) -> tuple[DataFrame, list[list[int]]]:
    """IVF coarse quantizer: k-means centroids (``iters`` Lloyd rounds of
    :func:`_lloyd_units` with ``m=1``) and the corpus with a ``cluster``
    assignment column (:func:`ivf_encode`).

    Inputs quantize once to integer micro-units (:func:`quantized_units`),
    distances are exact bigint sums and each centroid update is
    ``round(sum_u / n)`` of exact integers — so assignments are
    bit-reproducible across engines and partitionings, and the whole
    build replays in the DuckDB oracle. Quantization error is ~1/units
    per element, far below any meaningful cluster boundary; centroids
    are lists of ints (micro-units).

    At 100 TB train on a sample: pass ``train=`` (any subset relation; a
    deterministic id-predicate keeps the build oracle-replayable) and the
    seed and every Lloyd round run over it alone, while the final
    assignment still covers the full ``embeddings`` once — the
    train/assign split every production ANN build uses.
    """
    src = embeddings if train is None else train
    [cents] = _lloyd_units(
        src.select(id_col, quantized_units(F.col(vec_col), units).alias("_u")),
        m=1, k=k, iters=iters, id_col=id_col,
    )
    return ivf_encode(embeddings, cents, units, vec_col), cents


def ivf_encode(
    embeddings: DataFrame,
    centroids: list[list[int]],
    units: int = 1_000_000,
    vec_col: str = "embedding",
) -> DataFrame:
    """Frozen-centroid IVF assignment: ``embeddings`` plus ``cluster`` =
    :func:`_assign` of its micro-unit vector — :func:`ivf_build`'s final
    assignment, and the ``ivf`` tier's extend encode."""
    return (
        embeddings.withColumn("_u", quantized_units(F.col(vec_col), units))
        .withColumn("cluster", _assign(F.col("_u"), centroids))
        .drop("_u")
    )


def nearest_centroid_ids(
    vec: Column, centroids: list[list[int]], nprobe: int, units: int
) -> Column:
    """The ``nprobe`` nearest centroid ids for an array column, as a pure
    DataFrame expression (no driver round-trip): exact integer L2 to
    every centroid literal, then ``array_sort`` over ``(d2, ci)`` structs
    — lexicographic struct ordering gives exactly the driver twin's
    (:func:`_nearest_centroids`) ``sorted((d2, ci))[:nprobe]`` semantics,
    ties → lowest cluster id, bit-identical to the twin's python ints.
    The executor probe of :func:`ivf_topk` / :func:`ivfsq_topk`
    (:func:`ivfpq_topk` probes from its query's micro-unit column with
    :func:`_nearest_cells`); cell assignment is :func:`_assign`."""
    return _nearest_cells(quantized_units(vec, units), centroids, nprobe)


def _nearest_cells(u: Column, centroids: list[list[int]], nprobe: int) -> Column:
    """:func:`nearest_centroid_ids` of a vector already in micro-units."""
    pairs = F.transform(
        _centroid_d2s(u, centroids),
        lambda d, i: F.struct(d.alias("d2"), i.cast("int").alias("ci")),
    )
    return F.transform(
        F.slice(F.array_sort(pairs), 1, nprobe), lambda s: s["ci"]
    )


def _nearest_centroids(qvec: list, centroids: list[list], nprobe: int) -> list[int]:
    """Driver-side Python twin of :func:`nearest_centroid_ids` for one
    collected query vector: the same left-to-right squared-L2 fold and
    the same ``(d2, ci)`` order, so integer probes are bit-identical."""
    d2s = sorted(
        (sum((a - b) * (a - b) for a, b in zip(qvec, c)), ci)
        for ci, c in enumerate(centroids)
    )
    return [ci for _, ci in d2s[:nprobe]]


#: Constant budget of the driver probe path of :func:`ivf_topk`,
#: :func:`ivfpq_topk` and :func:`ivfsq_topk`: an id list whose probe
#: relation holds at most this many constants (ids × probed cells ×
#: probe-row width) collects its query rows once and probes on the
#: driver into an in-plan literal (:func:`_local_relation`) — right for
#: interactive use. Plan build cost grows with the literal (SCALE.md has
#: the sweep this budget comes from), so a larger list, or a
#: ``queries=`` relation, probes on executors with
#: :func:`nearest_centroid_ids` (zero query-side collect — right for
#: bulk jobs with 10⁶ queries). Both paths give bit-identical probes.
DRIVER_PROBE_MAX = 6144


#: log2 of the id block :func:`_id_in`'s pushed range is aligned to.
_ID_BLOCK_BITS = 16
_BIGINT_MIN, _BIGINT_MAX = -(1 << 63), (1 << 63) - 1


def _id_in(id_col: str, ids) -> Column:
    """``id_col`` is one of ``ids`` — the predicate of every vector-id
    lookup, written so that a new id compiles no code.

    ``isin`` inlines each id into the generated Java, so every new id
    cost ~2 Janino compiles. Here the ids are one array literal, which
    generated code reads by reference, and a range on the id widened to
    whole 2^16-id blocks pushes down to parquet for row-group skipping
    (``PushedFilters: [GreaterThanOrEqual(id, lo), LessThanOrEqual(id,
    hi)]``). Its bounds are inlined but change only from one block to
    the next, so a warm plan over the same block compiles nothing. An
    empty list matches no row."""
    ids = sorted({int(x) for x in ids})
    if not ids:
        return F.expr("false")
    lo = max(ids[0] >> _ID_BLOCK_BITS << _ID_BLOCK_BITS, _BIGINT_MIN)
    hi = min(
        (ids[-1] >> _ID_BLOCK_BITS << _ID_BLOCK_BITS) + (1 << _ID_BLOCK_BITS) - 1,
        _BIGINT_MAX,
    )
    # one SQL expression: 3 py4j round trips, where building it with the
    # Column API took ~70
    col = f"`{id_col}`"
    ids_sql = _sql_literal(ids, ArrayType(LongType()))
    return F.expr(
        f"array_contains({ids_sql}, {col}) AND {col} >= {lo}L AND {col} <= {hi}L"
    )


def _probe_source(
    emb: DataFrame,
    query_ids: list[int] | None,
    queries: DataFrame | None,
    id_col: str,
    constants_per_id: int,
) -> tuple[DataFrame, bool]:
    """The query rows an IVF search probes for, and whether the probe
    runs on the driver: an id list whose probe literal,
    ``constants_per_id`` per id, fits :data:`DRIVER_PROBE_MAX`. Exactly
    one of ``query_ids`` (looked up in ``emb`` by :func:`_id_in`, which
    compiles nothing per id and keeps a pushed block range on the id)
    and ``queries`` (a relation) is required: silently dropping one
    would mask a call-site bug."""
    if (query_ids is None) == (queries is None):
        raise ValueError(
            "pass query_ids (an id list) or queries= (a relation), not both"
        )
    if queries is not None:
        return queries, False
    query_ids = list(query_ids)
    return (
        emb.where(_id_in(id_col, query_ids)),
        len(query_ids) * constants_per_id <= DRIVER_PROBE_MAX,
    )


def ivf_topk(
    assigned: DataFrame,
    centroids: list[list[float]],
    query_ids: list[int] | None,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    units: int = 1_000_000,
    embeddings: DataFrame | None = None,
    queries: DataFrame | None = None,
) -> DataFrame:
    """IVF search: probe the ``nprobe`` nearest clusters per query, exact
    cosine rank within them. Candidates come from an equi-join on the
    cluster id — scan cost ~ nprobe/k of the corpus per query.

    ``units`` must match :func:`ivf_build`'s: probing runs on the
    micro-unit integers (query vectors quantized by the same Spark
    expression, exact integer distances, ties → lowest cluster id), so
    the probed set is bit-reproducible. Final scoring always uses the
    ORIGINAL float vectors — the probe decides candidates, not values.

    Queries are ``query_ids`` looked up in ``embeddings`` (default
    ``assigned``) or a ``queries=`` relation — :func:`ivfpq_topk`'s
    contract. An id list whose probe relation fits the
    :data:`DRIVER_PROBE_MAX` constant budget probes on the driver (one
    collect of the query rows, the probe relation an in-plan literal);
    a relation or a longer list probes on executors
    (:func:`nearest_centroid_ids`, join strategy left to Catalyst/AQE).
    Both give bit-identical probes and query vectors.
    """
    qsrc, on_driver = _probe_source(
        embeddings if embeddings is not None else assigned,
        query_ids, queries, id_col,
        min(nprobe, len(centroids)) * (2 + len(centroids[0])),
    )
    # Each side's norm is computed ONCE per row before the join (the
    # brute_force_topk economy): per candidate pair only the dot remains
    # — at avg cell size s that's a ~3x cut of the per-pair flops, and
    # cosine = dot/(n_a·n_b) is the identical IEEE sequence either way
    # (same aggregate expression over the same rows, evaluated earlier).
    # drop() guards the private temp names: a caller composing over an
    # already-normed relation (brute_force shares the same "_nrm") must
    # get THIS call's norm, not a silently double-applied stale column.
    emb_n = assigned.drop("_nrm", "_qnrm").withColumn(
        "_nrm", norm(F.col(vec_col))
    )
    if on_driver:
        probe_rows = []
        for r in qsrc.select(
            id_col, vec_col, quantized_units(F.col(vec_col), units).alias("_u")
        ).collect():
            q_vec = [float(x) for x in r[vec_col]]
            for ci in _nearest_centroids(r["_u"], centroids, nprobe):
                probe_rows.append((r[id_col], q_vec, ci))
        probes = F.broadcast(
            _local_relation(
                assigned.sparkSession, probe_rows,
                "query_id BIGINT, q_vec ARRAY<DOUBLE>, cluster INT",
            ).withColumn("_qnrm", norm(F.col("q_vec")))
        )
    else:
        probes = qsrc.select(
            F.col(id_col).cast("bigint").alias("query_id"),
            _as_double(F.col(vec_col)).alias("q_vec"),
            norm(F.col(vec_col)).alias("_qnrm"),
            F.explode(
                nearest_centroid_ids(F.col(vec_col), centroids, nprobe, units)
            ).alias("cluster"),
        )
    return _cos_topk(emb_n.join(probes, "cluster"), k, id_col, vec_col)


def pandas_cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Vectorized Arrow-batched cosine top-k — the Pandas-UDF twin of
    :func:`brute_force_topk` for kernels the built-in expressions can't
    express (here it's the same cosine, kept as the template and
    equivalence-tested against the expression path).

    The query matrix is collected once (small by contract — it is
    broadcast in the expression path too) and shipped INSIDE the worker
    closure as a numpy array; each Arrow batch of corpus vectors is scored
    with one BLAS matmul (``(batch × d) @ (d × q)``) — per-batch Python
    cost is one gemm, not per-row work. ``mapInPandas`` keeps the corpus
    distributed; only the top-k window shuffles (by query_id, q
    partitions). Scores are float64 matmul → may differ from the
    expression path's sequential fold by ~1 ulp, hence equivalence tests
    use a tolerance and this variant is not oracle-hash-gated.
    """
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField as SF_,
        StructType as ST_,
    )

    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = [r[0] for r in q_rows]
    q_mat = [list(map(float, r[1])) for r in q_rows]
    out_schema = ST_(
        [
            SF_("query_id", LongType()),
            SF_("vec_id", LongType()),
            SF_("cos_sim", DoubleType()),
        ]
    )

    def score_batches(batches):
        import numpy as np
        import pandas as pd

        Q = np.asarray(q_mat, dtype=np.float64)
        qn = np.linalg.norm(Q, axis=1)
        qn[qn == 0] = 1.0
        Qn = Q / qn[:, None]
        ids = np.asarray(q_ids, dtype=np.int64)

        for pdf in batches:
            if not len(pdf):
                continue
            M = np.asarray([list(map(float, v)) for v in pdf[vec_col]], dtype=np.float64)
            mn = np.linalg.norm(M, axis=1)
            mn[mn == 0] = 1.0
            S = (M / mn[:, None]) @ Qn.T  # batch × q
            vids = pdf[id_col].to_numpy(dtype=np.int64)
            n, q = S.shape
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(ids[None, :], n, axis=0).ravel(),
                    "vec_id": np.repeat(vids, q),
                    "cos_sim": S.ravel(),
                }
            )

    scored = (
        embeddings.select(id_col, vec_col)
        .mapInPandas(score_batches, schema=out_schema)
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", F.round("cos_sim", 6).alias("cos_sim"))
    )
    return _topk(
        scored, k, _rank(F.desc("cos_sim"), F.asc("vec_id"), rn_type="bigint")
    )


def quantize_int8(
    embeddings: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric int8 quantization of an embedding column: per-vector
    ``scale = max(|x|)/127``, ``q_i = round(x_i/scale)`` ∈ [-127, 127].

    The 100 TB storage lever: float32 → int8 cuts an embedding corpus 4×
    (and int8 dot products are what ANN serving stacks run). Entirely
    built-in higher-order expressions — per-row, zero shuffle, quantized
    vectors stay distributed. Dequantize with ``q_i · scale``; the
    recovered-cosine error bound is asserted in tests (< 1e-2 for unit-ish
    vectors). Zero vectors get scale 0 and all-zero codes.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    maxabs = F.array_max(F.transform(v, F.abs))
    scale = F.when(maxabs > 0, maxabs / F.lit(127.0)).otherwise(F.lit(0.0))
    q = F.when(
        F.col("_scale") > 0,
        F.transform(v, lambda x: F.round(x / F.col("_scale")).cast("int")),
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    return (
        embeddings.withColumn("_scale", scale)
        .select(
            "*",
            F.col("_scale").alias("scale"),
            q.alias("qvec"),
        )
        .drop("_scale")
    )


def dequantized_cosine(a_q: Column, a_scale: Column, b_q: Column, b_scale: Column) -> Column:
    """Cosine over int8 codes: scales cancel in the normalization, so this
    is the INTEGER dot/norms of the codes — the cheap form ANN serving
    uses (scale only matters for recovering raw dot products)."""
    qa = F.transform(a_q, lambda x: x.cast("double"))
    qb = F.transform(b_q, lambda x: x.cast("double"))
    num = F.aggregate(F.zip_with(qa, qb, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)
    na = F.sqrt(F.aggregate(qa, F.lit(0.0), lambda s, x: s + x * x))
    nb = F.sqrt(F.aggregate(qb, F.lit(0.0), lambda s, x: s + x * x))
    return num / (na * nb)


def embedding_near_dup(
    embeddings: DataFrame,
    threshold: float = 0.9,
    n_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs with LSH-bucket blocking:
    pairs must share a sign bucket (vectors with cosine ≥ 0.9 almost always
    do for centered data), then the exact cosine filter. Equi-join, not a
    cross join. Returns ``(id_a, id_b, cos_sim)`` with ``id_a < id_b``."""
    b = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        norm(F.col(vec_col)).alias("nrm"),
        sign_bucket(F.col(vec_col), n_bits).alias("bucket"),
    )
    left = b.select(
        "bucket", F.col("id").alias("id_a"), F.col("vec").alias("vec_a"),
        F.col("nrm").alias("nrm_a"),
    )
    right = b.select(
        "bucket", F.col("id").alias("id_b"), F.col("vec").alias("vec_b"),
        F.col("nrm").alias("nrm_b"),
    )
    return (
        left.join(right, "bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                _cos_from_parts(
                    dot(F.col("vec_a"), F.col("vec_b")),
                    F.col("nrm_a"),
                    F.col("nrm_b"),
                ),
                6,
            ).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
        .distinct()
    )


def semantic_dedup(
    embeddings: DataFrame,
    k: int = 16,
    iters: int = 2,
    units: int = 1_000_000,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell_size: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): embedding-space
    semantic deduplication — the third dedup modality next to exact
    (hash) and lexical (MinHash/SimHash/span). Cluster the corpus with
    the deterministic integer-Lloyd :func:`ivf_build` coarse quantizer,
    then WITHIN each cell mark every vector that has a cosine-``
    threshold`` neighbor; the lowest-id member of each within-cell
    similarity neighborhood survives (greedy first-occurrence-wins, the
    same rule the exact-dedup canonicalization uses — deterministic, no
    transitive closure needed). Output one row per vector:
    ``(vec_id, cluster, n_sem_dups, keep, cell_capped)`` where
    ``n_sem_dups`` counts the vector's within-cell semantic duplicates
    (both directions) and ``keep = 1`` iff no LOWER-id within-cell
    neighbor clears the threshold.

    ``max_cell_size`` is the megacell safety valve (the same 100 TB
    design as MinHash's ``max_bucket_size``): a degenerate k-means cell
    holding a large corpus fraction turns the within-cell pair join
    into the quadratic blowup the blocking exists to prevent, so cells
    LARGER than the cap skip the pair test entirely — their members
    come back ``keep = 1, n_sem_dups = 0, cell_capped = 1`` (keep-all
    is the conservative failure mode for dedup; the flag feeds the
    audit that decides whether to re-cluster with larger k). The sizes
    relation is k rows — the eligibility join broadcasts.

    Scale shape — why this survives 100 TB: the clustering is the
    blocking. Pair comparison is confined to cells, so the quadratic
    term is Σ s_c² with s_c ≈ corpus/k; SemDeDup's operating point
    scales k with the corpus (the paper runs 50k cells over 5B items)
    to hold cell size roughly constant, making the within-cell
    self-join a cluster-keyed equi-join of bounded fan-out — never
    all-pairs. Cross-CELL near-duplicates are deliberately outside the
    contract (the paper's approximation); raise k-means quality, not
    the join, to tighten it. Cosines are rounded to 6 decimals before
    the threshold test (both engines compute the identical IEEE double
    from the same inputs), and the cluster assignment is exact integer
    arithmetic, so the whole relation is hash-gateable.
    """
    assigned, _ = ivf_build(
        embeddings, k=k, iters=iters, id_col=id_col, vec_col=vec_col,
        units=units,
    )
    b = assigned.select(
        F.col(id_col).alias("id"),
        _as_double(F.col(vec_col)).alias("vec"),
        norm(F.col(vec_col)).alias("nrm"),
        "cluster",
    )
    capped_cells = None
    if max_cell_size is not None:
        sizes = assigned.groupBy("cluster").agg(
            F.count("*").alias("_csize")
        )
        capped_cells = sizes.where(
            F.col("_csize") > max_cell_size
        ).select("cluster")
        b = b.join(F.broadcast(capped_cells), "cluster", "left_anti")
    hi = b.select(
        "cluster", F.col("id").alias("vec_id"),
        F.col("vec").alias("vec_h"), F.col("nrm").alias("nrm_h"),
    )
    lo = b.select(
        "cluster", F.col("id").alias("nbr_id"),
        F.col("vec").alias("vec_l"), F.col("nrm").alias("nrm_l"),
    )
    pairs = (
        hi.join(lo, "cluster")
        .where(F.col("vec_id") != F.col("nbr_id"))
        .where(
            F.round(
                _cos_from_parts(
                    dot(F.col("vec_h"), F.col("vec_l")),
                    F.col("nrm_h"),
                    F.col("nrm_l"),
                ),
                6,
            )
            >= threshold
        )
    )
    per = pairs.groupBy("vec_id").agg(
        F.count("*").alias("n_sem_dups"),
        F.sum(
            F.when(F.col("nbr_id") < F.col("vec_id"), 1).otherwise(0)
        ).alias("_n_lower"),
    )
    out = assigned.select(F.col(id_col).alias("vec_id"), "cluster").join(
        per, "vec_id", "left"
    )
    if capped_cells is None:
        capped_flag = F.lit(0)
    else:
        out = out.join(
            F.broadcast(capped_cells.withColumn("_capped", F.lit(1))),
            "cluster",
            "left",
        )
        capped_flag = F.coalesce(F.col("_capped"), F.lit(0))
    return out.select(
        "vec_id",
        F.col("cluster").cast("int").alias("cluster"),
        F.coalesce(F.col("n_sem_dups"), F.lit(0))
        .cast("bigint")
        .alias("n_sem_dups"),
        F.when(F.coalesce(F.col("_n_lower"), F.lit(0)) == 0, 1)
        .otherwise(0)
        .cast("int")
        .alias("keep"),
        capped_flag.cast("int").alias("cell_capped"),
    )


def label_centroids(
    embeddings: DataFrame,
    units: int = 1_000_000,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-label centroids in integer micro-units: ``(label, d, m)`` where
    ``m = round(sum(round(x·units)) / n)`` over the label's vectors. The
    sum is exact BIGINT arithmetic (order-independent — a float mean
    depends on partial-agg summation order), so the centroid table is
    bit-reproducible on any engine/partitioning — the same quantization
    trick that made :func:`ivf_build` oracle-replayable.

    Scale: posexplode to (label, dim) then aggregate — partial aggregation
    collapses each partition to ≤ labels×dim rows before the shuffle, so
    the exchange is centroid-sized, not corpus-sized.
    """
    u = quantized_units(F.col(vec_col), units)
    return (
        embeddings.select(F.col(label_col).alias("label"), F.posexplode(u).alias("d", "x"))
        .groupBy("label", "d")
        .agg(F.round(F.sum("x") / F.count("*"), 0).cast("bigint").alias("m"))
    )


def nearest_centroid_confusion(
    embeddings: DataFrame,
    units: int = 1_000_000,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Nearest-centroid classification audit: assign every vector to the
    closest :func:`label_centroids` centroid by exact integer L2 and
    return the label×assigned confusion counts — the standard quick probe
    of embedding-space label separability (and of harvested-label noise)
    before spending GPU time on a real classifier.

    The centroid matrix is labels×dim (tiny) — the ``.collect()`` is the
    legitimate kind, and the per-row argmin is a codegen'd higher-order
    expression over a broadcast literal array; ties break to the LOWEST
    label (``array_position`` returns the first minimum; the oracle's
    ``row_number`` tie-break mirrors this). One centroid aggregation + one
    confusion aggregation — both shuffles are label-sized.
    """
    cents_rows = label_centroids(embeddings, units, vec_col, label_col).collect()
    by_label: dict[int, dict[int, int]] = {}
    for r in cents_rows:
        by_label.setdefault(r["label"], {})[r["d"]] = r["m"]
    labels = sorted(by_label)
    dim = max(max(d) for d in by_label.values()) + 1
    dists = _centroid_d2s(
        quantized_units(F.col(vec_col), units),
        [[by_label[lbl].get(d, 0) for d in range(dim)] for lbl in labels],
    )
    label_lits = F.array(*[F.lit(int(x)).cast("int") for x in labels])
    assigned = F.element_at(label_lits, _argmin(dists) + 1)
    return (
        embeddings.select(
            F.col(label_col).cast("int").alias("label"), assigned.alias("assigned_label")
        )
        .groupBy("label", "assigned_label")
        .agg(F.count("*").cast("bigint").alias("n"))
    )


def pq_build(
    embeddings: DataFrame,
    m: int = 4,
    k: int = 16,
    iters: int = 1,
    units: int = 1_000_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pack: bool = False,
) -> tuple[DataFrame, list[list[list[int]]]]:
    """Product quantization (Jégou et al. 2011, "Product Quantization for
    Nearest Neighbor Search"): split the vector into ``m`` contiguous
    subspaces, k-means each subspace independently (:func:`_lloyd_units`,
    the integer Lloyd loop :func:`ivf_build` also runs — all subspaces in
    the same Spark jobs, exact BIGINT arithmetic, so codebooks and codes are bit-reproducible
    on any engine), and encode every vector as ``m`` one-byte-sized
    codes. Returns ``(codes_df, codebooks)`` where
    ``codes_df`` is ``(id, code_0..code_{m-1})`` and ``codebooks[s][j]``
    is subspace ``s``'s centroid ``j`` in micro-units.

    Scale: the compressed index is ``m`` small ints per vector (vs
    ``dim`` floats — a 64× compression at dim=64/m=4 before bit-packing);
    encoding is ONE scan-stage projection per corpus row against the
    broadcast codebook literals (k×dim ints — tiny). The per-subspace
    k-means trains on whatever sample ``embeddings`` is; at 100 TB train
    on a ``.sample()`` and encode the full corpus, exactly like IVF.

    ``pack=True`` (requires ``m ≤ 8`` and ``k ≤ 256``) returns the codes
    as ONE ``pq_code`` BIGINT — code ``s`` in byte ``s`` — instead of
    ``m`` int columns: the stored-index form (8 bytes per vector flat,
    the compression the module docstring promises delivered on disk, not
    just in column count). :func:`pq_topk` and :func:`ivfpq_topk` unpack
    with a shift-and-mask projection at search time; same results either
    way.
    """
    if pack and (m > 8 or k > 256):
        raise ValueError(f"pack=True needs m<=8 and k<=256, got m={m} k={k}")
    base = embeddings.select(
        id_col, quantized_units(F.col(vec_col), units).alias("_u")
    )
    codebooks = _lloyd_units(base, m=m, k=k, iters=iters, id_col=id_col)
    codes = _pq_encode_units(base, codebooks, id_col=id_col, pack=pack)
    return codes, codebooks


def _lloyd_units(
    base: DataFrame, m: int, k: int, iters: int, id_col: str,
    dim: int | None = None,
) -> list[list[list[int]]]:
    """The module's one Lloyd loop: integer k-means over an ``(id, _u)``
    relation in micro-units, fused across ``m`` contiguous subspaces —
    ``m=1`` trains IVF coarse centroids (:func:`ivf_build`), ``m>1`` PQ
    codebooks over raw vectors (:func:`pq_build`) or coarse-cell
    residuals (:func:`ivfpq_build_residual`). Returns ``books[s][j]``,
    subspace ``s``'s centroid ``j``.

    Malformed rows (a null vector or element) are filtered out, so they
    neither seed nor train. Seeds are the first
    ``k`` remaining rows by id, sliced per subspace. Each round assigns
    every row with :func:`_assign` and recomputes each centroid as
    ``round(sum / count)`` of exact BIGINTs — one IEEE division, one
    round, identical in any engine and any partitioning; a centroid with
    no members keeps its value. A subvector :func:`_assign` cannot place
    (cell ``-1``, e.g. a wrong length) never reaches the means, where
    ``books[s][-1]`` would overwrite the last centroid. ``dim`` is derived
    from the seed collect when the caller doesn't pass it (never a
    separate probe job), and the ``dim % m`` contract is validated before
    any training work.

    Jobs: one persist of ``base``, one seed collect and one fused means
    aggregation per round, whatever ``m`` is — job count, not data
    volume, is a small build's cost. ``base`` is RELEASED before
    returning, so the caller's lazy encode plan computes from the source
    relation and nothing cached here leaks into a caller's timed run."""
    base = base.persist()
    try:
        # filtered over the cached rows: pushed below the caller's
        # projection, the predicate would re-evaluate a residual's coarse
        # assignment per row (measured ~0.6 s per job on 2,000 × 16)
        train = base.where(F.forall("_u", lambda x: x.isNotNull()))
        seed_rows = train.orderBy(id_col).limit(k).collect()
        if not seed_rows:
            raise ValueError("Lloyd training: embeddings table is empty")
        if dim is None:
            dim = len(seed_rows[0]["_u"])
        if dim % m != 0:
            raise ValueError(f"dim {dim} not divisible by m {m}")
        sub = dim // m
        books = [
            [[int(x) for x in r["_u"][s * sub : (s + 1) * sub]] for r in seed_rows]
            for s in range(m)
        ]
        for _ in range(iters):
            per_sub = F.array(
                *[
                    F.struct(
                        F.lit(s).alias("s"),
                        _assign(
                            F.slice(F.col("_u"), s * sub + 1, sub), books[s]
                        ).alias("cluster"),
                        F.slice(F.col("_u"), s * sub + 1, sub).alias("su"),
                    )
                    for s in range(m)
                ]
            )
            means = (
                train.select(F.explode(per_sub).alias("t"))
                .where(F.col("t.cluster") >= 0)
                .select(
                    F.col("t.s").alias("s"),
                    F.col("t.cluster").alias("cluster"),
                    F.posexplode(F.col("t.su")).alias("d", "x"),
                )
                .groupBy("s", "cluster", "d")
                .agg(F.round(F.sum("x") / F.count("*"), 0).cast("bigint").alias("mv"))
                .collect()
            )
            books = [[list(c) for c in book] for book in books]
            for r in means:
                books[r["s"]][r["cluster"]][r["d"]] = int(r["mv"])
        return books
    finally:
        base.unpersist()


def _pq_encode_units(
    base: DataFrame,
    codebooks: list[list[list[int]]],
    id_col: str,
    pack: bool,
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """Encode a ``(id, _u)`` relation against trained codebooks — one
    scan-stage :func:`_assign` projection per subspace, null where a
    subvector is malformed; ``pack`` emits the single ``pq_code`` BIGINT
    form (null if any code is). ``extra_cols`` carries columns through
    (e.g. the coarse ``cluster`` for the residual index)."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    code_cols = [
        F.nullif(
            _assign(F.slice(F.col("_u"), s * sub + 1, sub), codebooks[s]),
            F.lit(-1),
        ).alias(f"code_{s}")
        for s in range(m)
    ]
    extra = list(extra_cols or [])
    if pack:
        packed = None
        for s, c in enumerate(code_cols):
            term = F.shiftleft(c.cast("long"), 8 * s)
            packed = term if packed is None else packed + term
        return base.select(id_col, *extra, packed.alias("pq_code"))
    return base.select(id_col, *extra, *code_cols)


def _pq_code_cols(codes: DataFrame, m: int) -> list[Column]:
    """The ``m`` per-subspace code expressions over a codes relation in
    either storage form: ``code_0..code_{m-1}`` columns, or the packed
    ``pq_code`` BIGINT (one byte per code — unpacked here with a
    shift-and-mask codegen projection, no join, no Python)."""
    if "pq_code" in codes.columns:
        return [
            F.shiftrightunsigned(F.col("pq_code"), 8 * s)
            .bitwiseAND(F.lit(255))
            .cast("int")
            for s in range(m)
        ]
    return [F.col(f"code_{s}") for s in range(m)]


def pq_topk(
    embeddings: DataFrame,
    codes: DataFrame,
    codebooks: list[list[list[int]]],
    query_ids: list[int],
    k: int = 10,
    units: int = 1_000_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance (ADC) PQ search: for each query, the exact
    integer L2 distance from the query's subvector to every codebook
    centroid is precomputed driver-side (an m×k table of plain ints —
    the queries and codebooks are the only data collected), and each
    corpus vector's approximate distance is the SUM of ``m`` table
    lookups on its codes — a pure codegen projection over the compressed
    index; the original vectors are never touched at search time. Top-k
    per query by ``(adc_d2, id)``. All-integer ⇒ engine-exact, fully
    DuckDB-replayable.
    """
    m = len(codebooks)
    q_rows = (
        embeddings.where(_id_in(id_col, query_ids))
        .select(id_col, quantized_units(F.col(vec_col), units).alias("u"))
        .collect()
    )
    queries_df = F.array(
        *[
            F.struct(
                F.lit(int(r[id_col])).cast("bigint").alias("query_id"),
                _lit_array(
                    _adc_table([int(x) for x in r["u"]], codebooks)
                ).alias("adc"),
            )
            for r in q_rows
        ]
    )
    exploded = codes.select(
        F.col(id_col),
        *[c.alias(f"code_{s}") for s, c in enumerate(_pq_code_cols(codes, m))],
        F.explode(queries_df).alias("q"),
    )
    scored = exploded.select(
        F.col("q.query_id").alias("query_id"),
        F.col(id_col),
        _adc_score(F.col("q.adc"), m).alias("adc_d2"),
    ).where(
        # a null code (malformed vector) has no distance; ascending
        # order would rank it first
        (F.col(id_col) != F.col("query_id")) & F.col("adc_d2").isNotNull()
    )
    return _topk(scored, k, _rank("adc_d2", id_col))


def _adc_score(adc: Column, m: int) -> Column:
    """The ADC distance of :func:`pq_topk` and :func:`ivfpq_topk`:
    ``Σ_s adc[s][code_s]`` over the ``code_{s}`` columns — ``m`` table
    lookups, exact BIGINT."""
    score = None
    for s in range(m):
        term = F.element_at(F.element_at(adc, s + 1), F.col(f"code_{s}") + 1)
        score = term if score is None else score + term
    return score.cast("bigint")


def _adc_table(qvec: list[int], codebooks: list[list[list[int]]]) -> list[list[int]]:
    """One ADC lookup table ``adc[subspace][code]`` — exact python-int L2
    distances from the (micro-unit) query vector's subvectors to every
    codebook centroid. Shared by :func:`pq_topk` (raw query vector) and
    :func:`ivfpq_topk` (raw, or per-cell residual, vector)."""
    sub = len(codebooks[0][0])
    return [
        [
            sum(
                (a - b) * (a - b)
                for a, b in zip(qvec[s * sub : (s + 1) * sub], c)
            )
            for c in book
        ]
        for s, book in enumerate(codebooks)
    ]


def _adc_expr(src: Column, codebooks: list[list[list[int]]]) -> Column:
    """:func:`_adc_table` as a pure DataFrame expression — the executor-
    side twin for bulk query relations: ``adc[subspace][code]`` exact
    BIGINT L2 distances from the (micro-unit) ``src`` array column's
    subvectors to every codebook centroid literal. The codebooks are the
    only literals (m × k × sub ints — the same tiny artifact the driver
    path ships), so a 10⁶-query ADC build never leaves executors."""
    sub = len(codebooks[0][0])
    return F.transform(
        _lit_array(codebooks),
        lambda cb_s, s: F.transform(
            cb_s, lambda cent: _d2(F.slice(src, s * sub + 1, sub), cent)
        ),
    )


def ivfpq_build_residual(
    embeddings: DataFrame,
    coarse_k: int = 16,
    coarse_iters: int = 2,
    m: int = 4,
    k: int = 16,
    iters: int = 1,
    units: int = 1_000_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pack: bool = True,
) -> tuple[DataFrame, list[list[int]], DataFrame, list[list[list[int]]]]:
    """Residual IVFADC index (Jégou et al. 2011 §IV, the actual IVFADC):
    coarse-quantize with :func:`ivf_build`, then PQ-encode each vector's
    RESIDUAL ``u − centroid[cluster]`` rather than the raw vector — the
    codebooks only have to cover the within-cell spread, so the same m
    bytes carry far less quantization error. All arithmetic stays exact
    BIGINT (residual = integer subtraction of micro-units), so the whole
    build remains DuckDB-replayable. Returns ``(assigned, centroids,
    codes, codebooks)`` where ``codes`` carries the coarse ``cluster``
    alongside the (packed) residual codes — the stored index is
    ``(cluster, pq_code)`` per vector, exactly what :func:`ivfpq_topk`
    searches with ``residual=True``.

    Scale: one extra zero-shuffle projection over the coarse-assigned
    corpus (the residual subtraction against broadcast centroid
    literals); training and encoding inherit the fused-job shape of
    :func:`pq_build`.
    """
    assigned, cents = ivf_build(
        embeddings, k=coarse_k, iters=coarse_iters,
        id_col=id_col, vec_col=vec_col, units=units,
    )
    dim = len(cents[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    if pack and (m > 8 or k > 256):
        raise ValueError(f"pack=True needs m<=8 and k<=256, got m={m} k={k}")
    codebooks = _lloyd_units(
        _cell_residuals(
            embeddings, cents, quantized_units(F.col(vec_col), units), id_col
        ),
        m=m, k=k, iters=iters, id_col=id_col, dim=dim,
    )
    codes = ivfpq_encode(
        embeddings, cents, codebooks, units=units, id_col=id_col,
        vec_col=vec_col, pack=pack,
    )
    return assigned, cents, codes, codebooks


def _cell_residuals(
    embeddings: DataFrame, centroids: list[list[int]], u: Column, id_col: str
) -> DataFrame:
    """``(id, cluster, _u)``: each micro-unit vector ``u``'s
    :func:`_assign` cell and its :func:`_residual` from that cell's
    centroid — the encode step both residual tiers (IVFADC, IVF-SQ)
    share. A malformed vector lands in cell ``-1`` with a null
    residual."""
    return (
        embeddings.select(id_col, u.alias("_u"))
        .withColumn("cluster", _assign(F.col("_u"), centroids))
        .select(id_col, "cluster", _residual(F.col("_u"), centroids).alias("_u"))
    )


def ivfpq_encode(
    embeddings: DataFrame,
    centroids: list[list[int]],
    codebooks: list[list[list[int]]],
    units: int = 1_000_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pack: bool = True,
) -> DataFrame:
    """Residual-IVFADC encode against frozen artifacts (coarse centroids
    + residual codebooks): ``(id, cluster, pq_code)`` — or the
    ``code_{s}`` columns without ``pack`` — as one zero-shuffle
    projection. :func:`ivfpq_build_residual` encodes its corpus with it,
    and ``index_store.extend_index`` encodes new generations with it, so
    a vector's stored row never depends on which of the two wrote it."""
    return _pq_encode_units(
        _cell_residuals(
            embeddings, centroids, quantized_units(F.col(vec_col), units), id_col
        ),
        codebooks, id_col=id_col, pack=pack, extra_cols=["cluster"],
    )


def ivfpq_topk(
    assigned: DataFrame,
    centroids: list[list[int]],
    codes: DataFrame,
    codebooks: list[list[list[int]]],
    query_ids: list[int] | None,
    k: int = 10,
    nprobe: int = 2,
    units: int = 1_000_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    embeddings: DataFrame | None = None,
    residual: bool = False,
    queries: DataFrame | None = None,
) -> DataFrame:
    """IVFADC (Jégou et al. 2011 §IV): the realistic 100 TB ANN index —
    coarse-quantize the corpus into IVF cells, PQ-compress every vector,
    then per query probe the ``nprobe`` integer-nearest cells and rank
    ONLY their members by the ADC table-lookup distance. Composes
    :func:`ivf_build` (``assigned`` + micro-unit ``centroids``) with
    :func:`pq_build` (``codes`` in either storage form + ``codebooks``);
    ``embeddings`` (defaults to ``assigned``) supplies the query vectors.
    ``residual=True`` searches a :func:`ivfpq_build_residual` index:
    codes encode the vector's residual from its coarse centroid, and the
    ADC tables are built per (query, probed cell) from the query's
    residual wrt that cell — the actual Jégou IVFADC, tighter distances
    for the same bytes because each cell's codebook only has to cover
    the within-cell spread.
    Output ``(query_id, vec_id, adc_d2, rn)`` — same shape as
    :func:`pq_topk`; all-integer, engine-exact, DuckDB-replayable.

    Scale shape: the searched index is ``(cluster, pq_code)`` per vector —
    a cluster id plus 8 bytes; candidates come from ONE equi-join of the
    (queries × nprobe)-row probe relation on ``cluster`` (scan cost
    ~nprobe/k_coarse of the corpus per query, never a full ADC sweep);
    the ADC sum is a pure codegen projection (:func:`_adc_score`); one
    top-k window keyed on query_id. The cell join + the code join on
    ``id_col`` are the only shuffles — at scale the index is STORED
    pre-joined (cluster, pq_code), leaving the probe join + window only.

    Queries follow :func:`ivf_topk`'s contract: ``query_ids`` whose
    probe relation fits the :data:`DRIVER_PROBE_MAX` constant budget
    (ids × probed cells × the ``m × k`` ADC table) collect once and
    build probe cells + ADC tables in a driver loop (an in-plan literal
    probe relation); a ``queries`` relation (e.g. the corpus itself for
    bulk kNN-graph construction) or a longer list computes the SAME cells
    (:func:`nearest_centroid_ids`) and the SAME tables
    (:func:`_adc_expr` — in residual mode from the per-probed-cell
    residual) as DataFrame expressions: zero query-side collect, join
    strategy left to Catalyst/AQE. All-integer either way, so the two
    paths are bit-identical.

    The query-independent parts of the plan — the codes projection, the
    query's micro-unit column, the ADC score and the top-k window — come
    from :func:`_ivfpq_parts`; ``index_store.load_index`` builds them once
    per loaded index and ``serve_knn`` runs this same search body
    (:func:`_ivfpq_search`) on them, so a served query adds only its id
    lookup and its probe literal.
    """
    return _ivfpq_search(
        _ivfpq_parts(codes, len(codebooks), units, id_col, vec_col, assigned),
        centroids, codebooks,
        embeddings if embeddings is not None else assigned,
        query_ids, queries, k=k, nprobe=nprobe, id_col=id_col,
        residual=residual,
    )


# eq=False: == on two Columns builds an expression; it does not compare
@dataclasses.dataclass(frozen=True, eq=False)
class _IvfpqParts:
    """The query-independent parts of an :func:`ivfpq_topk` plan over one
    index: ``index`` is ``(id, cluster, code_0 … code_{m-1})``, ``qu``
    a query row's micro-unit vector ``_qu`` (in the OPQ space when the
    index has a permutation), ``not_self`` drops the query's own row
    from ``index`` joined with the probes, ``scored`` projects that join
    to ``(query_id, id, adc_d2)`` (the ADC score over the probes' ``adc``
    tables), and ``rn`` ranks it per query by ``(adc_d2, id)``. Each
    Column API call costs several py4j round trips, which is why a
    served index keeps these instead of rebuilding them per query."""

    index: DataFrame
    qu: Column
    not_self: Column
    scored: tuple[Column, ...]
    rn: Column


def _ivfpq_parts(
    codes: DataFrame,
    m: int,
    units: int,
    id_col: str,
    vec_col: str,
    assigned: DataFrame | None = None,
    perm: list[int] | None = None,
) -> _IvfpqParts:
    """Build :class:`_IvfpqParts` for ``codes`` in either storage form.
    Codes without a ``cluster`` column take it from ``assigned`` by an id
    join; residual codes carry the coarse cell already (the index stored
    pre-joined). ``perm`` (an OPQ index) reorders the query vector."""
    code_cols = [c.alias(f"code_{s}") for s, c in enumerate(_pq_code_cols(codes, m))]
    if "cluster" in codes.columns:
        index = codes.select(id_col, "cluster", *code_cols)
    else:
        index = assigned.select(id_col, "cluster").join(
            codes.select(id_col, *code_cols), id_col
        )
    vec = F.col(vec_col) if perm is None else _permuted(F.col(vec_col), perm)
    return _IvfpqParts(
        index=index,
        qu=quantized_units(vec, units).alias("_qu"),
        not_self=F.col(id_col) != F.col("query_id"),
        scored=(
            F.col("query_id"), F.col(id_col),
            _adc_score(F.col("adc"), m).alias("adc_d2"),
        ),
        rn=_rank("adc_d2", id_col),
    )


def _ivfpq_search(
    parts: _IvfpqParts,
    centroids: list[list[int]],
    codebooks: list[list[list[int]]],
    emb: DataFrame,
    query_ids: list[int] | None,
    queries: DataFrame | None,
    k: int,
    nprobe: int,
    id_col: str,
    residual: bool,
) -> DataFrame:
    """The one :func:`ivfpq_topk` search body: probe relation, cell join,
    ADC score and top-k window over prebuilt ``parts``; ``query_ids`` are
    looked up in ``emb``."""
    qsrc, on_driver = _probe_source(
        emb, query_ids, queries, id_col,
        min(nprobe, len(centroids)) * (2 + sum(len(b) for b in codebooks)),
    )
    if on_driver:
        # ONE collect of the (tiny) query rows feeds both the integer
        # probe and the ADC tables. In residual mode the ADC table is
        # PER (query, probed cluster): distances go from the query's
        # residual wrt THAT cluster's centroid to the residual codebooks
        # — Jegou §IV's per-cell lookup tables; the probes relation
        # already has exactly that grain, so only the table contents
        # change.
        probe_rows = []
        for r in qsrc.select(id_col, parts.qu).collect():
            qu = [int(x) for x in r["_qu"]]
            shared = None if residual else _adc_table(qu, codebooks)
            for ci in _nearest_centroids(qu, centroids, nprobe):
                tab = (
                    _adc_table(
                        [a - b for a, b in zip(qu, centroids[ci])], codebooks
                    )
                    if residual
                    else shared
                )
                probe_rows.append((int(r[id_col]), ci, tab))
        probes = F.broadcast(
            _local_relation(
                emb.sparkSession, probe_rows,
                "query_id BIGINT, cluster INT, adc ARRAY<ARRAY<BIGINT>>",
            )
        )
    else:
        qbase = qsrc.select(
            F.col(id_col).cast("bigint").alias("query_id"), parts.qu
        ).withColumn("_cells", _nearest_cells(F.col("_qu"), centroids, nprobe))
        if residual:
            # the table is per (query, probed cell) — it MUST build
            # after the explode, from that cell's residual
            qdf = qbase.select(
                "query_id", "_qu", F.explode("_cells").alias("cluster")
            )
            probes = qdf.select(
                "query_id",
                F.col("cluster").cast("int").alias("cluster"),
                _adc_expr(
                    _residual(F.col("_qu"), centroids), codebooks
                ).alias("adc"),
            )
        else:
            # the table is per QUERY — build it once before the explode
            # (Generate carries the projected column), not nprobe times
            probes = qbase.select(
                "query_id",
                _adc_expr(F.col("_qu"), codebooks).alias("adc"),
                F.explode("_cells").alias("cluster"),
            ).select(
                "query_id", F.col("cluster").cast("int").alias("cluster"), "adc"
            )
    scored = (
        parts.index.join(probes, "cluster")
        .where(parts.not_self)
        .select(*parts.scored)
    )
    return _topk(scored, k, parts.rn)


def ivfpq_bulk_topk(
    assigned: DataFrame,
    centroids: list[list[int]],
    codes: DataFrame,
    codebooks: list[list[list[int]]],
    embeddings: DataFrame,
    k: int = 10,
    candidates: int = 30,
    nprobe: int = 2,
    units: int = 1_000_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    residual: bool = True,
) -> DataFrame:
    """Bulk kNN-graph construction over a COMPRESSED index — the shape a
    100 TB semantic-dedup / clustering job actually runs (vs
    :func:`ivf_topk`'s bulk form, which scores every within-cell
    candidate at full precision): stage 1 drives the residual-IVFADC
    index (:func:`ivfpq_topk`) with the corpus itself as the query
    RELATION — executor-side probe selection and per-(query, cell) ADC
    tables as DataFrame expressions, zero query-side collect — and cuts
    each query's ``candidates`` best by the 2–8-byte ADC distance;
    stage 2 re-ranks ONLY those ids by exact full-dimension integer L2
    and emits the top ``k``. Full-precision work per query drops from
    ~corpus/k_coarse·nprobe vectors to ``candidates`` rows.

    Plan shape: the candidate cut is (n·candidates) rows of pure ids —
    the re-rank joins are id-keyed equi-joins (no broadcast: both sides
    scale with the corpus; strategy left to AQE), and the final ranking
    is one top-k window per query_id. All-integer both stages, so the
    composed ranking (ADC cut + exact re-rank + id tie-breaks) replays
    verbatim in the DuckDB oracle (``sim_topk_ivfpq_bulk``).
    """
    cand = ivfpq_topk(
        assigned, centroids, codes, codebooks, None,
        k=candidates, nprobe=nprobe, units=units, id_col=id_col,
        vec_col=vec_col, embeddings=embeddings, residual=residual,
        queries=embeddings,
    ).select("query_id", id_col)
    return _exact_rerank(
        embeddings, cand, k, units=units, id_col=id_col, vec_col=vec_col
    )


def _exact_rerank(
    embeddings: DataFrame,
    cand: DataFrame,
    k: int,
    units: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Stage 2 of every compressed bulk search: :func:`_two_stage`'s
    exact re-rank of the ``(query_id, id)`` candidate relation, with the
    corpus itself as the query side — so the joins are left to AQE (both
    sides scale with the candidate cut, not a bounded id list)."""
    base = embeddings.select(
        id_col, quantized_units(F.col(vec_col), units).alias("_u")
    )
    qp = base.select(
        F.col(id_col).cast("bigint").alias("query_id"),
        F.col("_u").alias("_qu"),
    )
    return _two_stage(base, qp, k, id_col, stage1=cand, small_queries=False)


def size_knn_budget(
    assigned: DataFrame,
    centroids: list[list[int]],
    codes: DataFrame,
    codebooks: list[list[list[int]]],
    embeddings: DataFrame,
    target_recall: float = 0.8,
    k: int = 10,
    sample_mod: int = 10,
    nprobes: list[int] | None = None,
    candidate_ladder: list[int] | None = None,
    units: int = 1_000_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    residual: bool = True,
) -> tuple[int, int, list[dict]]:
    """Turn a target recall into a measured ``(nprobe, candidates)``
    budget for :func:`ivfpq_bulk_topk` — the auto-sizer for the tuning
    dial the bulk compressed path otherwise leaves manual. The engine
    already measures recall curves (``sim_recall_curve``); this walks
    one on a SAMPLE and returns the cheapest budget that clears the
    target:

    1. sample queries by deterministic id-modulus (``id % sample_mod
       == 0``, capped at 256 ids — a bounded collect);
    2. exact integer-L2 top-``k`` truth for the sample (one broadcast
       scan — sample-sized, never corpus × corpus);
    3. walk budgets cheapest-first (``nprobe`` doubling outer,
       ``candidates`` ladder inner), each: ADC cut at that budget →
       exact re-rank (:func:`_exact_rerank`, the same stage 2 the bulk
       job runs) → recall@k vs the truth;
    4. return the first budget meeting ``target_recall`` plus the full
       measured curve (for SCALE.md-style dashboards); raise with the
       curve embedded if even the top budget misses — the index itself
       (coarse_k, m, PQ bits) is then the dial to turn, not the search
       budget.

    Cost: every probe of the curve touches ~``n_sample·nprobe/k_coarse``
    of the corpus through the 2–8-byte codes plus ``n_sample·candidates``
    exact rows — at 100 TB this is minutes on a sample while the bulk
    job it sizes is hours on the corpus; sizing before bulking is the
    production order of operations."""
    if nprobes is None:
        nprobes, p = [], 1
        while p < len(centroids):
            nprobes.append(p)
            p *= 2
        nprobes.append(len(centroids))
    if candidate_ladder is None:
        candidate_ladder = [2 * k, 4 * k, 8 * k]
    qids = [
        int(r[id_col])
        for r in embeddings.where(
            (F.col(id_col) % sample_mod) == 0
        ).select(id_col).orderBy(id_col).limit(256).collect()
    ]
    if not qids:
        raise ValueError("size_knn_budget: empty query sample")
    sample_q = embeddings.where(_id_in(id_col, qids))
    truth = {
        (int(r["query_id"]), int(r[id_col]))
        for r in int_l2_topk(
            embeddings, sample_q, k=k, units=units,
            id_col=id_col, vec_col=vec_col,
        ).select("query_id", id_col).collect()
    }
    if not truth:
        raise ValueError("size_knn_budget: empty exact truth set")
    curve: list[dict] = []
    for nprobe in nprobes:
        for candidates in candidate_ladder:
            approx = _exact_rerank(
                embeddings,
                ivfpq_topk(
                    assigned, centroids, codes, codebooks, qids,
                    k=candidates, nprobe=nprobe, units=units,
                    id_col=id_col, vec_col=vec_col,
                    embeddings=embeddings, residual=residual,
                ).select("query_id", id_col),
                k, units=units, id_col=id_col, vec_col=vec_col,
            )
            hits = sum(
                (int(r["query_id"]), int(r[id_col])) in truth
                for r in approx.select("query_id", id_col).collect()
            )
            recall = hits / len(truth)
            curve.append(
                {"nprobe": nprobe, "candidates": candidates,
                 "recall": recall}
            )
            if recall >= target_recall:
                return nprobe, candidates, curve
    raise ValueError(
        f"size_knn_budget: target recall {target_recall} unreachable at "
        f"any searched budget (best "
        f"{max(c['recall'] for c in curve):.3f}); the index itself is "
        f"the dial now — more coarse cells, more PQ bits, or a larger "
        f"candidate ladder. Measured curve: {curve}"
    )


def _rp_signs(seed: str, out_dim: int, in_dim: int) -> list[list[int]]:
    """Deterministic Rademacher (±1) projection matrix: entry ``(j, d)``
    is the parity of ``md5("{seed}:{j}:{d}")`` — the same content-keyed
    idiom as ``hash_bucket_col``, so the DuckDB oracle re-derives the
    matrix from the seed alone (no side-channel). Achlioptas 2003 shows
    ±1 entries satisfy the JL lemma with the same guarantees as
    Gaussians."""
    import hashlib

    return [
        [
            1
            if int(hashlib.md5(f"{seed}:{j}:{d}".encode()).hexdigest()[:15], 16)
            % 2
            == 0
            else -1
            for d in range(in_dim)
        ]
        for j in range(out_dim)
    ]


def _int_dot(u: Column, row: list[int]) -> Column:
    """Exact BIGINT dot product of an ``array<bigint>`` column with an
    integer literal row (a JL sign row or a PCA component)."""
    return F.aggregate(
        F.zip_with(u, _lit_array(row), lambda a, b: a * b),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def _quantized_dim_checked(
    vec: Column, units: int, in_dim: int, op: str
) -> Column:
    """:func:`quantized_units` with a per-row dimension assertion: any
    vector whose length differs from ``in_dim`` raises at execution
    instead of silently zip_with-padding NULLs into the integer fold
    (which would propagate to ALL-NULL projections with no error). The
    size check runs on the RAW vector (``transform`` preserves length,
    so ``size(vec) == size(q)`` — checking ``size(q)`` would inline and
    evaluate the quantization transform a second time per row)."""
    q = quantized_units(vec, units)
    return F.when(F.size(vec) == in_dim, q).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"{op}: embedding dimension "),
                F.size(vec).cast("string"),
                F.lit(f" != in_dim {in_dim}"),
            )
        )
    )


def random_projection(
    emb: DataFrame,
    out_dim: int = 16,
    in_dim: int = 64,
    units: int = 1_000_000,
    seed: str = "rp",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Johnson–Lindenstrauss random projection: reduce ``in_dim``
    embeddings to ``out_dim`` via a seeded Rademacher matrix —
    ``y_j = Σ_d sign(j,d) · x_d`` (unnormalized; pairwise squared
    distances scale by ``out_dim`` in expectation, which downstream
    consumers divide out — see :func:`rp_distortion`). The standard
    100 TB pre-step before ANN indexing or clustering when the raw
    dimension is wide: O(out_dim·in_dim) per row, no training, and the
    matrix regenerates anywhere from the seed.

    Cross-engine exactness: inputs quantize once to BIGINT micro-units
    (:func:`quantized_units`), the ±1 matrix is integer, so every output
    component is an exact integer sum — order-free, hash-gate-able.

    Plan shape: ONE narrow projection — zero shuffles, zero joins, zero
    Python; the sign matrix rides into codegen as ``out_dim`` array
    literals (the staged ``_u`` column is multi-referenced, so
    CollapseProject keeps the quantization computed once per row).
    Output ``(id_col, rp: array<bigint>)`` in micro-units.
    """
    signs = _rp_signs(seed, out_dim, in_dim)
    staged = emb.select(
        id_col,
        _quantized_dim_checked(
            F.col(vec_col), units, in_dim, "random_projection"
        ).alias("_u"),
    )
    comps = [_int_dot(F.col("_u"), row) for row in signs]
    return staged.select(id_col, F.array(*comps).alias("rp"))


def rp_distortion(
    emb: DataFrame,
    out_dim: int = 16,
    in_dim: int = 64,
    units: int = 1_000_000,
    seed: str = "rp",
    sample_mod: int = 50,
    sample_seed: str = "rpsample",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The JL fidelity audit: on a deterministic ~1/``sample_mod`` hash
    sample of ids, every pair's projected-vs-original squared-distance
    ratio ``d²_proj / (out_dim · d²_orig)`` — the number the JL lemma
    says concentrates at 1, and the dashboard check a production
    projection ships with (out_dim too small ⇒ the ratio spread blows
    up before ANN recall visibly degrades).

    Scale: the all-pairs comparison is restricted to the content-keyed
    sample (~40 ids at sf0.01) — a broadcast nested-loop over
    sample²/2 pairs by design; the corpus-wide relation is never
    self-joined. Both distance columns are exact BIGINT sums in
    micro-units; the ratio is one identical IEEE division. Identical
    vectors (d²=0) yield a NULL ratio rather than engine-dependent
    Inf/NaN.
    """
    from hadoop_tfidf_spark.operators.sampling import hash_bucket_col

    signs = _rp_signs(seed, out_dim, in_dim)
    base = emb.where(
        hash_bucket_col(F.col(id_col), sample_mod, sample_seed) == 0
    ).select(
        id_col,
        _quantized_dim_checked(
            F.col(vec_col), units, in_dim, "rp_distortion"
        ).alias("_u"),
    )
    comps = [_int_dot(F.col("_u"), row) for row in signs]
    proj = base.select(id_col, "_u", F.array(*comps).alias("_y"))
    a = proj.select(
        F.col(id_col).alias("id_a"),
        F.col("_u").alias("_ua"),
        F.col("_y").alias("_ya"),
    )
    b = proj.select(
        F.col(id_col).alias("id_b"),
        F.col("_u").alias("_ub"),
        F.col("_y").alias("_yb"),
    )
    pairs = a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
    d2 = pairs.select(
        "id_a",
        "id_b",
        _d2(F.col("_ua"), F.col("_ub")).alias("d2_orig_u"),
        _d2(F.col("_ya"), F.col("_yb")).alias("d2_proj_u"),
    )
    return d2.select(
        "id_a",
        "id_b",
        "d2_orig_u",
        "d2_proj_u",
        F.when(
            F.col("d2_orig_u") > 0,
            F.round(
                F.col("d2_proj_u") / (F.lit(out_dim) * F.col("d2_orig_u")), 6
            ),
        ).alias("rp_ratio"),
    )


def _rhalf(x: float) -> int:
    """Round half-away-from-zero on the EXACT binary double — the same
    contract as Spark's ``F.round(_, 0)`` (BigDecimal HALF_UP on the
    exact value) and DuckDB's ``round`` on DOUBLE, so driver-side
    Python arithmetic can sit in the middle of a hash-gated chain.
    ``decimal.Decimal(float)`` converts exactly; ROUND_HALF_UP ties go
    away from zero."""
    from decimal import ROUND_HALF_UP, Decimal

    return int(Decimal(x).quantize(Decimal(1), rounding=ROUND_HALF_UP))


def pca_power_build(
    emb: DataFrame,
    k: int = 4,
    iters: int = 8,
    units: int = 10_000,
    in_dim: int = 64,
    seed: str = "pca",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[list[list[int]], list[float], int]:
    """Top-``k`` principal components by INTEGER power iteration with
    deflation — the trained counterpart of :func:`random_projection`
    (project onto the data's own top-variance directions before ANN /
    clustering instead of random ones).

    Distributed part (the only corpus-sized work): second-moment
    statistics via ``mapInPandas`` — vectors quantize to BIGINT
    micro-units IN SPARK (engine-exact rounding), each Arrow batch
    contributes one int64 gemm (``XᵀX``) and one column sum, and the
    per-batch partials (1 row each) are collected and summed in exact
    Python ints. One pass, no shuffle, partials are batch-count-sized.

    Driver part (dim²-sized, the legitimate collect kind): the
    covariance NUMERATOR ``M = n·S − s·sᵀ`` is an exact integer matrix
    (no float mean-centering); it is rescaled once to ±1e6 and each
    power-iteration step requantizes through :func:`_rhalf`, so every
    intermediate is an exact BIGINT and the whole chain — rescale,
    ``iters`` matvec+normalize rounds per component, Rayleigh quotient,
    deflation — replays verbatim in the DuckDB oracle (the Lloyd/PQ
    pattern, now for an iterative eigensolver). Start vectors are
    md5-parity ±1 (generically non-orthogonal to the eigenvectors).

    Integer-range contract (documented, asserted): ``|M| < 2^53``
    requires ``n²·units²·max|x|² ≲ 9e15`` — with ``units=1e4`` and
    ``|x| ≤ 1`` that bounds the TRAIN SAMPLE at ~a hundred thousand
    rows; at 100 TB you train on such a sample (the standard recipe)
    and project the full corpus with :func:`pca_project`. Returns
    ``(components, lambdas, n)``: ``k`` vectors in 1e6-units, their
    Rayleigh eigenvalues (rescaled-matrix units), and the row count.
    """
    import math

    staged = emb.select(quantized_units(F.col(vec_col), units).alias("_u"))

    def partials(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            X = np.asarray([np.asarray(v, dtype=np.int64) for v in pdf["_u"]])
            yield pd.DataFrame(
                {
                    "n": [int(len(X))],
                    "s": [X.sum(axis=0).tolist()],
                    "ss": [(X.T @ X).ravel().tolist()],
                }
            )

    parts = staged.mapInPandas(
        partials, schema="n BIGINT, s ARRAY<BIGINT>, ss ARRAY<BIGINT>"
    ).collect()
    if not parts:
        raise ValueError("pca_power_build: empty input")
    d = in_dim
    n = sum(p["n"] for p in parts)
    s = [0] * d
    S = [[0] * d for _ in range(d)]
    for p in parts:
        for i, v in enumerate(p["s"]):
            s[i] += int(v)
        flat = p["ss"]
        for i in range(d):
            row = S[i]
            base = i * d
            for j in range(d):
                row[j] += int(flat[base + j])
    M = [[n * S[i][j] - s[i] * s[j] for j in range(d)] for i in range(d)]
    mmax = max(abs(M[i][j]) for i in range(d) for j in range(d))
    if mmax == 0 or mmax >= 1 << 53:
        raise ValueError(f"pca_power_build: covariance out of range ({mmax})")
    Mq = [
        [_rhalf(M[i][j] * 1000000.0 / mmax) for j in range(d)] for i in range(d)
    ]
    signs = _rp_signs(seed, k, d)

    def matvec(A, v):
        return [sum(A[i][j] * v[j] for j in range(d)) for i in range(d)]

    comps: list[list[int]] = []
    lams: list[float] = []
    for c in range(k):
        v = [sg * 1_000_000 for sg in signs[c]]
        for _ in range(iters):
            ws = [_rhalf(wi / 1000000.0) for wi in matvec(Mq, v)]
            nrm2 = sum(x * x for x in ws)
            if nrm2 == 0:
                raise ValueError("pca_power_build: degenerate iterate")
            v = [_rhalf(x * 1000000 / math.sqrt(nrm2)) for x in ws]
        ws = [_rhalf(wi / 1000000.0) for wi in matvec(Mq, v)]
        ray_num = sum(v[i] * ws[i] for i in range(d))
        vv = sum(x * x for x in v)
        lam = ray_num * 1000000.0 / vv
        comps.append(v)
        lams.append(lam)
        Mq = [
            [
                Mq[i][j] - _rhalf(lam * v[i] * v[j] / 1000000000000.0)
                for j in range(d)
            ]
            for i in range(d)
        ]
    return comps, lams, n


def pca_project(
    emb: DataFrame,
    components: list[list[int]],
    units: int = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lambdas: list[float] | None = None,
) -> DataFrame:
    """Project the (full) corpus onto trained principal components:
    ``score_u[c] = Σ_d x_u[d] · v_c[d]`` — exact BIGINT dot products
    (inputs in ``units``, components in 1e6-units). The components ride
    into codegen as array literals exactly like the JL sign rows: one
    narrow zero-shuffle projection over the corpus, no Python. Output
    ``(id_col, component, score_u)`` scalar rows.

    ``lambdas`` (the Rayleigh eigenvalues :func:`pca_power_build`
    returns) switches on WHITENING: an extra ``score_w = round(score_u
    / sqrt(λ_c), 6)`` column rescales every direction to unit variance
    (in the rescaled-matrix units — relative scales are what whitening
    needs). Whitened coordinates make downstream cosine/L2 treat all
    retained directions equally — the usual preprocessing before
    clustering or metric learning on PCA coordinates."""
    staged = emb.select(
        id_col, quantized_units(F.col(vec_col), units).alias("_u")
    )
    cols = [_int_dot(F.col("_u"), comp) for comp in components]
    out = staged.select(
        id_col, F.posexplode(F.array(*cols)).alias("component", "score_u")
    ).select(
        id_col,
        F.col("component").cast("int").alias("component"),
        "score_u",
    )
    if lambdas is None:
        return out
    import math

    inv = F.array(
        *[F.lit(1.0 / math.sqrt(l) if l > 0 else 0.0) for l in lambdas]
    )
    return out.select(
        id_col,
        "component",
        "score_u",
        F.round(
            F.col("score_u") * F.element_at(inv, F.col("component") + 1), 6
        ).alias("score_w"),
    )


def _flat_scan(
    index: DataFrame,
    qp: DataFrame,
    id_col: str,
    col: str,
    qcol: str,
    dist=_d2,
    out: str = "_d",
) -> DataFrame:
    """Every ``index`` row against the broadcast query relation (small
    by contract — a broadcast nested loop; the corpus streams):
    ``(query_id, id, out)`` with ``out = dist(index.col, qp.qcol)``."""
    return (
        index.crossJoin(F.broadcast(qp.select("query_id", qcol)))
        .where(F.col(id_col) != F.col("query_id"))
        .select("query_id", id_col, dist(F.col(col), F.col(qcol)).alias(out))
    )


def _two_stage(
    base: DataFrame,
    qp: DataFrame,
    k: int,
    id_col: str,
    stage1: DataFrame | None = None,
    candidates: int | None = None,
    small_queries: bool = True,
) -> DataFrame:
    """The ANN skeleton every integer-L2 tier ranks through: a coarse
    candidate cut, then an exact re-rank (the pivot-filter-then-verify
    shape of metric similarity joins).

    ``base`` is ``(id, _u)`` and ``qp`` ``(query_id, _qu)``, both in
    integer micro-units. ``stage1`` is the coarse relation
    ``(query_id, id[, _d])``: with ``candidates`` it is first cut to each
    query's best ``candidates`` by ``(_d, id)``; without, its ids are the
    candidates as they stand (an upstream ADC cut). ``stage1=None``
    makes every base row a candidate (:func:`int_l2_topk`). Stage 2
    ranks the candidates by exact full-dimension integer L2 into the
    top ``k``, id tie-breaks. ``small_queries`` broadcasts the candidate
    and query relations (an id list or a small query set); ``False``
    leaves both id-keyed joins to AQE (bulk: both sides scale with the
    corpus). Every distance is an exact BIGINT sum, so the whole ranking
    replays in DuckDB. Output ``(query_id, id, d2_u, rn: int)``."""
    if stage1 is None:
        scored = _flat_scan(base, qp, id_col, "_u", "_qu", out="d2_u")
    else:
        if candidates is not None:
            stage1 = _topk(stage1, candidates, _rank("_d", id_col))
        side = F.broadcast if small_queries else (lambda df: df)
        scored = (
            base.join(side(stage1.select("query_id", id_col)), id_col)
            .join(side(qp.select("query_id", "_qu")), "query_id")
            .select(
                "query_id", id_col, _d2(F.col("_u"), F.col("_qu")).alias("d2_u")
            )
        )
    return _topk(scored, k, _rank("d2_u", id_col))


def pca_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    candidates: int = 50,
    n_components: int = 4,
    iters: int = 8,
    units: int = 10_000,
    in_dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    components: list[list[int]] | None = None,
    score_scale: int | None = None,
) -> DataFrame:
    """Two-stage retrieval through TRAINED PCA coordinates — the
    :func:`rp_topk` pattern with the data's own top-variance directions
    instead of random signs: stage 1 scans only the
    ``n_components``-int projected index (the best ``n_components``-dim
    L2 approximation of the original distances, where the JL projection
    is merely distortion-bounded), stage 2 re-ranks the survivors by
    exact full-dimension integer L2. UNWHITENED scores by design:
    whitening rescales directions to unit variance, which deliberately
    DISTORTS L2 — right before clustering, wrong inside a distance
    index. Pass ``components=`` (a :func:`pca_power_build` result) to
    skip training. All distances exact BIGINT in both stages, so the
    whole ranking including tie-breaks replays in DuckDB. Output
    ``(query_id, vec_id, d2_u, rn)`` — the :func:`rp_topk` /
    :func:`int_l2_topk` shape.

    Scale: training is :func:`pca_power_build`'s one mapInPandas gemm
    pass (train on a sample at 100 TB — the 2^53 contract documented
    there); the index projection rides into codegen as component
    literals, zero shuffle; stage-1 scan touches n_components/in_dim of
    the bytes; full-width reads are ``candidates`` rows per query.

    ``score_scale`` (default: ``units``) keeps the stage-1 squared
    distance inside BIGINT: raw projected scores are ``Σ_d x_u·v_d``
    with ``x_u`` in ``units`` and components in 1e6-units — |score| up
    to ~dim·|x|·units·1e6, whose squared differences overflow 2^63.
    Each score floor-divides by ``score_scale`` first (one identical
    IEEE floor(double/const) on both engines); dividing by ``units``
    makes the post-scale bound ~dim·|x|·1e6 INDEPENDENT of the input
    quantization, so the stage-1 d² stays ≤ ~n_components·(2·dim·|x|·
    1e6)² ≈ 1e19-safe for any sane units. Stage 1 only needs the cut
    ordering; the exact full-dim re-rank restores full resolution.
    """
    if score_scale is None:
        score_scale = units
    comps = (
        components
        if components is not None
        else pca_power_build(
            embeddings, k=n_components, iters=iters, units=units,
            in_dim=in_dim, id_col=id_col, vec_col=vec_col,
        )[0]
    )

    def _proj(ucol: Column) -> Column:
        return F.array(
            *[
                F.floor(_int_dot(ucol, comp) / F.lit(float(score_scale)))
                .cast("bigint")
                for comp in comps
            ]
        )

    base = embeddings.select(
        id_col, quantized_units(F.col(vec_col), units).alias("_u")
    )
    index = base.select(id_col, _proj(F.col("_u")).alias("_pc"))
    qp = queries.select(
        F.col(id_col).alias("query_id"),
        quantized_units(F.col(vec_col), units).alias("_qu"),
    ).select("query_id", "_qu", _proj(F.col("_qu")).alias("_qpc"))
    return _two_stage(
        base, qp, k, id_col,
        _flat_scan(index, qp, id_col, "_pc", "_qpc"), candidates,
    )


def rp_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    candidates: int = 50,
    out_dim: int = 16,
    in_dim: int = 64,
    units: int = 1_000_000,
    seed: str = "rp",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage retrieval through the JL projection — the standard
    "coarse in the compact space, exact re-rank" pattern: stage 1 scans
    ONLY the ``out_dim``-int projected index (out_dim/in_dim of the
    bytes of a full scan) for each query's ``candidates`` nearest by
    exact integer L2 in RP space; stage 2 fetches the full vectors for
    those candidate ids alone (an equi-join with the tiny candidate
    relation broadcast) and re-ranks by exact full-dimension L2.
    Recall < 1 by design (JL distance distortion decides how often the
    true top-k survives the candidate cut — watch :func:`rp_distortion`
    and size ``candidates`` accordingly).

    Every distance in both stages is an exact BIGINT sum over
    micro-units, so the whole two-stage ranking (including tie-breaks
    by id) is engine-exact and oracle-replayable. Output
    ``(query_id, vec_id, d2_u, rn)`` with ``d2_u`` the full-dimension
    squared distance in units².
    """
    signs = _rp_signs(seed, out_dim, in_dim)

    def _proj(ucol: Column) -> Column:
        return F.array(*[_int_dot(ucol, row) for row in signs])

    base = embeddings.select(
        id_col,
        _quantized_dim_checked(F.col(vec_col), units, in_dim, "rp_topk").alias(
            "_u"
        ),
    )
    index = base.select(id_col, _proj(F.col("_u")).alias("_rp"))
    qp = queries.select(
        F.col(id_col).alias("query_id"),
        _quantized_dim_checked(F.col(vec_col), units, in_dim, "rp_topk").alias(
            "_qu"
        ),
    ).select("query_id", "_qu", _proj(F.col("_qu")).alias("_qrp"))
    return _two_stage(
        base, qp, k, id_col,
        _flat_scan(index, qp, id_col, "_rp", "_qrp"), candidates,
    )


def rp_ivfpq_build(
    embeddings: DataFrame,
    out_dim: int = 16,
    in_dim: int = 64,
    units: int = 1_000_000,
    seed: str = "rp",
    coarse_k: int = 16,
    coarse_iters: int = 2,
    m: int = 4,
    pq_k: int = 16,
    pq_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame, list[list[int]], DataFrame, list[list[list[int]]]]:
    """Project-then-index build — the standard dimensionality-reduced
    ANN deployment (Jégou et al. 2011 §VII evaluate exactly this:
    PCA/RP to a compact space, then IVFADC in that space): JL-project
    the corpus to ``out_dim`` integers (:func:`random_projection`,
    zero shuffle, seeded matrix) and train a residual IVFADC index ON
    THE PROJECTION (:func:`ivfpq_build_residual` with ``units=1`` —
    the projected components are already exact BIGINT micro-unit
    sums, so no second quantization). The stored index is
    ``(cluster, pq_code)`` per vector over ``out_dim``-dim codes —
    coarse cells and codebooks both train in the compact space, so
    every Lloyd pass touches out_dim/in_dim of the bytes a full-dim
    build scans. Returns ``(proj, assigned, centroids, codes,
    codebooks)``; search with :func:`rp_ivfpq_topk`.

    The projection is PERSISTED here and stays persisted: it is the
    stored index surrogate (out_dim ints per vector — at deployment
    scale this relation is written once and every probe reads it).
    Unpersisted, every Lloyd/ADC distance lambda that references the
    ``rp`` column would inline the 16x64 aggregate expression and
    re-evaluate it PER ELEMENT (the HOF-inlining trap — see
    ``shingles()``): measured 27s vs 2.4s for the full-dim index on
    the same 2,000-row bench table. Callers holding the tuple own the
    ``proj.unpersist()`` once the search plans are done executing.
    """
    from pyspark.storagelevel import StorageLevel

    proj = random_projection(
        embeddings, out_dim=out_dim, in_dim=in_dim, units=units,
        seed=seed, id_col=id_col, vec_col=vec_col,
    ).persist(StorageLevel.MEMORY_AND_DISK)
    assigned, cents, codes, books = ivfpq_build_residual(
        proj, coarse_k=coarse_k, coarse_iters=coarse_iters, m=m,
        k=pq_k, iters=pq_iters, units=1, id_col=id_col, vec_col="rp",
        pack=True,
    )
    return proj, assigned, cents, codes, books


def rp_ivfpq_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    candidates: int = 50,
    nprobe: int = 2,
    out_dim: int = 16,
    in_dim: int = 64,
    units: int = 1_000_000,
    seed: str = "rp",
    coarse_k: int = 16,
    coarse_iters: int = 2,
    m: int = 4,
    pq_k: int = 16,
    pq_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index: tuple | None = None,
) -> DataFrame:
    """Two-stage ANN through a dimensionality-reduced IVFADC index:
    stage 1 probes the ``nprobe`` nearest coarse cells of the RP-space
    residual index (:func:`rp_ivfpq_build`) and keeps each query's
    ``candidates`` best by ADC distance — every byte touched is
    out_dim-dim compressed codes; stage 2 fetches the FULL vectors for
    those candidate ids alone (broadcast equi-join) and re-ranks by
    exact full-dimension integer L2. The composition a 100 TB
    deployment actually runs when the raw dimension is wide: the index
    (build, storage, probe) lives entirely in the compact space, and
    the only full-dimension work is ``candidates`` rows per query.
    Recall < 1 twice over (JL distortion + cell/PQ quantization) —
    size ``candidates``/``nprobe`` against the recall audit exactly as
    :func:`rp_topk` is sized against :func:`rp_distortion`.

    Pass ``index=`` (a :func:`rp_ivfpq_build` result) to search an
    existing build — the recall audit probes one build at several
    candidate budgets. All distances in both stages are exact BIGINT,
    so the full ranking including id tie-breaks replays in DuckDB.
    Output ``(query_id, vec_id, d2_u, rn)`` — same shape as
    :func:`rp_topk`/:func:`int_l2_topk`.
    """
    proj, assigned, cents, codes, books = (
        rp_ivfpq_build(
            embeddings, out_dim=out_dim, in_dim=in_dim, units=units,
            seed=seed, coarse_k=coarse_k, coarse_iters=coarse_iters,
            m=m, pq_k=pq_k, pq_iters=pq_iters, id_col=id_col,
            vec_col=vec_col,
        )
        if index is None
        else index
    )
    cand = ivfpq_topk(
        assigned, cents, codes, books, query_ids,
        k=candidates, nprobe=nprobe, units=1,
        id_col=id_col, vec_col="rp", embeddings=proj, residual=True,
    ).select("query_id", id_col)
    base = embeddings.select(
        id_col, quantized_units(F.col(vec_col), units).alias("_u")
    )
    qp = base.where(_id_in(id_col, query_ids)).select(
        F.col(id_col).alias("query_id"), F.col("_u").alias("_qu")
    )
    return _two_stage(base, qp, k, id_col, stage1=cand)


def int_l2_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    units: int = 1_000_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """EXACT top-k by integer squared L2 over micro-units — the
    engine-exact reference ranking the approximate retrievals
    (:func:`rp_topk`, IVFADC) are audited against: same quantization,
    same tie-breaks, zero float comparisons. Same broadcast
    nested-loop shape as :func:`brute_force_topk` (queries small by
    contract, corpus streams, per-query TakeOrdered windows). Output
    ``(query_id, vec_id, d2_u, rn)``."""
    base = embeddings.select(
        id_col, quantized_units(F.col(vec_col), units).alias("_u")
    )
    qp = queries.select(
        F.col(id_col).alias("query_id"),
        quantized_units(F.col(vec_col), units).alias("_qu"),
    )
    return _two_stage(base, qp, k, id_col)


def sq_vmax(
    embeddings: DataFrame,
    units: int = 1_000_000,
    in_dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """The SQ calibration scale: ``max |u|`` over the corpus micro-units
    — ONE map-side-combined scalar aggregation (a single BIGINT crosses
    the wire). Compute it once and hand the result to every
    :func:`sq_topk` call (e.g. a recall sweep over several candidate
    budgets) so each call doesn't re-scan the corpus; at 100 TB run it
    on a sample — any fixed calibration flows through the same
    ``floor(u·127/vmax)`` formula."""
    row = embeddings.select(
        _quantized_dim_checked(F.col(vec_col), units, in_dim, "sq_vmax").alias(
            "_u"
        )
    ).agg(
        F.max(
            F.array_max(F.transform(F.col("_u"), lambda x: F.abs(x)))
        ).alias("m")
    ).first()
    return max(1, int(row["m"] or 0))


def sq_build(
    embeddings: DataFrame,
    units: int = 1_000_000,
    in_dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    vmax: int | None = None,
) -> tuple[DataFrame, int]:
    """The stored flat-SQ8 index: ``(id, _sq array<bigint>)`` at one
    signed byte per component on the corpus-wide ``floor(u·127/vmax)``
    scale, plus the ``vmax`` calibration the codes are meaningless
    without — the build-once artifact pair :func:`sq_topk`'s ``index=``
    scans instead of re-encoding the corpus per call (the whole point
    of SQ is that searches read the byte codes, not the full vectors).
    One zero-shuffle projection after the (skippable via ``vmax=``)
    calibration scan."""
    base = embeddings.select(
        id_col,
        _quantized_dim_checked(F.col(vec_col), units, in_dim, "sq_build")
        .alias("_u"),
    )
    if vmax is None:
        vmax = sq_vmax(
            embeddings, units=units, in_dim=in_dim,
            id_col=id_col, vec_col=vec_col,
        )
    vmax = max(1, int(vmax))
    return base.select(id_col, _sq_codes(F.col("_u"), vmax).alias("_sq")), vmax


def sq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    candidates: int = 50,
    units: int = 1_000_000,
    in_dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    vmax: int | None = None,
    index: DataFrame | None = None,
) -> DataFrame:
    """Two-stage retrieval through INT8 scalar quantization — the FAISS
    ``SQ8`` deployment shape: the stored index is one signed byte per
    component (4× smaller than float32, 8× smaller than the BIGINT
    micro-units), stage 1 scans only those codes for each query's
    ``candidates`` nearest by exact integer L2 in code space, stage 2
    re-ranks the survivors by exact full-resolution integer L2. Unlike
    the JL index (:func:`rp_topk`, distance DISTORTION bounded) the SQ
    index keeps every dimension and loses only RESOLUTION — recall
    degrades with quantization error, not with dimension collision.

    Codes use one corpus-wide scale (the FAISS trained-range form):
    ``code_d = floor(u_d · 127 / vmax)`` where ``vmax = max |u|`` over
    the corpus. By default it is derived FROM THE DATA with one scalar
    aggregation — an EAGER Spark job at plan-construction time (the
    legitimate collect kind, but a hidden full scan per call). Pass
    ``vmax=`` to skip it: the precomputed-calibration path every other
    trainer in this module follows (``ratios=``/``components=``/
    ``perm=``) — at 100 TB calibrate once on a sample (or reuse the
    stored index's scale) and hand the integer in; recall sweeps that
    call this twice then pay zero extra corpus scans. The multiply and
    divide happen in one IEEE double expression (exact: |u|·127 ≪ 2^53)
    so the floor replays bit-identically in any engine, and queries
    quantize against the SAME corpus vmax (asymmetric calibration —
    queries never shift the scale).

    Every distance in both stages is an exact BIGINT sum, so the full
    two-stage ranking including id tie-breaks is oracle-replayable.
    Output ``(query_id, vec_id, d2_u, rn)`` — the :func:`rp_topk` /
    :func:`int_l2_topk` shape.

    Scale: stage 1 touches 1 byte/component of a scan-only index, no
    joins wider than the broadcast query relation; stage 2 reads
    ``candidates`` full-width rows per query. The vmax aggregation is
    one map-side-combined ``max`` — a single scalar crosses the wire.
    Pass ``index=`` (with its ``vmax=`` — :func:`sq_build` returns the
    pair) to scan a STORED code table instead of re-encoding the
    corpus in-plan: the deployment shape, since reading byte codes
    rather than full vectors is the tier's entire point.
    """
    base = embeddings.select(
        id_col,
        _quantized_dim_checked(F.col(vec_col), units, in_dim, "sq_topk").alias(
            "_u"
        ),
    )
    if index is not None and vmax is None:
        # codes without their scale are meaningless — queries quantized
        # on a freshly-derived vmax would silently disagree with the
        # stored codes' calibration
        raise ValueError(
            "sq_topk: a prebuilt index= needs its vmax= calibration "
            "(sq_build returns the pair)"
        )
    if vmax is None:
        vmax = sq_vmax(
            embeddings, units=units, in_dim=in_dim,
            id_col=id_col, vec_col=vec_col,
        )
    vmax = max(1, int(vmax))
    if index is None:
        index = base.select(id_col, _sq_codes(F.col("_u"), vmax).alias("_sq"))
    qp = queries.select(
        F.col(id_col).alias("query_id"),
        _quantized_dim_checked(F.col(vec_col), units, in_dim, "sq_topk").alias(
            "_qu"
        ),
    ).select("query_id", "_qu", _sq_codes(F.col("_qu"), vmax).alias("_qsq"))
    return _two_stage(
        base, qp, k, id_col,
        _flat_scan(index, qp, id_col, "_sq", "_qsq"), candidates,
    )


def _bq_words(ucol: Column, in_dim: int) -> Column:
    """Pack the SIGN bits of an ``array<bigint>`` micro-unit vector into
    ``ceil(in_dim/32)`` BIGINT words (bit ``j`` of word ``w`` = 1 iff
    ``u[32w+j] >= 0``). 32 bits per word keeps every packed value
    positive and every pack sum far from BIGINT overflow, so the
    arithmetic is identical in engines that wrap (JVM) and engines that
    check (DuckDB). ``ucol`` must be a STAGED column reference (not an
    inline transform) — the 32 getItems per word re-evaluate an inlined
    expression per reference."""
    n_words = (in_dim + 31) // 32
    words = []
    for w in range(n_words):
        term = None
        for j in range(32):
            d = 32 * w + j
            if d >= in_dim:
                break
            bit = (
                F.when(ucol.getItem(d) >= 0, F.lit(1))
                .otherwise(F.lit(0))
                .cast("bigint")
            )
            t = F.shiftleft(bit, j).cast("bigint")
            term = t if term is None else term + t
        words.append(term)
    return F.array(*words)


def _hamming(a: Column, b: Column) -> Column:
    """Total Hamming distance between two equal-length ``array<bigint>``
    packed-word columns: Σ popcount(xor) — pure integer, identical in
    any engine."""
    return F.aggregate(
        F.zip_with(
            a, b, lambda p, q: F.bit_count(p.bitwiseXOR(q)).cast("bigint")
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def bq_build(
    embeddings: DataFrame,
    units: int = 1_000_000,
    in_dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Binary-quantization index build — the extreme rung of the
    quantization ladder (1 bit per component; for in_dim=64 the whole
    stored vector is TWO 32-bit words = 8 bytes, the same footprint as
    a packed PQ code but with zero training): each component contributes
    its micro-unit SIGN bit. Fully stateless — no vmax, no codebooks,
    no sample — so the index composes with streaming ingest and never
    needs recalibration as the corpus grows. Returns the stored
    relation ``(id, _bq array<bigint>)``.

    Scale: one zero-shuffle projection; the pack is a plain codegen
    expression (no Python, no shuffle)."""
    base = embeddings.select(
        id_col,
        _quantized_dim_checked(F.col(vec_col), units, in_dim, "bq_build")
        .alias("_u"),
    )
    return base.select(id_col, _bq_words(F.col("_u"), in_dim).alias("_bq"))


def bq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    candidates: int = 50,
    units: int = 1_000_000,
    in_dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index: DataFrame | None = None,
) -> DataFrame:
    """Two-stage retrieval through BINARY quantization (the
    sign-bit/Hamming shape modern vector stores ship as their cheapest
    tier): stage 1 scans the 1-bit-per-component packed index ranking
    by total Hamming distance (Σ popcount(xor) over the packed words —
    for mean-centered data the sign pattern is a locality-sensitive
    sketch of direction, and Hamming approximates angular distance);
    stage 2 re-ranks the ``candidates`` survivors by exact
    full-resolution integer L2. Versus :func:`sq_topk` this reads 1/8
    the index bytes and needs NO calibration scan at all; the price is
    a coarser stage-1 ordering, which the recall row
    (``sim_bq_recall``) prices against the same truth at the same
    budgets. Both stages integer-exact with id tie-breaks → fully
    DuckDB-replayable. Output ``(query_id, vec_id, d2_u, rn)`` — the
    family shape. Pass ``index`` (a :func:`bq_build` result) to scan a
    prebuilt index.

    Scale: stage 1 touches ceil(in_dim/32) BIGINTs per vector — a
    popcount-xor codegen scan with a broadcast query relation; stage 2
    reads ``candidates`` full-width rows per query."""
    base = embeddings.select(
        id_col,
        _quantized_dim_checked(F.col(vec_col), units, in_dim, "bq_topk")
        .alias("_u"),
    )
    if index is None:
        index = bq_build(
            embeddings, units=units, in_dim=in_dim,
            id_col=id_col, vec_col=vec_col,
        )
    qp = queries.select(
        F.col(id_col).alias("query_id"),
        _quantized_dim_checked(F.col(vec_col), units, in_dim, "bq_topk")
        .alias("_qu"),
    ).select(
        "query_id", "_qu", _bq_words(F.col("_qu"), in_dim).alias("_qbq")
    )
    return _two_stage(
        base, qp, k, id_col,
        _flat_scan(index, qp, id_col, "_bq", "_qbq", dist=_hamming),
        candidates,
    )


def _sq_codes(col: Column, vmax: int) -> Column:
    """INT8 code transform ``floor(x·127/vmax)`` per element — ONE IEEE
    double multiply-divide-floor, bit-identical in any engine (|x|·127
    ≪ 2^53 for micro-unit inputs)."""
    return F.transform(
        col,
        lambda x: F.floor((x * F.lit(127.0)) / F.lit(float(vmax))).cast(
            "bigint"
        ),
    )


def ivfsq_build(
    embeddings: DataFrame,
    coarse_k: int = 16,
    coarse_iters: int = 2,
    units: int = 1_000_000,
    in_dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    vmax: int | None = None,
) -> tuple[DataFrame, list[list[int]], int]:
    """IVF-SQ8 index build (the FAISS ``IndexIVFScalarQuantizer``
    shape): coarse-quantize with :func:`ivf_build`, then store each
    vector's RESIDUAL from its coarse centroid (:func:`ivfsq_encode`,
    the same encode extend and streaming ingest run) as one signed byte
    per component — ``floor(r·127/vmax)`` on a single corpus-wide residual
    scale. Where :func:`ivfpq_build_residual` compresses to m codes
    (8 bytes) with codebook lookups, IVF-SQ keeps every dimension at
    byte resolution (64 bytes here): less compression, no codebooks to
    train, and distances in code space are plain integer L2 — the
    middle rung of the quantization ladder (flat SQ → IVF-SQ → IVFADC).

    Returns ``(index, centroids, vmax)`` where ``index`` is the stored
    relation ``(id, cluster, _sq array<bigint>)`` — at scale one byte
    per component plus a cluster id per vector. ``vmax`` defaults to
    the exact residual abs-max via one scalar aggregation; pass a
    precomputed calibration to skip that scan (the ``vmax=``/
    ``ratios=``/``perm=`` trainer pattern). All arithmetic after the
    one IEEE floor is integer, so build + search replay in DuckDB.

    Scale: the residual projection is zero-shuffle (broadcast centroid
    literals); the vmax aggregation ships one BIGINT."""
    _, cents = ivf_build(
        embeddings, k=coarse_k, iters=coarse_iters,
        id_col=id_col, vec_col=vec_col, units=units,
    )
    if vmax is None:
        res = _cell_residuals(
            embeddings, cents,
            _quantized_dim_checked(F.col(vec_col), units, in_dim, "ivfsq_build"),
            id_col,
        )
        vmax = res.agg(
            F.max(F.array_max(F.transform("_u", lambda x: F.abs(x))))
        ).first()[0]
    vmax = max(1, int(vmax or 0))
    index = ivfsq_encode(
        embeddings, cents, vmax, units=units, in_dim=in_dim,
        id_col=id_col, vec_col=vec_col,
    )
    return index, cents, vmax


def ivfsq_encode(
    embeddings: DataFrame,
    centroids: list[list[int]],
    vmax: int,
    units: int = 1_000_000,
    in_dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Stateless IVF-SQ8 ENCODE against a prebuilt index (centroids +
    vmax — the :func:`ivfsq_build` training artifacts): micro-quantize,
    :func:`_assign` to the broadcast centroid literals, residual from the
    assigned centroid, ``floor(r·127/vmax)`` byte codes. The build
    encodes its own corpus with it.

    No aggregation, no training, no shuffle — a pure projection, so it
    applies unchanged to a STREAMING relation: the ingest path of a
    stored IVF-SQ index (train once, encode forever), the trained-tier
    counterpart of the zero-training :func:`bq_build` stream pack.
    Output ``(id, cluster, _sq)`` — row-identical to the build's index
    over the same rows (gate row ``streaming_ivfsq_index`` pins it)."""
    u = _quantized_dim_checked(F.col(vec_col), units, in_dim, "ivfsq_encode")
    return _cell_residuals(embeddings, centroids, u, id_col).select(
        id_col, "cluster", _sq_codes(F.col("_u"), max(1, int(vmax))).alias("_sq")
    )


def ivfsq_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    candidates: int = 50,
    nprobe: int = 2,
    coarse_k: int = 16,
    coarse_iters: int = 2,
    units: int = 1_000_000,
    in_dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index: DataFrame | None = None,
    centroids: list[list[int]] | None = None,
    vmax: int | None = None,
) -> DataFrame:
    """Probe-bounded two-stage search over the IVF-SQ8 index: per query
    probe the ``nprobe`` integer-nearest coarse cells, take the
    query's residual wrt EACH probed cell coded on the SAME corpus
    vmax, stage-1 rank that cell's members by exact integer L2 in code
    space, cut to ``candidates`` per query, then stage-2 re-rank the
    survivors by exact full-resolution integer L2. Versus the flat
    :func:`sq_topk` scan the probe bounds stage-1 to ~nprobe/coarse_k
    of the corpus; versus IVFADC the per-cell scan reads bytes, not
    codebook lookups. Every ranking BIGINT-exact with id tie-breaks →
    fully DuckDB-replayable. Output ``(query_id, vec_id, d2_u, rn)`` —
    the family shape.

    Pass ``index``/``centroids``/``vmax`` (an :func:`ivfsq_build`
    result) to search a prebuilt index — a recall sweep over several
    budgets then builds once and scans only codes per budget.

    Scale: stage 1 is ONE broadcast equi-join of the (queries×nprobe)
    probe relation on ``cluster`` over a byte-per-component scan;
    stage 2 reads ``candidates`` full-width rows per query. The probe
    follows :func:`ivf_topk`'s budget rule: ids whose probe relation
    fits :data:`DRIVER_PROBE_MAX` constants collect once and probe on
    the driver into an in-plan literal; more ids compute the same cells
    and codes on executors (:func:`nearest_centroid_ids`,
    :func:`_residual`, :func:`_sq_codes`), bit for bit."""
    if index is None or centroids is None or vmax is None:
        index, centroids, vmax = ivfsq_build(
            embeddings, coarse_k=coarse_k, coarse_iters=coarse_iters,
            units=units, in_dim=in_dim, id_col=id_col, vec_col=vec_col,
            vmax=vmax,
        )
    qu = _quantized_dim_checked(F.col(vec_col), units, in_dim, "ivfsq_topk")
    base = embeddings.select(id_col, qu.alias("_u"))
    qsrc, on_driver = _probe_source(
        embeddings, query_ids, None, id_col,
        min(nprobe, len(centroids)) * (2 + len(centroids[0])),
    )
    qp = qsrc.select(F.col(id_col).alias("query_id"), qu.alias("_qu"))
    vmax = max(1, int(vmax))
    if on_driver:
        probe_rows = [
            (
                int(r["query_id"]),
                ci,
                [
                    int(math.floor((a - b) * 127.0 / float(vmax)))
                    for a, b in zip(r["_qu"], centroids[ci])
                ],
            )
            for r in qp.collect()
            for ci in _nearest_centroids(
                [int(x) for x in r["_qu"]], centroids, nprobe
            )
        ]
        probes = _local_relation(
            embeddings.sparkSession, probe_rows,
            "query_id BIGINT, cluster INT, qsq ARRAY<BIGINT>",
        )
    else:
        probes = qsrc.select(
            F.col(id_col).alias("query_id"),
            qu.alias("_qu"),
            F.explode(
                nearest_centroid_ids(F.col(vec_col), centroids, nprobe, units)
            ).alias("cluster"),
        ).select(
            "query_id", "cluster",
            _sq_codes(_residual(F.col("_qu"), centroids), vmax).alias("qsq"),
        )
    stage1 = (
        index.join(F.broadcast(probes), "cluster")
        .where(F.col(id_col) != F.col("query_id"))
        .select("query_id", id_col, _d2(F.col("_sq"), F.col("qsq")).alias("_d"))
    )
    return _two_stage(base, qp, k, id_col, stage1, candidates)


def opq_permutation(
    embeddings: DataFrame,
    m: int = 4,
    in_dim: int = 64,
    units: int = 1_000_000,
    sample_n: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[int]:
    """Variance-balanced coordinate permutation — the OPQ idea (Ge et
    al. 2013, "Optimized Product Quantization") restricted to its
    dimension-ALLOCATION step, which is the part that composes with the
    exact-integer PQ trainer: rank dimensions by variance and deal them
    round-robin into the ``m`` subspaces, so no subspace hoards the
    high-variance coordinates (contiguous splitting gives subspace 0
    all the hot dimensions and its codebook's quantization error
    dominates the ADC distance). The full OPQ learns a rotation; the
    permutation is the rotation restricted to coordinate axes — free to
    apply (a projection reorder, no arithmetic) and enough to balance
    per-subspace variance, which is the objective the paper optimizes.

    All-integer and sample-deterministic, so the DuckDB oracle replays
    it: variance numerators are exact BIGINTs ``n·Σx² − (Σx)²`` over
    micro-units of the first ``sample_n`` rows by id (the train-sample
    contract every build in this module follows; the dim-sized stats
    collect is the legitimate kind), ranking ties break to the lower
    dimension, and rank ``r`` goes to subspace ``r % m`` position
    ``r // m``. Returns the 0-based permutation ``perm[j] = source dim
    of output position j`` in subspace-major order."""
    if in_dim % m != 0:
        raise ValueError(
            f"opq_permutation: in_dim {in_dim} not divisible by m {m}"
        )
    base = (
        embeddings.orderBy(id_col)
        .limit(sample_n)
        .select(
            _quantized_dim_checked(
                F.col(vec_col), units, in_dim, "opq_permutation"
            ).alias("_u")
        )
    )
    stats = (
        base.select(F.posexplode(F.col("_u")).alias("d", "x"))
        .groupBy("d")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("x").cast("bigint").alias("s1"),
            F.sum(F.col("x") * F.col("x")).cast("bigint").alias("s2"),
        )
        .collect()
    )
    if len(stats) != in_dim:
        raise ValueError(
            f"opq_permutation: got stats for {len(stats)} dims, "
            f"expected {in_dim}"
        )
    var_num = {
        int(r["d"]): int(r["n"]) * int(r["s2"]) - int(r["s1"]) * int(r["s1"])
        for r in stats
    }
    ranked = sorted(range(in_dim), key=lambda d: (-var_num[d], d))
    sub = in_dim // m
    return [ranked[p * m + s] for s in range(m) for p in range(sub)]


def opq_apply(
    embeddings: DataFrame,
    perm: list[int],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``(id, vec)`` with ``vec`` reordered by an :func:`opq_permutation`
    — a projection, free at encode time (no arithmetic). Every OPQ
    consumer (build, extend, serve, search) works in this permuted space,
    where L2 distances are the original ones."""
    return embeddings.select(
        id_col, _permuted(F.col(vec_col), perm).alias(vec_col)
    )


def _permuted(vec: Column, perm: list[int]) -> Column:
    """``vec`` reordered by ``perm``: the array of ``vec[p]`` for each
    ``p``."""
    return F.array(*[vec.getItem(int(p)) for p in perm])


def opq_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    m: int = 4,
    pq_k: int = 16,
    iters: int = 1,
    units: int = 1_000_000,
    in_dim: int = 64,
    sample_n: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    perm: list[int] | None = None,
) -> DataFrame:
    """PQ ADC search in the variance-balanced permuted space: permute
    coordinates (:func:`opq_permutation` — trained on the id-prefix
    sample unless ``perm`` is passed), then train/encode/search the
    standard bit-packed PQ index (:func:`pq_build` / :func:`pq_topk`)
    over the permuted vectors. Distances are permutation-invariant, so
    the ADC result approximates the SAME true L2 as plain PQ — only the
    per-subspace quantization error budget changes, which is the whole
    point. Output ``(query_id, vec_id, adc_d2, rn)`` — the
    :func:`pq_topk` shape.

    Scale: the permutation is a zero-cost projection reorder fused into
    the encode scan; everything else is exactly the PQ cost model
    (compressed scan + driver-side m×k ADC tables)."""
    if perm is None:
        perm = opq_permutation(
            embeddings, m=m, in_dim=in_dim, units=units, sample_n=sample_n,
            id_col=id_col, vec_col=vec_col,
        )
    permuted = opq_apply(embeddings, perm, id_col, vec_col)
    codes, books = pq_build(
        permuted, m=m, k=pq_k, iters=iters, units=units,
        id_col=id_col, vec_col=vec_col, pack=True,
    )
    return pq_topk(
        permuted, codes, books, query_ids, k=k, units=units,
        id_col=id_col, vec_col=vec_col,
    )
