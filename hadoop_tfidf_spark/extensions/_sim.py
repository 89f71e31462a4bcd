"""Similarity / ANN declared queries (brute, LSH, IVF, PQ/OPQ/IVFADC, SQ/BQ, JL/PCA, recall telemetry).

Split from the original single-module ``extensions.py`` (round 15) with
block text preserved verbatim; see the package ``__init__`` for the
registry contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from hadoop_tfidf_spark.operators import similarity as S
from hadoop_tfidf_spark.extensions._base import (
    _emb,
)


#: Query vectors for the similarity-search declared queries.
SIM_QUERY_IDS = [0, 1, 2, 3, 4]
SIM_K = 10


def _recall_per_query(exact, approx, queries, method=None):
    """Per query of ``queries``: how many of the ``exact`` top-k pairs
    ``approx`` found (``n_hits``) and ``recall`` = n_hits / SIM_K, with
    zero-hit queries kept; ``method`` prefixes a label column."""
    hits = (
        exact.join(approx.select("query_id", "vec_id"),
                   ["query_id", "vec_id"], "leftsemi")
        .groupBy("query_id")
        .agg(F.count("*").cast("bigint").alias("n_hits"))
    )
    n = F.coalesce(F.col("n_hits"), F.lit(0))
    label = [] if method is None else [F.lit(method).alias("method")]
    return (
        queries.select(F.col("vec_id").alias("query_id"))
        .join(hits, "query_id", "left")
        .select(
            *label,
            "query_id",
            n.cast("bigint").alias("n_hits"),
            F.round(n / F.lit(float(SIM_K)), 6).alias("recall"),
        )
    )


def _union_all(dfs):
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df)
    return out


def q_sim_topk_brute(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id").isin(SIM_QUERY_IDS))
    return S.brute_force_topk(emb, queries, k=SIM_K).select(
        "query_id", "vec_id", "cos_sim", "rn"
    )


def q_sim_topk_lsh(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id").isin(SIM_QUERY_IDS))
    return S.lsh_topk(emb, queries, k=SIM_K).select(
        "query_id", "vec_id", "cos_sim", "rn"
    )


def q_sim_topk_pandas(spark, sf_dir):
    """Arrow-batched BLAS cosine top-k (mapInPandas) — rows-only: the
    float64 matmul differs from the oracle's sequential fold by ~1 ulp at
    rounding boundaries; tests assert equivalence to the hash-gated
    expression path (sim_topk_brute) instead."""
    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id").isin(SIM_QUERY_IDS))
    return S.pandas_cosine_topk(emb, queries, k=SIM_K).select(
        "query_id", "vec_id", "cos_sim", "rn"
    )


def q_sim_quantize_int8(spark, sf_dir):
    """Int8 embedding quantization under the strong gate — per-vector
    integer code summaries (the per-element codes are identical doubles in
    both engines, so rounding agrees exactly); scalar outputs because the
    driver's canonicalizer can't sort array cells."""
    q = S.quantize_int8(_emb(spark, sf_dir))
    return q.select(
        "vec_id",
        F.size("qvec").cast("bigint").alias("dim"),
        F.round("scale", 6).alias("scale"),
        F.aggregate("qvec", F.lit(0).cast("bigint"), lambda s, x: s + x).alias("qsum"),
        F.array_max("qvec").cast("bigint").alias("qmax"),
    )


#: |rounded BLAS cosine − rounded fold cosine| tolerance for the envelope
#: gate: the two float64 summation orders differ by ~1 ulp, which the
#: 6-decimal rounding can stretch to one rounding step (1e-6).
BLAS_COS_TOL = 2e-6


def q_sim_topk_pandas_bounds(spark, sf_dir):
    """Error-envelope form of the Arrow/BLAS top-k UNDER the hash gate:
    inner-join the mapInPandas result to the expression-path result on
    (query_id, vec_id) — a missing pair changes the row count, a rank
    disagreement or a cosine off by more than :data:`BLAS_COS_TOL` flips
    ``blas_ok`` — and the oracle (the proven brute-force SQL + literal 1)
    hash-checks all of it."""
    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id").isin(SIM_QUERY_IDS))
    b = S.brute_force_topk(emb, queries, k=SIM_K).select(
        "query_id", "vec_id", "cos_sim", "rn"
    )
    p = S.pandas_cosine_topk(emb, queries, k=SIM_K).select(
        "query_id",
        "vec_id",
        F.col("cos_sim").alias("p_cos"),
        F.col("rn").alias("p_rn"),
    )
    return b.join(p, ["query_id", "vec_id"], "inner").select(
        "query_id",
        "vec_id",
        "cos_sim",
        "rn",
        (
            (F.abs(F.col("p_cos") - F.col("cos_sim")) <= F.lit(BLAS_COS_TOL))
            & (F.col("p_rn") == F.col("rn"))
        ).cast("bigint").alias("blas_ok"),
    )


#: Integer micro-unit scale for the oracle-gated IVF build: embeddings,
#: centroids and distances are carried as round(x·1e6) bigints, making
#: every Lloyd round order-independent and bit-replayable in SQL (the same
#: quantization trick that hash-gated lm_score and the streaming sums).
IVF_UNITS = 1_000_000
IVF_K = 16
IVF_ITERS = 2
IVF_NPROBE = 2


def q_sim_topk_ivf(spark, sf_dir):
    """IVF (k-means coarse quantizer) ANN — HASH-GATED since round 6: the
    build runs in integer micro-units (:data:`IVF_UNITS`), so seeding,
    both Lloyd rounds, assignment and probing are integer-exact and the
    DuckDB oracle replays the whole iteration unrolled (recall vs brute
    stays covered by tests/test_ivf.py)."""
    emb = _emb(spark, sf_dir)
    assigned, cents = S.ivf_build(emb, k=IVF_K, iters=IVF_ITERS, units=IVF_UNITS)
    return S.ivf_topk(
        assigned, cents, SIM_QUERY_IDS, k=SIM_K, nprobe=IVF_NPROBE,
        units=IVF_UNITS,
    ).select("query_id", "vec_id", "cos_sim", "rn")


#: Deterministic training predicate for the sample-trained IVF row: a
#: pure id-modulus keeps ~2/3 of vectors in the Lloyd statistics — a
#: content-independent subset both engines derive identically (the same
#: reason the md5-bucket sampler is the hash-gateable sampling form).
IVF_TRAIN_MOD = 3


def q_sim_topk_ivf_sample(spark, sf_dir):
    """Round 14 — the SAMPLE-TRAINED IVF build (ivf_build(train=…)): the
    docstrings have always said "at 100 TB the builds train on a
    sample, assign the full corpus once"; this row runs that split
    under the gate. Seed + both Lloyd rounds' statistics cover only the
    deterministic ~2/3 training subset (vec_id % 3 != 2 — replayable,
    unlike a random sample), the final assignment and the probe/search
    cover the FULL corpus, so Lloyd cost scales with the sample while
    answers stay corpus-complete. The oracle replays the unrolled
    integer build with the same train restriction (``_ivf_sql
    (train_where=…)``)."""
    emb = _emb(spark, sf_dir)
    assigned, cents = S.ivf_build(
        emb, k=IVF_K, iters=IVF_ITERS, units=IVF_UNITS,
        train=emb.where(F.col("vec_id") % IVF_TRAIN_MOD != IVF_TRAIN_MOD - 1),
    )
    return S.ivf_topk(
        assigned, cents, SIM_QUERY_IDS, k=SIM_K, nprobe=IVF_NPROBE,
        units=IVF_UNITS,
    ).select("query_id", "vec_id", "cos_sim", "rn")


def q_sim_topk_ivf_bulk(spark, sf_dir):
    """Round 13 — the BULK-query IVF path: every corpus vector is a query
    (kNN-graph construction, the shape a semantic-clustering or re-rank
    job runs at 100 TB). Passing the corpus as the ``queries=`` relation
    keeps the per-query nearest-probe computation on executors via the
    ``nearest_centroid_ids`` expression (similarity.py) — ZERO query-side
    collect, unlike the interactive driver-loop path — and the probe
    relation stays distributed (join strategy left to Catalyst/AQE).
    HASH-GATED: integer micro-unit probes are bit-identical to the
    driver loop's python-int distances (same ``(d2, ci)`` tie-break), so
    the unrolled DuckDB oracle covers both paths with one SQL chain."""
    emb = _emb(spark, sf_dir, rebalance=True)
    assigned, cents = S.ivf_build(emb, k=IVF_K, iters=IVF_ITERS, units=IVF_UNITS)
    return S.ivf_topk(
        assigned, cents, None, k=SIM_K, nprobe=IVF_NPROBE, units=IVF_UNITS,
        queries=emb,
    ).select("query_id", "vec_id", "cos_sim", "rn")


PQ_M = 4
PQ_K = 16
PQ_ITERS = 1


def q_sim_topk_pq(spark, sf_dir):
    """Product-quantization ANN (Jégou et al. 2011): per-subspace integer
    micro-unit k-means codebooks, corpus encoded to :data:`PQ_M` codes,
    ADC top-k per query — every step exact BIGINT arithmetic, so the
    DuckDB oracle replays the whole build+search unrolled (the same
    integer-quantization trick that hash-gated IVF). Since round 7 the
    codes ride BIT-PACKED (one ``pq_code`` BIGINT, one byte per code —
    the stored-index compression form) and the search unpacks with a
    shift-and-mask projection; the hash row therefore pins pack+unpack
    round-tripping too."""
    emb = _emb(spark, sf_dir)
    codes, books = S.pq_build(
        emb, m=PQ_M, k=PQ_K, iters=PQ_ITERS, units=IVF_UNITS, pack=True
    )
    return S.pq_topk(
        emb, codes, books, SIM_QUERY_IDS, k=SIM_K, units=IVF_UNITS
    )


def q_sim_topk_ivfpq(spark, sf_dir):
    """IVFADC (Jégou et al. 2011 §IV) — the realistic 100 TB ANN shape:
    IVF coarse cells + bit-packed PQ codes, probe :data:`IVF_NPROBE`
    integer-nearest cells per query, rank ONLY their members by ADC
    table lookups. Both builds and the whole search are exact BIGINT
    arithmetic, so the oracle replays coarse Lloyd, per-subspace Lloyd,
    the probe, and the ADC sum unrolled.

    The embeddings persist across the composed builds: coarse Lloyd +
    per-subspace Lloyds + encode is ~11 passes over the table, each of
    which would otherwise re-read parquet. At 100 TB the builds train on
    a SAMPLE (persist that instead); only the one-pass encode touches
    the full corpus."""
    from pyspark.storagelevel import StorageLevel

    emb = _emb(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
    assigned, cents = S.ivf_build(emb, k=IVF_K, iters=IVF_ITERS, units=IVF_UNITS)
    codes, books = S.pq_build(
        emb, m=PQ_M, k=PQ_K, iters=PQ_ITERS, units=IVF_UNITS, pack=True
    )
    out = S.ivfpq_topk(
        assigned, cents, codes, books, SIM_QUERY_IDS,
        k=SIM_K, nprobe=IVF_NPROBE, units=IVF_UNITS,
    )
    # the cache exists to serve the ~11 BUILD collects, all executed by
    # now — release it immediately so repeated invocations in one session
    # (bench trials, gate drives) don't pin extra embedding copies; the
    # returned lazy search plan simply re-reads parquet for its one pass
    emb.unpersist()
    return out


#: JL random-projection gate parameters: 64 -> 16 dims, micro-unit
#: quantization, and a ~1/50 content-keyed id sample for the all-pairs
#: distortion audit (~40 ids => ~800 pairs at sf0.01).
RP_GATE_OUT_DIM = 16
RP_GATE_IN_DIM = 64
RP_GATE_UNITS = 1_000_000
RP_SAMPLE_MOD = 50


def q_sim_rp_project(spark, sf_dir):
    """Johnson-Lindenstrauss Rademacher projection 64 -> 16, exploded to
    ``(vec_id, j, v_u)`` scalar rows for the gate compare. The seeded
    +/-1 matrix re-derives from md5 parity on both engines; every
    component is an exact BIGINT micro-unit sum. Zero shuffles, zero
    joins, zero Python — the 100 TB pre-step before ANN/clustering when
    the raw dimension is wide."""
    from hadoop_tfidf_spark.operators.similarity import random_projection

    out = random_projection(
        _emb(spark, sf_dir),
        out_dim=RP_GATE_OUT_DIM,
        in_dim=RP_GATE_IN_DIM,
        units=RP_GATE_UNITS,
    )
    return out.select(
        "vec_id", F.posexplode("rp").alias("j", "v_u")
    ).select("vec_id", F.col("j").cast("int").alias("j"), "v_u")


def q_sim_rp_distortion(spark, sf_dir):
    """The JL fidelity dashboard: pairwise ``d2_proj / (16 * d2_orig)``
    over a deterministic ~40-id hash sample — the ratio the lemma says
    concentrates at 1, and the number that says whether 16 dims suffice
    BEFORE ANN recall quietly degrades. All-pairs only within the
    sample (broadcast), distances exact BIGINT, d2=0 guarded to NULL."""
    from hadoop_tfidf_spark.operators.similarity import rp_distortion

    return rp_distortion(
        _emb(spark, sf_dir),
        out_dim=RP_GATE_OUT_DIM,
        in_dim=RP_GATE_IN_DIM,
        units=RP_GATE_UNITS,
        sample_mod=RP_SAMPLE_MOD,
    )


#: Integer power-iteration PCA gate parameters: top-4 components, 8
#: matvec+requantize rounds each, inputs at 1e-4 quantization (keeps the
#: exact-integer covariance numerator far inside 2^53 at gate scale).
PCA_GATE_K = 4
PCA_GATE_ITERS = 8
PCA_GATE_UNITS = 10_000


def q_sim_pca_components(spark, sf_dir):
    """Top-4 principal components by integer power iteration with
    deflation: the covariance numerator ``n*S - s*s^T`` is an exact
    BIGINT matrix (computed distributed via Arrow int64 gemm partials),
    and every iteration step requantizes through half-away rounding —
    so the DuckDB oracle replays the ENTIRE eigensolve (rescale, 8
    matvec rounds x 4 components, Rayleigh quotients, deflation)
    bit-for-bit. Output ``(component, d, v_u, lambda_q)``; the tiny
    k x dim result materializes driver-side by construction (the
    corpus-sized work all ran in executors)."""
    from hadoop_tfidf_spark.operators.similarity import pca_power_build

    comps, lams, _ = pca_power_build(
        _emb(spark, sf_dir),
        k=PCA_GATE_K,
        iters=PCA_GATE_ITERS,
        units=PCA_GATE_UNITS,
    )
    rows = [
        (c, d, int(v), float(lams[c]))
        for c, comp in enumerate(comps)
        for d, v in enumerate(comp)
    ]
    out = spark.createDataFrame(
        rows, "component INT, d INT, v_u BIGINT, lambda_q DOUBLE"
    )
    return out.select(
        "component", "d", "v_u", F.round("lambda_q", 6).alias("lambda_q")
    )


def q_sim_pca_project(spark, sf_dir):
    """The trained counterpart of the JL projection: corpus projected
    onto its own top-4 variance directions — exact BIGINT dot products
    against the power-iteration components, one narrow zero-shuffle
    pass (components ride into codegen as array literals). The oracle
    replays the full build AND the projection."""
    from hadoop_tfidf_spark.operators.similarity import (
        pca_power_build,
        pca_project,
    )

    emb = _emb(spark, sf_dir)
    comps, _, _ = pca_power_build(
        emb, k=PCA_GATE_K, iters=PCA_GATE_ITERS, units=PCA_GATE_UNITS
    )
    return pca_project(emb, comps, units=PCA_GATE_UNITS)


#: Stage-1 candidate budget for the two-stage RP retrieval: how many
#: projected-space nearest ids survive to the exact full-dim re-rank.
RP_TOPK_CANDIDATES = 50


def q_sim_pca_topk(spark, sf_dir):
    """Two-stage retrieval through TRAINED PCA coordinates — the
    rp_topk pattern with the corpus's own top-4 variance directions:
    stage 1 cuts candidates by exact integer L2 in the 4-int projected
    index (the best 4-dim L2 approximation, vs the JL projection's
    merely distortion-bounded one), stage 2 re-ranks by exact full-dim
    integer L2. Unwhitened scores by design (whitening distorts L2).
    The oracle nests the full power-iteration replay and both ranking
    stages. Registered past-cap this round (the window is full of
    mandated entries); FIRST round-10 rotation priority per the
    past-cap-newcomer rule."""
    from hadoop_tfidf_spark.operators.similarity import pca_topk

    emb = _emb(spark, sf_dir, rebalance=True)
    queries = emb.where(F.col("vec_id").isin(SIM_QUERY_IDS))
    return pca_topk(
        emb,
        queries,
        k=SIM_K,
        candidates=RP_TOPK_CANDIDATES,
        n_components=PCA_GATE_K,
        iters=PCA_GATE_ITERS,
        units=PCA_GATE_UNITS,
    )


def q_sim_rp_topk(spark, sf_dir):
    """Two-stage retrieval through the JL projection: coarse top-50 by
    exact integer L2 in the 16-int projected index (16/64 of a full
    scan's bytes), exact full-dimension re-rank of those candidates
    only. Both stages BIGINT-exact -> the whole ranking including
    tie-breaks replays in DuckDB. Registered past-cap this round;
    FIRST round-9 rotation priority."""
    from hadoop_tfidf_spark.operators.similarity import rp_topk

    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id").isin(SIM_QUERY_IDS))
    return rp_topk(
        emb,
        queries,
        k=SIM_K,
        candidates=RP_TOPK_CANDIDATES,
        out_dim=RP_GATE_OUT_DIM,
        in_dim=RP_GATE_IN_DIM,
        units=RP_GATE_UNITS,
    )


def q_sim_rp_recall(spark, sf_dir):
    """Recall telemetry for the two-stage RP retrieval: per query, how
    many of the exact integer-L2 top-10 survive the projected-space
    candidate cut — the dashboard number that says whether the
    candidate budget (and out_dim) are sized right, exactly as
    ``sim_recall_audit`` watches the IVFADC index. Both rankings are
    BIGINT-exact with id tie-breaks, so n_hits is deterministic and
    the oracle replays both sides. On the gate's RANDOM synthetic
    embeddings recall sits at 0.1-0.5 — distance concentration makes
    random data the worst case for any projection (the same effect
    that flattens the IVFADC nprobe curve here); on clustered data the
    cut keeps the true neighbors (test_rp_topk_clustered_data_*), and
    THAT divergence is exactly what this dashboard row exists to
    surface before sizing candidates/out_dim in production."""
    from hadoop_tfidf_spark.operators.similarity import int_l2_topk, rp_topk

    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id").isin(SIM_QUERY_IDS))
    approx = rp_topk(
        emb,
        queries,
        k=SIM_K,
        candidates=RP_TOPK_CANDIDATES,
        out_dim=RP_GATE_OUT_DIM,
        in_dim=RP_GATE_IN_DIM,
        units=RP_GATE_UNITS,
    ).select("query_id", "vec_id")
    exact = int_l2_topk(emb, queries, k=SIM_K, units=RP_GATE_UNITS)
    return _recall_per_query(exact, approx, queries)


#: Candidate budgets the RP-IVFADC recall audit sweeps (stage-1 ADC
#: survivors per query, probed from ONE shared index build).
RP_IVFPQ_BUDGETS = (25, 50)


def q_sim_topk_rp_ivfpq(spark, sf_dir):
    """Dimensionality-reduced ANN — residual IVFADC built IN the 16-dim
    JL projection with exact full-dimension re-rank (Jégou §VII's
    deployment shape, the natural consumer of the r8 projections):
    index build, storage and probe all touch out_dim/in_dim of the
    bytes; only ~candidates rows per query are read at full width.
    Every stage integer-exact -> the whole chain (projection, coarse
    Lloyd, residual PQ Lloyd, ADC cut, full-dim re-rank, tie-breaks)
    replays in DuckDB."""
    from pyspark.storagelevel import StorageLevel

    emb = _emb(spark, sf_dir, rebalance=True).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    out = S.rp_ivfpq_topk(
        emb, SIM_QUERY_IDS, k=SIM_K, candidates=RP_TOPK_CANDIDATES,
        nprobe=IVF_NPROBE, out_dim=RP_GATE_OUT_DIM, in_dim=RP_GATE_IN_DIM,
        units=RP_GATE_UNITS, coarse_k=IVF_K, coarse_iters=IVF_ITERS,
        m=PQ_M, pq_k=PQ_K, pq_iters=PQ_ITERS,
    )
    emb.unpersist()  # build collects done — see q_sim_topk_ivfpq
    return out


def q_sim_rp_ivfpq_recall(spark, sf_dir):
    """The candidate-budget/recall tradeoff for the compressed index,
    measured against the full-dim index on the same exact truth: per
    (method, query), how many of the exact integer-L2 top-10 survive.
    Methods: ``rp_ivfpq_c{25,50}`` — ONE RP-space residual-IVFADC
    build probed at two stage-1 budgets (the Lloyd chains are shared;
    only the ADC cut differs) — and ``ivfpq_full`` — the full-dim
    residual IVFADC's direct ADC top-k (no re-rank), the index this
    composition competes with. The three-way row answers the sizing
    question a deployment asks: how many stage-1 candidates buy back
    the recall the 4x-narrower index gives up, and where does it cross
    the full-width index. All rankings BIGINT-exact with id
    tie-breaks -> n_hits is deterministic and the oracle replays all
    three branches plus the exact truth."""
    from pyspark.storagelevel import StorageLevel

    emb = _emb(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
    queries = emb.where(F.col("vec_id").isin(SIM_QUERY_IDS))
    exact = S.int_l2_topk(emb, queries, k=SIM_K, units=RP_GATE_UNITS)
    index = S.rp_ivfpq_build(
        emb, out_dim=RP_GATE_OUT_DIM, in_dim=RP_GATE_IN_DIM,
        units=RP_GATE_UNITS, coarse_k=IVF_K, coarse_iters=IVF_ITERS,
        m=PQ_M, pq_k=PQ_K, pq_iters=PQ_ITERS,
    )
    branches = [
        _recall_per_query(exact, S.rp_ivfpq_topk(
            emb, SIM_QUERY_IDS, k=SIM_K, candidates=budget,
            nprobe=IVF_NPROBE, units=RP_GATE_UNITS, index=index,
        ), queries, f"rp_ivfpq_c{budget}")
        for budget in RP_IVFPQ_BUDGETS
    ]
    fa, fc, fcodes, fbooks = S.ivfpq_build_residual(
        emb, coarse_k=IVF_K, coarse_iters=IVF_ITERS,
        m=PQ_M, k=PQ_K, iters=PQ_ITERS, units=IVF_UNITS, pack=True,
    )
    branches.append(_recall_per_query(exact, S.ivfpq_topk(
        fa, fc, fcodes, fbooks, SIM_QUERY_IDS,
        k=SIM_K, nprobe=IVF_NPROBE, units=IVF_UNITS,
        embeddings=emb, residual=True,
    ), queries, "ivfpq_full"))
    out = _union_all(branches)
    emb.unpersist()  # all build collects done; the search plan is lazy
    return out


def q_sim_topk_ivfpq_res(spark, sf_dir):
    """RESIDUAL IVFADC (Jégou §IV proper): PQ codes encode each vector's
    integer residual from its coarse centroid, and ADC tables are built
    per (query, probed cell) from the query's residual wrt that cell —
    tighter distances for the same 8 bytes/vector. Every step exact
    BIGINT, oracle replays coarse Lloyd + residual projection +
    per-subspace Lloyd + per-cell ADC unrolled."""
    from pyspark.storagelevel import StorageLevel

    emb = _emb(spark, sf_dir, rebalance=True).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    assigned, cents, codes, books = S.ivfpq_build_residual(
        emb, coarse_k=IVF_K, coarse_iters=IVF_ITERS,
        m=PQ_M, k=PQ_K, iters=PQ_ITERS, units=IVF_UNITS, pack=True,
    )
    out = S.ivfpq_topk(
        assigned, cents, codes, books, SIM_QUERY_IDS,
        k=SIM_K, nprobe=IVF_NPROBE, units=IVF_UNITS,
        embeddings=emb, residual=True,
    )
    emb.unpersist()  # build collects done — see q_sim_topk_ivfpq
    return out


#: ADC candidate budget for the bulk compressed kNN-graph row: stage 1
#: keeps this many per query by 8-byte ADC distance; stage 2 re-ranks
#: only these exactly. 3× the final k — the budget a recall audit would
#: size (sim_rp_recall's dashboard pattern).
IVFPQ_BULK_CAND = 30


def q_sim_topk_ivfpq_bulk(spark, sf_dir):
    """Round 14 — the bulk kNN-graph job over the COMPRESSED index
    (similarity.ivfpq_bulk_topk): every corpus vector is a query, like
    ``sim_topk_ivf_bulk``, but stage 1 ranks candidates by the
    residual-IVFADC 8-byte ADC distance (executor-side probe selection
    and per-(query, cell) ADC tables as DataFrame expressions — zero
    query-side collect, census-pinned) and stage 2 re-ranks ONLY each
    query's :data:`IVFPQ_BULK_CAND` survivors by exact full-dimension
    integer L2. This is the shape a 100 TB semantic-clustering run
    prices: full-precision work per query drops from every probed-cell
    member (the plain-IVF bulk row's honest cost) to the candidate
    budget. All-integer both stages; the oracle replays build + probe +
    ADC cut + exact re-rank unrolled."""
    from pyspark.storagelevel import StorageLevel

    emb = _emb(spark, sf_dir, rebalance=True).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    assigned, cents, codes, books = S.ivfpq_build_residual(
        emb, coarse_k=IVF_K, coarse_iters=IVF_ITERS,
        m=PQ_M, k=PQ_K, iters=PQ_ITERS, units=IVF_UNITS, pack=True,
    )
    out = S.ivfpq_bulk_topk(
        assigned, cents, codes, books, emb,
        k=SIM_K, candidates=IVFPQ_BULK_CAND, nprobe=IVF_NPROBE,
        units=IVF_UNITS,
    )
    emb.unpersist()  # build collects done — see q_sim_topk_ivfpq
    return out


def q_sim_recall_audit(spark, sf_dir):
    """ANN recall telemetry — the dashboard number a production ANN
    index ships with (semantics source: tests/test_round7_ops.py
    ``test_ivfpq_recall_vs_brute``): per query, recall@k of the
    residual-IVFADC result set vs the exact brute-force cosine top-k,
    plus the exact integer ADC-vs-true-L2 distance sums and their
    ratio. ``n_hits``/``recall_pct`` answer "did the probe budget find
    the true neighbors"; ``adc_exact_ratio`` answers "how tight is the
    8-byte code's distance estimate" — the two knobs (nprobe, PQ bits)
    a 100 TB deployment tunes. All join sides here are tiny (k rows per
    query); the heavy lifting is the index build + one probe pass +
    one brute pass, both already oracle-replayable, so the audit is
    hash-gated end-to-end (sums exact BIGINT; the one ratio is a
    deterministic round of a BIGINT/BIGINT double division)."""
    from pyspark.storagelevel import StorageLevel

    emb = _emb(spark, sf_dir, rebalance=True).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    assigned, cents, codes, books = S.ivfpq_build_residual(
        emb, coarse_k=IVF_K, coarse_iters=IVF_ITERS,
        m=PQ_M, k=PQ_K, iters=PQ_ITERS, units=IVF_UNITS, pack=True,
    )
    approx = S.ivfpq_topk(
        assigned, cents, codes, books, SIM_QUERY_IDS,
        k=SIM_K, nprobe=IVF_NPROBE, units=IVF_UNITS,
        embeddings=emb, residual=True,
    )
    queries = emb.where(F.col("vec_id").isin(SIM_QUERY_IDS))
    brute = S.brute_force_topk(emb, queries, k=SIM_K).select(
        "query_id", "vec_id", F.lit(1).alias("hit")
    )
    u = S.quantized_units(F.col("embedding"), IVF_UNITS)
    qu = (
        emb.where(F.col("vec_id").isin(SIM_QUERY_IDS))
        .select(F.col("vec_id").alias("query_id"), u.alias("_qu"))
    )
    vu = emb.select("vec_id", u.alias("_vu"))
    exact_d2 = S._d2(F.col("_qu"), F.col("_vu"))
    joined = (
        approx.join(F.broadcast(qu), "query_id")
        .join(vu, "vec_id")
        .join(F.broadcast(brute), ["query_id", "vec_id"], "left")
        .select(
            "query_id",
            "adc_d2",
            exact_d2.alias("_exact_d2"),
            F.coalesce(F.col("hit"), F.lit(0)).alias("_hit"),
        )
    )
    per_q = joined.groupBy("query_id").agg(
        F.count("*").cast("bigint").alias("n_returned"),
        F.sum("_hit").cast("bigint").alias("n_hits"),
        F.sum("adc_d2").cast("bigint").alias("sum_adc_d2"),
        F.sum("_exact_d2").cast("bigint").alias("sum_exact_d2"),
    )
    out = per_q.select(
        "query_id",
        "n_returned",
        "n_hits",
        F.expr(f"CAST((100 * n_hits) DIV {SIM_K} AS BIGINT)").alias(
            "recall_pct"
        ),
        "sum_adc_d2",
        "sum_exact_d2",
        F.when(F.col("sum_exact_d2") == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                F.col("sum_adc_d2").cast("double") / F.col("sum_exact_d2"), 6
            )
        )
        .alias("adc_exact_ratio"),
    )
    emb.unpersist()  # build collects done — see q_sim_topk_ivfpq
    return out


#: The nprobe operating points the recall curve sweeps (of IVF_K cells).
RECALL_CURVE_NPROBES = (1, 2, 4)

# ---- clustered recall-curve fixture -------------------------------------
# The gate's raw synthetic embeddings are ROTATIONALLY RANDOM — distance
# concentration makes every nprobe return the same set, so the curve is
# flat by construction (see r8 sim_recall_curve docstring). To let the
# GATE row demonstrate the rising curve the chart exists to show, the
# curve query runs on a deterministic CLUSTERED derivation of the same
# table: each vector is snapped to one of IVF_K=16 bit-sign cluster
# centers (cluster = vec_id % 16, center[d] = ±AMP by bit (d mod 4) of
# the cluster id) with the original embedding as jitter, and three
# STRADDLING queries sit at (0.501·A + 0.499·B) midpoints of one-bit-
# apart center pairs — their exact top-10 provably mixes both clusters
# (7:3-ish at sf0.01), so nprobe=1 structurally cannot reach full
# recall and nprobe=2 must improve it. Every constant below is shared
# verbatim with the DuckDB replay; the derivation is one float64 add
# per component on both engines, so the hash gate holds end-to-end.
RECALL_CLUSTER_C = 16  # == IVF_K: seeds 0..15 land one per cluster
RECALL_CLUSTER_AMP = 4.0
RECALL_STRADDLE_PAIRS = ((0, 1), (2, 6), (5, 13))  # one-bit-apart pairs
RECALL_STRADDLE_IDS = (9000, 9001, 9002)
RECALL_NUDGE = 0.501
EMB_DIM = 64
#: Fixture corpus size: 5 members per cluster (vec_id < 80). Sized so a
#: straddling query's exact top-10 is EXACTLY the two straddled cells'
#: members — recall then measures cell COVERAGE (the thing nprobe buys),
#: not fine ADC ordering: with ~31 members/cell (the full sf0.01 table)
#: the within-cell ADC ranks are jitter-scale and PQ quantization noise
#: swamps them, which flattened the first clustered cut of this fixture
#: at 20-40% for every nprobe.
RECALL_FIXTURE_ROWS = 80


def _cluster_center(c: int) -> list[float]:
    return [
        RECALL_CLUSTER_AMP if (c >> (d % 4)) & 1 else -RECALL_CLUSTER_AMP
        for d in range(EMB_DIM)
    ]


def _straddle_queries() -> list[tuple[int, list[float]]]:
    """The straddling query rows as pure float64 constants (computed
    once here, fed verbatim to BOTH engines — Spark as literal data,
    DuckDB via repr round-trip, which is exact for float64)."""
    rows = []
    for qid, (a, b) in zip(RECALL_STRADDLE_IDS, RECALL_STRADDLE_PAIRS):
        ca, cb = _cluster_center(a), _cluster_center(b)
        rows.append(
            (
                qid,
                [
                    RECALL_NUDGE * x + (1.0 - RECALL_NUDGE) * y
                    for x, y in zip(ca, cb)
                ],
            )
        )
    return rows


def _clustered_emb(spark, sf_dir):
    """Spark side of the clustered fixture: snap every embedding to its
    ``vec_id % 16`` cluster center (one float64 add per component,
    zero shuffle) and union the three literal straddling query rows."""
    emb = _emb(spark, sf_dir)
    c = F.col("vec_id") % RECALL_CLUSTER_C

    def shift(x, i):
        p = (
            F.when(i % 4 == 0, F.lit(1))
            .when(i % 4 == 1, F.lit(2))
            .when(i % 4 == 2, F.lit(4))
            .otherwise(F.lit(8))
        )
        bit = F.floor(c / p).cast("bigint") % 2
        return x + F.when(
            bit == 1, F.lit(RECALL_CLUSTER_AMP)
        ).otherwise(F.lit(-RECALL_CLUSTER_AMP))

    clustered = emb.where(F.col("vec_id") < RECALL_FIXTURE_ROWS).select(
        "vec_id",
        F.transform(F.col("embedding").cast("array<double>"), shift).alias(
            "embedding"
        ),
    )
    qrows = spark.createDataFrame(
        _straddle_queries(), "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    )
    return clustered.unionByName(qrows)


def q_sim_recall_curve(spark, sf_dir):
    """Recall-vs-nprobe curve — the ANN tuning chart itself: ONE
    residual-IVFADC index, searched at each nprobe in
    :data:`RECALL_CURVE_NPROBES`, scored per query against the exact
    brute-force top-k. Recall must be non-decreasing in nprobe by
    construction (more probed cells ⊇ fewer); a production deployment
    reads the knee of this curve to pick its probe budget. The builds
    run once (persist released after the collects); each extra probe
    point costs only a (queries × nprobe)-row broadcast join + the ADC
    projection — exactly how cheap sweeping the knob is at 100 TB.
    All-integer, hash-gated: the oracle replays the full index three
    times at the three probe budgets (the Lloyd chains are
    deterministic, so the three replays share every centroid).

    Runs on the CLUSTERED fixture (:func:`_clustered_emb` — the raw
    random table snapped onto 16 bit-sign cluster centers plus three
    straddling midpoint queries) so the gate row demonstrates the
    rising curve the chart exists to show: on the raw table the curve
    is flat by construction (distance concentration — verified in r8:
    bit-identical result sets at nprobe 1/2/4/8, documented then as
    "more probes buy nothing here"), while on clustered data a
    straddling query's exact top-10 mixes two cells, so nprobe=1
    structurally cannot reach it and nprobe=2 must improve. The same
    rising behavior is unit-pinned by tests/test_round8_ops.py::
    test_recall_curve_rises_on_straddling_queries; production recall
    telemetry on the data as-it-is stays available via
    `sim_recall_audit`.
    """
    from pyspark.storagelevel import StorageLevel

    emb = _clustered_emb(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
    assigned, cents, codes, books = S.ivfpq_build_residual(
        emb, coarse_k=IVF_K, coarse_iters=IVF_ITERS,
        m=PQ_M, k=PQ_K, iters=PQ_ITERS, units=IVF_UNITS, pack=True,
    )
    queries = emb.where(F.col("vec_id").isin(list(RECALL_STRADDLE_IDS)))
    brute = S.brute_force_topk(emb, queries, k=SIM_K).select(
        "query_id", "vec_id", F.lit(1).alias("hit")
    )
    parts = []
    for np_ in RECALL_CURVE_NPROBES:
        parts.append(
            S.ivfpq_topk(
                assigned, cents, codes, books, list(RECALL_STRADDLE_IDS),
                k=SIM_K, nprobe=np_, units=IVF_UNITS,
                embeddings=emb, residual=True,
            )
            .select("query_id", "vec_id")
            .withColumn("nprobe", F.lit(np_).cast("int"))
        )
    out = (
        _union_all(parts).join(F.broadcast(brute), ["query_id", "vec_id"], "left")
        .groupBy("nprobe", "query_id")
        .agg(
            F.count("*").cast("bigint").alias("n_returned"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("bigint")
            .alias("n_hits"),
        )
        .select(
            "nprobe",
            "query_id",
            "n_returned",
            "n_hits",
            F.expr(f"CAST((100 * n_hits) DIV {SIM_K} AS BIGINT)").alias(
                "recall_pct"
            ),
        )
    )
    emb.unpersist()  # build collects done — see q_sim_topk_ivfpq
    return out


def q_sim_label_centroids(spark, sf_dir):
    """Nearest-centroid label audit over the embeddings table: integer
    micro-unit per-label centroids (exact BIGINT sums → engine-exact),
    every vector assigned to the closest centroid, label×assigned
    confusion counts."""
    return S.nearest_centroid_confusion(_emb(spark, sf_dir))


# --------------------------------------------------------------------------
# Round-10 families: audio VAD, per-source governance, n-gram novelty,
# INT8 scalar-quantized retrieval, variance-balanced (OPQ-lite) PQ.
# --------------------------------------------------------------------------

#: Candidate budgets the SQ recall audit sweeps (stage-1 survivors per
#: query — same shape as RP_IVFPQ_BUDGETS; the tight budget shows the
#: resolution loss, the wide one shows it washing out).
SQ_RECALL_BUDGETS = (15, 50)

#: OPQ gate fixture: the first OPQ_HOT_DIMS of the 64 dims scaled by
#: OPQ_HOT_SCALE (a power of two, so the double multiply is EXACT in
#: both engines) — contiguous PQ gives subspace 0 every hot dimension,
#: the permutation deals them one per subspace.
OPQ_HOT_DIMS = 16
OPQ_HOT_SCALE = 8
OPQ_SAMPLE_N = 256


def q_sim_topk_sq(spark, sf_dir):
    """Two-stage retrieval through INT8 scalar quantization (the FAISS
    SQ8 shape): stage 1 scans one signed byte per component (codes on a
    corpus-wide vmax scale, derived from the data), stage 2 re-ranks
    the 50 survivors by exact full-resolution integer L2. Both stages
    BIGINT-exact; the one float step (floor(u·127/vmax)) is a single
    IEEE double op identical in both engines."""
    from hadoop_tfidf_spark.operators.similarity import sq_topk

    emb = _emb(spark, sf_dir, rebalance=True)
    queries = emb.where(F.col("vec_id").isin(SIM_QUERY_IDS))
    return sq_topk(
        emb, queries, k=SIM_K, candidates=RP_TOPK_CANDIDATES,
        units=IVF_UNITS, in_dim=64,
    )


def q_sim_sq_recall(spark, sf_dir):
    """Recall telemetry for the SQ index at two candidate budgets
    (c15/c50) against the exact integer-L2 top-10 — the dashboard that
    says whether 8-bit resolution loses neighbors at a given budget.
    Unlike the JL cut (dimension collision), SQ keeps every dimension:
    recall at the same budget should sit at or above the RP row, and
    THAT comparison is what the paired dashboards surface.

    Calibrates ONCE (:func:`similarity.sq_vmax`, one scalar scan) and
    hands the scale to both budget calls via ``vmax=`` — the
    precomputed-calibration path under the hash gate; the plain
    ``sim_topk_sq`` row covers the derive-internally default."""
    from hadoop_tfidf_spark.operators.similarity import (
        int_l2_topk,
        sq_topk,
        sq_vmax,
    )

    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id").isin(SIM_QUERY_IDS))
    exact = int_l2_topk(emb, queries, k=SIM_K, units=IVF_UNITS)
    vmax = sq_vmax(emb, units=IVF_UNITS, in_dim=64)
    return _union_all([
        _recall_per_query(exact, sq_topk(
            emb, queries, k=SIM_K, candidates=b, units=IVF_UNITS, in_dim=64,
            vmax=vmax,
        ), queries, f"sq_c{b}")
        for b in SQ_RECALL_BUDGETS
    ])


def _scaled_emb(spark, sf_dir, rebalance=False):
    """The OPQ gate fixture: first :data:`OPQ_HOT_DIMS` dimensions
    scaled by :data:`OPQ_HOT_SCALE` (power of two ⇒ the double multiply
    is exact, so both engines quantize identical values). On the raw
    iid embeddings every dimension carries the same variance and the
    permutation is a no-op by construction; the skewed fixture is the
    deployment the allocation step exists for."""
    emb = _emb(spark, sf_dir, rebalance=rebalance)
    return emb.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x, i: x.cast("double")
            * F.when(i < OPQ_HOT_DIMS, F.lit(float(OPQ_HOT_SCALE))).otherwise(
                F.lit(1.0)
            ),
        ).alias("embedding"),
    )


def q_sim_topk_opq(spark, sf_dir):
    """PQ ADC search in the variance-balanced permuted space (the OPQ
    dimension-allocation step, Ge et al. 2013) over the variance-skewed
    fixture: rank dims by exact-BIGINT variance numerators on the
    id-prefix sample, deal them round-robin into the m subspaces,
    then train/encode/search the standard bit-packed PQ index. The
    oracle replays the sample stats, the ranking, the permutation AND
    the nested per-subspace Lloyd + ADC chain."""
    from hadoop_tfidf_spark.operators.similarity import opq_topk

    return opq_topk(
        _scaled_emb(spark, sf_dir), SIM_QUERY_IDS, k=SIM_K, m=PQ_M,
        pq_k=PQ_K, iters=PQ_ITERS, units=IVF_UNITS, in_dim=64,
        sample_n=OPQ_SAMPLE_N,
    )


def q_sim_opq_recall(spark, sf_dir):
    """The allocation payoff, measured: recall@10 of contiguous PQ vs
    variance-balanced OPQ against the exact integer-L2 truth on the
    SAME skewed fixture — contiguous splitting hands subspace 0 all
    sixteen hot dimensions and its codebook's quantization error
    dominates the ADC distance; the permutation deals them out. Both
    chains and the truth replay in DuckDB."""
    from hadoop_tfidf_spark.operators.similarity import (
        int_l2_topk,
        opq_topk,
        pq_build,
        pq_topk,
    )

    emb = _scaled_emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id").isin(SIM_QUERY_IDS))
    exact = int_l2_topk(emb, queries, k=SIM_K, units=IVF_UNITS)
    codes, books = pq_build(
        emb, m=PQ_M, k=PQ_K, iters=PQ_ITERS, units=IVF_UNITS, pack=True
    )
    pq_res = pq_topk(
        emb, codes, books, SIM_QUERY_IDS, k=SIM_K, units=IVF_UNITS
    )
    opq_res = opq_topk(
        emb, SIM_QUERY_IDS, k=SIM_K, m=PQ_M, pq_k=PQ_K, iters=PQ_ITERS,
        units=IVF_UNITS, in_dim=64, sample_n=OPQ_SAMPLE_N,
    )
    return _union_all([
        _recall_per_query(exact, approx, queries, method)
        for method, approx in (("pq", pq_res), ("opq", opq_res))
    ])


def _opq_permuted_emb(spark, sf_dir, rebalance=False):
    """The OPQ-permuted skewed fixture: train the variance-balanced
    permutation on the id-prefix sample (one dim-sized stats collect —
    the ``perm=``-style trainer pattern), then reorder coordinates as a
    zero-cost projection. Shared by the composed-index query and its
    recall row."""
    emb = _scaled_emb(spark, sf_dir, rebalance=rebalance)
    perm = S.opq_permutation(
        emb, m=PQ_M, in_dim=64, units=IVF_UNITS, sample_n=OPQ_SAMPLE_N
    )
    return emb.select(
        "vec_id",
        F.array(*[F.col("embedding").getItem(int(p)) for p in perm]).alias(
            "embedding"
        ),
    )


def q_sim_topk_opq_ivfpq(spark, sf_dir):
    """The OPQ dimension allocation composed with the RESIDUAL IVFADC
    index (Ge et al. 2013 §"OPQ with IVFADC" + Jégou §IV): the
    permutation is free at encode time — a projection reorder fused
    into the same scan that quantizes — so the coarse Lloyd, residual
    projection, per-subspace Lloyd and bit-packed codes all operate in
    the variance-balanced space at zero extra scan cost. On the skewed
    fixture contiguous subspace 0 would hoard every hot dimension of
    the RESIDUALS too (coarse centroids shift means, not scales), so
    the balanced codebooks quantize tighter for the same 8
    bytes/vector. Every stage BIGINT-exact; the oracle feeds the
    permuted relation through the full residual-IVFADC replay."""
    from pyspark.storagelevel import StorageLevel

    emb = _opq_permuted_emb(spark, sf_dir, rebalance=True).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    assigned, cents, codes, books = S.ivfpq_build_residual(
        emb, coarse_k=IVF_K, coarse_iters=IVF_ITERS,
        m=PQ_M, k=PQ_K, iters=PQ_ITERS, units=IVF_UNITS, pack=True,
    )
    out = S.ivfpq_topk(
        assigned, cents, codes, books, SIM_QUERY_IDS,
        k=SIM_K, nprobe=IVF_NPROBE, units=IVF_UNITS,
        embeddings=emb, residual=True,
    )
    # The permuted projection STAYS persisted through execution — the
    # stored-index surrogate, exactly the rp_ivfpq precedent (SCALE.md):
    # unpersisted, every distance lambda inlines the 64-getItem array
    # construction and re-evaluates it per element (measured 10.6s vs
    # 2.0s for the same search on this fixture).
    return out


def q_sim_opq_ivfpq_recall(spark, sf_dir):
    """The composed-index payoff, measured: recall@10 of the contiguous
    residual IVFADC vs the OPQ-permuted residual IVFADC on the SAME
    skewed fixture against the exact integer-L2 truth — the
    compressed-index completion of the flat-PQ ``sim_opq_recall``
    dashboard (does dimension balancing still pay once the coarse
    quantizer absorbs the means? the hot dims keep their VARIANCE in
    the residuals, so it should). Both index chains and the truth
    replay in DuckDB."""
    from pyspark.storagelevel import StorageLevel

    scaled = _scaled_emb(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
    permuted = _opq_permuted_emb(spark, sf_dir).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    queries = scaled.where(F.col("vec_id").isin(SIM_QUERY_IDS))
    exact = S.int_l2_topk(scaled, queries, k=SIM_K, units=IVF_UNITS)
    branches = []
    for method, base in (("ivfpq_res", scaled), ("opq_ivfpq", permuted)):
        assigned, cents, codes, books = S.ivfpq_build_residual(
            base, coarse_k=IVF_K, coarse_iters=IVF_ITERS,
            m=PQ_M, k=PQ_K, iters=PQ_ITERS, units=IVF_UNITS, pack=True,
        )
        approx = S.ivfpq_topk(
            assigned, cents, codes, books, SIM_QUERY_IDS,
            k=SIM_K, nprobe=IVF_NPROBE, units=IVF_UNITS,
            embeddings=base, residual=True,
        )
        branches.append(_recall_per_query(exact, approx, queries, method))
    # Both fixture relations stay persisted through execution (the
    # stored-index surrogate rule — see q_sim_topk_opq_ivfpq): the
    # recall plan references each side's vectors in the codes join, the
    # probe AND the exact-truth re-rank, and an unpersisted permuted
    # projection re-inlines its 64-getItem array per distance lambda.
    return _union_all(branches)


def q_sim_topk_ivfsq(spark, sf_dir):
    """IVF-SQ8 retrieval (the FAISS IndexIVFScalarQuantizer shape): the
    middle rung of the quantization ladder — coarse IVF cells bound the
    scan to ~nprobe/coarse_k of the corpus, residuals stored at one
    signed byte per component on a corpus-wide vmax scale (no codebooks
    to train), stage-1 integer L2 in code space within probed cells,
    exact full-resolution re-rank of the survivors. Every ranking
    BIGINT-exact; the oracle replays coarse Lloyd + residual + vmax +
    codes + probe + both stages unrolled."""
    return S.ivfsq_topk(
        _emb(spark, sf_dir, rebalance=True), SIM_QUERY_IDS, k=SIM_K,
        candidates=RP_TOPK_CANDIDATES, nprobe=IVF_NPROBE,
        coarse_k=IVF_K, coarse_iters=IVF_ITERS, units=IVF_UNITS, in_dim=64,
    )


def q_sim_ivfsq_recall(spark, sf_dir):
    """IVF-SQ recall at the same c15/c50 budgets as ``sim_sq_recall``
    against the same exact integer-L2 truth — the paired dashboard
    that prices the probe: flat SQ scans every code, IVF-SQ scans only
    probed cells, and the recall delta at equal budget IS the cost of
    the cells the probe skipped. Builds ONCE
    (:func:`similarity.ivfsq_build`) and searches the prebuilt index at
    both budgets — the production sweep shape."""
    from pyspark.storagelevel import StorageLevel

    emb = _emb(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
    queries = emb.where(F.col("vec_id").isin(SIM_QUERY_IDS))
    exact = S.int_l2_topk(emb, queries, k=SIM_K, units=IVF_UNITS)
    index, cents, vmax = S.ivfsq_build(
        emb, coarse_k=IVF_K, coarse_iters=IVF_ITERS,
        units=IVF_UNITS, in_dim=64,
    )
    index = index.persist(StorageLevel.MEMORY_AND_DISK)
    out = _union_all([
        _recall_per_query(exact, S.ivfsq_topk(
            emb, SIM_QUERY_IDS, k=SIM_K, candidates=b, nprobe=IVF_NPROBE,
            units=IVF_UNITS, in_dim=64,
            index=index, centroids=cents, vmax=vmax,
        ), queries, f"ivfsq_c{b}")
        for b in SQ_RECALL_BUDGETS
    ])
    emb.unpersist()
    return out


def q_sim_topk_bq(spark, sf_dir):
    """Binary-quantization retrieval — the extreme rung of the
    quantization ladder: 1 sign bit per component (8 bytes/vector at
    dim 64, zero trained state — no vmax, no codebooks, no sample),
    stage-1 Hamming over the packed words, exact integer-L2 re-rank.
    The oracle replays the pack and both stages bit-for-bit."""
    from hadoop_tfidf_spark.operators.similarity import bq_topk

    emb = _emb(spark, sf_dir, rebalance=True)
    queries = emb.where(F.col("vec_id").isin(SIM_QUERY_IDS))
    return bq_topk(
        emb, queries, k=SIM_K, candidates=RP_TOPK_CANDIDATES,
        units=IVF_UNITS, in_dim=64,
    )


def q_sim_bq_recall(spark, sf_dir):
    """BQ recall at the same c15/c50 budgets and exact truth as the
    SQ/IVF-SQ rows — the fourth column of the quantization-ladder
    dashboard (BQ 1 bit vs SQ 8 bits vs IVF-SQ probed bytes vs PQ
    codebook bytes): what recall does the 8× byte cut from SQ8 to
    sign-bits give up at a fixed candidate budget? Builds the packed
    index ONCE and scans it per budget."""
    from hadoop_tfidf_spark.operators.similarity import bq_build, bq_topk

    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id").isin(SIM_QUERY_IDS))
    exact = S.int_l2_topk(emb, queries, k=SIM_K, units=IVF_UNITS)
    index = bq_build(emb, units=IVF_UNITS, in_dim=64)
    return _union_all([
        _recall_per_query(exact, bq_topk(
            emb, queries, k=SIM_K, candidates=b, units=IVF_UNITS,
            in_dim=64, index=index,
        ), queries, f"bq_c{b}")
        for b in SQ_RECALL_BUDGETS
    ])


# --------------------------------------------------------------------------
# Round-12 queries: the unified quantization-tier frontier, the update-mode
# streaming governance twin, and the malformed-payload keep contract.
# --------------------------------------------------------------------------

#: Frontier config: one shared candidate budget for the two-stage tiers
#: (sq / ivfsq / bq re-rank the stage-1 top-FRONTIER_BUDGET exactly; the
#: PQ-family tiers are pure ADC rankings with no re-rank stage), and the
#: per-vector byte accounting at dim 64 — cell ids 2 bytes (coarse_k <=
#: 65536), PQ codes log2(PQ_K) = 4 bits each bit-packed, sign bits 1/8
#: byte; codebooks / centroids / the OPQ permutation are global index
#: metadata, not per-vector bytes.
FRONTIER_BUDGET = 50
PQ_CODE_BYTES = (PQ_M * (PQ_K.bit_length() - 1)) // 8
TIER_BYTES = {
    "sq": 64,
    "ivfsq": 64 + 2,
    "pq": PQ_CODE_BYTES,
    "ivfpq_res": PQ_CODE_BYTES + 2,
    "opq_ivfpq": PQ_CODE_BYTES + 2,
    "bq": 64 // 8,
}


def q_sim_tier_frontier(spark, sf_dir):
    """The unified recall-vs-bytes frontier — the ONE table a user
    picking a quantization tier actually wants: every tier of the
    ladder (flat SQ8, IVF-SQ8, flat PQ, residual IVFADC, OPQ-composed
    residual IVFADC, binary quantization) searched over the SAME
    variance-skewed fixture (:func:`_scaled_emb` — the deployment where
    the tiers genuinely differ; on iid data they collapse together)
    against the SAME exact integer-L2 top-10 truth, one row per tier:
    ``(tier, bytes_per_vec, n_hits, recall)`` with hits summed over the
    five gate queries. The two-stage tiers run at one shared candidate
    budget (:data:`FRONTIER_BUDGET`); the PQ-family tiers rank by pure
    ADC distance. Scale: each tier chain is the already-audited
    gate-query plan (blocked/probed stage 1, candidates-bounded exact
    re-rank); the frontier adds only six count aggregates over
    top-k-bounded relations, so its cost IS the sum of the tier
    searches at any corpus size. The oracle replays all six chains in
    one query via scoped nested-WITH subqueries against one shared
    truth CTE."""
    from pyspark.storagelevel import StorageLevel

    emb = _scaled_emb(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
    permuted = _opq_permuted_emb(spark, sf_dir).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    queries = emb.where(F.col("vec_id").isin(SIM_QUERY_IDS))
    exact = S.int_l2_topk(emb, queries, k=SIM_K, units=IVF_UNITS).select(
        "query_id", "vec_id"
    )

    approx: dict[str, DataFrame] = {}
    vmax = S.sq_vmax(emb, units=IVF_UNITS, in_dim=64)
    approx["sq"] = S.sq_topk(
        emb, queries, k=SIM_K, candidates=FRONTIER_BUDGET,
        units=IVF_UNITS, in_dim=64, vmax=vmax,
    )
    approx["ivfsq"] = S.ivfsq_topk(
        emb, SIM_QUERY_IDS, k=SIM_K, candidates=FRONTIER_BUDGET,
        nprobe=IVF_NPROBE, coarse_k=IVF_K, coarse_iters=IVF_ITERS,
        units=IVF_UNITS, in_dim=64,
    )
    codes, books = S.pq_build(
        emb, m=PQ_M, k=PQ_K, iters=PQ_ITERS, units=IVF_UNITS, pack=True
    )
    approx["pq"] = S.pq_topk(
        emb, codes, books, SIM_QUERY_IDS, k=SIM_K, units=IVF_UNITS
    )
    for method, base in (("ivfpq_res", emb), ("opq_ivfpq", permuted)):
        assigned, cents, rcodes, rbooks = S.ivfpq_build_residual(
            base, coarse_k=IVF_K, coarse_iters=IVF_ITERS,
            m=PQ_M, k=PQ_K, iters=PQ_ITERS, units=IVF_UNITS, pack=True,
        )
        approx[method] = S.ivfpq_topk(
            assigned, cents, rcodes, rbooks, SIM_QUERY_IDS,
            k=SIM_K, nprobe=IVF_NPROBE, units=IVF_UNITS,
            embeddings=base, residual=True,
        )
    approx["bq"] = S.bq_topk(
        emb, queries, k=SIM_K, candidates=FRONTIER_BUDGET,
        units=IVF_UNITS, in_dim=64,
    )

    denom = float(SIM_K * len(SIM_QUERY_IDS))
    rows = []
    for tier, adf in approx.items():
        hits = exact.join(
            adf.select("query_id", "vec_id"),
            ["query_id", "vec_id"],
            "leftsemi",
        ).agg(F.count("*").cast("bigint").alias("n_hits"))
        rows.append(
            hits.select(
                F.lit(tier).alias("tier"),
                F.lit(TIER_BYTES[tier]).cast("bigint").alias("bytes_per_vec"),
                "n_hits",
                F.round(F.col("n_hits") / F.lit(denom), 6).alias("recall"),
            )
        )
    # Both fixture relations stay persisted through execution — the
    # stored-index surrogate rule (see q_sim_topk_opq_ivfpq).
    return _union_all(rows)
