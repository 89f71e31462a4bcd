"""IVF / PQ / residual-IVFADC tests: the integer Lloyd trainer
(determinism, sample training, parameter guards), assignment sanity and
recall against the brute-force baseline, the malformed-vector rule, and
the two probe paths of ``ivf_topk`` / ``ivfpq_topk`` — an id list whose
probe relation fits the ``DRIVER_PROBE_MAX`` constant budget probes on
the driver into an in-plan literal, a ``queries=`` relation (or a longer
list) probes on executors with zero query-side collect — which must
agree bit for bit."""

from __future__ import annotations

import math
import random
import re
import struct

import pytest
from pyspark.errors import PySparkException
from pyspark.sql import Window
from pyspark.sql import functions as F

from hadoop_tfidf_spark.operators import similarity as S
from hadoop_tfidf_spark.operators.similarity import (
    DRIVER_PROBE_MAX,
    brute_force_topk,
    ivf_build,
    ivf_topk,
)

SF_DIR = "/root/testdata/sf0.001"
IVF_UNITS = 1_000_000


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


@pytest.fixture(scope="module")
def index(emb):
    return ivf_build(emb, k=8, iters=2, units=IVF_UNITS)


@pytest.fixture(scope="module")
def unit_index(emb):
    return ivf_build(emb, k=16, iters=1, units=IVF_UNITS)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


#: The driver path's probe relation: an in-plan literal.
LITERAL = re.compile(r"Generate inline\([^\n]*\n[\s:|]*\+- OneRowRelation")


def _literal_probe(plan: str) -> bool:
    """A literal probe relation, and no Python RDD anywhere."""
    return LITERAL.search(plan) is not None and "LogicalRDD" not in plan


def _no_driver_relation(plan: str) -> bool:
    """No driver-materialized relation of any kind: every row flows from
    the distributed scans."""
    return not any(
        r in plan for r in ("LogicalRDD", "LocalRelation", "OneRowRelation")
    )


# ------------------------------------------------ integer Lloyd training


def test_ivf_quantized_build_is_deterministic_and_sane(spark):
    """Integer micro-unit IVF: two builds give identical assignments
    (order-independent integer Lloyd), and two planted tight clusters
    land in different cells with their own members."""
    rng = random.Random(7)
    base_a = [1.0] * 8
    base_b = [-1.0] * 8
    rows = []
    for i in range(20):
        base = base_a if i % 2 == 0 else base_b
        rows.append((i, [x + rng.uniform(-0.01, 0.01) for x in base]))
    emb = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    a1, c1 = ivf_build(emb, k=2, iters=2, units=1_000_000)
    a2, c2 = ivf_build(emb, k=2, iters=2, units=1_000_000)
    m1 = {r.vec_id: r.cluster for r in a1.collect()}
    m2 = {r.vec_id: r.cluster for r in a2.collect()}
    assert m1 == m2 and c1 == c2
    assert all(isinstance(x, int) for c in c1 for x in c)
    evens = {m1[i] for i in range(0, 20, 2)}
    odds = {m1[i] for i in range(1, 20, 2)}
    assert len(evens) == 1 and len(odds) == 1 and evens != odds


def test_ivf_build_train_subset(emb):
    """ivf_build(train=…): train=full is bit-identical to the default;
    a strict subset changes the centroids (non-vacuous) while the FINAL
    assignment still covers every corpus vector."""
    a_full, c_full = ivf_build(emb, k=8, iters=1, units=IVF_UNITS)
    a_same, c_same = ivf_build(emb, k=8, iters=1, units=IVF_UNITS, train=emb)
    assert c_full == c_same
    assert _rows(a_full) == _rows(a_same)
    sub = emb.where(F.col("vec_id") % 3 != 2)
    a_sub, c_sub = ivf_build(emb, k=8, iters=1, units=IVF_UNITS, train=sub)
    assert c_sub != c_full  # the sample actually drove the statistics
    assert a_sub.count() == emb.count()  # assignment is corpus-complete
    # every vector's cell is the argmin over the sample-trained matrix
    got = (
        a_sub.select(
            "vec_id",
            F.element_at(
                S.nearest_centroid_ids(F.col("embedding"), c_sub, 1, IVF_UNITS),
                1,
            ).alias("cell"),
            "cluster",
        )
        .where(F.col("cell") != F.col("cluster"))
        .count()
    )
    assert got == 0


def test_ivfpq_residual_build_validates_params(spark):
    """The residual builder enforces the same guards as pq_build: dim
    must divide by m, and pack requires byte-range codes."""
    emb = spark.createDataFrame(
        [(i, [float(i + d) for d in range(8)]) for i in range(20)],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    with pytest.raises(ValueError, match="not divisible"):
        S.ivfpq_build_residual(
            emb, coarse_k=4, coarse_iters=1, m=3, k=4, units=1000
        )
    with pytest.raises(ValueError, match="pack=True"):
        S.ivfpq_build_residual(
            emb, coarse_k=4, coarse_iters=1, m=4, k=300, units=1000
        )


def test_malformed_vector_is_unassigned_and_never_ranked(spark, emb):
    """A malformed vector (here a null element, at the lowest id so it
    would be the first seed) is skipped by training, lands in cell -1
    with a null PQ code, and never enters a pq_topk top-k — ascending
    ADC order would otherwise rank its null distance first."""
    small = emb.where(F.col("vec_id") < 100)
    bad = spark.createDataFrame([(-1, [None] + [0.0] * 63, 0)], small.schema)
    both = small.unionByName(bad)
    assigned, cents = ivf_build(both, k=4, iters=2, units=IVF_UNITS)
    assert cents == ivf_build(small, k=4, iters=2, units=IVF_UNITS)[1]
    assert assigned.where("vec_id = -1").first()["cluster"] == -1
    codes, books = S.pq_build(
        both, m=4, k=8, iters=2, units=IVF_UNITS, pack=True
    )
    assert books == S.pq_build(small, m=4, k=8, iters=2, units=IVF_UNITS)[1]
    assert codes.where("vec_id = -1").first()["pq_code"] is None
    got = S.pq_topk(both, codes, books, [0, 1], k=200, units=IVF_UNITS)
    assert got.where("vec_id = -1").count() == 0
    assert got.count() == 2 * 99


# ------------------------------------------------ IVF search


def test_assignment_covers_corpus(emb, index):
    assigned, cents = index
    assert assigned.count() == emb.count()
    assert len(cents) == 8
    clusters = {r.cluster for r in assigned.select("cluster").distinct().collect()}
    assert clusters <= set(range(8))
    assert len(clusters) > 1  # corpus actually spreads over clusters


def test_ivf_recall_vs_brute(spark, emb, index):
    assigned, cents = index
    queries = emb.where(F.col("vec_id") < 5)
    brute = brute_force_topk(emb, queries, k=10)
    ivf = ivf_topk(assigned, cents, list(range(5)), k=10, nprobe=4)
    b = {(r.query_id, r.vec_id) for r in brute.collect()}
    a = {(r.query_id, r.vec_id) for r in ivf.collect()}
    recall = len(a & b) / len(b)
    # nprobe=4 of 8 clusters: recall must beat random cluster coverage
    assert recall >= 0.5, recall
    # every IVF result must be a real vector with a sane rank
    assert all(rn >= 1 for _, rn in ((r.query_id, r.rn) for r in ivf.collect()))


# ------------------------------------------ driver vs executor probes


def test_executor_probes_bit_equal_driver_probes_units(
    emb, unit_index, monkeypatch
):
    """The nearest_centroid_ids expression (executor path, fed a
    queries= relation) must reproduce the driver twin's exact
    integer distances and (d2, ci) tie-break (id-list path) — same
    probes, same candidates, same top-k, bit for bit. The budget is
    raised to this list's 40 × 3 × 66 constants so the id list keeps
    the driver path."""
    assigned, cents = unit_index
    monkeypatch.setattr(S, "DRIVER_PROBE_MAX", 40 * 3 * (2 + len(cents[0])))
    a = ivf_topk(assigned, cents, list(range(40)), k=5, nprobe=3,
                 units=IVF_UNITS)
    b = ivf_topk(assigned, cents, None, k=5, nprobe=3, units=IVF_UNITS,
                 queries=emb.where(F.col("vec_id") < 40))
    assert _literal_probe(_plan(a)) and _no_driver_relation(_plan(b))
    ra, rb = _rows(a), _rows(b)
    assert ra == rb
    assert len(ra) == 40 * 5


def test_executor_path_has_zero_query_side_collect(emb, unit_index):
    """The bulk-path plan census: an id-list probe relation is built
    from collected query rows into an in-plan literal; the relation path
    must have NO driver-materialized relation — every relation in its
    plan comes from the distributed scan, so a 10⁶-query re-rank never
    funnels through the driver."""
    assigned, cents = unit_index
    ex = ivf_topk(assigned, cents, None, k=5, nprobe=2, units=IVF_UNITS,
                  queries=emb)
    assert _no_driver_relation(_plan(ex))
    dr = ivf_topk(assigned, cents, list(range(5)), k=5, nprobe=2,
                  units=IVF_UNITS)
    assert _literal_probe(_plan(dr))


def test_driver_probe_max_is_a_literal_constant_budget(emb, unit_index):
    """An id list probes on the driver while its probe literal — ids ×
    probed cells × probe-row width constants — fits DRIVER_PROBE_MAX;
    one id more switches it to the executor expression. Both sides of
    the budget, for ivf_topk (row = id, vector, cell) and ivfpq_topk
    (row = id, cell, m × k ADC table)."""
    assigned, cents = unit_index
    dim = len(cents[0])
    per_id = 2 * (2 + dim)  # nprobe=2 cells, (query_id, q_vec, cluster)
    fit = DRIVER_PROBE_MAX // per_id
    at_max = ivf_topk(assigned, cents, list(range(fit)), k=5,
                      nprobe=2, units=IVF_UNITS)
    assert _literal_probe(_plan(at_max))
    over = ivf_topk(assigned, cents, list(range(fit + 1)), k=5,
                    nprobe=2, units=IVF_UNITS)
    assert _no_driver_relation(_plan(over))
    # an nprobe above the cell count probes (and costs) every cell
    fit = DRIVER_PROBE_MAX // (len(cents) * (2 + dim))
    every = ivf_topk(assigned, cents, list(range(fit)), k=5,
                     nprobe=10 * len(cents), units=IVF_UNITS)
    assert _literal_probe(_plan(every))
    codes, books = S.pq_build(emb, m=4, k=16, iters=1, units=IVF_UNITS,
                              pack=True)
    per_id = 3 * (2 + 4 * 16)  # nprobe=3 cells, (query_id, cluster, adc)
    fit = DRIVER_PROBE_MAX // per_id
    at_max = S.ivfpq_topk(assigned, cents, codes, books, list(range(fit)),
                          k=5, nprobe=3, units=IVF_UNITS)
    assert _literal_probe(_plan(at_max))
    over = S.ivfpq_topk(assigned, cents, codes, books,
                        list(range(fit + 1)), k=5, nprobe=3,
                        units=IVF_UNITS)
    assert _no_driver_relation(_plan(over))


def test_ivfsq_executor_probes_bit_equal_driver_probes(emb):
    """ivfsq_topk past the constant budget computes the probe cells and
    the residual byte codes on executors (nearest_centroid_ids,
    _residual, _sq_codes). Each query ranks on its own, so the
    executor answer restricted to a few ids must equal the driver-path
    answer for those ids, bit for bit."""
    index, cents, vmax = S.ivfsq_build(
        emb, coarse_k=8, coarse_iters=1, units=IVF_UNITS, in_dim=64
    )
    kw = dict(k=5, candidates=20, nprobe=3, units=IVF_UNITS, in_dim=64,
              index=index, centroids=cents, vmax=vmax)
    few = list(range(0, 60, 7))
    over = max(DRIVER_PROBE_MAX // (3 * (2 + 64)) + 1, 60)
    many = S.ivfsq_topk(emb, list(range(over)), **kw)
    assert _no_driver_relation(_plan(many))
    dr = S.ivfsq_topk(emb, few, **kw)
    assert _literal_probe(_plan(dr))
    got = _rows(many.where(F.col("query_id").isin(few)))
    assert got == _rows(dr) and len(got) == len(few) * 5


def _bits(x):
    return x if x is None else struct.pack(">d", x)


EDGE_DOUBLES = [0.1 + 0.2, -0.0, 5e-324, 1.7976931348623157e308]


def test_driver_probe_literal_doubles_are_exact(spark):
    """The driver path carries each query vector into the plan as a
    double literal. 0.1 + 0.2, -0.0, the smallest subnormal and the
    largest double must reach the cosine bit for bit, so the driver and
    executor paths give bit-identical vectors and scores. ``units=0``
    quantizes every vector to zero, so the probe (every cell ties) cannot
    overflow on the near-maximum element; the probe itself is pinned by
    the tests above."""
    dim = 6
    rows = [
        (i, [((i * 7 + d * 5) % 13 - 6) / 4.0 for d in range(dim)])
        for i in range(30)
    ]
    rows += [
        (100, EDGE_DOUBLES + [1.0, 2.0]),
        (101, [1.0, -0.0, 5e-324, 0.1 + 0.2, -1.0, 0.5]),
    ]
    emb = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    cents = [[0] * dim for _ in range(4)]
    assigned = emb.withColumn("cluster", F.lit(0))
    qids = [100, 101]
    dr = ivf_topk(assigned, cents, qids, k=8, nprobe=2, units=0)
    ex = ivf_topk(assigned, cents, None, k=8, nprobe=2, units=0,
                  queries=emb.where(F.col("vec_id").isin(qids)))
    # (the corpus here is itself a Python RDD)
    assert LITERAL.search(_plan(dr)) and "OneRowRelation" not in _plan(ex)

    def scored(df):
        return sorted(
            (r.query_id, r.vec_id, _bits(r.cos_sim), r.rn) for r in df.collect()
        )

    assert scored(dr) == scored(ex) and len(scored(dr)) == 2 * 8
    # the literal the driver path builds holds exactly the scanned doubles
    lit = S._local_relation(
        spark, [(i, v, 0) for i, v in rows[-2:]],
        "query_id BIGINT, q_vec ARRAY<DOUBLE>, cluster INT",
    )
    scanned = emb.where(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("query_id"), S._as_double(F.col("embedding"))
    )
    assert sorted((r[0], [_bits(x) for x in r[1]]) for r in lit.collect()) == sorted(
        (r[0], [_bits(x) for x in r[1]]) for r in scanned.collect()
    ) == sorted((i, [_bits(x) for x in v]) for i, v in rows[-2:])


@pytest.mark.parametrize("bad", [math.inf, -math.inf, math.nan])
def test_driver_probe_non_finite_matches_executor(spark, bad):
    """A non-finite query element behaves the same on both paths: the
    literal carries it exactly, so either both raise the same engine
    error (ANSI: the micro-unit cast overflows) or both give the same
    answer — never a SQL parse error on the driver path."""
    rows = [(i, [float(i % 5), 1.0, -1.0]) for i in range(10)]
    rows.append((50, [bad, 1.0, 0.5]))
    emb = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    assigned = emb.withColumn("cluster", F.lit(0))
    cents = [[0, 0, 0], [1, 1, 1]]

    def run(**kw):
        try:
            out = ivf_topk(assigned, cents, k=5, nprobe=2, units=1, **kw)
            return "rows", sorted(
                (r.query_id, r.vec_id, _bits(r.cos_sim)) for r in out.collect()
            )
        except PySparkException as e:
            return "error", type(e).__name__, "PARSE_SYNTAX_ERROR" in str(e)

    dr = run(query_ids=[50])
    assert dr == run(query_ids=None, queries=emb.where("vec_id = 50"))
    assert dr[-1] is not True


def test_ivf_topk_needs_exactly_one_query_source(emb, unit_index):
    """ivf_topk shares ivfpq_topk's query contract (whose refusals are
    pinned in test_round14_ops / test_round15_ops)."""
    assigned, cents = unit_index
    with pytest.raises(ValueError, match="not both"):
        ivf_topk(assigned, cents, [0, 1], units=IVF_UNITS, queries=emb)
    with pytest.raises(ValueError, match="query_ids.*or queries"):
        ivf_topk(assigned, cents, None, units=IVF_UNITS)


def test_ivfpq_executor_path_bit_equal_and_collect_free(emb, unit_index):
    """ivfpq_topk's executor path: probe cells from nearest_centroid_ids
    and ADC tables from the _adc_expr expression must reproduce the
    driver loop bit for bit (all-integer arithmetic both ways), with no
    driver-materialized relation. Covers plain AND residual mode (per-probed-
    cell residual tables — the Jégou §IV grain)."""
    assigned, cents = unit_index
    qids = list(range(20))
    queries = emb.where(F.col("vec_id") < 20)
    codes, books = S.pq_build(emb, m=4, k=16, iters=1, units=IVF_UNITS,
                              pack=True)
    a = S.ivfpq_topk(assigned, cents, codes, books, qids, k=5, nprobe=2,
                     units=IVF_UNITS)
    b = S.ivfpq_topk(assigned, cents, codes, books, None, k=5, nprobe=2,
                     units=IVF_UNITS, queries=queries)
    assert _rows(a) == _rows(b)
    rassigned, rcents, rcodes, rbooks = S.ivfpq_build_residual(
        emb, coarse_k=16, coarse_iters=1, m=4, k=16, iters=1, units=IVF_UNITS
    )
    ra = S.ivfpq_topk(rassigned, rcents, rcodes, rbooks, qids, k=5, nprobe=2,
                      units=IVF_UNITS, residual=True, embeddings=emb)
    rb = S.ivfpq_topk(rassigned, rcents, rcodes, rbooks, None, k=5, nprobe=2,
                      units=IVF_UNITS, residual=True, embeddings=emb,
                      queries=queries)
    assert _rows(ra) == _rows(rb)
    assert _literal_probe(_plan(ra))
    assert _no_driver_relation(_plan(rb))


@pytest.fixture(scope="module")
def residual_index(emb):
    return S.ivfpq_build_residual(
        emb, coarse_k=8, coarse_iters=1, m=4, k=8, iters=1,
        units=IVF_UNITS, pack=True,
    )


def test_ivfpq_bulk_matches_driver_path_per_query(emb, residual_index):
    """The bulk query-relation path must produce, for any query subset,
    exactly what the id-list path produces: same ADC candidate cut,
    same exact re-rank, same tie-breaks."""
    assigned, cents, codes, books = residual_index
    bulk = S.ivfpq_bulk_topk(
        assigned, cents, codes, books, emb, k=5, candidates=15, nprobe=2,
        units=IVF_UNITS,
    )
    got = _rows(bulk.where(F.col("query_id") < 8))
    # reference: the driver id-list ADC cut + a hand-written exact re-rank
    cand = S.ivfpq_topk(
        assigned, cents, codes, books, list(range(8)), k=15, nprobe=2,
        units=IVF_UNITS, embeddings=emb, residual=True,
    ).select("query_id", "vec_id")
    assert _literal_probe(_plan(cand))
    base = emb.select(
        "vec_id", S.quantized_units(F.col("embedding"), IVF_UNITS).alias("_u")
    )
    qp = base.select(
        F.col("vec_id").cast("bigint").alias("query_id"),
        F.col("_u").alias("_qu"),
    )
    w = Window.partitionBy("query_id").orderBy("d2_u", "vec_id")
    want = _rows(
        base.join(cand, "vec_id")
        .join(qp, "query_id")
        .select(
            "query_id",
            "vec_id",
            F.aggregate(
                F.zip_with("_u", "_qu", lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            ).alias("d2_u"),
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
    )
    assert got == want and len(got) == 8 * 5


def test_ivfpq_bulk_census_zero_query_side_collect(emb, residual_index):
    """The bulk plan must contain no driver-materialized relation
    (LogicalRDD / LocalRelation / a OneRowRelation literal) — every row
    flows from the distributed scans."""
    assigned, cents, codes, books = residual_index
    plan = _plan(
        S.ivfpq_bulk_topk(
            assigned, cents, codes, books, emb, k=5, candidates=15,
            nprobe=2, units=IVF_UNITS,
        )
    )
    assert _no_driver_relation(plan)


# ------------------------------------------------ PQ and IVFADC search


def test_pq_pack_roundtrip_same_topk(spark):
    """Bit-packed codes (one BIGINT) and column codes produce identical
    ADC top-k — the unpack projection is lossless."""
    emb = spark.createDataFrame(
        [(i, [float(((i * 7 + d * 3) % 11) - 5) for d in range(8)]) for i in range(40)],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    codes_cols, books = S.pq_build(emb, m=4, k=4, iters=1, units=1000)
    codes_packed, books2 = S.pq_build(
        emb, m=4, k=4, iters=1, units=1000, pack=True
    )
    assert books == books2
    assert codes_packed.columns == ["vec_id", "pq_code"]
    a = _rows(S.pq_topk(emb, codes_cols, books, [0, 1], k=5, units=1000))
    b = _rows(S.pq_topk(emb, codes_packed, books, [0, 1], k=5, units=1000))
    assert a == b and len(a) == 10


def _four_clusters(spark, seed):
    """4 well-separated cluster centers in 8 dims, 20 points each (ids
    ``20c .. 20c+19``)."""
    rng = random.Random(seed)
    rows = []
    for c in range(4):
        base = [10.0 * (1 if (c >> d) & 1 else -1) for d in range(8)]
        for i in range(20):
            rows.append(
                (c * 20 + i, [base[d] + rng.uniform(-1, 1) for d in range(8)])
            )
    return spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")


def test_ivfpq_recall_vs_brute(spark):
    """IVFADC finds the right NEIGHBORHOOD on clustered data: every
    result comes from the query's own (well-separated) cluster, like the
    exact brute-force result set does, and overlaps it (nprobe=2 of 4
    cells). Exact rank WITHIN a cluster of near-identical vectors is not
    asserted — there ADC-L2 and cosine legitimately order the noise
    differently."""
    emb = _four_clusters(spark, 7)
    assigned, cents = ivf_build(emb, k=4, iters=2, units=1000)
    codes, books = S.pq_build(emb, m=4, k=8, iters=1, units=1000, pack=True)
    got = S.ivfpq_topk(
        assigned, cents, codes, books, [0, 25], k=5, nprobe=2, units=1000
    ).collect()
    queries = emb.where(emb.vec_id.isin([0, 25]))
    exact = brute_force_topk(emb, queries, k=5).collect()
    for qid in (0, 25):
        g = {r.vec_id for r in got if r.query_id == qid}
        e = {r.vec_id for r in exact if r.query_id == qid}
        own_cluster = set(range((qid // 20) * 20, (qid // 20) * 20 + 20))
        assert len(g) == 5
        assert g <= own_cluster - {qid}  # right neighborhood, never self
        assert e <= own_cluster - {qid}
        assert g & e  # and the sets genuinely overlap


def test_ivfpq_residual_same_neighborhood_tighter_distances(spark):
    """Residual IVFADC finds the same cluster neighborhood as the raw
    form, and its ADC distances to same-cluster points are (on average)
    smaller — the codebooks only cover within-cell spread, which is the
    whole point of encoding residuals."""
    emb = _four_clusters(spark, 11)
    assigned, cents, rcodes, rbooks = S.ivfpq_build_residual(
        emb, coarse_k=4, coarse_iters=2, m=4, k=8, iters=1, units=1000
    )
    got = S.ivfpq_topk(
        assigned, cents, rcodes, rbooks, [0, 45], k=5, nprobe=2,
        units=1000, embeddings=emb, residual=True,
    ).collect()
    _, rawcents = ivf_build(emb, k=4, iters=2, units=1000)
    rawcodes, rawbooks = S.pq_build(
        emb, m=4, k=8, iters=1, units=1000, pack=True
    )
    raw = S.ivfpq_topk(
        assigned, rawcents, rawcodes, rawbooks, [0, 45], k=5, nprobe=2,
        units=1000, embeddings=emb,
    ).collect()
    for qid in (0, 45):
        own = set(range((qid // 20) * 20, (qid // 20) * 20 + 20)) - {qid}
        g = {r.vec_id for r in got if r.query_id == qid}
        assert len(g) == 5 and g <= own
    # residual quantization error is smaller on average
    mean_res = sum(r.adc_d2 for r in got) / len(got)
    mean_raw = sum(r.adc_d2 for r in raw) / len(raw)
    assert mean_res < mean_raw


def test_ivfpq_topk_requires_some_query_input(emb, unit_index):
    assigned, cents = unit_index
    codes, books = S.pq_build(emb, m=4, k=8, iters=1, units=IVF_UNITS,
                              pack=True)
    with pytest.raises(ValueError, match="query_ids.*or queries"):
        S.ivfpq_topk(assigned, cents, codes, books, None)


def test_ivfpq_bulk_recall_floor_vs_exact(emb):
    """Candidate-budget sanity for the bulk two-stage: with half the
    coarse cells probed and an 8x-k candidate budget, the kNN graph's
    mean recall@5 vs the exact integer-L2 ranking clears 0.5 (the same
    floor the interactive recall audits pin; exactness of the re-rank
    means every recalled id also carries the exact distance). This is
    the budget-sizing dial the bulk job tunes: at nprobe=4/8 cells and
    candidates=20 the same fixture measures ~0.44 — probing more cells
    buys the recall back."""
    emb = emb.where(F.col("vec_id") < 200)
    assigned, cents, codes, books = S.ivfpq_build_residual(
        emb, coarse_k=8, coarse_iters=1, m=4, k=8, iters=1,
        units=IVF_UNITS, pack=True,
    )
    approx = S.ivfpq_bulk_topk(
        assigned, cents, codes, books, emb, k=5, candidates=40, nprobe=6,
        units=IVF_UNITS,
    ).select("query_id", "vec_id")
    exact = S.int_l2_topk(emb, emb, k=5, units=IVF_UNITS).select(
        F.col("query_id"), F.col("vec_id").alias("true_id")
    )
    hits = approx.join(
        exact,
        (approx.query_id == exact.query_id)
        & (approx.vec_id == exact.true_id),
    ).count()
    n_q = 200
    recall = hits / (n_q * 5)
    assert recall >= 0.5, recall
