"""IVF (coarse-quantized ANN) tests: assignment sanity and recall vs the
brute-force baseline on the real embeddings table, and the two probe
paths of ``ivf_topk`` / ``ivfpq_topk`` — an id list of at most
``DRIVER_PROBE_MAX`` ids probes on the driver, a ``queries=`` relation
(or a longer list) probes on executors with zero query-side collect —
which must agree bit for bit."""

from __future__ import annotations

import pytest
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
    return ivf_build(emb, k=8, iters=2)


@pytest.fixture(scope="module")
def unit_index(emb):
    return ivf_build(emb, k=16, iters=1, units=IVF_UNITS)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


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


def test_executor_probes_bit_equal_driver_probes_units(emb, unit_index):
    """units mode: the nearest_centroid_ids expression (executor path,
    fed a queries= relation) must reproduce the driver twin's exact
    integer distances and (d2, ci) tie-break (id-list path) — same
    probes, same candidates, same top-k, bit for bit."""
    assigned, cents = unit_index
    a = ivf_topk(assigned, cents, list(range(40)), k=5, nprobe=3,
                 units=IVF_UNITS)
    b = ivf_topk(assigned, cents, None, k=5, nprobe=3, units=IVF_UNITS,
                 queries=emb.where(F.col("vec_id") < 40))
    ra, rb = _rows(a), _rows(b)
    assert ra == rb
    assert len(ra) == 40 * 5


def test_executor_probes_match_driver_float_path(emb, index):
    """float mode: same equivalence on this fixture (the paths can only
    diverge on near-exact centroid ties, which the fixture has none of)."""
    assigned, cents = index
    a = ivf_topk(assigned, cents, list(range(20)), k=5, nprobe=2)
    b = ivf_topk(assigned, cents, None, k=5, nprobe=2,
                 queries=emb.where(F.col("vec_id") < 20))
    assert _rows(a) == _rows(b)


def test_executor_path_has_zero_query_side_collect(emb, unit_index):
    """The bulk-path plan census: an id-list probe relation is built
    from collected query rows (createDataFrame → LogicalRDD); the
    relation path must have NONE — every relation in its plan comes from
    the distributed scan, so a 10⁶-query re-rank never funnels through
    the driver."""
    assigned, cents = unit_index
    ex = ivf_topk(assigned, cents, None, k=5, nprobe=2, units=IVF_UNITS,
                  queries=emb)
    plan = _plan(ex)
    assert "LogicalRDD" not in plan and "LocalRelation" not in plan
    dr = ivf_topk(assigned, cents, list(range(5)), k=5, nprobe=2,
                  units=IVF_UNITS)
    assert "LogicalRDD" in _plan(dr)


def test_driver_probe_max_picks_path_by_id_count(emb, unit_index):
    """Up to DRIVER_PROBE_MAX ids keep the interactive driver path; one
    more switches an id list to the executor expression — observable
    from whether the probe relation is a LogicalRDD."""
    assigned, cents = unit_index
    assert DRIVER_PROBE_MAX == 256
    at_max = ivf_topk(assigned, cents, list(range(DRIVER_PROBE_MAX)), k=5,
                      nprobe=2, units=IVF_UNITS)
    assert "LogicalRDD" in _plan(at_max)
    over = ivf_topk(assigned, cents, list(range(DRIVER_PROBE_MAX + 1)), k=5,
                    nprobe=2, units=IVF_UNITS)
    plan = _plan(over)
    assert "LogicalRDD" not in plan and "LocalRelation" not in plan


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
    driver loop bit for bit (all-integer arithmetic both ways), with a
    LogicalRDD-free plan. Covers plain AND residual mode (per-probed-
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
    assert "LogicalRDD" in _plan(ra)
    plan = _plan(rb)
    assert "LogicalRDD" not in plan and "LocalRelation" not in plan


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
    assert "LogicalRDD" in _plan(cand)
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
    (LogicalRDD / LocalRelation) — every row flows from the distributed
    scans."""
    assigned, cents, codes, books = residual_index
    plan = _plan(
        S.ivfpq_bulk_topk(
            assigned, cents, codes, books, emb, k=5, candidates=15,
            nprobe=2, units=IVF_UNITS,
        )
    )
    assert "LogicalRDD" not in plan and "LocalRelation" not in plan
