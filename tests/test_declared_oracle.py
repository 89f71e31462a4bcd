"""t2-style oracle-diff tests: every declared query (the __spark_entry__
contract) hash-matches the DuckDB oracle at sf0.01 (SURVEY.md §5.1), and
gate relations that could match vacuously are non-empty."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR_CORRECTNESS
from tests.oracle import assert_matches_oracle

import __spark_entry__ as entrymod


def _cases():
    q = entrymod.queries()
    o = entrymod.oracle_sql()
    return [(name, q[name], o.get(name)) for name in sorted(q)]


@pytest.mark.parametrize("name,builder,sql", _cases(), ids=[c[0] for c in _cases()])
def test_declared_query_matches_oracle(spark, name, builder, sql):
    df = builder(spark, SF_DIR_CORRECTNESS)
    if sql is None:
        # rows-only check (non-SQL-expressible op), like the driver's weak gate
        assert df.count() >= 0
        return
    assert_matches_oracle(df, sql, SF_DIR_CORRECTNESS)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns == ["query_id", "doc_id", "score", "rnk"]


def test_gate_relations_are_non_vacuous(spark):
    """Two gate relations that could match vacuously (empty == empty)
    check real data at the gate SF."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    sf = SF_DIR_CORRECTNESS
    assert qs["dedup_embedding"](spark, sf).count() > 0
    assert qs["rel_customers_without_orders"](spark, sf).count() > 0
