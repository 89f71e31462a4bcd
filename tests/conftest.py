from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hadoop_tfidf_spark.session import get_spark

SF_DIR_SMOKE = "/root/testdata/sf0.001"
SF_DIR_CORRECTNESS = "/root/testdata/sf0.01"

TZ_KEY = "spark.sql.session.timeZone"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark(app_name="hadoop_tfidf_spark_tests")
    yield s


def cached_rdd_ids(spark) -> frozenset[int]:
    """Ids of the RDDs the JVM currently holds in storage."""
    sc = spark.sparkContext
    return frozenset(i.id() for i in sc._jsc.sc().getRDDStorageInfo())


def _slow_tier_keys() -> set[str]:
    path = os.path.join(os.path.dirname(__file__), "slow_tests.txt")
    keys = set()
    with open(path) as fh:
        for ln in fh:
            ln = ln.strip()
            if ln and not ln.startswith("#"):
                keys.add(_nodeid_key(ln))
    return keys


def _nodeid_key(nodeid: str) -> str:
    # normalize to basename::test so the list matches regardless of the
    # directory pytest was invoked from
    path, _, rest = nodeid.partition("::")
    return os.path.basename(path) + "::" + rest


def pytest_collection_modifyitems(config, items):
    """Smoke tier: a plain ``pytest tests/`` deselects the slow tests
    (tests/slow_tests.txt, duration-derived) so the suite fits a driver/CI
    verify budget; ``SPARK_GRAFT_FULL_TESTS=1`` runs the full suite."""
    if os.environ.get("SPARK_GRAFT_FULL_TESTS"):
        return
    # naming test files or node ids asks for exactly those tests — don't
    # silently skip any of them (a directory still gets the smoke tier)
    if config.args and all(
        a.partition("::")[0].endswith(".py") for a in config.args
    ):
        return
    slow = _slow_tier_keys()
    kept = [it for it in items if _nodeid_key(it.nodeid) not in slow]
    dropped = [it for it in items if _nodeid_key(it.nodeid) in slow]
    if dropped:
        config.hook.pytest_deselected(items=dropped)
        items[:] = kept
