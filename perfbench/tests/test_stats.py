from types import SimpleNamespace

import numpy as np
import pytest

from run import Loop
from stats import percentile, spread, summarize, tail_percentile


@pytest.mark.parametrize("n,want", [
    (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0), (100, 90.0),
    (199, 90.0), (200, 95.0), (999, 95.0), (1000, 99.0), (10_000, 99.9),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert tail_percentile(n) == want
    if want is not None:
        xs = list(range(n))
        beyond = [x for x in xs if x > percentile(xs, want)]
        assert len(beyond) >= 10


def test_percentile_matches_numpy_linear():
    xs = list(np.random.default_rng(0).random(57))
    for pct in (0, 10, 50, 75, 90, 100):
        assert percentile(xs, pct) == pytest.approx(np.percentile(xs, pct))


def test_summarize_states_count_and_tail():
    s = summarize([float(i) for i in range(1, 101)])
    assert s["n"] == 100 and s["p50"] == 50.5 and s["tail_pct"] == 90.0
    assert "tail" not in summarize([1.0, 2.0, 3.0])


def test_spread_is_iqr_over_median():
    assert spread([1.0, 2.0, 3.0, 4.0, 5.0]) == pytest.approx((4.5 - 1.5) / 3.0)


def test_op_medians_weight_each_kind_median_by_its_share():
    loop = Loop()
    loop.latencies = {"lex": [0.8, 1.0, 1.2], "knn": [3.0, 3.4]}
    loop.cpu = {"lex": [2.0, 2.0, 2.6], "knn": [1.0, 5.0]}
    # one median over the mix would read 1.2 s; per kind: (3 x 1.0 + 2 x 3.2) / 5
    assert loop.e2e()["op_p50_ms"] == pytest.approx(1880.0)
    assert loop.e2e()["op_cpu_ms"] == pytest.approx((3 * 2000.0 + 2 * 3000.0) / 5)
    assert Loop().e2e() == {}


def test_loop_counts_raised_operations_and_failed_checks():
    def op(i):
        if i % 3 == 0:
            raise RuntimeError("boom")
        m = SimpleNamespace(wall=0.001, cpu=0.002)
        return "k", m, ["wrong"] if i % 3 == 1 else []

    loop = Loop()
    loop.run(op, 0.01)
    n = loop.attempted
    assert n >= 3
    assert loop.failed == sum(i % 3 in (0, 1) for i in range(n))
    assert loop.done == sum(i % 3 != 0 for i in range(n))


def test_measure_counts_cpu_of_child_processes():
    import subprocess
    import sys

    from proc import Measure

    with Measure() as m:
        subprocess.run([sys.executable, "-c", "sum(i * i for i in range(3_000_000))"],
                       check=True)
    # the child burns CPU and is reaped inside the block: its time still counts
    assert m.cpu >= 0.05
    assert m.wall > 0


def test_loop_stops_at_max_ops_before_the_deadline():
    loop = Loop()
    loop.run(lambda i: ("k", SimpleNamespace(wall=0.0, cpu=0.0), []), 60.0,
             start_index=5, max_ops=4)
    assert loop.attempted == 4 and loop.done == 4
