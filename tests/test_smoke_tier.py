"""The smoke tier (tests/slow_tests.txt) deselects slow tests from a
directory run, but never from an invocation that names files or node
ids."""

from __future__ import annotations

import os
from types import SimpleNamespace

from tests import conftest

HERE = os.path.dirname(os.path.abspath(__file__))
SLOW = "tests/test_cli.py::test_knn_build_then_serve_matches_one_shot"


def _select(args, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_FULL_TESTS", raising=False)
    items = [
        SimpleNamespace(nodeid=SLOW),
        SimpleNamespace(nodeid="tests/test_cli.py::fast"),
    ]
    dropped = []
    config = SimpleNamespace(
        args=args,
        hook=SimpleNamespace(
            pytest_deselected=lambda items: dropped.extend(items)
        ),
    )
    conftest.pytest_collection_modifyitems(config, items)
    return [it.nodeid for it in items], [it.nodeid for it in dropped]


def test_directory_run_deselects_slow_tests(monkeypatch):
    kept, dropped = _select([HERE], monkeypatch)
    assert kept == ["tests/test_cli.py::fast"] and dropped == [SLOW]


def test_named_files_and_node_ids_keep_slow_tests(monkeypatch):
    for args in (
        [os.path.join(HERE, "test_cli.py")],
        [os.path.join(HERE, "test_cli.py"), SLOW],
    ):
        kept, dropped = _select(args, monkeypatch)
        assert SLOW in kept and not dropped, args
