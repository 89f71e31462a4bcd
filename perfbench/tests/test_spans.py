import json

import pytest

from spans import Span, Tracer, counters_for, group_id, lineage_self, read_event_counters


def test_lineage_self_is_cumulative_minus_upstream():
    # each forced run's work nests its upstream's: tokenize < count < tfidf
    spans = [
        Span(1, "corpus.tokenize", "b1", None, 0.0, 2.0),
        Span(2, "tfidf.doc_word_count", "b1", None, 2.0, 5.0,
             {"upstream": "corpus.tokenize"}),
        Span(3, "tfidf.exec", "b1", None, 5.0, 9.5, {"upstream": "tfidf.doc_word_count"}),
        # another trace: upstream resolution stays inside its own trace
        Span(4, "corpus.tokenize", "b2", None, 0.0, 1.0),
        Span(5, "tfidf.doc_word_count", "b2", None, 1.0, 1.9,
             {"upstream": "corpus.tokenize"}),
    ]
    st = lineage_self(spans)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(1.0)
    assert st[3] == pytest.approx(1.5)
    assert st[5] == pytest.approx(0.0)  # noise below upstream clamps to 0


class FakeContext:
    def __init__(self):
        self.groups = []

    def setJobGroup(self, gid, desc):
        self.groups.append(gid)

    def setLocalProperty(self, key, value):
        self.groups.append(value)


def test_tracer_nests_and_restores_job_groups(tmp_path):
    sc = FakeContext()
    tr = Tracer(sc)
    with tr.span("op", "q1") as op:
        with tr.span("plan", "q1") as plan:
            pass
    assert plan.parent == op.span_id and op.parent is None
    assert sc.groups == [group_id(op.span_id), group_id(plan.span_id),
                         group_id(op.span_id), None]
    tr.write(tmp_path / "spans.jsonl")
    rows = [json.loads(x) for x in open(tmp_path / "spans.jsonl")]
    assert [r["name"] for r in rows] == ["op", "plan"]
    assert {r["trace_id"] for r in rows} == {"q1"}


def test_event_counters_attributed_by_job_group(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "span-7"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 1500, "Executor CPU Time": 10**9, "JVM GC Time": 20,
            "Input Metrics": {"Records Read": 100, "Bytes Read": 4096},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 64},
            "Memory Bytes Spilled": 1, "Disk Bytes Spilled": 2}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {
            "Executor Run Time": 999}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    c = read_event_counters(str(tmp_path))
    assert set(c) == {"span-7"}
    got = c["span-7"]
    assert got["jobs"] == 1 and got["stages"] == 1 and got["tasks"] == 1
    assert got["run_s"] == pytest.approx(1.5) and got["cpu_s"] == pytest.approx(1.0)
    assert got["input_records"] == 100 and got["spill_bytes"] == 3
    total = counters_for([Span(7, "x", "t", None, 0, 1)], c)
    assert total["shuffle_write_bytes"] == 64
