"""Self-tests for the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import eventlog, spans, stats, streamstats
from perfbench.workloads import FEED, WORKLOADS, op_kind

HERE = os.path.dirname(os.path.abspath(__file__))


# -- tail percentile -------------------------------------------------------


def test_tail_keeps_ten_samples_beyond():
    xs = [float(i) for i in range(1, 41)]  # 40 samples
    value, pct, beyond = stats.tail(xs)
    assert (value, pct, beyond) == (30.0, 75.0, 10)
    assert sum(x > value for x in xs) == 10


def test_tail_is_order_free_and_counts_beyond():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 4  # 20 samples
    value, pct, beyond = stats.tail(xs)
    assert (pct, beyond) == (50.0, 10)
    assert value == sorted(xs)[9]


def test_tail_without_enough_samples_reports_the_maximum():
    assert stats.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 0)
    assert stats.tail([1.0] * 10) == (1.0, 100.0, 0)
    value, pct, beyond = stats.tail([float(i) for i in range(11)])
    assert (value, beyond) == (0.0, 10)


def test_quartiles_match_statistics_module():
    q1, q2, q3 = stats.quartiles([1.0, 2.0, 3.0, 4.0, 5.0])
    assert (q1, q2, q3) == (1.5, 3.0, 4.5)


# -- span self time --------------------------------------------------------


def _span(name, start, end, parent=None, op="0:q"):
    return spans.Span(name, start, end, parent, op)


def test_self_time_subtracts_children():
    sp = [
        _span("op:q", 0.0, 10.0),
        _span("build", 0.0, 6.0, parent=0),
        _span("io.write:write_x", 1.0, 3.0, parent=1),
        _span("io.read:read_x", 3.5, 5.0, parent=1),
        _span("exec", 6.0, 9.5, parent=0),
    ]
    assert spans.self_times(sp) == pytest.approx([0.5, 2.5, 2.0, 1.5, 3.5])
    # self times of one op tree add up to the op's wall time
    assert sum(spans.self_times(sp)) == pytest.approx(10.0)
    by_layer = spans.layer_self_times(sp)
    assert by_layer["io.write"] == pytest.approx(2.0)
    assert by_layer["op"] == pytest.approx(0.5)


def test_self_time_clips_children_to_parent():
    sp = [_span("op:q", 0.0, 2.0), _span("build", 1.0, 3.0, parent=0)]
    assert spans.self_times(sp) == pytest.approx([1.0, 2.0])


def test_tracer_records_nesting_and_op():
    tr = spans.Tracer()
    tr.op = "3:q"
    with tr.span("op:q"):
        with tr.span("build"):
            pass
    assert [(s.name, s.parent, s.op) for s in tr.spans] == [
        ("op:q", None, "3:q"),
        ("build", 0, "3:q"),
    ]
    assert all(s.end >= s.start for s in tr.spans)


# -- streaming progress ----------------------------------------------------


def _progress(run, rows, trigger, state_rows, add_batch=10):
    return {
        "runId": run,
        "numInputRows": rows,
        "durationMs": {
            "latestOffset": 1, "queryPlanning": 2, "addBatch": add_batch,
            "walCommit": 3, "commitOffsets": 4, "triggerExecution": trigger,
        },
        "stateOperators": [{"numRowsTotal": state_rows, "commitTimeMs": 5}],
    }


def test_stream_summary_phases_and_ratios():
    prog = [
        _progress("a", 100, 30, 7),
        _progress("a", 0, 10, 9),
        _progress("b", 50, 20, 4, add_batch=20),
    ]
    s = streamstats.summarize(prog)
    assert s["stream.batches"] == 3
    assert s["stream.empty_batch_ratio"] == pytest.approx(1 / 3)
    assert s["stream.batch_p50_ms"] == 20
    assert s["stream.add_batch_ms"] == 40
    assert s["stream.wal_commit_ms"] == 9
    assert s["stream.input_rows"] == 150
    assert s["stream.state_commit_ms"] == 15
    assert s["stream.state_rows"] == 9 + 4  # last state per query


def test_stream_summary_empty():
    s = streamstats.summarize([])
    assert s["stream.batches"] == 0 and s["stream.empty_batch_ratio"] == 0


# -- event log -------------------------------------------------------------


def test_eventlog_aggregates_a_recorded_log():
    """``fixtures/eventlog_small.jsonl`` was recorded from a local[2]
    session: one job group "g1" ran a two-stage aggregation over 4 + 2
    tasks, one "g2" ran a mapInPandas over 2 tasks, and one job had no
    group and starts inside g2's window."""
    with open(os.path.join(HERE, "fixtures", "eventlog_small.jsonl")) as fh:
        lines = fh.readlines()
    starts = {}
    for line in lines:
        ev = json.loads(line)
        if ev["Event"] == "SparkListenerJobStart":
            starts[ev["Job ID"]] = ev["Submission Time"] / 1e3
    windows = [("g1", 0.0, 0.0), ("g2", starts[2] - 0.001, starts[2] + 0.001)]
    out = eventlog.aggregate(lines, windows)
    g1, g2 = out["g1"], out["g2"]
    assert g1["exec.jobs"] == 1 and g1["exec.stages"] == 2 and g1["exec.tasks"] == 6
    assert g1["exec.shuffle_write_mb"] > 0 and g1["exec.shuffle_read_mb"] > 0
    assert g1["python.sent_mb"] == 0
    assert g2["exec.jobs"] == 2 and g2["exec.tasks"] == 3
    assert g2["python.sent_mb"] > 0 and g2["python.rows_received"] == 1000
    assert g2["python.total_s"] > 0
    for g in (g1, g2):
        assert g["exec.failed_tasks"] == 0
        assert g["exec.task_run_s"] >= 0 and g["exec.sched_delay_s"] >= 0


# -- workloads -------------------------------------------------------------


def test_workload_ops_exist_and_have_oracles():
    from fireworks_spark.registry import ORACLES, QUERIES

    for cycle in WORKLOADS.values():
        for name in cycle:
            if name != FEED:
                assert name in QUERIES and name in ORACLES, name


def test_op_kinds():
    assert op_kind(FEED) == "feed"
    assert op_kind("q69_stream_sliding") == "stream"
    assert op_kind("q123_orc_roundtrip") == "roundtrip"
    assert op_kind("q02_filter_predicates") == "query"


# -- comparison ------------------------------------------------------------


def _record(host, value):
    return json.dumps({
        "perfbench_record": 1, "workload": "analytics", "seed": 1, "trace": 0,
        "host": host, "code": {}, "metrics": {"op_p50_s": value},
    })


def test_compare_refuses_different_hosts(tmp_path, capsys):
    from perfbench import compare

    a, b = tmp_path / "a.out", tmp_path / "b.out"
    a.write_text(_record({"nproc": 4}, 1.0) + "\n")
    b.write_text(_record({"nproc": 8}, 0.5) + "\n")
    assert compare.main([str(a), str(b)]) == 3
    b.write_text("noise\n" + _record({"nproc": 4}, 0.5) + "\n")
    assert compare.main([str(a), str(b)]) == 0
    assert "new/base 0.5000" in capsys.readouterr().out
