import pytest

from perfbench import trace


def _batch(query, batch, op, rows, trig, state=0, mem=0):
    return {
        "op": op, "query": query, "batch": batch, "input_rows": rows,
        "trigger_ms": trig, "add_batch_ms": trig / 2, "planning_ms": 1,
        "wal_commit_ms": 2, "commit_ms": 3, "latest_offset_ms": 4,
        "state_rows": state, "state_mem_bytes": mem, "state_commit_ms": 5,
        "sink_rows": rows,
    }


def test_stream_summary_aggregates_per_op_and_per_drain():
    batches = [
        _batch("q1", 0, 0, 100, 10.0, state=5, mem=50),
        _batch("q1", 1, 0, 50, 20.0, state=7, mem=70),
        _batch("q2", 0, 1, 0, 30.0),
    ]
    s = trace.stream_summary(batches, n_ops=2, drain_s=1.5)
    assert s["stream.drains"] == 2
    assert s["stream.empty_drains"] == 1  # q2 read nothing
    assert s["stream.batches"] == 1.5
    assert s["stream.input_rows"] == 75
    assert s["stream.add_batch_ms"] == 15
    assert s["stream.wal_commit_ms"] == 3
    # state is a level: the last batch of each drain counts, not the sum
    assert s["stream.state_rows"] == 7 / 2
    assert s["stream.state_mem_bytes"] == 70 / 2
    assert s["ingest_rows_per_s"] == 100
    assert s["batch_p50_ms"] == 20.0
    assert s["batch_count"] == 3


def test_stream_summary_without_streams_is_zero():
    s = trace.stream_summary([], n_ops=4, drain_s=0.0)
    assert s["stream.batches"] == 0 and s["ingest_rows_per_s"] == 0
    assert s["batch_p90_ms"] == 0


def test_spans_nest_and_self_time_excludes_children():
    sp = trace.Spans(True)
    with sp.span("op", 0):
        with sp.span("build", 0):
            pass
        with sp.span("collect", 0):
            pass
    op, build, collect = sp.items
    assert op["parent"] is None and build["parent"] == 0 and collect["parent"] == 0
    assert {s["op"] for s in sp.items} == {0}
    # fix times so the arithmetic is exact
    op["start"], op["end"] = 0.0, 1.0
    build["start"], build["end"] = 0.1, 0.4
    collect["start"], collect["end"] = 0.5, 0.9
    own = trace.self_times_ms(sp.items)
    assert own["op"] == pytest.approx(300.0)
    assert own["build"] == pytest.approx(300.0)
    assert own["collect"] == pytest.approx(400.0)


def test_disabled_spans_record_nothing():
    sp = trace.Spans(False)
    with sp.span("op"):
        pass
    assert sp.items == []
