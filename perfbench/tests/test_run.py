from perfbench import run, worker
from perfbench.metrics import END_TO_END


def _report(ops: list[dict]) -> dict:
    return {
        "timed": worker.end_to_end(ops),
        "setup_s": 30.0,
        "checks": {"a": {"ok": True}},
        "ops_attempted": len(ops),
        "ops_failed": sum(1 for o in ops if o["error"]),
    }


def _op(error=None):
    return {"key": "a", "op": 0, "error": error, "op_ms": 500.0, "cpu_ms": 900.0}


def test_result_prints_every_end_to_end_metric():
    res = run.result(_report([_op(), _op(), _op("boom")]), trace=0)
    assert set(res["metrics"]) == set(END_TO_END)
    assert (res["correct"], res["attempted"], res["failed"]) == (False, 3, 1)


def test_no_successful_timed_op_gives_no_result():
    assert run.result(_report([_op("boom"), _op("boom")]), trace=0) is None
