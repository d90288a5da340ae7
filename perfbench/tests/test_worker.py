import pytest

from perfbench import worker
from perfbench.eventlog import Work


def _op(key, op_ms, i, **extra):
    return {"key": key, "op": i, "error": None, "op_ms": op_ms, "cpu_ms": 2 * op_ms,
            **extra}


def test_end_to_end_reports_samples_and_weighs_keys_equally():
    ops = [_op("a", 100.0, 0), _op("a", 300.0, 1), _op("a", 200.0, 2),
           _op("b", 10.0, 3), {"key": "b", "op": 4, "error": "boom", "cpu_ms": 0.0}]
    e = worker.end_to_end(ops)
    assert e["op_samples"] == 4  # the failed op is not a latency sample
    assert e["op_p50_ms"] == 150.0
    assert e["ops_per_s"] == pytest.approx(4 / 0.61)
    assert e["op_geomean_ms"] == pytest.approx((200.0 * 10.0) ** 0.5)
    assert e["cpu_ms_per_op"] == pytest.approx(2 * 610 / 4)


def test_layers_sum_tagged_work_per_op():
    common = {"build_ms": 50.0, "rows": 10, "phases": {"analysis": 4.0},
              "python_cpu_ms": 0.0, "gc_ms": 1.0}
    ops = [
        _op("agg_grouped", 1000.0, 7, end_epoch_ms=5000.0, **common),
        _op("join_multiway", 500.0, 8, end_epoch_ms=9000.0, **common),
    ]
    work = {
        "bench:w:agg_grouped:7:build": Work(jobs=2, tasks=4, run_ms=400.0),
        "bench:w:agg_grouped:7:collect": Work(jobs=1, tasks=4, run_ms=800.0,
                                             last_job_end_ms=4900),
        "bench:w:join_multiway:8:collect": Work(jobs=3, tasks=8, run_ms=1200.0,
                                               last_job_end_ms=8950),
    }
    lay = worker.layers("w", ops, work, cores=4)
    assert lay["exec.jobs"] == 3.0
    assert lay["exec.tasks"] == 8.0
    assert lay["exec.run_ms"] == 1200.0
    assert lay["registry.build_jobs"] == 1.0
    assert lay["exec.busy_frac"] == pytest.approx(2400.0 / (4 * 1500.0))
    assert lay["result.tail_ms"] == pytest.approx((100.0 + 50.0) / 2)
    assert lay["plan.analysis_ms"] == 4.0
    assert lay["operators.aggregates.op_ms"] == 1000.0
    assert lay["operators.joins.op_ms"] == 500.0
    assert lay["llm.text.op_ms"] == 0.0


class _Passes:
    """A stand-in Runner whose passes take the given times."""

    def __init__(self, times):
        self.times = list(times)
        self.n = 0

    def run_pass(self):
        self.n += 1
        return [{"key": "a", "digest": "1:00"}], self.times.pop(0)


def test_set_up_is_a_fixed_amount_of_work():
    r = _Passes([20.0, 6.0, 5.0])
    cold, passes = worker.warm_up(r)
    assert r.n == 1 + worker.MIN_WARM and passes == [20.0, 6.0, 5.0]


def test_the_first_timed_pass_settles_the_warm_up():
    # within SETTLE of the last warm pass: it is timed, none set aside
    ops, p, aside = worker.settled_pass(_Passes([4.8]), 5.0)
    assert (p, aside) == (4.8, [])
    # an unsettled pass is set aside and the next one tried
    assert worker.settled_pass(_Passes([4.0, 3.9]), 5.0)[1:] == (3.9, [4.0])
    # never more than MAX_SETTLE passes set aside
    _, p, aside = worker.settled_pass(_Passes([3.0, 5.0, 3.0]), 4.0)
    assert len(aside) == worker.MAX_SETTLE and p == 5.0


def test_timed_phase_fills_the_seconds_with_whole_passes():
    assert worker.timed_passes(20.0, 4.0) == 5
    assert worker.timed_passes(12.0, 9.0) == worker.MIN_TIMED
