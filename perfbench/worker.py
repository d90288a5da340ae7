"""The measured process: one workload, one seed, one SparkSession.

Run by ``perfbench/run.py`` (``python3 -m perfbench.worker ...`` from the
checkout root) after the inputs are generated.  Phases:

1. set-up: ``get_spark``, ``load_all_operators``, a cold pass over every
   key (first catalog load, Python worker start, stream staging) and
   ``MIN_WARM`` warm passes.  ``setup_s`` ends here, so it always
   counts the same work;
2. timed: whole passes over the keys, as many as fill ``--seconds``
   (at least ``MIN_TIMED``).  Its first pass settles the warm-up: a
   pass more than ``SETTLE`` off the pass before it is set aside as
   warm-up and run again (at most ``MAX_SETTLE`` times), outside
   ``setup_s``;
3. traced (``--trace 1`` only): the same passes again with job tags,
   the streaming listener and per-op counters on;
4. checks: each key's first warm-up result against DuckDB, after Spark
   has stopped.

Writes one JSON document to ``--out``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # process start, before pyspark is imported

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import nullcontext  # noqa: E402

from perfbench import check, proctree, stats, trace  # noqa: E402
from perfbench.eventlog import Work, parse_dir  # noqa: E402
from perfbench.workloads import ALL_MODULES, MODULES, ROW_COUNT_SQL, WORKLOADS  # noqa: E402

MIN_WARM = 2  # warm passes inside set-up
SETTLE = 0.10  # a pass within 10 % of the previous one is settled
MAX_SETTLE = 1  # unsettled passes set aside after set-up, at most
MIN_TIMED = 2  # timed passes, at least


class Runner:
    def __init__(self, spark, workload: str, data: str, spans: trace.Spans) -> None:
        import tweetdb_spark

        self.spark = spark
        self.sc = spark.sparkContext
        self.queries = tweetdb_spark.QUERIES
        self.workload = workload
        self.keys = WORKLOADS[workload]
        self.data = data
        self.me = os.getpid()
        self.spans = spans
        self.traced = False  # per-op tags and counters on
        self.batches: list[dict] = []
        self.current_op: list = [None]
        self.n_ops = 0

    # -- one op ---------------------------------------------------------
    def op(self, key: str) -> dict:
        """Build and collect ``key`` once; never raises."""
        rep = self.n_ops
        self.n_ops += 1
        rec: dict = {"key": key, "op": rep, "digest": None, "error": None}
        tag = f"bench:{self.workload}:{key}:{rep}"
        cpu0 = proctree.thread_cpu(proctree.tree(self.me))
        if self.traced:
            self.current_op[0] = rep
            gc0 = self._gc_ms()
            py0 = proctree.thread_cpu(proctree.python_workers(self.me))
        with self.spans.span("op", rep):
            t0 = time.perf_counter()
            try:
                with self.spans.span("build", rep), self._tag(f"{tag}:build"):
                    df = self.queries[key](self.spark, self.data)
                t1 = time.perf_counter()
                with self.spans.span("collect", rep), self._tag(f"{tag}:collect"):
                    rows = df.collect()
                t2 = time.perf_counter()
                rec["end_epoch_ms"] = time.time() * 1000.0
            except Exception as exc:  # an op failure is counted, not fatal
                rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
                traceback.print_exc(file=sys.stderr)
        rec["cpu_ms"] = proctree.cpu_delta(cpu0, proctree.thread_cpu(proctree.tree(self.me)))
        if self.traced:  # deliver this op's streaming progress before the next op
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
            self.current_op[0] = None
        if rec["error"] is not None:
            return rec
        rec.update(
            build_ms=(t1 - t0) * 1000.0,
            collect_ms=(t2 - t1) * 1000.0,
            op_ms=(t2 - t0) * 1000.0,
            rows=len(rows),
            digest=check.digest(df.columns, rows),
        )
        if self.traced:
            rec["gc_ms"] = self._gc_ms() - gc0
            rec["python_cpu_ms"] = proctree.cpu_delta(
                py0, proctree.thread_cpu(proctree.python_workers(self.me))
            )
            rec["phases"] = self._phases(df)
        return rec

    def _tag(self, tag: str):
        return _JobTag(self.sc, tag) if self.traced else nullcontext()

    def _gc_ms(self) -> float:
        beans = self.sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return float(sum(b.getCollectionTime() for b in beans))

    @staticmethod
    def _phases(df) -> dict[str, float]:
        phases = df._jdf.queryExecution().tracker().phases()
        return {
            name: float(phases.apply(name).durationMs())
            for name in ("analysis", "optimization", "planning")
            if phases.contains(name)
        }

    def run_pass(self) -> tuple[list[dict], float]:
        with self.spans.span("pass"):
            ops = [self.op(k) for k in self.keys]
        return ops, sum(o.get("op_ms", 0.0) for o in ops) / 1000.0


class _JobTag:
    def __init__(self, sc, tag: str) -> None:
        self.sc, self.tag = sc, tag

    def __enter__(self):
        self.sc.addJobTag(self.tag)

    def __exit__(self, *exc):
        self.sc.removeJobTag(self.tag)
        return False


def end_to_end(ops: list[dict]) -> dict:
    """End-to-end figures of the successful ops of one timed phase."""
    ok = [o for o in ops if o["error"] is None]
    if not ok:
        return {}
    ms = [o["op_ms"] for o in ok]
    per_key: dict[str, list[float]] = {}
    for o in ok:
        per_key.setdefault(o["key"], []).append(o["op_ms"])
    return {
        "ops_per_s": len(ok) / (sum(ms) / 1000.0),
        "op_p50_ms": statistics.median(ms),
        "op_samples": len(ms),
        "op_geomean_ms": stats.per_key_geomean(per_key),
        "cpu_ms_per_op": sum(o["cpu_ms"] for o in ok) / len(ok),
    }


def layers(workload: str, ops: list[dict], work: dict, cores: int) -> dict:
    """Per-op layer figures of the traced phase."""
    ok = [o for o in ops if o["error"] is None]
    n = max(len(ok), 1)
    out: dict = {}
    total = Work()
    build_jobs, tails = 0, []
    for o in ok:
        tag = f"bench:{workload}:{o['key']}:{o['op']}"
        b, c = work.get(f"{tag}:build", Work()), work.get(f"{tag}:collect", Work())
        total.add(b)
        total.add(c)
        build_jobs += b.jobs
        if c.last_job_end_ms:
            tails.append(o["end_epoch_ms"] - c.last_job_end_ms)
    for f in ("jobs", "stages", "tasks", "run_ms", "cpu_ms", "gc_ms", "input_bytes",
              "shuffle_read_bytes", "shuffle_write_bytes", "fetch_wait_ms", "spill_bytes"):
        out[f"exec.{f}"] = getattr(total, f) / n
    op_ms = sum(o["op_ms"] for o in ok)
    out["exec.busy_frac"] = total.run_ms / (cores * op_ms) if op_ms else 0.0
    out["registry.build_ms"] = sum(o["build_ms"] for o in ok) / n
    out["registry.build_jobs"] = build_jobs / n
    for ph in ("analysis", "optimization", "planning"):
        out[f"plan.{ph}_ms"] = sum(o["phases"].get(ph, 0.0) for o in ok) / n
    out["result.rows"] = sum(o["rows"] for o in ok) / n
    out["result.tail_ms"] = sum(tails) / len(tails) if tails else 0.0
    out["python.worker_cpu_ms"] = sum(o["python_cpu_ms"] for o in ok) / n
    out["jvm.gc_ms"] = sum(o["gc_ms"] for o in ok) / n
    for mod in ALL_MODULES:
        ms = [o["op_ms"] for o in ok if MODULES[o["key"]] == mod]
        out[f"{mod}.op_ms"] = sum(ms) / len(ms) if ms else 0.0
    return out


def warm_up(r: Runner) -> tuple[list[dict], list[float]]:
    """The cold pass and MIN_WARM warm passes: the fixed work of set-up.
    Returns the cold pass's ops and each pass's time."""
    cold, cold_s = r.run_pass()
    return cold, [cold_s] + [r.run_pass()[1] for _ in range(MIN_WARM)]


def settled_pass(r: Runner, prev_s: float) -> tuple[list[dict], float, list[float]]:
    """Passes after set-up until one takes within SETTLE of the pass
    before it; at most MAX_SETTLE passes are set aside.  The pass that
    settles is the timed phase's first, so no pass is spent only on the
    test.  Returns its ops, its time, and the set-aside passes' times."""
    unsettled: list[float] = []
    while True:
        ops, p = r.run_pass()
        if abs(p - prev_s) <= SETTLE * prev_s or len(unsettled) == MAX_SETTLE:
            return ops, p, unsettled
        unsettled.append(p)
        prev_s = p


def timed_passes(seconds: float, pass_s: float) -> int:
    """Whole passes that fill ``seconds`` at ``pass_s`` a pass."""
    return max(MIN_TIMED, round(seconds / pass_s))


def run_checks(data: str, keys: list[str], warm_digest: dict) -> dict:
    """Each key's first result against its DuckDB reference."""
    from tweetdb_spark import ORACLES
    from tweetdb_spark.schemas import TABLE_NAMES

    con = check.duck_connect(data, TABLE_NAMES)
    out = {}
    try:
        for key in keys:
            got = warm_digest.get(key)
            try:
                kind, expected = check.reference(con, key, ORACLES, ROW_COUNT_SQL)
            except Exception as exc:  # a broken reference fails the key, not the run
                out[key] = {"warmup": got, "reference": f"error: {exc}"[:300], "ok": False}
                continue
            ok = check.warmup_ok(kind, expected, got)
            out[key] = {"warmup": got, "reference": f"{kind}={expected}", "ok": ok}
    finally:
        con.close()
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--data", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--eventlog", default="")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    fault = proctree.fault_mbps()
    host0 = proctree.host_ticks()
    load_calls: list[float] = []
    spans = trace.Spans(bool(args.trace))

    with spans.span("setup"):
        t = time.perf_counter()
        with spans.span("session.start"):
            from tweetdb_spark.session import get_spark

            spark = get_spark(f"perfbench-{args.workload}")
        session_start_s = time.perf_counter() - t
        spark.sparkContext.setLogLevel("ERROR")
        t = time.perf_counter()
        with spans.span("session.register"):
            import tweetdb_spark

            tweetdb_spark.load_all_operators()
        register_s = time.perf_counter() - t
        if args.trace:
            trace.wrap_load_tables(load_calls)

        r = Runner(spark, args.workload, args.data, spans)
        cold, warm_passes = warm_up(r)
    setup_s = time.perf_counter() - T0
    warm_digest = {o["key"]: o["digest"] for o in cold}

    def passes(n: int) -> list[dict]:
        ops: list[dict] = []
        for _ in range(n):
            ops.extend(r.run_pass()[0])
        return ops

    timed0 = proctree.host_ticks()
    with spans.span("timed"):
        timed, first_s, settle_passes = settled_pass(r, warm_passes[-1])
        n_passes = timed_passes(args.seconds, first_s)
        timed += passes(n_passes - 1)
    timed_steal = proctree.steal_frac(timed0, proctree.host_ticks())
    clock = {"setup": setup_s}  # process age in s at the end of each phase
    clock["timed"] = time.perf_counter() - T0
    result: dict = {
        "workload": args.workload,
        "setup_s": setup_s,
        "session_start_s": session_start_s,
        "register_s": register_s,
        "warm_passes_s": warm_passes,
        "settle_passes_s": settle_passes,
        "cold": cold,
        "timed": end_to_end(timed),
        "ops": timed,
        "clock_s": clock,
    }
    if args.trace:
        spark.streams.addListener(trace.make_listener(r.batches, r.current_op))
        r.traced = True
        with spans.span("traced"):
            traced = passes(n_passes)
        clock["traced"] = time.perf_counter() - T0
        r.traced = False
        result["traced"] = end_to_end(traced)
        result["traced_ops"] = traced
        result["spans"] = spans.items
    cores = spark.sparkContext.defaultParallelism
    peak_rss = proctree.peak_rss_mb(proctree.tree(r.me))
    spark.stop()
    clock["stopped"] = time.perf_counter() - T0
    result["host"] = {
        "steal_frac": proctree.steal_frac(host0, proctree.host_ticks()),
        "timed_steal_frac": timed_steal,
        "fault_mbps": fault,
        "peak_rss_mb": peak_rss,
    }

    result["checks"] = run_checks(args.data, r.keys, warm_digest)
    clock["checked"] = time.perf_counter() - T0
    verified = {k: c["ok"] for k, c in result["checks"].items()}
    measured = timed + result.get("traced_ops", [])
    result["ops_attempted"] = len(measured)
    result["ops_failed"] = check.count_failures(measured, warm_digest, verified)

    if args.trace:
        work = parse_dir(args.eventlog, f"bench:{args.workload}:")
        # a drain runs inside the build of an op that reported progress
        drain_ops = {b["op"] for b in r.batches}
        drain_s = sum(o["build_ms"] for o in traced if o["op"] in drain_ops) / 1000.0
        lay = layers(args.workload, traced, work, cores)
        lay.update(trace.stream_summary(r.batches, len(traced), drain_s))
        lay.update({
            "session.start_s": session_start_s,
            "session.register_s": register_s,
            "jvm.peak_rss_mb": peak_rss,
            "catalog.first_load_ms": load_calls[0] if load_calls else 0.0,
            "catalog.load_ms": statistics.fmean(load_calls[1:]) if len(load_calls) > 1 else 0.0,
            "catalog.loads": len(load_calls) / max(r.n_ops, 1),
            "host.steal_frac": result["host"]["steal_frac"],
            "host.fault_mbps": fault,
        })
        for m, v in result["timed"].items():
            if m != "op_samples":
                lay[f"overhead.{m}"] = result["traced"].get(m, 0.0) - v
        result["layers"] = lay
        result["self_ms"] = trace.self_times_ms(spans.items)

    with open(args.out, "w") as fh:
        json.dump(result, fh)


if __name__ == "__main__":
    main()
