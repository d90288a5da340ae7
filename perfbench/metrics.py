"""Names and units of every metric the benchmark prints.

``END_TO_END`` is printed by a timed run (``--trace 0``), ``PER_LAYER``
by a traced run (``--trace 1``).  BENCHMARK.json lists the same names;
a test keeps the two in step.  Per-op figures are means over the ops of
the traced phase.
"""

from __future__ import annotations

from perfbench.workloads import ALL_MODULES

END_TO_END: dict[str, str] = {
    "setup_s": "s",
    "ops_per_s": "ops/s",
    "op_p50_ms": "ms",
    "op_geomean_ms": "ms",
    "cpu_ms_per_op": "ms",
}

_E2E_TRACED = [m for m in END_TO_END if m != "setup_s"]

PER_LAYER: dict[str, str] = {
    "session.start_s": "s",
    "session.register_s": "s",
    "jvm.peak_rss_mb": "MB",
    "jvm.gc_ms": "ms/op",
    "catalog.first_load_ms": "ms",
    "catalog.load_ms": "ms/call",  # calls after the first (cached)
    "catalog.loads": "calls/op",
    "registry.build_ms": "ms/op",
    "registry.build_jobs": "jobs/op",
    "plan.analysis_ms": "ms/op",
    "plan.optimization_ms": "ms/op",
    "plan.planning_ms": "ms/op",
    "exec.jobs": "jobs/op",
    "exec.stages": "stages/op",
    "exec.tasks": "tasks/op",
    "exec.run_ms": "ms/op",
    "exec.cpu_ms": "ms/op",
    "exec.gc_ms": "ms/op",
    "exec.input_bytes": "B/op",
    "exec.shuffle_read_bytes": "B/op",
    "exec.shuffle_write_bytes": "B/op",
    "exec.fetch_wait_ms": "ms/op",
    "exec.spill_bytes": "B/op",
    "exec.busy_frac": "fraction",
    "result.rows": "rows/op",
    "result.tail_ms": "ms/op",
    "python.worker_cpu_ms": "ms/op",
    "stream.drains": "count",
    "stream.empty_drains": "count",
    "stream.batches": "batches/op",
    "stream.input_rows": "rows/op",
    "stream.add_batch_ms": "ms/op",
    "stream.planning_ms": "ms/op",
    "stream.wal_commit_ms": "ms/op",
    "stream.commit_ms": "ms/op",
    "stream.latest_offset_ms": "ms/op",
    "stream.state_rows": "rows/op",
    "stream.state_mem_bytes": "B/op",
    "stream.state_commit_ms": "ms/op",
    "stream.sink_rows": "rows/op",
    "ingest_rows_per_s": "rows/s",
    "batch_p50_ms": "ms",
    "batch_p90_ms": "ms",
    "batch_count": "count",
    **{f"{mod}.op_ms": "ms" for mod in ALL_MODULES},
    "host.steal_frac": "fraction",
    "host.fault_mbps": "MB/s",
    **{f"overhead.{m}": END_TO_END[m] for m in _E2E_TRACED},
}
