"""Outside-in tracing for the traced run: spans around the benchmark's
calls into the program, a timing wrapper on the catalog loader, and a
streaming-progress listener.  Nothing here edits the program; it wraps
the functions the benchmark calls and reads what Spark reports.
"""

from __future__ import annotations

import sys
import time
from contextlib import contextmanager, nullcontext


class Spans:
    """Nested spans kept in memory: name, start, end, parent, op id.
    Spans of one op share its op id.  Disabled, ``span`` costs a call."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.items: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, op: int | None = None):
        return self._span(name, op) if self.enabled else nullcontext()

    @contextmanager
    def _span(self, name: str, op: int | None):
        rec = {
            "id": len(self.items),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": op,
            "start": time.perf_counter(),
            "end": None,
        }
        self.items.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()


def self_times_ms(spans: list[dict]) -> dict[str, float]:
    """Total self time per span name: each span's duration minus the
    part its children cover (children of one parent never overlap: the
    benchmark is a single closed-loop client)."""
    child = [0.0] * len(spans)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    out: dict[str, float] = {}
    for s in spans:
        own = (s["end"] - s["start"] - child[s["id"]]) * 1000.0
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out


def wrap_load_tables(calls: list[float]):
    """Time every ``catalog.load_tables`` call, wherever the program
    imported it by name."""
    import tweetdb_spark.catalog as catalog

    orig = catalog.load_tables

    def timed(*args, **kwargs):
        t0 = time.perf_counter()
        try:
            return orig(*args, **kwargs)
        finally:
            calls.append((time.perf_counter() - t0) * 1000.0)

    for name, mod in list(sys.modules.items()):
        if name.startswith("tweetdb_spark") and getattr(mod, "load_tables", None) is orig:
            mod.load_tables = timed


def progress_record(p, op: int | None) -> dict:
    """The fields of a StreamingQueryProgress the benchmark keeps."""
    d = dict(p.durationMs or {})
    states = list(p.stateOperators or [])
    sink_rows = getattr(p.sink, "numOutputRows", -1) if p.sink is not None else -1
    return {
        "op": op,
        "query": str(p.id),
        "batch": p.batchId,
        "input_rows": p.numInputRows,
        "trigger_ms": d.get("triggerExecution", 0),
        "add_batch_ms": d.get("addBatch", 0),
        "planning_ms": d.get("queryPlanning", 0),
        "wal_commit_ms": d.get("walCommit", 0),
        "commit_ms": d.get("commitOffsets", 0),
        "latest_offset_ms": d.get("latestOffset", 0),
        "state_rows": sum(s.numRowsTotal for s in states),
        "state_mem_bytes": sum(s.memoryUsedBytes for s in states),
        "state_commit_ms": sum(s.commitTimeMs for s in states),
        "sink_rows": max(sink_rows, 0),
    }


def make_listener(batches: list[dict], current_op: list):
    """A StreamingQueryListener appending one record per progress event,
    tagged with ``current_op[0]`` at delivery time."""
    from pyspark import SparkContext
    from pyspark.sql.streaming.listener import (
        JStreamingQueryListener,
        StreamingQueryListener,
    )

    class Adapter(JStreamingQueryListener):
        def onQueryStarted(self, jevent):
            # PySpark 4.1 fails to convert the start event of a query
            # started under job tags (it calls toString on a str); the
            # benchmark needs nothing from it, so it is not converted.
            pass

    class ProgressLog(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            batches.append(progress_record(event.progress, current_op[0]))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        @property
        def _jlistener(self):
            if not hasattr(self, "_jlistenerobj"):
                self._jlistenerobj = SparkContext._jvm.PythonStreamingQueryListenerWrapper(
                    Adapter(self)
                )
            return self._jlistenerobj

    return ProgressLog()


def stream_summary(batches: list[dict], n_ops: int, drain_s: float) -> dict:
    """Per-op streaming figures from progress records.

    State size is a level, not a flow: each drain contributes its last
    batch's state rows and bytes.  ``empty_drains`` counts drains (one
    streaming query each) that read no input row at all."""
    from perfbench.stats import percentile

    drains: dict[str, list[dict]] = {}
    for b in batches:
        drains.setdefault(b["query"], []).append(b)
    last = [max(bs, key=lambda b: b["batch"]) for bs in drains.values()]
    per_op = max(n_ops, 1)

    def total(field: str) -> float:
        return sum(b[field] for b in batches)

    trig = [float(b["trigger_ms"]) for b in batches]
    rows = total("input_rows")
    return {
        "stream.drains": len(drains),
        "stream.empty_drains": sum(
            1 for bs in drains.values() if sum(b["input_rows"] for b in bs) == 0
        ),
        "stream.batches": len(batches) / per_op,
        "stream.input_rows": rows / per_op,
        "stream.add_batch_ms": total("add_batch_ms") / per_op,
        "stream.planning_ms": total("planning_ms") / per_op,
        "stream.wal_commit_ms": total("wal_commit_ms") / per_op,
        "stream.commit_ms": total("commit_ms") / per_op,
        "stream.latest_offset_ms": total("latest_offset_ms") / per_op,
        "stream.state_rows": sum(b["state_rows"] for b in last) / per_op,
        "stream.state_mem_bytes": sum(b["state_mem_bytes"] for b in last) / per_op,
        "stream.state_commit_ms": total("state_commit_ms") / per_op,
        "stream.sink_rows": total("sink_rows") / per_op,
        "ingest_rows_per_s": rows / drain_s if drain_s > 0 else 0.0,
        # the p90 has 10 batches beyond it only from 100 batches on;
        # batch_count says whether it does
        "batch_p50_ms": percentile(trig, 50) if trig else 0.0,
        "batch_p90_ms": percentile(trig, 90) if trig else 0.0,
        "batch_count": len(trig),
    }
