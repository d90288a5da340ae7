"""Benchmark entry point.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 12 --trace 0

Run from the root of a source checkout.  One run:

1. generates the seed's inputs in a process of its own (``gen.py``);
2. starts the measured process (``worker.py``) with its own ``TMPDIR``,
   ``SPARK_LOCAL_DIRS`` and JVM temp dir inside a per-run scratch
   directory, so nothing the program stages leaks into ``/tmp``;
3. stops every process the run started, deletes the scratch directory,
   keeps the worker's full report under ``.perfbench-out/``, and prints
   the metrics: a readable summary, then one JSON line
   ``{"correct", "attempted", "failed", "metrics"}`` as the last line.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
ones (see ``metrics.py`` and ``README.md``).  Any failure to produce a
result exits non-zero and prints no result line.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.metrics import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

DEADLINE_S = 160  # generation and the worker; clean-up fits in the rest of 180 s
MARKER = "PERFBENCH_RUN"


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _run_processes(run_id: str) -> list[int]:
    """Pids of live processes carrying this run's environment marker."""
    needle = f"{MARKER}={run_id}".encode()
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) == os.getpid():
            continue
        try:
            with open(f"/proc/{name}/environ", "rb") as fh:
                if needle in fh.read().split(b"\0"):
                    out.append(int(name))
        except OSError:
            pass
    return out


def _stop_all(run_id: str) -> None:
    """Terminate, then kill, every process of the run; wait until none
    is left."""
    for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        pids = _run_processes(run_id)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + grace
        while _run_processes(run_id) and time.monotonic() < end:
            time.sleep(0.1)
    left = _run_processes(run_id)
    if left:
        raise RuntimeError(f"processes still alive after SIGKILL: {left}")


def _worker_env(run_dir: str, run_id: str, trace: int) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    events = os.path.join(run_dir, "eventlog")
    for d in (tmp, local, events):
        os.makedirs(d)
    confs = [
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    ]
    if trace:
        confs += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{events}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ]
    submit = " ".join(f"--conf {shlex.quote(c)}" for c in confs)
    env = dict(os.environ)
    env.update({
        MARKER: run_id,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "TZ": "UTC",
        "PYTHONPATH": ROOT,
        "SPARK_GRAFT_CPUS": str(os.cpu_count() or 1),
        "PYSPARK_SUBMIT_ARGS": f"{submit} pyspark-shell",
    })
    return env


def result(report: dict, trace: int) -> dict | None:
    """The run's result object, or None when no timed op succeeded:
    then there is no latency to report, and the run fails."""
    if not report["timed"]:
        return None
    if trace:
        src, units = report["layers"], PER_LAYER
    else:
        src, units = {**report["timed"], "setup_s": report["setup_s"]}, END_TO_END
    failed = report["ops_failed"]
    return {
        "correct": all(c["ok"] for c in report["checks"].values()) and failed == 0,
        "attempted": report["ops_attempted"],
        "failed": failed,
        "metrics": {m: {"value": float(src[m]), "unit": u} for m, u in units.items()},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description="tweetdb-spark benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "tweetdb_spark")):
        _log(f"no tweetdb_spark package under {ROOT}: run from a source checkout")
        return 2

    t_start = time.monotonic()
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}"
    runs = os.path.join(ROOT, ".perfbench-runs")
    run_dir = os.path.join(runs, run_id)
    out_dir = os.path.join(ROOT, ".perfbench-out")
    os.makedirs(out_dir, exist_ok=True)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    report_path = os.path.join(run_dir, "report.json")
    env = _worker_env(run_dir, run_id, args.trace)
    try:
        data = os.path.join(run_dir, "data", f"seed{args.seed}")
        subprocess.run(
            [sys.executable, "-m", "perfbench.gen", "--workload", args.workload,
             "--seed", str(args.seed), "--out", data],
            cwd=ROOT, env=env, check=True, stdout=sys.stderr, timeout=60,
        )
        budget = DEADLINE_S - (time.monotonic() - t_start)
        subprocess.run(
            [sys.executable, "-m", "perfbench.worker", "--workload", args.workload,
             "--data", data, "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--eventlog", os.path.join(run_dir, "eventlog"), "--out", report_path],
            cwd=ROOT, env=env, check=True, stdout=sys.stderr, timeout=budget,
        )
        with open(report_path) as fh:
            report = json.load(fh)
    except (subprocess.SubprocessError, OSError, ValueError) as exc:
        _log(f"run failed: {exc}")
        return 1
    finally:
        _stop_all(run_id)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(runs)
        except OSError:
            pass

    report["seed"] = args.seed
    keep = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(keep, "w") as fh:
        json.dump(report, fh)

    res = result(report, args.trace)
    print(f"workload={args.workload} seed={args.seed} trace={args.trace} "
          f"ops_failed={report['ops_failed']} ops_attempted={report['ops_attempted']} "
          f"op_samples={report['timed'].get('op_samples', 0)} report={keep}")
    if res is None:
        _log("no timed op succeeded; see the report for each op's error")
        return 1
    for name, m in res["metrics"].items():
        print(f"  {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
