import json
import os

from perfbench import metrics, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _registered_module(fn):
    inner = [c.cell_contents for c in fn.__closure__ if callable(c.cell_contents)]
    return inner[0].__module__


def test_module_map_matches_the_registry():
    import tweetdb_spark

    tweetdb_spark.load_all_operators()
    for keys in workloads.WORKLOADS.values():
        for key in keys:
            fn = tweetdb_spark.QUERIES[key]
            assert _registered_module(fn) == "tweetdb_spark." + workloads.MODULES[key], key


def test_every_key_has_a_reference_check():
    import tweetdb_spark

    tweetdb_spark.load_all_operators()
    for keys in workloads.WORKLOADS.values():
        for key in keys:
            assert key in tweetdb_spark.ORACLES or key in workloads.ROW_COUNT_SQL, key


def test_each_module_sits_in_one_workload():
    seen = {}
    for wl, keys in workloads.WORKLOADS.items():
        for key in keys:
            mod = workloads.MODULES[key]
            assert seen.setdefault(mod, wl) == wl, mod


def test_benchmark_json_lists_the_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == metrics.END_TO_END
    assert layer == metrics.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
    assert max(m["bound"] for m in bench["end_to_end"]) == next(
        m["bound"] for m in bench["end_to_end"] if m["name"] == "setup_s"
    )
