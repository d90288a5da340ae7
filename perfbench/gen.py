"""Seeded input generator for the benchmark.

Writes one directory of parquet tables in the engine's fixture layout
(``<table>.parquet`` for every table in ``tweetdb_spark.schemas``), drawn
from a NumPy generator seeded by ``--seed``.  The distributions copy the
sf0.1 fixture's:

- star schema: uniform keys and measures, the same category vocabularies
  (segments, priorities, part types, flags), 2-decimal money columns;
- events: ``ts`` uniform over 30 days from 2024-01-01, ``event_id`` in
  time order, 1,500 users per 100k events, five event types, ``value``
  exponential with mean 50, ``props`` = ``{"k": 0..99}``;
- documents: 10-100 words drawn from the fixture's 30-word vocabulary,
  its language mix (en 41 %, de/es/fr/zh the rest), 20 round-robin
  sources, 5 % near-duplicates (another doc's text + `` dup``) and
  0.16 % byte-identical copies;
- embeddings: 64-dim unit vectors with labels 0..9.  The fixture's label
  centroids have norm ~0.07, which is what random unit vectors give for
  ~200 members, so its "clusters" are labels on isotropic vectors; the
  generator reproduces exactly that.

Only NumPy and pyarrow are used, so generation runs in its own short
process before Spark starts.  Files are written without wall-clock
metadata, so the same seed and sizes give byte-identical files.

Usage: python3 perfbench/gen.py --workload analytics --seed 7 --out DIR
"""

from __future__ import annotations

import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["signup", "click", "view", "purchase", "error"]
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
EMB_DIM = 64

# Row counts of the sf0.1 fixture.
SF01 = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
# Tables a workload does not read are written at 1 % of that size:
# every key loads the full catalog, so each table must exist.
SIZES = {
    "analytics": {**SF01, "documents": 50, "embeddings": 20},
    "curate": {
        **{k: v // 100 for k, v in SF01.items()},
        "lineitem": 60_000,  # udf_pandas_scalar's input
        "documents": 2_000,
        "embeddings": SF01["embeddings"],
    },
}

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = 788_918_400_000_000  # 1995-01-01 in µs
_EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01 in µs


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform 2-decimal amounts in [lo, hi]."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _days(rng, start_us: int, n_days: int, n: int) -> pa.Array:
    us = start_us + rng.integers(0, n_days, n) * _US_PER_DAY
    return pa.array(us, pa.timestamp("us"))


def _star(rng, s: dict) -> dict[str, pa.Table]:
    nc, ns, np_, no, nl = (
        s["customer"], s["supplier"], s["part"], s["orders"], s["lineitem"],
    )
    pk = np.arange(np_)
    return {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": _pick(rng, SEGMENTS, nc),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }),
        "part": pa.table({
            "p_partkey": pa.array(pk, pa.int64()),
            "p_name": pa.array(
                np.char.add(
                    np.char.add(np.asarray(COLORS)[rng.integers(0, 8, np_)], " "),
                    np.asarray(NOUNS)[rng.integers(0, 8, np_)],
                ).astype(object)
            ),
            "p_brand": pa.array(
                np.char.add("Brand#", (rng.integers(1, 26, np_)).astype(str)).astype(object)
            ),
            "p_type": _pick(rng, PART_TYPES, np_),
            "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
            "p_retailprice": 900.0 + (pk % 1000) / 10.0,
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": _days(rng, _EPOCH_1995, 2404, no),
            "o_orderpriority": _pick(rng, PRIORITIES, no),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
            "l_linestatus": _pick(rng, ["F", "O"], nl),
            "l_shipdate": _days(rng, _EPOCH_1995 + _US_PER_DAY, 2499, nl),
        }),
    }


def _events(rng, n: int) -> pa.Table:
    ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _US_PER_DAY, n))
    users = max(1, n * 15 // 1000)
    props = np.char.add(
        np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}"
    )
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array(props.astype(object)),
    })


def _documents(rng, n: int) -> pa.Table:
    vocab = np.asarray(VOCAB, dtype=object)
    texts = [
        " ".join(vocab[rng.integers(0, len(VOCAB), k)])
        for k in rng.integers(10, 101, n)
    ]
    # near-duplicates (5 %) and byte-identical copies (0.16 %) of docs
    # that are themselves originals
    n_near, n_exact = n // 20, max(1, n * 16 // 10_000)
    copies = rng.choice(n, n_near + n_exact, replace=False)
    originals = np.setdiff1d(np.arange(n), copies)
    for j, i in enumerate(copies):
        src = texts[originals[rng.integers(0, len(originals))]]
        texts[i] = src + " dup" if j < n_near else src
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int) -> pa.Table:
    v = rng.standard_normal((n, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def generate(out_dir: str, workload: str, seed: int) -> dict[str, int]:
    """Write every table for ``workload`` under ``out_dir``; returns the
    row count per table.  ``out_dir`` must not exist yet: each seed gets
    its own directory, so no engine cache keyed on the path can see two
    different inputs under one name."""
    sizes = SIZES[workload]
    # one independent stream per table, so resizing one table leaves the
    # others' bytes unchanged
    streams = np.random.SeedSequence([seed, 0x7EE7DB]).spawn(4)
    rngs = [np.random.default_rng(s) for s in streams]
    tables = _star(rngs[0], sizes)
    tables["events"] = _events(rngs[1], sizes["events"])
    tables["documents"] = _documents(rngs[2], sizes["documents"])
    tables["embeddings"] = _embeddings(rngs[3], sizes["embeddings"])
    os.makedirs(out_dir)
    for name, tbl in tables.items():
        pq.write_table(
            tbl.replace_schema_metadata(None),
            os.path.join(out_dir, f"{name}.parquet"),
            compression="snappy",
        )
    return {name: tbl.num_rows for name, tbl in tables.items()}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    print(json.dumps(generate(args.out, args.workload, args.seed)))


if __name__ == "__main__":
    main()
