"""Result checks: an order-insensitive digest of a result's rows, the
DuckDB reference for it, and the per-op failure rule.

The digest is ``"<rows>:<sum of per-row hashes mod 2**64>"`` over rows
whose columns are taken in name order and whose values are
canonicalised so that Spark's and DuckDB's Python values for the same
SQL value hash alike (integral floats as ints, Decimal as float,
timestamps as ISO text, structs as tuples).

Floats are hashed at ``FLOAT_DIGITS`` significant digits.  A double
SUM depends on the order its terms are added in, which differs between
Spark and DuckDB and between two Spark runs (shuffle blocks arrive in
any order).  At these sizes the difference reaches the second decimal
of a ~1e9 sum, so ``ROUND(SUM(x), 2)`` can differ by 0.01 between two
correct engines: a relative 1e-11, far below the 1e-6 the digest
resolves, which makes a straddled rounding boundary a ~1e-5 event per
value.
"""

from __future__ import annotations

import hashlib
import math
import os
from datetime import date, datetime
from decimal import Decimal

_MASK = (1 << 64) - 1
FLOAT_DIGITS = 6


def canon(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        if not math.isfinite(v):
            return repr(v)
        q = float(f"{v:.{FLOAT_DIGITS}g}")
        return int(q) if q.is_integer() else q  # 1.0 == 1, and -0.0 == 0
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, dict):
        return tuple(sorted((repr(canon(k)), canon(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if hasattr(v, "item"):  # NumPy scalar
        return canon(v.item())
    return v


def digest(columns: list[str], rows) -> str:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total, n = 0, 0
    for row in rows:
        key = repr(tuple(canon(row[i]) for i in order)).encode()
        total += int.from_bytes(hashlib.blake2b(key, digest_size=8).digest(), "big")
        n += 1
    return f"{n}:{total & _MASK:016x}"


def rows_of(value: str) -> int:
    """Row count part of a digest."""
    return int(value.split(":", 1)[0])


def duck_connect(data_dir: str, tables: list[str]):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def reference(con, key: str, oracles: dict[str, str], row_sql: dict[str, str]):
    """("digest", value) from the key's oracle, else ("rows", count)."""
    if key in oracles:
        cur = con.execute(oracles[key])
        cols = [d[0] for d in cur.description]
        return "digest", digest(cols, cur.fetchall())
    if key in row_sql:
        return "rows", con.execute(row_sql[key]).fetchone()[0]
    raise KeyError(f"no reference for {key}: add it to ROW_COUNT_SQL")


def warmup_ok(kind: str, expected, got: str | None) -> bool:
    """Whether a key's warm-up digest matches its reference."""
    if got is None:
        return False
    return got == expected if kind == "digest" else rows_of(got) == expected


def count_failures(ops: list[dict], warm: dict[str, str | None],
                   verified: dict[str, bool]) -> int:
    """Timed ops that failed: raised, returned a digest other than their
    key's warm-up digest, or belong to a key whose warm-up did not match
    its reference."""
    return sum(
        1
        for op in ops
        if op.get("error")
        or op["digest"] != warm.get(op["key"])
        or not verified.get(op["key"], False)
    )
