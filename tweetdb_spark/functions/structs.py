"""Struct-column flattening for driver-facing outputs.

The per-round correctness driver canonicalizes results through a pandas
value hasher that cannot hash non-scalar cells (struct cells crash
pandas factorize — observed in CORRECTNESS_r01, reproduced by
``tools/keys.py check --strict``).  Every operator whose natural output
carries struct columns therefore flattens them to scalar cells before
returning.  ``fn_nested_struct`` (scalar.py) did this by hand; this
helper makes the pattern shared and tested so future nested-struct
operators can't half-flatten.

Pure plan rewrite: each ``s.f`` projection is a Catalyst
``GetStructField`` — no UDF, no serialization, and column pruning still
reaches the scan (only the referenced leaves are read).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def _quote(part: str) -> str:
    """Backquote one identifier path segment; embedded backticks are
    escaped by doubling, per Spark's quoted-identifier grammar — a field
    literally named ``a`b`` must not truncate (or break) the parse."""
    return "`" + part.replace("`", "``") + "`"


def _leaves(prefix: list[str], dtype, sep: str) -> list[tuple[Column, str]]:
    if isinstance(dtype, StructType):
        out: list[tuple[Column, str]] = []
        for f in dtype.fields:
            out.extend(_leaves(prefix + [f.name], f.dataType, sep))
        return out
    name = sep.join(prefix)
    return [(F.col(".".join(_quote(p) for p in prefix)).alias(name), name)]


def flatten_structs(df: DataFrame, sep: str = "_") -> DataFrame:
    """Recursively expand every struct column into scalar leaf columns.

    Leaf names join the path with ``sep`` (``s.a.b`` → ``s_a_b``).
    Non-struct columns (including arrays and maps) pass through
    untouched in their original positions; structs nested inside
    arrays/maps are NOT descended into (exploding them changes row
    multiplicity, which is the operator's decision, not a formatting
    helper's).  Raises on a leaf-name collision instead of silently
    shadowing a column.
    """
    pairs: list[tuple[Column, str]] = []
    for f in df.schema.fields:
        if isinstance(f.dataType, StructType):
            pairs.extend(_leaves([f.name], f.dataType, sep))
        else:
            pairs.append((F.col(_quote(f.name)), f.name))
    names = [n for _, n in pairs]
    dupes = {n for n in names if names.count(n) > 1}
    if dupes:
        raise ValueError(
            f"flatten_structs: leaf-name collision {sorted(dupes)!r}; "
            f"pass a different sep or rename before flattening"
        )
    return df.select(*(c for c, _ in pairs))
