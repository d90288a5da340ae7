"""Scratch dirs in the system temp dir (compaction rewrites, streaming
sink/checkpoint dirs, index layouts), and :func:`derived`, the one
cache of artifacts derived from a corpus's source files.

Dirs are namespaced ``<prefix>_<pid-tag>_<time_ns>`` so that

- concurrent sessions (e.g. ``tools/keys.py check`` and ``pytest`` at the
  same time) can never reap each other's in-flight output or
  checkpoint dirs — each process only ever deletes dirs carrying its
  OWN pid tag;
- within one process, the fixed-width ``time_ns`` suffix keeps
  lexicographic order == creation order, which the layout tests rely
  on to find the latest dir;
- a crashed process's leftovers are reclaimed lazily: any dir whose
  tag is NOT a live pid and whose mtime is older than ``_REAP_AGE_S``
  is fair game for whoever runs next.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import time

TAG = f"p{os.getpid()}"
_REAP_AGE_S = 2 * 3600  # only reap foreign dirs this stale

# Per-session namespacing for caches and scratch prefixes.  id() of a
# JVM handle alone is unsafe as a cache key (reusable after GC), and a
# bare pid prefix lets two live sessions in one process reap/repoint
# each other's index dirs.  The token pins the JVM handle in the value
# (so its id can never be recycled while the entry exists) and is
# unique per session, so including it in a dir prefix or table name
# isolates concurrent sessions completely.
_SESSION_TOKENS: dict[int, tuple[object, str]] = {}


def session_token(spark) -> str:
    """Stable, process-unique 8-hex token for this SparkSession."""
    import uuid

    j = spark._jsparkSession
    ent = _SESSION_TOKENS.get(id(j))
    if ent is None:
        ent = (j, uuid.uuid4().hex[:8])
        _SESSION_TOKENS[id(j)] = ent
    return ent[1]


# (session token, name, source paths) -> (fingerprint, dirs, tables,
# value); see derived().
_DERIVED: dict[tuple[str, str, tuple[str, ...]], tuple] = {}


def fingerprint(paths) -> tuple | None:
    """``(path, size, mtime_ns)`` of every file under each path (a file
    or a dir) from ``os.stat``, not ``inputFiles()`` (a DataFrame's
    listing is frozen when it is created).  ``None`` when some path
    lists no local file — a URI (``file:``, ``hdfs://``, ``s3a://``) or
    a missing path — since nothing then shows that it changed."""
    out = []
    for p in paths:
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs
        )
        if not files:
            return None
        for f in files:
            st = os.stat(f)
            out.append((f, st.st_size, st.st_mtime_ns))
    return tuple(out)


def derived(spark, name: str, sources, build):
    """``build(out)``'s value, built once per session and source content.

    The caching contract of every derived per-corpus artifact: entries
    are keyed on (session token, ``name``, source paths).  A hit needs
    an unchanged source :func:`fingerprint` and every dir (and table)
    the build made still present; a miss drops the stale entry's tables
    and dirs, then builds.  A source without a fingerprint is built on
    every call and never served from the cache.  ``out(kind)`` gives the build a fresh dir
    prefixed ``<kind>_<session>_<hash of the source paths>``, so a
    rebuild reaps only its own entry's dirs, never another corpus's or
    session's.  ``out(kind, table=True)`` also hands the entry the
    catalog table the build names after that dir's basename.
    """
    import hashlib

    tok, sources = session_token(spark), tuple(sources)
    key = (tok, name, sources)
    fp = fingerprint(sources)
    if key in _DERIVED:
        old_fp, dirs, tables, value = _DERIVED[key]
        if (
            fp is not None
            and old_fp == fp
            and all(map(os.path.exists, dirs))
            and all(map(spark.catalog.tableExists, tables))
        ):
            return value
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)
    src_hash = hashlib.sha1("\0".join(sources).encode()).hexdigest()[:8]
    dirs, tables = [], []

    def out(kind: str, table: bool = False) -> str:
        _reap(kind, own=False)  # dead processes' dirs, any corpus or session
        dirs.append(fresh_dir(f"{kind}_{tok}_{src_hash}"))
        if table:
            tables.append(os.path.basename(dirs[-1]))
        return dirs[-1]

    value = build(out)
    _DERIVED[key] = (fp, dirs, tables, value)
    return value


def _is_live_pid(tag: str) -> bool:
    if not tag.startswith("p") or not tag[1:].isdigit():
        return False  # pre-namespacing legacy dir: treat as not live
    try:
        os.kill(int(tag[1:]), 0)
        return True
    except (ProcessLookupError, ValueError):
        return False
    except PermissionError:
        return True  # exists, owned by someone else


def _reap(prefix: str, own: bool) -> None:
    """Remove ``<prefix>_*`` dirs of dead processes once they are
    ``_REAP_AGE_S`` old, and with ``own`` this process's exact-prefix
    ``<prefix>_<TAG>_*`` dirs.  Every scratch dir name ends in
    ``_<pid-tag>_<time_ns>``."""
    base, now = tempfile.gettempdir(), time.time()
    for stale in glob.glob(os.path.join(base, f"{prefix}_*")):
        try:
            abandoned = (
                not _is_live_pid(os.path.basename(stale).rsplit("_", 2)[-2])
                and now - os.path.getmtime(stale) > _REAP_AGE_S
            )
        except OSError:
            abandoned = False
        if abandoned or (own and stale.startswith(f"{base}/{prefix}_{TAG}_")):
            shutil.rmtree(stale, ignore_errors=True)


def fresh_dir(prefix: str) -> str:
    """Reap this process's ``prefix`` dirs (plus long-dead foreign ones)
    and return a new unique ``prefix`` path (not yet created — Spark
    writers create it)."""
    _reap(prefix, own=True)
    return os.path.join(
        tempfile.gettempdir(), f"{prefix}_{TAG}_{time.time_ns()}"
    )


def own_dirs(prefix: str) -> list[str]:
    """This process's ``prefix`` dirs, lexicographically sorted (== by
    creation order).  Used by layout tests to find the latest one."""
    return sorted(
        glob.glob(os.path.join(tempfile.gettempdir(), f"{prefix}_{TAG}_*"))
    )
