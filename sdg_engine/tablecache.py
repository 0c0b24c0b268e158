"""Per-session memo of base-table DataFrame handles (guide §1/§7.3:
driver-side fixed costs).

``spark.read.parquet`` on an ALREADY-ANALYZED immutable fixture table
costs ~0.2-1.2 s of py4j round-trips + schema/file-listing per call on
the r06 bench host, and the harness re-reads the same handful of
parquet paths for every one of 347 queries.  The returned DataFrame is
immutable, so one analyzed handle per (session, path) is semantically
identical — this memo only ever serves the SAME logical plan the fresh
read would produce.

Scope guard: callers pass only immutable fixture paths (the sf_dir
tables).  Mutable engine outputs (lakehouse snapshot dirs, streaming
sinks) must keep calling ``spark.read`` directly — their file listing
changes between reads.  The memo lives ON the session object: sibling
sessions of one application (``spark.newSession()``) each get handles
bound to themselves (their own confs, temp views and UDF registry),
and the handles are freed together with their session.
"""

from __future__ import annotations

import threading

_LOCK = threading.Lock()
_ATTR = "_sdg_table_memo"


def read_table(spark, path: str):
    """Memoized ``spark.read.parquet(path)`` for immutable fixture paths."""
    with _LOCK:
        memo = spark.__dict__.setdefault(_ATTR, {})
        df = memo.get(path)
    if df is None:
        df = spark.read.parquet(path)
        with _LOCK:
            df = memo.setdefault(path, df)
    return df
