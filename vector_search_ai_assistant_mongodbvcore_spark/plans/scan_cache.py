"""Per-session cache of parquet scan handles for materialized indexes.

Every `spark.read.parquet(dir)` pays an eager driver job: list the
directory tree (partition discovery) and read parquet footers for schema
inference — measured 0.7-0.9 s per serve on the bench box for the
partitioned LSH/BM25 index layouts (tools/time_decompose.py, r15). A
serving engine resolves an index's physical layout ONCE and keeps the
handle; queries reuse it. This is catalog-metadata caching — the same
argument (and the same WeakKeyDictionary discipline) as queries._tables:
DataFrames are immutable lazy plans, so a cached handle never caches
*results* — every execution still scans the files on disk.

Invalidation: a cached handle pins the file listing made at read time, so
any WRITE under an index path must drop that path's entries —
`invalidate(spark, path)` drops every cached scan whose path starts with
the given prefix. The index directories' writers (sources/maintenance.py:
build, add, remove, compact) call it beside `catalog.refreshByPath`. Keys
are resolved absolute paths, so dir-name reuse after a remove/rebuild is
covered by the mutator's invalidate call, not by mtime sniffing (object
stores have no reliable dir mtimes).
"""

from __future__ import annotations

import os
import weakref

_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()

# Invalidation listeners (r16): a DataFrame built ON a cached scan handle
# pins that handle's file listing just as hard as the handle itself, so
# higher-level per-session plan caches (queries._PREPARED_CACHE) must be
# dropped whenever a handle is — otherwise a mutate-then-serve sequence
# re-serves a plan whose listing predates the mutation (stale rows, or
# FileNotFound on compacted files). Listeners are called with
# (spark, normalized_path_prefix) on every invalidate().
_LISTENERS: "list" = []


def on_invalidate(fn) -> None:
    """Register fn(spark, path_prefix) to run on every invalidate()."""
    if fn not in _LISTENERS:
        _LISTENERS.append(fn)


def _norm(p: str) -> str:
    # local paths resolve through abspath; URI-style paths (s3a://, file:/)
    # are left as-is — prefix matching still works per-store
    if "://" in p or p.startswith("file:/"):
        return p.rstrip("/")
    return os.path.abspath(p)


def cached_parquet(spark, *paths: str, schema=None):
    """spark.read.parquet(*paths), memoized per (session, path tuple);
    a recorded `schema` (fixed per path, not keyed) skips the footer read."""
    per_session = _CACHE.setdefault(spark, {})
    key = tuple(_norm(p) for p in paths)
    df = per_session.get(key)
    if df is None:
        reader = spark.read if schema is None else spark.read.schema(schema)
        df = reader.parquet(*paths)
        per_session[key] = df
    return df


def invalidate(spark, path_prefix: str) -> None:
    """Drop every cached scan under `path_prefix` (inclusive), then
    notify listeners so plan caches built on the dropped handles follow."""
    pref = _norm(path_prefix)
    per_session = _CACHE.get(spark)
    if per_session:
        for key in [k for k in per_session if any(p == pref or p.startswith(pref + os.sep) or p.startswith(pref + "/") for p in k)]:
            del per_session[key]
    for fn in _LISTENERS:
        fn(spark, pref)
