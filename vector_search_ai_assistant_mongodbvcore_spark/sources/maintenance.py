"""The one owner of the partitioned index directories: IVF's `data/`,
LSH's `data/`, BM25's `postings/`, `docs/` and terms table. The index
kinds (operators/ivf.py, similarity.py, keyword_search.py) keep their
layout decisions — partition columns, row shape — and read, add,
remove and compact only through these functions:

  read_schema / read_partitioned  the schema a read of a partitioned
      write sees, recorded in meta.json at build; reads pin it, so no
      footer job infers it
  write_partitioned  a build's overwrite, an add's append (paper
      capability 8, AddRemoveData.cs:23-125: searchable at the next read)
  remove_rows  copy-on-write delete of only the touched partitions (the
      Delta Lake rewrite design)
  check_duplicates  the adds' error | skip | trust duplicate-id guard,
      which PartitionedHnswIndex shares
  compact_partitioned_dir  the OPTIMIZE analog: adds append a file set
      per touched partition, so scan cost grows with batch count; this
      rewrites the partitions whose file count crossed a threshold
      (`streaming/incremental.py start_*_change_stream(compact_every=N)`)

Overwrite mode is set per write (the `partitionOverwriteMode` option),
never on the session: the session conf is shared by every thread, so
flipping it would turn a concurrent build's static overwrite dynamic.

Concurrency note: a dynamic-partition overwrite of a partition that a
concurrent writer is appending into can drop the concurrent append
(read-before-write). Remove and compact from the SAME sink that owns
the writes (the wiring in incremental.py), or when the stream is idle.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vector_search_ai_assistant_mongodbvcore_spark.plans import scan_cache as _scan_cache

__all__ = [
    "read_schema", "read_partitioned", "write_partitioned", "remove_rows",
    "check_duplicates", "partition_file_counts", "compact_partitioned_dir",
]

_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def _plane(plane):
    from vector_search_ai_assistant_mongodbvcore_spark.sources import managed_table as _mt

    return plane if plane is not None else _mt._DEFAULT_DATAPLANE


def read_schema(df: DataFrame, partition_cols: "list[str]") -> str:
    """JSON of the schema a read of `df` written partitionBy(partition_cols)
    infers: the file columns in frame order, then the partition columns,
    all nullable. An integral partition column reads back as int (the
    engine's partition keys are small non-negative ints)."""
    schema = df.schema
    fields = [T.StructField(f.name, f.dataType) for f in schema if f.name not in partition_cols]
    for c in partition_cols:
        t = schema[c].dataType
        fields.append(T.StructField(c, T.IntegerType() if isinstance(t, _INTEGRAL) else t))
    return T.StructType(fields).json()


def _pinned(schema: "str | None") -> "T.StructType | None":
    return None if schema is None else T.StructType.fromJson(json.loads(schema))


def read_partitioned(spark: SparkSession, data_dir: str, schema: "str | None") -> DataFrame:
    """The session's cached scan of `data_dir` pinned to a read_schema
    JSON (plans/scan_cache; every writer here invalidates it). None, for
    an index written before its meta recorded one, infers."""
    return _scan_cache.cached_parquet(spark, data_dir, schema=_pinned(schema))


def _fresh_scan(spark: SparkSession, data_dir: str, schema: "str | None") -> DataFrame:
    """A scan listed now, for the rewrites: a stale listing there would
    drop rows another writer appended since, where a stale serve only
    reads older data."""
    pinned = _pinned(schema)
    return (spark.read if pinned is None else spark.read.schema(pinned)).parquet(data_dir)


def _write(
    df: DataFrame, data_dir: str, partition_cols: "list[str]", mode: str, overwrite: str
) -> None:
    """The one partitioned write. Rows are co-located per partition first,
    so each task writes one file per partition it owns, not a sliver into
    every partition dir. A "dynamic" overwrite replaces only the
    partitions `df` holds; it stages its output and swaps it in at
    commit, after every read of the old files, so `df` may read its own
    target."""
    (
        df.repartition(*[F.col(c) for c in partition_cols])
        .write.mode(mode)
        .option("partitionOverwriteMode", overwrite)
        .partitionBy(*partition_cols)
        .parquet(data_dir)
    )


def _refresh(spark: SparkSession, data_dir: str) -> None:
    """Drop the session's cached listings of a dir just written."""
    spark.catalog.refreshByPath(data_dir)
    _scan_cache.invalidate(spark, data_dir)


def write_partitioned(
    spark: SparkSession,
    df: DataFrame,
    data_dir: str,
    partition_cols: "list[str]",
    mode: str = "append",
) -> str:
    """Write `df` into `data_dir` partitioned by `partition_cols`
    ("overwrite" replaces the whole dir: a build) and return its
    read_schema. `spark` is the index's session, whose cached scans go
    stale: `df` may belong to another (a foreachBatch micro-batch)."""
    _write(df, data_dir, partition_cols, mode, "static")
    _refresh(spark, data_dir)
    return read_schema(df, partition_cols)


def _partitions_in(partition_cols: "list[str]", keys) -> "F.Column":
    """Filter matching any of `keys` (tuples of partition values, compared
    as the hive dir strings), built on partition columns only so Spark
    prunes the listing to those dirs."""
    cond = F.lit(False)
    for key in keys:
        one = F.lit(True)
        for c, v in zip(partition_cols, key):
            # __HIVE_DEFAULT_PARTITION__ is hive's NULL dir; the engine's
            # partition keys are never NULL, but don't mis-prune if one is
            eq = (
                F.col(c).isNull()
                if v == "__HIVE_DEFAULT_PARTITION__"
                else F.col(c).cast("string") == F.lit(str(v))
            )
            one = one & eq
        cond = cond | one
    return cond


def remove_rows(
    spark: SparkSession,
    data_dir: str,
    partition_cols: "list[str]",
    id_col: str,
    ids,
    schema: "str | None" = None,
    plane=None,
    within: "F.Column | None" = None,
) -> int:
    """Copy-on-write delete of the rows of `data_dir` whose `id_col` is in
    `ids`; returns how many rows went (0: none held, nothing written).

    One driver probe, a per-partition (doomed, rows) count, names the
    touched partitions and the ones the delete empties. The rest of the
    touched ones are rewritten minus the doomed rows by a dynamic
    partition overwrite; emptied partitions are dropped; untouched
    partitions keep their files. `within` (a filter on partition
    columns) narrows the probe when the caller knows where the ids live."""
    ids = list(dict.fromkeys(ids))
    if not ids:
        return 0
    scan = _fresh_scan(spark, data_dir, schema)
    if within is not None:
        scan = scan.filter(within)
    hit = F.col(id_col).isin(ids)
    probe = (
        scan.groupBy(*partition_cols)
        .agg(F.sum(hit.cast("long")).alias("_doomed"), F.count(F.lit(1)).alias("_rows"))
        .filter(F.col("_doomed") > 0)
        .collect()
    )
    if not probe:
        return 0
    kept = [tuple(r[c] for c in partition_cols) for r in probe if r["_doomed"] < r["_rows"]]
    if kept:
        kept_rows = scan.filter(_partitions_in(partition_cols, kept) & ~hit)
        _write(kept_rows, data_dir, partition_cols, "overwrite", "dynamic")
    for r in probe:
        if r["_doomed"] == r["_rows"]:
            _plane(plane).remove_tree(
                os.path.join(data_dir, *[f"{c}={r[c]}" for c in partition_cols])
            )
    _refresh(spark, data_dir)
    return sum(r["_doomed"] for r in probe)


def check_duplicates(df: DataFrame, existing, id_col: str, on_duplicate: str) -> DataFrame:
    """The add paths' duplicate-id guard; returns the rows to add. A
    re-added id would surface twice in candidate reads (and double-count
    BM25's df/dl/N). `existing` is a zero-argument callable returning the
    indexed ids' frame, called only when the mode needs it:
      on_duplicate='error'  raise naming up to 10 offenders
      on_duplicate='skip'   drop already-indexed ids, add the rest
      on_duplicate='trust'  no check (the caller guarantees new ids, as
                            the change-set bodies do after their remove)"""
    if on_duplicate not in ("error", "skip", "trust"):
        raise ValueError(f"on_duplicate must be error|skip|trust, got {on_duplicate!r}")
    if on_duplicate == "trust":
        return df
    dups = df.select(id_col).distinct().join(existing().select(id_col), id_col, "left_semi")
    if on_duplicate == "skip":
        return df.join(dups, id_col, "left_anti")
    offenders = [r[id_col] for r in dups.limit(10).collect()]
    if offenders:
        raise ValueError(
            f"ids already indexed: {offenders!r}; "
            f"use on_duplicate='skip' to add only new ids"
        )
    return df


def partition_file_counts(
    data_dir: str, partition_cols: "list[str]", plane=None
) -> dict:
    """{partition-value-tuple: parquet-file count} for a hive-partitioned
    dir — the observability hook the bounded-file-count tests assert on.
    Values are the RAW directory strings (e.g. '3', 'north'), exactly as
    written in the partition path. Listing goes through the data plane
    (r13), so the index tablespace counts files on an object store the
    same way; non-matching dirs (non-`col=` segments) are skipped."""
    plane = _plane(plane)
    root = data_dir.rstrip("/")
    counts: dict[tuple, int] = {}
    for f in plane.list_parquet_at_depth(root, len(partition_cols)):
        segs = f[len(root) + 1 :].split("/")[:-1]
        if len(segs) != len(partition_cols) or not all(
            seg.startswith(f"{c}=") for seg, c in zip(segs, partition_cols)
        ):
            continue
        key = tuple(seg.split("=", 1)[1] for seg in segs)
        counts[key] = counts.get(key, 0) + 1
    return counts


def compact_partitioned_dir(
    spark: SparkSession,
    data_dir: str,
    partition_cols: "list[str]",
    max_files: int = 8,
    plane=None,
    schema: "str | None" = None,
) -> int:
    """Rewrite every partition of `data_dir` whose parquet-file count is
    >= max_files down to a repartition(1)-per-partition file set; returns
    the number of partitions rewritten (0 = nothing crossed the
    threshold, zero IO). Only the fat partitions are read (a partition
    filter on the dir values) and rewritten; dynamic-partition overwrite
    leaves the rest byte-identical. `schema` is the dir's read_schema
    (None infers it, one footer job)."""
    if max_files <= 1:
        raise ValueError(f"max_files must be > 1, got {max_files}")
    fat = [k for k, n in partition_file_counts(data_dir, partition_cols, plane).items()
           if n >= max_files]
    if not fat:
        return 0
    fat_rows = _fresh_scan(spark, data_dir, schema).filter(_partitions_in(partition_cols, fat))
    _write(fat_rows, data_dir, partition_cols, "overwrite", "dynamic")
    _refresh(spark, data_dir)
    return len(fat)
