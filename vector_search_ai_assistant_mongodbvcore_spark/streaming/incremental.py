"""Near-real-time add/remove: incremental embed + upsert.

Reference contract (/root/reference/README.md:180-194;
Vectorize/AddRemoveData.cs:23-125): a single product add must be embedded and
searchable "in near real-time"; a remove must disappear from search.

Spark-first mapping: a Structured Streaming file/JSON source of change
records -> foreachBatch: embed new/changed rows (one Arrow pass per
micro-batch) -> table.merge / delete. Readers see each micro-batch at its
commit; this is exactly Delta's CDC upsert pattern with the managed table
standing in for Delta.

`table` is duck-typed: ManagedTable (snapshot COW — fine for small
operational tables) or BucketedTable (file-level COW — REQUIRED when the
target is large: a per-micro-batch merge that rewrites the whole table
would turn streaming upserts into O(table) per batch; the bucketed layout
makes each batch O(touched buckets)).

Change record convention: the source rows carry an `_op` column
("upsert" | "delete"); everything else is the document.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_search_ai_assistant_mongodbvcore_spark.functions.docserde import (
    serialize_document,
)
from vector_search_ai_assistant_mongodbvcore_spark.functions.embedder import (
    HashNgramEmbedder,
)
from vector_search_ai_assistant_mongodbvcore_spark.sources.managed_table import (
    ManagedTable,
)


def apply_changes(
    table: ManagedTable,
    batch_df: DataFrame,
    keys: list[str],
    embedder=None,
    vector_col: str = "vector",
    op_col: str = "_op",
) -> None:
    """foreachBatch body: embed + MERGE upserts, anti-join deletes.
    Idempotent per batch (keyed merge), so streaming retries are safe."""
    embedder = embedder or HashNgramEmbedder()
    upserts = batch_df.filter(F.col(op_col) == "upsert").drop(op_col)
    deletes = batch_df.filter(F.col(op_col) == "delete").drop(op_col)
    if upserts.isEmpty() is False:
        doc_text = serialize_document(upserts, exclude=(vector_col, op_col))
        embedded = upserts.withColumn(vector_col, embedder.udf()(doc_text))
        table.merge(embedded, keys)
    if deletes.isEmpty() is False:
        table.delete_by_keys(deletes, keys)


def start_change_stream(
    spark: SparkSession,
    source_dir: str,
    schema,
    table: ManagedTable,
    keys: list[str],
    checkpoint_dir: str,
    embedder=None,
    vector_col: str = "vector",
    compact_every: "int | None" = None,
):
    """readStream(json dir) -> foreachBatch(apply_changes). Returns the
    StreamingQuery; callers own awaitTermination/stop.

    `compact_every=N` runs the table's own compact() every N micro-
    batches (BucketedTable only — ManagedTable snapshots are one dir per
    version and never fragment), so an append-heavy stream keeps
    per-bucket dir lists bounded without an external maintenance job.
    Safe to race the sink's own merges since the table layer has
    optimistic concurrency."""
    stream = spark.readStream.schema(schema).json(source_dir)

    def _batch(df: DataFrame, epoch_id: int) -> None:
        apply_changes(table, df, keys, embedder, vector_col)
        if (
            compact_every
            and (int(epoch_id) + 1) % compact_every == 0
            and hasattr(table, "compact")
        ):
            table.compact()

    return (
        stream.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def apply_index_changes(
    index,
    batch_df: DataFrame,
    id_col: str = "id",
    embedder=None,
    op_col: str = "_op",
    text_exclude: tuple[str, ...] = (),
) -> None:
    """foreachBatch body maintaining a SERVING INDEX (LshIndex) instead of
    a table: upserts re-embed the document text and replace the id's index
    rows (remove-then-add — exact upsert semantics, no duplicate
    candidates); deletes remove. This closes the reference's near-real-time
    loop at the index layer: a change record is searchable from the
    partition-pruned index at the next micro-batch commit, mirroring how
    the reference's upsert is immediately visible to $search
    (AddRemoveData.cs + MongoDbService.UpsertProductAsync).

    Cost per batch: O(changed ids' (table, bucket) partitions) — the
    remove is a COW of the touched partitions, the add an append. Safe
    under streaming retries: remove-then-add is idempotent for the same
    batch content."""
    import inspect

    embedder = embedder or HashNgramEmbedder()
    m = index.meta()
    vector_col = m["vector_col"]
    # LshIndex records its id column in meta and keys remove/add off it;
    # IvfIndex takes id_col per call (duck-typed off the method signature,
    # so the same foreachBatch body maintains any ANN index —
    # PartitionedHnswIndex rides it too: upserts become delta segments,
    # deletes per-segment tombstones)
    stored_id = m.get("id_col", id_col)
    takes_id = "id_col" in inspect.signature(index.remove_documents).parameters
    id_kw = {"id_col": stored_id} if takes_id else {}
    upserts = batch_df.filter(F.col(op_col) == "upsert").drop(op_col)
    deletes = batch_df.filter(F.col(op_col) == "delete").drop(op_col)
    if upserts.isEmpty() is False:
        doc_text = serialize_document(
            upserts, exclude=(vector_col, op_col, *text_exclude)
        )
        up_rows = upserts.select(
            F.col(id_col).alias(stored_id),
            embedder.udf()(doc_text).cast("array<float>").alias(vector_col),
        )
        ids = [r[stored_id] for r in up_rows.select(stored_id).distinct().collect()]
        index.remove_documents(ids, **id_kw)
        index.add_documents(up_rows, on_duplicate="trust", **id_kw)
    if deletes.isEmpty() is False:
        ids = [r[id_col] for r in deletes.select(id_col).distinct().collect()]
        index.remove_documents(ids, **id_kw)


def start_index_change_stream(
    spark: SparkSession,
    source_dir: str,
    schema,
    index,
    id_col: str,
    checkpoint_dir: str,
    embedder=None,
    compact_every: "int | None" = None,
    max_files_per_partition: int = 8,
):
    """readStream(json dir) -> foreachBatch(apply_index_changes).

    `compact_every=N` runs index.compact(max_files_per_partition) every
    N micro-batches: the add path APPENDS one file set per batch into the
    touched partitions, so without maintenance a long-running stream
    grows per-partition file counts — and candidate-read open cost —
    linearly with batch count. The compaction runs inside the same sink
    (never racing its own appends) and rewrites only partitions that
    crossed the threshold (sources/maintenance.py)."""
    stream = spark.readStream.schema(schema).json(source_dir)

    def _batch(df: DataFrame, epoch_id: int) -> None:
        apply_index_changes(index, df, id_col, embedder)
        if compact_every and (int(epoch_id) + 1) % compact_every == 0:
            import inspect

            # duck-typed like apply_index_changes: file-count-driven
            # compaction (IvfIndex/LshIndex) takes the threshold;
            # segment-model compaction (PartitionedHnswIndex) folds
            # everything and takes no per-partition file knob
            if "max_files_per_partition" in inspect.signature(index.compact).parameters:
                index.compact(max_files_per_partition)
            else:
                index.compact()

    return (
        stream.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def apply_keyword_index_changes(
    index,
    batch_df: DataFrame,
    id_col: str = "id",
    text_cols: tuple[str, ...] | None = None,
    op_col: str = "_op",
) -> None:
    """foreachBatch body maintaining a Bm25Index: upserts re-serialize the
    document text and replace the id's postings (remove-then-add keeps
    df/dl/N exact — the add can 'trust' because the remove just cleared
    those ids); deletes remove. The keyword twin of apply_index_changes,
    so a change stream can keep BOTH retrieval legs of hybrid serving
    fresh from the same records."""
    m = index.meta()
    stored_id = m["id_col"]
    upserts = batch_df.filter(F.col(op_col) == "upsert").drop(op_col)
    deletes = batch_df.filter(F.col(op_col) == "delete").drop(op_col)
    if upserts.isEmpty() is False:
        exclude = (op_col,) if text_cols is None else ()
        text = (
            serialize_document(upserts, exclude=exclude)
            if text_cols is None
            else F.concat_ws(" ", *[F.col(c) for c in text_cols])
        )
        rows = upserts.select(
            F.col(id_col).alias(stored_id), text.alias("text")
        )
        ids = [r[stored_id] for r in rows.select(stored_id).distinct().collect()]
        index.remove_documents(ids)
        index.add_documents(rows, text_col="text", id_col=stored_id, on_duplicate="trust")
    if deletes.isEmpty() is False:
        ids = [r[id_col] for r in deletes.select(id_col).distinct().collect()]
        index.remove_documents(ids)
