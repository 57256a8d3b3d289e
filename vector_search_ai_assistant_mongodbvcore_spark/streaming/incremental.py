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

Staging: each foreachBatch body first collects the batch's (op, id)
pairs once (`_stage`). That one collect says whether there is anything
to upsert or delete and supplies the id lists; the frames are re-read
from the batch only for the upsert documents (the embed) and the
table-side delete.

Delete wins: a key both upserted and deleted in one batch ends absent.
apply_changes merges, then deletes. The index bodies run ONE removal
over the upsert ids and the delete ids together (an upsert replaces the
id's rows), then add only the upserts whose id the batch does not also
delete.

Crash window: nothing spans the table and the index. The catalog
(apply_changes) and each index (apply_index_changes /
apply_keyword_index_changes) commit separately, and within an index the
removal commits before the add. A crash between them leaves the
upserted ids absent from the index (not stale) until the batch is
replayed; replaying a batch is idempotent, so the streaming checkpoint
repairs it.
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


def _stage(batch_df: DataFrame, id_col: str, op_col: str):
    """(upsert ids, delete ids) of a change batch, each deduplicated in
    batch order, from one collect of (op, id)."""
    ups: dict = {}
    dels: dict = {}
    for op, key in batch_df.select(op_col, id_col).collect():
        if op == "upsert":
            ups[key] = None
        elif op == "delete":
            dels[key] = None
    return list(ups), list(dels)


def _remove_staged(index, batch_df: DataFrame, id_col: str, op_col: str, id_kw: dict):
    """The index bodies' shared step: ONE remove_documents(ids, **id_kw)
    over the batch's upsert and delete ids, then the upsert documents
    left to add (those whose id the batch does not also delete), or None."""
    ups, dels = _stage(batch_df, id_col, op_col)
    if ups or dels:
        index.remove_documents(list(dict.fromkeys(ups + dels)), **id_kw)
    if not set(ups) - set(dels):
        return None
    upserts = batch_df.filter(F.col(op_col) == "upsert")
    if dels:
        upserts = upserts.filter(~F.col(id_col).isin(dels))
    return upserts.drop(op_col)


def apply_changes(
    table: ManagedTable,
    batch_df: DataFrame,
    keys: list[str],
    embedder=None,
    vector_col: str = "vector",
    op_col: str = "_op",
) -> None:
    """foreachBatch body: embed + MERGE upserts, then anti-join deletes
    (delete wins). Idempotent per batch (keyed merge), so streaming
    retries are safe."""
    embedder = embedder or HashNgramEmbedder()
    ups, dels = _stage(batch_df, keys[0], op_col)  # only emptiness is read
    if ups:
        upserts = batch_df.filter(F.col(op_col) == "upsert").drop(op_col)
        doc_text = serialize_document(upserts, exclude=(vector_col, op_col))
        embedded = upserts.withColumn(vector_col, embedder.udf()(doc_text))
        table.merge(embedded, keys)
    if dels:
        table.delete_by_keys(batch_df.filter(F.col(op_col) == "delete").drop(op_col), keys)


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
    candidates); deletes remove (the module docstring has staging and
    delete-wins). This closes the reference's near-real-time loop at the
    index layer: a change record is searchable from the
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
    upserts = _remove_staged(index, batch_df, id_col, op_col, id_kw)
    if upserts is not None:
        doc_text = serialize_document(upserts, exclude=(vector_col, *text_exclude))
        up_rows = upserts.select(
            F.col(id_col).alias(stored_id),
            embedder.udf()(doc_text).cast("array<float>").alias(vector_col),
        )
        index.add_documents(up_rows, on_duplicate="trust", **id_kw)


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
    those ids); deletes remove in the same one removal. The keyword twin
    of apply_index_changes, so a change stream can keep BOTH retrieval
    legs of hybrid serving fresh from the same records."""
    stored_id = index.meta()["id_col"]
    upserts = _remove_staged(index, batch_df, id_col, op_col, {})
    if upserts is not None:
        text = (
            serialize_document(upserts, exclude=())
            if text_cols is None
            else F.concat_ws(" ", *[F.col(c) for c in text_cols])
        )
        rows = upserts.select(F.col(id_col).alias(stored_id), text.alias("text"))
        index.add_documents(rows, text_col="text", id_col=stored_id, on_duplicate="trust")
