"""SparkSession factory and test-table loaders.

The reference wires MongoClient + OpenAIClient in DI
(/root/reference/Search/Program.cs). Here the only session-level state is a
SparkSession tuned for the local[32] harness but with settings that hold on a
real cluster: AQE on (runtime re-plan, skew-join splitting), modest shuffle
partition count locally (AQE coalesces), Arrow enabled for the pandas-UDF
embedding/tokenizer path.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_spark(app_name: str = "vsai-spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-sane defaults.

    Settings chosen for cluster behavior, not just local green tests:
      * AQE + skew-join + coalesce: runtime re-plan replaces hand-tuned
        shuffle partition counts; skewed groupBy/join keys get split.
      * autoBroadcastJoinThreshold left at default (10 MB): dims like
        region/nation/supplier broadcast automatically; at 100 TB the fact
        side never builds a hash table.
      * Arrow for pandas UDFs: the embedding and tokenizer kit moves
        columnar batches, not pickled rows.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(max(32, cpus)))
        # start shuffles FINE-GRAINED and let AQE coalesce down: with a
        # flat 32-partition start, a 256x-replicated pair graph packs
        # ~10M rows into each cache block and 32 concurrent unrolls OOM
        # the local heap (observed in the r10 scale probe); 16x more
        # initial partitions bound per-block memory while AQE merges the
        # small ones back, so ordinary queries keep their plan shape
        .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
                str(max(512, 16 * cpus)))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


def local_frame(
    spark: SparkSession, rows: Sequence[Sequence], schema: StructType | str
) -> DataFrame:
    """A DataFrame of driver-side `rows` that plans as a LocalRelation.

    `spark.createDataFrame(list, schema)` parallelizes the list and maps a
    Python re-serializer over every default partition, so each evaluation
    of the frame starts Python-worker tasks, even for zero rows. An Arrow
    table typed by the schema is shipped to the JVM once and plans as a
    LocalRelation: evaluating it starts no Python worker. The engine's
    per-turn and per-search frames (session writes, the trim frame, empty
    reads, index routing rows) are all built here.

    `schema` is a StructType or a DDL string. A value that does not fit
    its field's type, a NULL in a non-nullable field, or a row of the
    wrong width raises; there is no fallback to the list path. A naive
    datetime in a timestamp field is read as UTC, the session time zone
    `get_spark` sets, which is how the session store stamps messages.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    width = len(schema.fields)
    if any(len(row) != width for row in rows):
        raise ValueError(f"every row must have {width} values for schema {schema.simpleString()}")
    arrow_schema = to_arrow_schema(schema)
    columns = [pa.array([row[i] for row in rows], type=f.type) for i, f in enumerate(arrow_schema)]
    for field, column in zip(schema.fields, columns):
        if not field.nullable and column.null_count:
            raise ValueError(f"NULL in non-nullable field {field.name!r}")
    return spark.createDataFrame(pa.Table.from_arrays(columns, schema=arrow_schema), schema)


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load the driver's parquet tables and register them as temp views.

    Parquet scans keep column pruning + predicate pushdown (check
    `.explain("formatted")` for ReadSchema/PushedFilters).
    """
    # The driver's events.parquet stores TIMESTAMP(NANOS), which Spark 4's
    # vectorized reader rejects; read nanos as long and rebuild a proper
    # TimestampType (values are microsecond-round, verified lossless).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    tables: dict[str, DataFrame] = {}
    for name in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = spark.read.parquet(path)
            for field in df.schema.fields:
                if name == "events" and field.name == "ts" and field.dataType.simpleString() == "bigint":
                    # integer div: ns values exceed 2^53, float division
                    # would lose the low microsecond digit
                    df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
                elif name == "events" and field.name == "ts" and field.dataType.simpleString() == "timestamp_ntz":
                    # newer Spark reads TIMESTAMP(NANOS, adjustedToUTC=false)
                    # natively as TIMESTAMP_NTZ (the nanosAsLong conf no
                    # longer applies); normalize to session-TZ (UTC)
                    # TimestampType so event-time ops that require LTZ
                    # (streaming watermarks) keep working unchanged
                    df = df.withColumn("ts", F.col("ts").cast("timestamp"))
            df.createOrReplaceTempView(name)
            tables[name] = df
    return tables
