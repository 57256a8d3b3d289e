"""ManagedTable (S3-S7): versioned CRUD, keyed merge, deletes, the
cross-table transaction protocol, and vacuum."""

import os

import pytest
from pyspark.sql import functions as F

from vector_search_ai_assistant_mongodbvcore_spark.session import local_frame
from vector_search_ai_assistant_mongodbvcore_spark.sources.managed_table import (
    ManagedTable,
    TransactionalWriter,
)


@pytest.fixture()
def table(spark, tmp_path):
    return ManagedTable(spark, str(tmp_path / "t"))


def _df(spark, rows):
    return spark.createDataFrame(rows, "k string, cat string, v int")


def test_append_and_read(spark, table):
    assert not table.exists()
    table.append(_df(spark, [("a", "x", 1), ("b", "x", 2)]))
    assert table.exists()
    table.append(_df(spark, [("c", "y", 3)]))
    assert sorted(r.k for r in table.read().collect()) == ["a", "b", "c"]


def test_merge_upserts_by_compound_key(spark, table):
    """S4: the reference upserts on (categoryId, _id) (MongoDbService.cs:254-258)."""
    table.append(_df(spark, [("a", "x", 1), ("b", "x", 2)]))
    table.merge(_df(spark, [("a", "x", 99), ("d", "z", 4)]), keys=["k", "cat"])
    got = {r.k: r.v for r in table.read().collect()}
    assert got == {"a": 99, "b": 2, "d": 4}


def test_point_and_predicate_delete(spark, table):
    table.append(_df(spark, [("a", "x", 1), ("b", "x", 2), ("c", "y", 3)]))
    table.delete(F.col("cat") == "x")  # S6 predicate delete
    assert [r.k for r in table.read().collect()] == ["c"]
    table.delete_by_keys(spark.createDataFrame([("c",)], "k string"), keys=["k"])  # S5
    assert table.read().count() == 0


def test_versions_advance_and_vacuum(spark, table):
    for i in range(4):
        table.append(_df(spark, [(f"r{i}", "x", i)]))
    assert table.current_version() == 3
    # vacuum keeps only the trailing versions
    dirs = [d for d in os.listdir(table.path) if d.startswith("v_")]
    assert len(dirs) <= 2


def test_transaction_messages_first_session_last(spark, tmp_path):
    """S7 (MongoDbService.cs:563-592): both tables committed, same txn_id
    stamped on both, messages committed BEFORE the session pointer so
    session-driven readers never see a half-written exchange."""
    sessions = ManagedTable(spark, str(tmp_path / "s"))
    messages = ManagedTable(spark, str(tmp_path / "m"))
    sessions.overwrite(spark.createDataFrame([("s1", 0)], "session_id string, tokens_used int"))
    messages.overwrite(
        spark.createDataFrame([], "id string, session_id string, text string")
    )
    txn = TransactionalWriter(sessions, messages)
    txn.upsert_session_batch(
        spark.createDataFrame([("s1", 42)], "session_id string, tokens_used int"),
        spark.createDataFrame(
            [("m1", "s1", "hi"), ("m2", "s1", "yo")], "id string, session_id string, text string"
        ),
        session_keys=["session_id"],
        message_keys=["id"],
        txn_id="txn-1",
    )
    srow = sessions.read().collect()
    mrows = messages.read().collect()
    assert srow[0].tokens_used == 42 and srow[0].txn_id == "txn-1"
    assert {r.id for r in mrows} == {"m1", "m2"}
    assert all(r.txn_id == "txn-1" for r in mrows)


def test_transaction_retry_is_idempotent(spark, tmp_path):
    """Keyed merges make a crashed-and-retried transaction converge instead
    of duplicating messages."""
    sessions = ManagedTable(spark, str(tmp_path / "s"))
    messages = ManagedTable(spark, str(tmp_path / "m"))
    sessions.overwrite(spark.createDataFrame([("s1", 0)], "session_id string, tokens_used int"))
    messages.overwrite(spark.createDataFrame([], "id string, session_id string, text string"))
    txn = TransactionalWriter(sessions, messages)
    s_row = spark.createDataFrame([("s1", 7)], "session_id string, tokens_used int")
    m_rows = spark.createDataFrame([("m1", "s1", "hi")], "id string, session_id string, text string")
    for _ in range(2):  # retry of the same logical transaction
        txn.upsert_session_batch(s_row, m_rows, ["session_id"], ["id"], txn_id="txn-9")
    assert messages.read().count() == 1
    assert sessions.read().first().tokens_used == 7


def test_time_travel_read(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "tt"))
    t.overwrite(spark.createDataFrame([(1, "a")], ["id", "val"]))          # v0
    t.merge(spark.createDataFrame([(1, "b"), (2, "c")], ["id", "val"]), ["id"])  # v1
    v0 = sorted(tuple(r) for r in t.read(version=0).collect())
    v1 = sorted(tuple(r) for r in t.read().collect())
    assert v0 == [(1, "a")]
    assert v1 == [(1, "b"), (2, "c")]
    with pytest.raises(ValueError):
        t.read(version=99)
    # a vacuumed version reports clearly rather than a raw path error
    t.delete(F.col("id") == 2)  # v2; default vacuum keeps last 2 -> v0 gone
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        t.read(version=0)
    assert sorted(tuple(r) for r in t.read(version=1).collect()) == v1


def test_read_pins_committed_schema(spark, tmp_path, monkeypatch):
    """read() passes each version's committed schema to the reader instead
    of inferring it from footers (a one-task `parquet at` job per read).
    The pinned schema must equal the inferred one: for non-nullable `lit`,
    timestamp and array columns, after an append that adds a column, for
    a time-travel read, for a pruned-to-nothing filtered read, and for the
    session store's tables. A version committed without a recorded schema
    still reads by inference."""
    from vector_search_ai_assistant_mongodbvcore_spark.operators.sessions import SessionStore

    from tests.test_prepared_plans import _next_job_id

    t = ManagedTable(spark, str(tmp_path / "pinned"))
    base = spark.range(3).select(
        "id",
        F.lit(7).alias("n"),
        F.current_timestamp().alias("ts"),
        F.array(F.col("id").cast("double"), F.lit(1.0)).alias("vec"),
    )
    t.overwrite(base)                                         # v0
    t.append(base.withColumn("tag", F.lit("x")))              # v1: adds a column
    store = SessionStore(spark, str(tmp_path / "sessions"))
    store.add_turn(store.create_session(), "q", 1, "a", 2, 3)

    def inferred(table, v):
        return spark.read.parquet(table._data_dir(v)).schema

    reads = [(t, 0), (t, 1), (store.sessions, None), (store.messages, None)]
    for table, v in reads:
        want = inferred(table, table.current_version() if v is None else v)
        before = _next_job_id(spark)
        assert table.read(version=v).schema == want
        assert _next_job_id(spark) == before, "read() inferred the schema"
    assert "tag" in t.read().columns and "tag" not in t.read(version=0).columns
    assert t.read(version=0, filters=[("id", ">", 100)]).schema == inferred(t, 0)
    assert sorted(r.id for r in t.read().collect()) == [0, 0, 1, 1, 2, 2]

    legacy = t._version_doc()
    legacy.pop("schemas")
    monkeypatch.setattr(t, "_version_doc", lambda: legacy)
    before = _next_job_id(spark)
    assert t.read().schema == inferred(t, 1)
    assert _next_job_id(spark) > before  # inference runs its footer job


def _files(t) -> int:
    return len(t._version_files(t._data_dir(t.current_version())))


def _rows(t) -> list:
    return sorted(tuple(r) for r in t.read().collect())


def _eight_file_table(spark, path):
    t = ManagedTable(spark, path)
    df = spark.range(0, 200).select(
        F.col("id").alias("k"), F.md5(F.col("id").cast("string")).alias("s")
    )
    t.overwrite(df.repartition(8))
    return t, df


def test_small_rewrites_write_one_file(spark, tmp_path):
    """Every rewrite (merge, append, delete, delete_by_keys) of a small
    table writes ONE file, whatever the split of the version it read,
    with the same rows as before; overwrite keeps the caller's
    partitioning."""
    t, df = _eight_file_table(spark, str(tmp_path / "sized"))
    assert _files(t) == 8
    want = {r.k: r.s for r in df.collect()}

    t.merge(local_frame(spark, [(3, "x"), (500, "y")], "k long, s string"), ["k"])
    want.update({3: "x", 500: "y"})
    assert _files(t) == 1 and _rows(t) == sorted(want.items())

    t.append(local_frame(spark, [(501, "z")], "k long, s string"))
    want[501] = "z"
    assert _files(t) == 1 and _rows(t) == sorted(want.items())

    t.delete(F.col("k") >= 150)
    want = {k: s for k, s in want.items() if k < 150}
    assert _files(t) == 1 and _rows(t) == sorted(want.items())

    t.delete_by_keys(local_frame(spark, [(0,), (7,)], "k long"), ["k"])
    del want[0], want[7]
    assert _files(t) == 1 and _rows(t) == sorted(want.items())

    t.overwrite(df.repartition(8))
    assert _files(t) == 8


def test_planned_bytes_reads_the_plan_without_a_job(spark, tmp_path):
    """planned_bytes is the optimizer's estimate: a scan's file bytes, a
    merge frame's scan plus its source rows, and no Spark job. A plan of
    unknown size or with a Python evaluation node has no usable
    estimate."""
    from vector_search_ai_assistant_mongodbvcore_spark.functions.embedder import (
        HashNgramEmbedder,
    )
    from vector_search_ai_assistant_mongodbvcore_spark.plans.inspect import planned_bytes

    from tests.test_prepared_plans import _next_job_id

    t, _ = _eight_file_table(spark, str(tmp_path / "est"))
    on_disk = sum(
        os.path.getsize(f) for f in t._version_files(t._data_dir(t.current_version()))
    )
    src = local_frame(spark, [(3, "x")], "k long, s string")
    merged = t.read().join(src.select("k"), "k", "left_anti").unionByName(src)
    rdd_src = spark.createDataFrame([(3, "x")], "k long, s string")
    embedded = src.withColumn("v", HashNgramEmbedder(dims=64).udf()(F.col("s")))
    before = _next_job_id(spark)
    assert planned_bytes(t.read()) == on_disk
    assert planned_bytes(merged) > on_disk
    assert planned_bytes(t.read().unionByName(rdd_src)) is None
    assert planned_bytes(t.read().unionByName(embedded, allowMissingColumns=True)) is None
    assert _next_job_id(spark) == before


def test_rewrite_over_the_bound_keeps_its_partitioning(spark, tmp_path):
    """The one-file bound is AQE's minimum partition size: with it set
    below the frame's planned bytes (runtime conf, restored after), an
    append keeps the scan's split; at its default the next append is
    one file again."""
    key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    t, _ = _eight_file_table(spark, str(tmp_path / "bound"))
    old = spark.conf.get(key)
    spark.conf.set(key, "1b")
    try:
        t.append(local_frame(spark, [(900, "n")], "k long, s string"))
    finally:
        spark.conf.set(key, old)
    assert _files(t) > 1
    t.append(local_frame(spark, [(901, "m")], "k long, s string"))
    assert _files(t) == 1
    assert t.read().count() == 202


def test_unestimated_rewrites_keep_their_partitioning(spark, tmp_path):
    """A merge whose source embeds with a pandas UDF, or is a
    createDataFrame RDD scan, has no usable size estimate and is not
    coalesced: the embedding keeps running in several tasks."""
    from vector_search_ai_assistant_mongodbvcore_spark.functions.embedder import (
        HashNgramEmbedder,
    )

    t, _ = _eight_file_table(spark, str(tmp_path / "udf"))
    src = local_frame(spark, [(3, "x"), (500, "y")], "k long, s string")
    t.merge(src.withColumn("v", HashNgramEmbedder(dims=8).udf()(F.col("s"))), ["k"])
    assert _files(t) > 1
    assert t.read().filter("v IS NOT NULL").count() == 2
    t.merge(spark.createDataFrame([(4, "z")], "k long, s string"), ["k"])
    assert _files(t) > 1
    assert t.read().count() == 201


def test_commit_retry_is_logged(spark, tmp_path, caplog):
    """A commit that loses its version check logs one retry record naming
    the table and the attempt; the commit that lands logs its version,
    mode and file count at DEBUG."""
    import logging

    name = "vector_search_ai_assistant_mongodbvcore_spark.sources.managed_table"
    t = ManagedTable(spark, str(tmp_path / "logged"))
    t.overwrite(local_frame(spark, [(1, "a")], "k long, s string"))
    commit = t._commit
    forced = []

    def stale_once(df, mode_note, expected=None, txn_note=None):
        if not forced:
            forced.append(expected)
            expected -= 1  # as if a concurrent writer had moved the pointer
        return commit(df, mode_note, expected=expected, txn_note=txn_note)

    t._commit = stale_once
    with caplog.at_level(logging.DEBUG, logger=name):
        t.merge(local_frame(spark, [(2, "b")], "k long, s string"), ["k"])
    records = [r for r in caplog.records if r.name == name]
    retries = [r for r in records if r.levelno == logging.INFO]
    assert len(retries) == 1, [r.getMessage() for r in records]
    assert t.path in retries[0].getMessage()
    assert "attempt 1 of" in retries[0].getMessage()
    assert any(
        r.levelno == logging.DEBUG and "committed v1 (merge, 1 files)" in r.getMessage()
        for r in records
    ), [r.getMessage() for r in records]
    assert _rows(t) == [(1, "a"), (2, "b")]
