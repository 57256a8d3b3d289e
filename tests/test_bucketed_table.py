"""BucketedTable: file-level COW — keyed mutations must rewrite ONLY the
buckets containing touched keys, appends must rewrite nothing."""

import os

import pytest
from pyspark.sql import functions as F

from vector_search_ai_assistant_mongodbvcore_spark.sources.managed_table import BucketedTable


@pytest.fixture()
def table(spark, tmp_path):
    t = BucketedTable(spark, str(tmp_path / "bt"), bucket_by=["id"], n_buckets=8)
    rows = [(f"k{i}", i) for i in range(100)]
    t.overwrite(spark.createDataFrame(rows, "id string, v int"))
    return t


def _manifest(table):
    return {k: list(v) for k, v in table._manifest().items()}


def test_read_roundtrip(spark, table):
    got = {r.id: r.v for r in table.read().collect()}
    assert got == {f"k{i}": i for i in range(100)}
    assert "_bucket" not in table.read().columns


def test_merge_rewrites_only_affected_buckets(spark, table):
    before = _manifest(table)
    src = spark.createDataFrame([("k3", 999), ("k3b", -1)], "id string, v int")
    affected = set(table._affected_buckets(src))
    table.merge(src)
    after = _manifest(table)
    untouched = [b for b in after if int(b) not in affected]
    assert untouched, "fixture must leave some buckets untouched"
    for b in untouched:
        assert after[b] == before[b], f"bucket {b} was rewritten without being touched"
    for b in affected:
        assert after[str(b)] != before.get(str(b))
    got = {r.id: r.v for r in table.read().collect()}
    assert got["k3"] == 999 and got["k3b"] == -1 and len(got) == 101


def test_append_is_pure_file_add(spark, table):
    before = _manifest(table)
    table.append(spark.createDataFrame([("new1", 1), ("new2", 2)], "id string, v int"))
    after = _manifest(table)
    for b, dirs in before.items():
        assert after[b][: len(dirs)] == dirs, "append must keep existing files in place"
    assert table.read().count() == 102


def test_delete_by_keys_prunes_buckets(spark, table):
    before = _manifest(table)
    src = spark.createDataFrame([("k7",)], "id string")
    affected = set(table._affected_buckets(src))
    table.delete_by_keys(src)
    after = _manifest(table)
    for b in after:
        if int(b) not in affected:
            assert after[b] == before[b]
    ids = {r.id for r in table.read().collect()}
    assert "k7" not in ids and len(ids) == 99


def test_keys_not_covering_bucket_by_raise_value_error(spark, table):
    """Caller-supplied keys must include bucket_by (rows with equal keys
    must share a bucket); the check is a ValueError, so it survives
    `python -O`, and nothing is committed."""
    version = table.current_version()
    src = spark.createDataFrame([("k3", 3)], "id string, v int")
    with pytest.raises(ValueError, match="merge keys .* must cover bucket_by"):
        table.merge(src, keys=["v"])
    with pytest.raises(ValueError, match="delete keys .* must cover bucket_by"):
        table.delete_by_keys(src, keys=["v"])
    assert table.current_version() == version


def test_predicate_delete_full_rewrite_correct(spark, table):
    table.delete(F.col("v") >= 50)
    got = {r.v for r in table.read().collect()}
    assert got == set(range(50))


def test_delete_everything_leaves_readable_empty_table(spark, table):
    table.delete(F.col("v") >= 0)
    out = table.read()
    assert out.count() == 0
    assert set(out.columns) == {"id", "v"}


def test_merge_then_append_then_merge_chain(spark, table):
    table.append(spark.createDataFrame([("k5", 1000)], "id string, v int"))  # dup key k5
    # merge must collapse BOTH copies of k5 (old file + appended file)
    table.merge(spark.createDataFrame([("k5", 7)], "id string, v int"))
    rows = table.read().filter(F.col("id") == "k5").collect()
    assert len(rows) == 1 and rows[0].v == 7


def test_vacuum_removes_stale_versions_keeps_referenced(spark, table):
    for i in range(5):
        table.merge(spark.createDataFrame([(f"k{i}", -i)], "id string, v int"))
    # all buckets still readable after vacuuming old versions
    assert table.read().count() == 100
    cur = table.current_version()
    # dirs referenced by the keep-window manifests (last 2 versions stay
    # readable) must survive; everything older and unreferenced is gone
    live = {
        os.path.normpath(d).split(f"{os.sep}_bucket=")[0]
        for v in (cur - 1, cur)
        for dirs in table._manifest(v).values()
        for d in dirs
    }
    from vector_search_ai_assistant_mongodbvcore_spark.sources.managed_table import (
        _parse_versioned_name,
    )

    for d in os.listdir(table.path):
        v = _parse_versioned_name(d, "v_")
        if v is not None:
            full = os.path.join(table.path, d)
            assert full in live or v > cur - 2, f"{d} leaked past vacuum"
    # stale manifests are gone too (names carry an attempt suffix)
    manifests = sorted(
        _parse_versioned_name(m, "manifest_", ".json")
        for m in os.listdir(table.path)
        if m.startswith("manifest_")
    )
    assert manifests == [cur - 1, cur]


def test_works_as_vector_store(spark, table, tmp_path):
    """The scale layout slots under the search operator unchanged."""
    from vector_search_ai_assistant_mongodbvcore_spark.functions.embedder import HashNgramEmbedder
    from vector_search_ai_assistant_mongodbvcore_spark.operators.vector_search import vector_search

    emb = HashNgramEmbedder(dims=16)
    t = BucketedTable(spark, str(tmp_path / "docs"), bucket_by=["id"], n_buckets=4)
    docs = [("d1", "red mountain bike"), ("d2", "blue racing socks"), ("d3", "green helmet")]
    df = spark.createDataFrame(docs, "id string, text string")
    t.overwrite(df.withColumn("vector", emb.udf()(F.col("text"))))
    q = [float(x) for x in emb.embed_numpy(["blue racing socks"])[0]]
    top = vector_search(t.read(), q, k=1, vector_col="vector", id_col="id").first()
    assert top.id == "d2"


def test_compact_collapses_append_dir_lists(spark, tmp_path):
    from vector_search_ai_assistant_mongodbvcore_spark.sources.managed_table import BucketedTable

    t = BucketedTable(spark, str(tmp_path / "bt_compact"), bucket_by=["k"], n_buckets=4)
    base = spark.createDataFrame([(i, f"v{i}") for i in range(20)], "k long, val string")
    t.overwrite(base)
    for j in range(3):  # three appends -> dir lists grow
        t.append(
            spark.createDataFrame([(100 + 20 * j + i, "a") for i in range(20)], "k long, val string")
        )
    before = t.read().collect()
    assert any(len(d) >= 2 for d in t._manifest().values())

    v = t.compact()
    assert v == t.current_version()
    assert all(len(d) <= 1 for d in t._manifest().values())
    after = t.read().collect()
    assert sorted(map(tuple, before)) == sorted(map(tuple, after))  # contents unchanged

    # idempotent: nothing left to compact, version unchanged
    assert t.compact() == v


def test_compact_untouched_buckets_carry_forward(spark, tmp_path):
    from vector_search_ai_assistant_mongodbvcore_spark.sources.managed_table import BucketedTable

    t = BucketedTable(spark, str(tmp_path / "bt_cf"), bucket_by=["k"], n_buckets=4)
    t.overwrite(spark.createDataFrame([(i, "x") for i in range(40)], "k long, val string"))
    manifest_before = {k: list(v) for k, v in t._manifest().items()}
    # append touching (very likely) a strict subset of buckets
    t.append(spark.createDataFrame([(1000, "y")], "k long, val string"))
    touched = {b for b, dirs in t._manifest().items() if len(dirs) >= 2}
    t.compact()
    manifest_after = t._manifest()
    for b, dirs in manifest_after.items():
        if b not in touched:
            assert dirs == manifest_before[b]  # untouched bucket: same files


def test_bucketed_time_travel(spark, tmp_path):
    t = BucketedTable(spark, str(tmp_path / "btt"), bucket_by=["id"], n_buckets=4)
    t.overwrite(spark.createDataFrame([(1, "a"), (2, "b")], ["id", "val"]))   # v0
    t.merge(spark.createDataFrame([(2, "B"), (3, "c")], ["id", "val"]), ["id"])  # v1
    assert sorted(tuple(r) for r in t.read(version=0).collect()) == [(1, "a"), (2, "b")]
    assert sorted(tuple(r) for r in t.read().collect()) == [(1, "a"), (2, "B"), (3, "c")]
    with pytest.raises(ValueError):
        t.read(version=7)


def test_merge_evolves_schema_and_reads_deterministically(spark, tmp_path):
    """Additive schema evolution: a merge introducing a NEW column
    records it in the manifest, and reads enforce the evolved schema —
    untouched buckets' older files yield NULLs for it instead of the
    column nondeterministically vanishing with the sampled footer."""
    from vector_search_ai_assistant_mongodbvcore_spark.sources.managed_table import (
        BucketedTable,
    )

    t = BucketedTable(spark, str(tmp_path / "ev"), bucket_by=["id"], n_buckets=4)
    t.overwrite(spark.createDataFrame([(i, "old") for i in range(8)], "id long, val string"))
    # merge rows carrying a column the table has never seen
    t.merge(
        spark.createDataFrame([(100, "new", 7)], "id long, val string, extra long")
    )
    df = t.read()
    assert "extra" in df.columns  # present no matter which footer Spark samples
    rows = {r["id"]: r["extra"] for r in df.collect()}
    assert rows[100] == 7
    assert all(rows[i] is None for i in range(8))  # legacy rows: NULL
    # a LATER write lacking the column must not drop it from the schema
    t.merge(spark.createDataFrame([(200, "late")], "id long, val string"))
    df2 = t.read()
    assert "extra" in df2.columns
    assert {r["extra"] for r in df2.filter(df2.id == 200).collect()} == {None}


def test_safe_widening_is_cast_on_write(spark, tmp_path):
    """Delta's implicit write cast: appending/merging an int frame into
    a long column succeeds (the staged files carry the table's long
    type, so mixed-vintage reads never need parquet type promotion);
    the committed schema keeps the original type; a LOSSY retype
    (float -> long) still raises."""
    from vector_search_ai_assistant_mongodbvcore_spark.sources.managed_table import (
        BucketedTable,
        SchemaEvolutionError,
    )

    t = BucketedTable(spark, str(tmp_path / "wd"), bucket_by=["id"], n_buckets=2)
    t.overwrite(spark.createDataFrame([(1, 10)], "id long, v long"))
    t.append(spark.createDataFrame([(2, 20)], "id long, v int"))  # widened
    t.merge(spark.createDataFrame([(3, 30)], "id int, v int"))  # key + val cast
    got = t.read()
    assert dict(got.dtypes) == {"id": "bigint", "v": "bigint"}
    assert sorted((r["id"], r["v"]) for r in got.collect()) == [(1, 10), (2, 20), (3, 30)]
    with pytest.raises(SchemaEvolutionError, match="retyped"):
        t.append(spark.createDataFrame([(4, 4.5)], "id long, v float"))


def test_nested_struct_evolution_is_additive(spark, tmp_path):
    """Review finding: adding a field INSIDE a struct column is additive
    (Delta mergeSchema permits it) and must merge, not raise; old rows
    read the new nested field as NULL. A nested primitive RETYPE still
    raises."""
    from vector_search_ai_assistant_mongodbvcore_spark.sources.managed_table import (
        BucketedTable,
        SchemaEvolutionError,
    )

    t = BucketedTable(spark, str(tmp_path / "ns"), bucket_by=["id"], n_buckets=2)
    t.overwrite(
        spark.createDataFrame(
            [(1, ("x",))], "id long, meta struct<a: string>"
        )
    )
    t.merge(
        spark.createDataFrame(
            [(2, ("y", "z"))], "id long, meta struct<a: string, b: string>"
        )
    )
    got = {r["id"]: (r["meta"]["a"], r["meta"]["b"]) for r in t.read().collect()}
    assert got == {1: ("x", None), 2: ("y", "z")}
    with pytest.raises(SchemaEvolutionError, match="retyped"):
        t.merge(
            spark.createDataFrame(
                [(3, (4,))], "id long, meta struct<a: int>"
            )
        )


def test_retype_write_is_rejected_not_committed(spark, tmp_path):
    """ADVICE r9: evolution never validated retypes — a write whose frame
    retypes an existing column (int -> string) must be REJECTED at commit
    time (Delta semantics), not committed as files the manifest schema
    cannot satisfy. The table is unchanged afterwards and no staging
    debris is left behind."""
    import os

    from vector_search_ai_assistant_mongodbvcore_spark.sources.managed_table import (
        BucketedTable,
        SchemaEvolutionError,
    )

    t = BucketedTable(spark, str(tmp_path / "rt"), bucket_by=["id"], n_buckets=2)
    t.overwrite(spark.createDataFrame([(1, 10), (2, 20)], "id long, v long"))
    v0 = t.current_version()
    with pytest.raises(SchemaEvolutionError, match="retyped"):
        t.merge(spark.createDataFrame([(3, "oops")], "id long, v string"))
    assert t.current_version() == v0  # nothing committed
    assert sorted((r["id"], r["v"]) for r in t.read().collect()) == [(1, 10), (2, 20)]
    assert not [n for n in os.listdir(t.path) if n.startswith("_staging_")]
