"""File-level min-max data skipping (sources/managed_table.py).

The engine's analog of Delta stats-based skipping: footer min/max
aggregated per file at commit, consulted by read(filters=...), exact
predicate applied on top. Every test asserts BOTH halves of the
contract: fewer files touched AND identical rows to a full scan+filter.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vector_search_ai_assistant_mongodbvcore_spark.sources.managed_table import (
    BucketedTable,
    ManagedTable,
    _file_may_match,
)


def _ids(df):
    return sorted(r["k"] for r in df.collect())


@pytest.fixture()
def managed(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "mt"))
    df = spark.range(0, 800).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).alias("cat"),
        F.concat(F.lit("u"), F.lpad((F.col("id") % 50).cast("string"), 3, "0")).alias(
            "user"
        ),
        (F.col("id").cast("double") * 1.5).alias("price"),
    )
    # range-partition + sort on k -> disjoint per-file ranges, the layout
    # that makes skipping effective (the docstring's guidance)
    t.overwrite(df.repartitionByRange(8, "k").sortWithinPartitions("k"))
    return t


def test_managed_point_lookup_prunes(managed):
    kept, total = managed.pruned_files([("k", "=", 700)])
    assert total == 8 and kept == 1
    got = managed.read(filters=[("k", "=", 700)])
    want = managed.read().filter(F.col("k") == 700)
    assert _ids(got) == _ids(want) == [700]


def test_managed_range_prunes_and_matches(managed):
    filt = [("k", ">=", 600), ("k", "<", 650)]
    kept, total = managed.pruned_files(filt)
    assert kept < total
    got = managed.read(filters=filt)
    want = managed.read().filter((F.col("k") >= 600) & (F.col("k") < 650))
    assert _ids(got) == _ids(want)
    assert len(_ids(got)) == 50


def test_managed_string_and_in_filters(managed):
    # string min/max: user is correlated with k%50, so no pruning
    # guarantee — parity is the contract
    filt = [("user", "=", "u007")]
    got = managed.read(filters=filt)
    want = managed.read().filter(F.col("user") == "u007")
    assert _ids(got) == _ids(want)
    filt = [("k", "in", (5, 790))]
    kept, total = managed.pruned_files(filt)
    assert kept == 2  # the two end files
    assert _ids(managed.read(filters=filt)) == [5, 790]


def test_managed_empty_result_keeps_schema(managed):
    got = managed.read(filters=[("k", "=", 10_000)])
    kept, _ = managed.pruned_files([("k", "=", 10_000)])
    assert kept == 0
    assert got.count() == 0
    assert set(got.columns) == {"k", "cat", "user", "price"}


def test_float_columns_are_never_indexed(managed):
    # NaN-vs-footer-stats soundness: floats carry no stats, so a float
    # predicate prunes nothing but still filters exactly
    kept, total = managed.pruned_files([("price", ">", 1e12)])
    assert kept == total
    assert managed.read(filters=[("price", ">", 1e12)]).count() == 0


def test_skipping_survives_merge_commits(spark, managed):
    src = spark.createDataFrame(
        [(700, 99, "u999", 0.0)], "k long, cat long, user string, price double"
    )
    managed.merge(src, keys=["k"])
    got = managed.read(filters=[("cat", "=", 99)])
    assert [(r["k"], r["cat"]) for r in got.collect()] == [(700, 99)]
    # parity with the unfiltered read after the rewrite
    assert _ids(managed.read(filters=[("k", "<", 10)])) == list(range(10))


def test_all_null_file_pruned_for_value_match(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "nulls"))
    df = spark.createDataFrame(
        [(i, None if i < 50 else f"s{i}") for i in range(100)], "k long, s string"
    )
    # partition 0 all-null s, partition 1 all non-null
    t.overwrite(df.repartitionByRange(2, "k").sortWithinPartitions("k"))
    kept, total = t.pruned_files([("s", "=", "s99")])
    assert total == 2 and kept == 1
    assert sorted(r["k"] for r in t.read(filters=[("s", "=", "s99")]).collect()) == [99]
    # is_null keeps only files that actually hold nulls
    kept, total = t.pruned_files([("s", "is_null", None)])
    assert kept == 1
    assert t.read(filters=[("s", "is_null", None)]).count() == 50


def test_bad_filter_spec_raises(managed):
    with pytest.raises(ValueError, match="filter must be"):
        managed.read(filters=[("k", "!=", 1)])


def test_file_may_match_type_mismatch_never_prunes():
    stats = {"rows": 10, "cols": {"k": {"min": 0, "max": 5, "nulls": 0}}}
    assert _file_may_match(stats, "k", "=", "not-an-int")  # incomparable: keep


@pytest.fixture()
def bucketed(spark, tmp_path):
    t = BucketedTable(spark, str(tmp_path / "bt"), bucket_by=["user"], n_buckets=8)
    for batch in range(4):
        lo = batch * 250
        df = spark.range(lo, lo + 250).select(
            F.col("id").alias("k"),
            F.concat(F.lit("u"), (F.col("id") % 40).cast("string")).alias("user"),
            (F.col("id") % 5).alias("cat"),
        )
        if batch == 0:
            t.overwrite(df)
        else:
            t.append(df)
    return t


def test_bucketed_nonkey_range_prunes_across_appends(bucketed):
    # k ranges are disjoint per append batch: a k-range predicate keeps
    # roughly one batch's files out of four
    filt = [("k", ">=", 500), ("k", "<", 750)]
    kept, total = bucketed.pruned_files(filt)
    assert kept < total
    got = bucketed.read(filters=filt)
    want = bucketed.read().filter((F.col("k") >= 500) & (F.col("k") < 750))
    assert _ids(got) == _ids(want)
    assert len(_ids(got)) == 250


def test_bucketed_key_equality_hits_one_bucket(bucketed):
    kept, total = bucketed.pruned_files([("user", "=", "u7")])
    # full-key equality resolves to ONE of 8 buckets before any footer
    # is consulted
    assert kept <= total / bucketed.n_buckets + 1, (kept, total)
    got = bucketed.read(filters=[("user", "=", "u7")])
    want = bucketed.read().filter(F.col("user") == "u7")
    assert _ids(got) == _ids(want)
    assert got.count() == 25


def test_bucketed_compound_filter_prunes_both_ways(bucketed):
    filt = [("user", "=", "u7"), ("k", ">=", 750)]
    kept_key, total = bucketed.pruned_files([("user", "=", "u7")])
    kept_both, _ = bucketed.pruned_files(filt)
    assert kept_both < kept_key  # min-max stacks on top of bucket pruning
    got = bucketed.read(filters=filt)
    want = bucketed.read().filter((F.col("user") == "u7") & (F.col("k") >= 750))
    assert _ids(got) == _ids(want)


def test_bucketed_skipping_survives_merge_and_compact(spark, bucketed):
    src = spark.createDataFrame([(42, "u2", 77)], "k long, user string, cat long")
    bucketed.merge(src, keys=["user", "k"])
    got = bucketed.read(filters=[("cat", "=", 77)])
    assert [(r["k"], r["cat"]) for r in got.collect()] == [(42, 77)]
    bucketed.compact(min_dirs=2)
    kept, total = bucketed.pruned_files([("user", "=", "u7")])
    assert kept < total
    assert bucketed.read(filters=[("user", "=", "u7")]).count() == 25


def test_bucketed_empty_prune_returns_schema(bucketed):
    got = bucketed.read(filters=[("k", ">", 10_000)])
    assert got.count() == 0
    assert set(got.columns) == {"k", "user", "cat"}


def test_bucketed_delete_where_rewrites_only_matching_buckets(spark, bucketed):
    # append a batch confined to ONE bucket (single user) with a k range
    # far above everything else: the only files admitting k >= 5000 live
    # in u7's bucket, so stats-based pruning must rewrite exactly that
    # bucket and carry every other bucket's dir list forward verbatim
    extra = spark.range(5000, 5100).select(
        F.col("id").alias("k"), F.lit("u7").alias("user"), F.lit(0).alias("cat")
    )
    bucketed.append(extra)
    before = bucketed._manifest()
    n_before = bucketed.read().count()
    v = bucketed.delete_where([("k", ">=", 5000)])
    after = bucketed._manifest(v)
    # parity with a full-scan predicate delete
    assert bucketed.read().count() == n_before - 100
    assert bucketed.read().filter(F.col("k") >= 5000).count() == 0
    rewritten = [b for b in before if before[b] != after[b]]
    untouched = [b for b in before if before[b] == after[b]]
    assert len(rewritten) == 1, (rewritten, untouched)
    assert len(untouched) == bucketed.n_buckets - 1
    # and the untouched rows are byte-for-byte still there
    assert bucketed.read().filter(F.col("k") < 1000).count() == 1000


def test_bucketed_delete_where_no_match_is_zero_io(spark, bucketed):
    cur = bucketed.current_version()
    v = bucketed.delete_where([("k", ">", 10_000)])
    assert v == cur  # no version bump, nothing rewritten
    assert bucketed.read().count() == 1000


def test_delete_where_null_semantics_match_delete(spark, tmp_path):
    t = BucketedTable(spark, str(tmp_path / "btnull"), ["k"], n_buckets=4)
    df = spark.createDataFrame(
        [(i, None if i % 3 == 0 else i * 10) for i in range(30)],
        "k long, v long",
    )
    t.overwrite(df)
    t.delete_where([("v", ">=", 100)])
    kept = sorted(r["k"] for r in t.read().collect())
    # NULL v rows are KEPT (predicate evaluates NULL), matching delete()
    want = sorted(i for i in range(30) if i % 3 == 0 or i * 10 < 100)
    assert kept == want


def test_cluster_by_makes_skipping_effective(spark, tmp_path):
    """Unsorted appends leave every file spanning the full k range (no
    pruning); cluster_by rewrites each bucket into range-contiguous
    files, after which the same query touches a fraction of them —
    identical rows before and after (the OPTIMIZE ZORDER contract)."""
    t = BucketedTable(spark, str(tmp_path / "cb"), ["user"], n_buckets=4)
    import random

    rng = random.Random(7)
    ks = list(range(2000))
    rng.shuffle(ks)
    for batch in range(4):
        chunk = ks[batch * 500 : (batch + 1) * 500]
        df = spark.createDataFrame(
            [(k, f"u{k % 10}", k % 3) for k in chunk], "k long, user string, cat long"
        )
        (t.overwrite if batch == 0 else t.append)(df)

    filt = [("k", ">=", 100), ("k", "<", 200)]
    kept_before, total_before = t.pruned_files(filt)
    want = _ids(t.read().filter((F.col("k") >= 100) & (F.col("k") < 200)))
    assert kept_before == total_before  # shuffled appends: nothing prunes

    t.cluster_by(["k"], files_per_bucket=4)
    kept_after, total_after = t.pruned_files(filt)
    assert total_after >= 8  # buckets actually split into multiple files
    assert kept_after < total_after / 2, (kept_after, total_after)
    assert _ids(t.read(filters=filt)) == want  # rows identical
    assert t.read().count() == 2000  # nothing lost

    # clustering composes with delete_where: the range delete now
    # rewrites only the buckets holding matching files
    v = t.delete_where([("k", ">=", 1900)])
    assert t.read().count() == 1900
    assert t.read().filter(F.col("k") >= 1900).count() == 0


def test_oversized_strings_disable_column_stats(spark, tmp_path):
    """Parquet writers drop min/max for oversized string values. A file
    mixing a stats-bearing row group with a stats-dropped one must NOT
    prune on that column (the dropped group's values could match), while
    still pruning on healthy columns."""
    from vector_search_ai_assistant_mongodbvcore_spark.sources.managed_table import (
        _collect_parquet_stats,
    )

    t = ManagedTable(spark, str(tmp_path / "bigstr"))
    big = "z" * 10_000
    df = spark.createDataFrame(
        [(i, ("s%03d" % i) if i < 50 else big + str(i)) for i in range(100)],
        "k long, s string",
    )
    # one file: first half short strings (stats written), second half
    # oversized (stats dropped) — row-group layout depends on the writer,
    # so assert the SAFETY property rather than the layout: either the
    # column has no stats entry at all, or pruning still keeps the file
    t.overwrite(df.coalesce(1).sortWithinPartitions("k"))
    stats = _collect_parquet_stats(t._version_files(t._data_dir(0)))
    for fstat in stats.values():
        scol = fstat["cols"].get("s")
        if scol is not None:
            # if stats survived, they must cover the oversized values
            # (i.e. the writer kept min/max for them) — then pruning on
            # a big-suffix probe must keep the file
            assert scol["min"] <= big + "50"
    probe = big + "73"
    got = t.read(filters=[("s", "=", probe)])
    assert [r["k"] for r in got.collect()] == [73]
    # healthy integer column still prunes normally
    assert t.read(filters=[("k", "=", 7)]).count() == 1


def test_delete_where_rejects_empty_filters(spark, bucketed):
    with pytest.raises(ValueError, match="non-empty"):
        bucketed.delete_where([])


@pytest.mark.deep  # slow sweep/E2E (r16 tiering)
def test_random_conjunctions_always_match_full_scan(spark, tmp_path):
    """Property form of the skipping contract: for a battery of random
    (col, op, value) conjunctions over a mixed-layout table (sorted,
    shuffled and all-null files), read(filters) == read().filter —
    pruning may differ per filter, rows never may."""
    import itertools
    import random

    t = ManagedTable(spark, str(tmp_path / "prop"))
    rng = random.Random(13)
    ks = list(range(600))
    rng.shuffle(ks)
    rows = [
        (k, k % 11, None if k % 13 == 0 else f"c{k % 17:02d}") for k in ks
    ]
    df = spark.createDataFrame(rows, "k long, cat long, tag string")
    # half range-partitioned on k (prunable), half as-shuffled (not)
    t.overwrite(
        df.limit(300)
        .repartitionByRange(4, "k")
        .sortWithinPartitions("k")
        .unionByName(df.subtract(df.limit(300)).repartition(4))
    )
    ops = [
        ("k", "=", 123), ("k", "<", 50), ("k", ">=", 550), ("k", "in", (1, 599, 700)),
        ("cat", "=", 7), ("cat", ">", 9),
        ("tag", "=", "c03"), ("tag", "is_null", None), ("tag", "<", "c05"),
    ]
    for r in (1, 2):
        for conj in itertools.combinations(ops, r):
            filt = list(conj)
            from vector_search_ai_assistant_mongodbvcore_spark.sources.managed_table import (
                _filters_to_column,
            )

            want = sorted(
                tuple(row) for row in t.read().filter(_filters_to_column(filt)).collect()
            )
            got = sorted(tuple(row) for row in t.read(filters=filt).collect())
            assert got == want, filt


# ---- per-file Bloom filters -------------------------------------------


def _guid(i: int) -> str:
    import hashlib

    return hashlib.md5(str(i).encode()).hexdigest()


@pytest.fixture()
def bloomed(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "blm"), bloom_cols=("sid",))
    df = spark.range(0, 800).select(
        F.col("id").alias("k"),
        F.md5(F.col("id").cast("string")).alias("sid"),  # GUID-ish key
        (F.col("id") % 7).alias("cat"),
    )
    # hash-partitioned on k: every file's sid range spans the whole hex
    # space, so min-max alone can prune NOTHING
    t.overwrite(df.repartition(8, "k"))
    return t


def test_bloom_prunes_where_minmax_cannot(bloomed):
    sid = _guid(123)
    kept, total = bloomed.pruned_files([("sid", "=", sid)])
    # min-max keeps all 8 (overlapping ranges); the bloom keeps the one
    # holding file plus at most the 1% false positives
    assert total == 8 and 1 <= kept <= 2, (kept, total)
    got = bloomed.read(filters=[("sid", "=", sid)])
    want = bloomed.read().filter(F.col("sid") == sid)
    assert _ids(got) == _ids(want) == [123]


def test_bloom_absent_key_prunes_everything(bloomed):
    kept, total = bloomed.pruned_files([("sid", "=", "not-a-real-sid")])
    assert kept <= 1  # 0 modulo a false positive
    assert bloomed.read(filters=[("sid", "=", "not-a-real-sid")]).count() == 0


def test_bloom_in_filter(bloomed):
    present, absent = _guid(5), "nope"
    kept, total = bloomed.pruned_files([("sid", "in", [present, absent])])
    assert 1 <= kept <= 2
    got = bloomed.read(filters=[("sid", "in", [present, absent])])
    assert _ids(got) == [5]
    kept0, _ = bloomed.pruned_files([("sid", "in", ["nope1", "nope2"])])
    assert kept0 <= 1


def test_bloom_declaration_is_sticky(spark, bloomed):
    """A later writer constructed WITHOUT bloom_cols keeps indexing: the
    version it appends carries sid Bloom filters, and a multi-file
    version it writes prunes on them."""
    t2 = ManagedTable(spark, bloomed.path)  # no declaration
    extra = spark.range(800, 1000).select(
        F.col("id").alias("k"),
        F.md5(F.col("id").cast("string")).alias("sid"),
        (F.col("id") % 7).alias("cat"),
    )
    t2.append(extra.repartition(2, "cat"))
    stats = t2._filestats(t2.current_version())
    assert stats and all("sid" in (s.get("blooms") or {}) for s in stats.values())
    sid = _guid(900)
    assert _ids(t2.read(filters=[("sid", "=", sid)])) == [900]
    # an append of a small table is one file; pruning needs several
    t2.overwrite(t2.read().repartition(4, "k"))
    kept, total = t2.pruned_files([("sid", "=", sid)])
    assert total == 4 and kept < total, (kept, total)
    assert _ids(t2.read(filters=[("sid", "=", sid)])) == [900]


def test_bloom_type_tagged_keys_never_collide(spark, tmp_path):
    """int 1, bool True and string '1' must not alias in the filter."""
    from vector_search_ai_assistant_mongodbvcore_spark.sources.managed_table import (
        _bloom_key,
    )

    keys = {_bloom_key(1), _bloom_key(True), _bloom_key("1"), _bloom_key(0), _bloom_key(False)}
    assert len(keys) == 5


def test_bloom_float_columns_not_indexed(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "fb"), bloom_cols=("price",))
    df = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 1.5).alias("price")
    )
    t.overwrite(df.repartition(4))
    stats = t._filestats(t.current_version())
    assert all(not s.get("blooms") for s in stats.values())
    # and reads stay correct without the index
    got = t.read(filters=[("k", "=", 50)])
    assert _ids(got) == [50]


def test_bucketed_bloom_on_nonbucket_column(spark, tmp_path):
    t = BucketedTable(
        spark, str(tmp_path / "bb"), bucket_by=["k"], n_buckets=4,
        bloom_cols=("sid",),
    )
    df = spark.range(0, 400).select(
        F.col("id").alias("k"), F.md5(F.col("id").cast("string")).alias("sid")
    )
    t.overwrite(df)
    sid = _guid(37)
    kept, total = t.pruned_files([("sid", "=", sid)])
    assert kept < total, (kept, total)
    got = t.read(filters=[("sid", "=", sid)])
    assert _ids(got) == [37]
    # sticky through a merge by a declaration-less writer
    t2 = BucketedTable(spark, t.path, bucket_by=["k"], n_buckets=4)
    upd = spark.range(400, 450).select(
        F.col("id").alias("k"), F.md5(F.col("id").cast("string")).alias("sid")
    )
    t2.merge(upd, ["k"])
    sid2 = _guid(420)
    kept2, total2 = t2.pruned_files([("sid", "=", sid2)])
    assert kept2 < total2
    assert _ids(t2.read(filters=[("sid", "=", sid2)])) == [420]


def test_bloom_never_false_negative_property():
    """A Bloom filter may keep extra files (false positive) but must NEVER
    claim a present value is absent — that would drop rows. Property-
    tested over random mixed-type value sets."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from vector_search_ai_assistant_mongodbvcore_spark.sources.managed_table import (
        _bloom_build,
        _bloom_key,
        _bloom_may_contain,
    )

    values = st.one_of(
        st.integers(min_value=-(2**62), max_value=2**62),
        st.text(max_size=40),
        st.booleans(),
    )

    @given(st.lists(values, max_size=200))
    @settings(max_examples=200, deadline=None)
    def check(vals):
        keys = sorted({_bloom_key(v) for v in vals})
        bloom = _bloom_build(keys)
        for v in vals:
            assert _bloom_may_contain(bloom, v)

    check()


def test_bloom_prunes_delete_where(spark, tmp_path):
    """delete_where consults the same _file_may_match path, so bloom
    columns bound predicate-delete IO on interleaved keys too: only the
    bucket holding the key rewrites, parity with a full-predicate
    delete."""
    t = BucketedTable(
        spark, str(tmp_path / "bd"), bucket_by=["k"], n_buckets=4,
        bloom_cols=("sid",),
    )
    df = spark.range(0, 400).select(
        F.col("id").alias("k"), F.md5(F.col("id").cast("string")).alias("sid")
    )
    t.overwrite(df)
    before = t._manifest()
    sid = _guid(111)
    t.delete_where([("sid", "=", sid)])
    after = t._manifest()
    untouched = sum(1 for b in before if before[b] == after.get(b))
    assert untouched >= 2, (len(before), untouched)  # most buckets carried
    assert t.read().filter(F.col("sid") == sid).count() == 0
    assert t.read().count() == 399
    # absent key: zero IO, version unchanged
    v = t.current_version()
    assert t.delete_where([("sid", "=", "absent")]) == v


def test_bloom_type_mismatched_literal_never_prunes(spark, tmp_path):
    """A literal whose type differs from the column's stored values must
    not be bloom-pruned: Spark's residual predicate coerces (string col
    vs int literal) and can still match — the same TypeError guard the
    min-max path has."""
    t = ManagedTable(spark, str(tmp_path / "tm"), bloom_cols=("sid",))
    df = spark.createDataFrame(
        [(i, str(100 + i)) for i in range(40)], "k long, sid string"
    )
    t.overwrite(df.repartition(4, "k"))
    # int literal against the string column: bloom must keep all files,
    # and the coerced predicate still finds the row
    kept, total = t.pruned_files([("sid", "=", 123)])
    assert kept == total
    got = t.read(filters=[("sid", "=", 123)]).collect()
    assert [r["k"] for r in got] == [23]
    # matching-type literal still prunes
    kept2, total2 = t.pruned_files([("sid", "=", "123")])
    assert kept2 < total2


def test_bloom_declaration_can_be_cleared(spark, tmp_path):
    """bloom_cols=() explicitly CLEARS the sticky declaration; None (the
    default) inherits it."""
    t = ManagedTable(spark, str(tmp_path / "tc"), bloom_cols=("sid",))
    df = spark.range(0, 50).select(
        F.col("id").alias("k"), F.md5(F.col("id").cast("string")).alias("sid")
    )
    t.overwrite(df.repartition(2, "k"))
    assert any(s.get("blooms") for s in t._filestats(t.current_version()).values())
    # inheriting writer keeps indexing
    t2 = ManagedTable(spark, t.path)
    t2.append(df.withColumn("k", F.col("k") + 100).repartition(1, "k"))
    assert any(s.get("blooms") for s in t2._filestats(t2.current_version()).values())
    # explicit () clears: next commit builds no blooms
    t3 = ManagedTable(spark, t.path, bloom_cols=())
    t3.overwrite(df.repartition(2, "k"))
    stats = t3._filestats(t3.current_version())
    assert all(not s.get("blooms") for s in stats.values())
