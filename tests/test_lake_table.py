"""Lake-format behavior tests — mirror of the reference's Delta behavior
suite (``/root/reference/tests/utils/test_spark_delta.py:234-578``): write
modes, schema evolution on append, empty-df skip, time travel, fencing,
compaction/expiry."""

from __future__ import annotations

import os
from collections import Counter

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cdm_data_loader_utils_spark.lake.table import (
    CommitConflictError,
    LakeTable,
    SchemaEvolutionError,
    reconcile_schemas,
)

SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType()),
        T.StructField("v", T.IntegerType()),
    ]
)


def _df(spark, rows, schema=SCHEMA):
    return spark.createDataFrame(rows, schema)


def test_create_and_read_empty(spark, warehouse):
    t = LakeTable.create(spark, os.path.join(warehouse, "t"), SCHEMA)
    assert t.read().count() == 0
    assert [f.name for f in t.read().schema.fields] == ["k", "v"]
    assert t.snapshot_id == 1


def test_append_and_read(spark, warehouse):
    t = LakeTable.create(spark, os.path.join(warehouse, "t"), SCHEMA)
    t.append(_df(spark, [("a", 1), ("b", 2)]))
    t.append(_df(spark, [("c", 3)]))
    got = {(r.k, r.v) for r in t.read().collect()}
    assert got == {("a", 1), ("b", 2), ("c", 3)}


def test_overwrite(spark, warehouse):
    t = LakeTable.create(spark, os.path.join(warehouse, "t"), SCHEMA)
    t.append(_df(spark, [("a", 1)]))
    t.overwrite(_df(spark, [("z", 9)]))
    assert [(r.k, r.v) for r in t.read().collect()] == [("z", 9)]


def test_time_travel(spark, warehouse):
    t = LakeTable.create(spark, os.path.join(warehouse, "t"), SCHEMA)
    t.append(_df(spark, [("a", 1)]))
    v2 = t.snapshot_id
    t.append(_df(spark, [("b", 2)]))
    assert t.read().count() == 2
    assert t.read(snapshot_id=v2).count() == 1


def test_schema_evolution_append_adds_column(spark, warehouse):
    t = LakeTable.create(spark, os.path.join(warehouse, "t"), SCHEMA)
    t.append(_df(spark, [("a", 1)]))
    wider = T.StructType(
        SCHEMA.fields + [T.StructField("extra", T.StringType())]
    )
    t.append(spark.createDataFrame([("b", 2, "x")], wider))
    rows = {(r.k, r.v, r.extra) for r in t.read().collect()}
    assert rows == {("a", 1, None), ("b", 2, "x")}


def test_schema_widening_int_to_long(spark, warehouse):
    t = LakeTable.create(spark, os.path.join(warehouse, "t"), SCHEMA)
    t.append(_df(spark, [("a", 1)]))
    wide = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("v", T.LongType())]
    )
    t.append(spark.createDataFrame([("b", 2**40)], wide))
    out = t.read()
    assert dict(out.dtypes)["v"] == "bigint"
    assert {(r.k, r.v) for r in out.collect()} == {("a", 1), ("b", 2**40)}


def test_incompatible_evolution_rejected():
    a = T.StructType([T.StructField("x", T.IntegerType())])
    b = T.StructType([T.StructField("x", T.StringType())])
    with pytest.raises(SchemaEvolutionError):
        reconcile_schemas(a, b)


def test_fencing(spark, warehouse):
    t = LakeTable.create(spark, os.path.join(warehouse, "t"), SCHEMA)
    t.append(_df(spark, [("a", 1)]), fence_key="run1:0")
    sid = t.is_fenced("run1:0")
    assert sid == t.snapshot_id
    assert t.is_fenced("run1:1") is None


def test_commit_conflict(spark, warehouse):
    t = LakeTable.create(spark, os.path.join(warehouse, "t"), SCHEMA)
    snap = t.snapshot()
    dup = t._next_snap(snap, "append", [], None, None)
    t._commit(dup)
    with pytest.raises(CommitConflictError):
        t._commit(dup)


def test_merge_upsert_delete_and_lww(spark, warehouse):
    t = LakeTable.create(
        spark, os.path.join(warehouse, "t"), SCHEMA, bucket_by="k", bucket_count=4
    )
    src_schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("v", T.IntegerType()),
            T.StructField("op", T.StringType()),
            T.StructField("lsn", T.LongType()),
        ]
    )
    t.merge_cdc(
        spark.createDataFrame(
            [("a", 1, "i", 10), ("b", 2, "i", 11), ("c", 3, "i", 12)], src_schema
        ),
        key_cols=["k"],
    )
    assert {(r.k, r.v) for r in t.read().collect()} == {("a", 1), ("b", 2), ("c", 3)}
    # update a, delete b, late (lower-lsn) update of c must lose
    t.merge_cdc(
        spark.createDataFrame(
            [("a", 100, "u", 20), ("b", 0, "d", 21), ("c", 999, "u", 5)], src_schema
        ),
        key_cols=["k"],
    )
    assert {(r.k, r.v) for r in t.read().collect()} == {("a", 100), ("c", 3)}
    # tombstone semantics: late lower-lsn resurrect of b must ALSO lose
    t.merge_cdc(
        spark.createDataFrame([("b", 7, "u", 15)], src_schema), key_cols=["k"]
    )
    assert {(r.k, r.v) for r in t.read().collect()} == {("a", 100), ("c", 3)}
    # but a genuinely-newer insert of b wins
    t.merge_cdc(
        spark.createDataFrame([("b", 8, "i", 30)], src_schema), key_cols=["k"]
    )
    assert {(r.k, r.v) for r in t.read().collect()} == {("a", 100), ("b", 8), ("c", 3)}


def test_merge_schema_evolution_new_column(spark, warehouse):
    t = LakeTable.create(
        spark, os.path.join(warehouse, "t"), SCHEMA, bucket_by="k", bucket_count=4
    )
    base = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("v", T.IntegerType()),
            T.StructField("op", T.StringType()),
            T.StructField("lsn", T.LongType()),
        ]
    )
    t.merge_cdc(spark.createDataFrame([("a", 1, "i", 1)], base), key_cols=["k"])
    evolved = T.StructType(list(base.fields) + [T.StructField("tool", T.StringType())])
    t.merge_cdc(
        spark.createDataFrame([("b", 2, "i", 2, "hammer")], evolved), key_cols=["k"]
    )
    rows = {(r.k, r.v, r.tool) for r in t.read().collect()}
    assert rows == {("a", 1, None), ("b", 2, "hammer")}
    # update of a WITHOUT tool column nulls it (full row-image semantics)
    t.merge_cdc(spark.createDataFrame([("b", 3, "u", 9)], base), key_cols=["k"])
    rows = {(r.k, r.v, r.tool) for r in t.read().collect()}
    assert rows == {("a", 1, None), ("b", 3, None)}


def test_compact_and_expire(spark, warehouse):
    t = LakeTable.create(
        spark, os.path.join(warehouse, "t"), SCHEMA, bucket_by="k", bucket_count=2
    )
    for i in range(4):
        t.append(_df(spark, [(f"k{i}", i)]))
    n_before = len(t.files())
    t.compact()
    assert len(t.files()) < n_before
    assert t.read().count() == 4
    # grace_seconds=0: this test owns the table exclusively — the default
    # grace period protects concurrent writers' in-flight files
    removed = t.expire_snapshots(keep_last=1, grace_seconds=0)
    assert removed > 0
    assert t.read().count() == 4
    assert len(t.history()) == 1


def test_merge_only_rewrites_touched_buckets(spark, warehouse):
    """Scale property: a merge touching one key must carry forward (not
    rewrite) files in other buckets."""
    t = LakeTable.create(
        spark, os.path.join(warehouse, "t"), SCHEMA, bucket_by="k", bucket_count=8
    )
    t.append(_df(spark, [(f"k{i}", i) for i in range(64)]))
    files_before = {f.path for f in t.files()}
    src_schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("v", T.IntegerType()),
            T.StructField("op", T.StringType()),
            T.StructField("lsn", T.LongType()),
        ]
    )
    t.merge_cdc(
        spark.createDataFrame([("k3", 333, "u", 99)], src_schema), key_cols=["k"]
    )
    files_after = {f.path for f in t.files()}
    carried = files_before & files_after
    assert carried, "untouched-bucket files must carry forward unchanged"
    assert t.snapshot()["summary"]["files_rewritten"] <= 1
    got = {(r.k, r.v) for r in t.read().collect()}
    assert ("k3", 333) in got and len(got) == 64


def test_merge_mixed_matched_and_new_keys(spark, warehouse):
    """Regression: a batch with both an update to an existing key and a
    brand-new key in the same bucket must not double-write the new key."""
    t = LakeTable.create(
        spark, os.path.join(warehouse, "t"), SCHEMA, bucket_by="k", bucket_count=1
    )
    src_schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("v", T.IntegerType()),
            T.StructField("op", T.StringType()),
            T.StructField("lsn", T.LongType()),
        ]
    )
    t.merge_cdc(spark.createDataFrame([("a", 1, "i", 1)], src_schema), key_cols=["k"])
    t.merge_cdc(
        spark.createDataFrame([("a", 2, "u", 2), ("b", 9, "i", 3)], src_schema),
        key_cols=["k"],
    )
    rows = [(r.k, r.v) for r in t.read().orderBy("k").collect()]
    assert rows == [("a", 2), ("b", 9)]
    assert t.read().groupBy("k").count().filter(F.col("count") > 1).count() == 0


def test_concurrent_appends_retry(spark, warehouse):
    """Two writers racing on the same snapshot version: the loser retries
    against the new snapshot; both rows land."""
    from concurrent.futures import ThreadPoolExecutor

    t = LakeTable.create(spark, os.path.join(warehouse, "t"), SCHEMA)

    def write(i):
        t.append(_df(spark, [(f"w{i}", i)]))

    with ThreadPoolExecutor(max_workers=2) as pool:
        list(pool.map(write, [1, 2]))
    got = {(r.k, r.v) for r in t.read().collect()}
    assert got == {("w1", 1), ("w2", 2)}
    # orphaned loser files (if any) are reclaimable without data loss
    t.expire_snapshots(keep_last=1, grace_seconds=0)
    assert {(r.k, r.v) for r in t.read().collect()} == got


def test_concurrent_delete_and_append_retry(spark, warehouse):
    """A predicate DELETE racing an append on the same snapshot version:
    the optimistic-retry loop must apply BOTH effects — the appended rows
    land, and every row matching the delete condition (whichever writer
    won the race) is gone."""
    from concurrent.futures import ThreadPoolExecutor

    t = LakeTable.create(spark, os.path.join(warehouse, "t"), SCHEMA)
    t.append(_df(spark, [("a", 1), ("b", 200)]))

    def do_append():
        t.append(_df(spark, [("c", 300), ("d", 3)]))

    def do_delete():
        t.delete(F.col("v") >= 100)

    with ThreadPoolExecutor(max_workers=2) as pool:
        list(pool.map(lambda f: f(), [do_append, do_delete]))
    got = {(r.k, r.v) for r in t.read().collect()}
    # "a" and "d" always survive; "b" is always deleted; "c" (v=300)
    # survives only if the append committed AFTER the delete probed
    assert {("a", 1), ("d", 3)} <= got
    assert ("b", 200) not in got
    assert got - {("a", 1), ("d", 3), ("c", 300)} == set()


def test_table_on_hadoop_file_uri(spark, warehouse):
    """The FS layer must run the whole lifecycle over a Hadoop FileSystem
    (file:// here; same code path mounts hdfs:// / s3a:// on a cluster)."""
    uri = "file://" + os.path.join(warehouse, "hadoop_t")
    t = LakeTable.create(spark, uri, SCHEMA, bucket_by="k", bucket_count=2)
    assert LakeTable.exists(uri, spark=spark)
    t.append(_df(spark, [("a", 1), ("b", 2)]))
    src_schema = T.StructType(
        list(SCHEMA.fields)
        + [T.StructField("op", T.StringType()), T.StructField("lsn", T.LongType())]
    )
    t.merge_cdc(
        spark.createDataFrame([("a", 100, "u", 10), ("c", 3, "i", 11)], src_schema),
        key_cols=["k"],
    )
    t2 = LakeTable.load(spark, uri)
    got = {(r.k, r.v) for r in t2.read().collect()}
    assert got == {("a", 100), ("b", 2), ("c", 3)}
    removed = t2.expire_snapshots(keep_last=1, grace_seconds=0)
    assert removed >= 0
    assert {(r.k, r.v) for r in t2.read().collect()} == got


def test_merge_path_with_space_and_percent(spark, warehouse):
    """Regression: input_file_name() returns percent-encoded URIs; the merge
    existence probe must decode before comparing, or every matched key is
    re-inserted as a duplicate on tables whose path needs encoding."""
    t = LakeTable.create(
        spark,
        os.path.join(warehouse, "odd dir %41", "t"),
        SCHEMA,
        bucket_by="k",
        bucket_count=2,
    )
    src_schema = T.StructType(
        list(SCHEMA.fields)
        + [T.StructField("op", T.StringType()), T.StructField("lsn", T.LongType())]
    )
    t.merge_cdc(
        spark.createDataFrame([("a", 1, "i", 1), ("b", 2, "i", 2)], src_schema),
        key_cols=["k"],
    )
    t.merge_cdc(
        spark.createDataFrame([("a", 9, "u", 3)], src_schema), key_cols=["k"]
    )
    rows = [(r.k, r.v) for r in t.read().orderBy("k").collect()]
    assert rows == [("a", 9), ("b", 2)]
    dup = t.read().groupBy("k").count().filter(F.col("count") > 1).count()
    assert dup == 0


def test_concurrent_same_fence_applies_once(spark, warehouse):
    """Two writers racing with the SAME fence key: the commit-retry loop must
    re-check the fence map per attempt so the loser skips instead of
    double-applying (exactly-once contract)."""
    from concurrent.futures import ThreadPoolExecutor

    t = LakeTable.create(spark, os.path.join(warehouse, "t"), SCHEMA)

    def write(i):
        return t.append(_df(spark, [("dup", i)]), fence_key="run:7")

    with ThreadPoolExecutor(max_workers=2) as pool:
        sids = list(pool.map(write, [1, 2]))
    assert t.read().count() == 1
    # both callers resolve to the one snapshot that carries the fence
    assert len({t.is_fenced("run:7")}) == 1
    assert t.is_fenced("run:7") in sids


def test_same_fence_sequential_skips(spark, warehouse):
    t = LakeTable.create(spark, os.path.join(warehouse, "t"), SCHEMA)
    s1 = t.append(_df(spark, [("a", 1)]), fence_key="r:0")
    s2 = t.append(_df(spark, [("a", 2)]), fence_key="r:0")
    assert s1 == s2
    assert [(r.k, r.v) for r in t.read().collect()] == [("a", 1)]
    # merge path honors the same contract
    src_schema = T.StructType(
        list(SCHEMA.fields)
        + [T.StructField("op", T.StringType()), T.StructField("lsn", T.LongType())]
    )
    m1 = t.merge_cdc(
        spark.createDataFrame([("z", 1, "i", 1)], src_schema),
        key_cols=["k"], fence_key="r:1",
    )
    m2 = t.merge_cdc(
        spark.createDataFrame([("z", 999, "u", 2)], src_schema),
        key_cols=["k"], fence_key="r:1",
    )
    assert m1 == m2
    assert {(r.k, r.v) for r in t.read().collect()} == {("a", 1), ("z", 1)}


def test_expire_grace_protects_fresh_orphans(spark, warehouse):
    t = LakeTable.create(spark, os.path.join(warehouse, "t"), SCHEMA)
    t.append(_df(spark, [("a", 1)]))
    t.overwrite(_df(spark, [("b", 2)]))  # orphans v2's files in v3
    # default grace: freshly-written unreferenced files survive
    assert t.expire_snapshots(keep_last=1) == 0
    assert t.expire_snapshots(keep_last=1, grace_seconds=0) > 0
    assert [(r.k, r.v) for r in t.read().collect()] == [("b", 2)]


def test_merge_carries_untouched_manifests_by_reference(spark, warehouse):
    """Scale property of the metadata layer: a merge touching one bucket
    rewrites ONLY that bucket's manifest — every other bucket's manifest
    carries forward as the same file reference, so commit metadata is
    O(touched buckets), never O(total files)."""
    t = LakeTable.create(
        spark, os.path.join(warehouse, "t"), SCHEMA, bucket_by="k", bucket_count=8
    )
    t.append(_df(spark, [(f"k{i}", i) for i in range(64)]))
    m_before = dict(t.snapshot()["manifests"])
    src_schema = T.StructType(
        list(SCHEMA.fields)
        + [T.StructField("op", T.StringType()), T.StructField("lsn", T.LongType())]
    )
    t.merge_cdc(
        spark.createDataFrame([("k3", 333, "u", 99)], src_schema), key_cols=["k"]
    )
    m_after = dict(t.snapshot()["manifests"])
    changed = {k for k in m_before if m_after.get(k) != m_before[k]}
    assert len(changed) <= 1, f"merge rewrote {len(changed)} manifests"
    carried = {k for k in m_before if m_after.get(k) == m_before[k]}
    assert len(carried) >= len(m_before) - 1 and carried
    assert {(r.k, r.v) for r in t.read().collect()} >= {("k3", 333)}


def test_concurrent_merge_and_append(spark, warehouse):
    """Mixed-operation writers racing on the same snapshot version: both
    retry through the optimistic loop and both land."""
    from concurrent.futures import ThreadPoolExecutor

    t = LakeTable.create(
        spark, os.path.join(warehouse, "t"), SCHEMA, bucket_by="k", bucket_count=4
    )
    t.append(_df(spark, [("seed", 0)]))
    src_schema = T.StructType(
        list(SCHEMA.fields)
        + [T.StructField("op", T.StringType()), T.StructField("lsn", T.LongType())]
    )

    def do_merge():
        t.merge_cdc(
            spark.createDataFrame([("m", 1, "i", 1)], src_schema), key_cols=["k"]
        )

    def do_append():
        t.append(_df(spark, [("a", 2)]))

    with ThreadPoolExecutor(max_workers=2) as pool:
        f1, f2 = pool.submit(do_merge), pool.submit(do_append)
        f1.result(), f2.result()
    got = {(r.k, r.v) for r in t.read().collect()}
    assert got == {("seed", 0), ("m", 1), ("a", 2)}


def test_rebucket_via_compact(spark, warehouse):
    """Growth lever: compact(new_bucket_count=N) atomically re-buckets; the
    next merge prunes against the NEW layout."""
    t = LakeTable.create(
        spark, os.path.join(warehouse, "t"), SCHEMA, bucket_by="k", bucket_count=2
    )
    t.append(_df(spark, [(f"k{i}", i) for i in range(32)]))
    t.compact(new_bucket_count=8)
    snap = t.snapshot()
    assert snap["bucket_count"] == 8
    buckets = {f.bucket for f in t.files()}
    assert len(buckets) > 2
    # merges keep working and pruning against the new layout
    src_schema = T.StructType(
        list(SCHEMA.fields)
        + [T.StructField("op", T.StringType()), T.StructField("lsn", T.LongType())]
    )
    t.merge_cdc(
        spark.createDataFrame([("k5", 555, "u", 99)], src_schema), key_cols=["k"]
    )
    got = {(r.k, r.v) for r in t.read().collect()}
    assert ("k5", 555) in got and len(got) == 32
    assert t.snapshot()["summary"]["files_rewritten"] <= 1


def test_compression_table_property(spark, warehouse):
    t = LakeTable.create(
        spark, os.path.join(warehouse, "t"), SCHEMA,
        properties={"write.compression": "snappy"},
    )
    t.append(_df(spark, [("a", 1)]))
    assert any(".snappy.parquet" in f.path for f in t.files())
    t2 = LakeTable.create(spark, os.path.join(warehouse, "t2"), SCHEMA)
    t2.append(_df(spark, [("a", 1)]))
    assert any(".zstd.parquet" in f.path for f in t2.files())  # session default


def test_stale_touched_buckets_hint_is_ignored_after_rebucket(spark, warehouse):
    """Review regression: a touched-buckets hint computed under an old
    bucket_count must be discarded (not trusted) after a re-bucket — a
    stale hint would prune the wrong manifests and re-insert matched keys."""
    t = LakeTable.create(
        spark, os.path.join(warehouse, "t"), SCHEMA, bucket_by="k", bucket_count=2
    )
    src_schema = T.StructType(
        list(SCHEMA.fields)
        + [T.StructField("op", T.StringType()), T.StructField("lsn", T.LongType())]
    )
    t.merge_cdc(
        spark.createDataFrame([(f"k{i}", i, "i", i) for i in range(16)], src_schema),
        key_cols=["k"],
    )
    # hint computed under bucket_count=2
    stale_hint = {
        r[0]
        for r in spark.createDataFrame([("k3",)], ["k"])
        .select(F.pmod(F.xxhash64("k"), F.lit(2)).cast("int").alias("b"))
        .collect()
    }
    t.compact(new_bucket_count=8)  # concurrent re-bucket
    t.merge_cdc(
        spark.createDataFrame([("k3", 999, "u", 99)], src_schema),
        key_cols=["k"],
        touched_buckets=stale_hint,
        touched_buckets_count=2,  # no longer matches the snapshot → ignored
    )
    rows = {(r.k, r.v) for r in t.read().collect()}
    assert ("k3", 999) in rows and len(rows) == 16
    dup = t.read().groupBy("k").count().filter(F.col("count") > 1).count()
    assert dup == 0


def test_append_conflict_retry_is_metadata_only(spark, warehouse, monkeypatch):
    """A loser of the append commit race must NOT rewrite its data files:
    the retry re-homes the written schema in the winner's schema map,
    keeps the winner's evolution in the CURRENT schema, and commits
    metadata-only (Iceberg's cheap-append-retry property)."""
    t = LakeTable.create(spark, os.path.join(warehouse, "t"), SCHEMA,
                         bucket_by="k", bucket_count=2)
    t.append(_df(spark, [("a", 1)]))
    other = LakeTable.load(spark, t.path)

    widened = T.StructType(SCHEMA.fields + [T.StructField("w", T.DoubleType())])
    writes = {"n": 0}
    real_wf = t._write_files

    def counting_wf(*a, **k):
        writes["n"] += 1
        return real_wf(*a, **k)

    raced = {"done": False}
    real_commit = t._commit

    def racing_commit(snap):
        if not raced["done"]:
            raced["done"] = True
            # the winner lands (and EVOLVES the schema) between our data
            # write and our commit — a genuine version conflict
            other.append(_df(spark, [("b", 2, 2.5)], widened))
        return real_commit(snap)

    monkeypatch.setattr(t, "_write_files", counting_wf)
    monkeypatch.setattr(t, "_commit", racing_commit)
    t.append(_df(spark, [("c", 3)]))

    assert writes["n"] == 1, "conflict retry rewrote data files"
    got = {(r.k, r.v) for r in t.read().select("k", "v").collect()}
    assert got == {("a", 1), ("b", 2), ("c", 3)}
    # the winner's added column survives as part of the CURRENT schema
    assert [f.name for f in t.user_schema.fields] == ["k", "v", "w"]
    assert t.read().filter(F.col("w").isNotNull()).count() == 1


def test_append_conflict_with_concurrent_rebucket_rewrites(spark, warehouse, monkeypatch):
    """The one conflict appends cannot retry metadata-only through: a
    concurrent re-bucket invalidates the written files' bucket labels —
    the retry must fall back to a full re-write against the new layout."""
    t = LakeTable.create(spark, os.path.join(warehouse, "t"), SCHEMA,
                         bucket_by="k", bucket_count=2)
    t.append(_df(spark, [(f"k{i}", i) for i in range(8)]))
    other = LakeTable.load(spark, t.path)

    writes = {"n": 0}
    real_wf = t._write_files

    def counting_wf(*a, **k):
        writes["n"] += 1
        return real_wf(*a, **k)

    raced = {"done": False}
    real_commit = t._commit

    def racing_commit(snap):
        if not raced["done"]:
            raced["done"] = True
            other.compact(new_bucket_count=8)
        return real_commit(snap)

    monkeypatch.setattr(t, "_write_files", counting_wf)
    monkeypatch.setattr(t, "_commit", racing_commit)
    t.append(_df(spark, [("x", 100)]))

    assert writes["n"] == 2, "re-bucket conflict must force a data re-write"
    assert t.snapshot()["bucket_count"] == 8
    assert t.read().count() == 9
    # bucket-pruned merge still sound on the new layout
    src = T.StructType(SCHEMA.fields + [
        T.StructField("op", T.StringType()), T.StructField("lsn", T.LongType()),
    ])
    t.merge_cdc(spark.createDataFrame([("x", 999, "u", 10)], src), key_cols=["k"])
    assert {r.v for r in t.read().filter(F.col("k") == "x").collect()} == {999}


@pytest.mark.parametrize("bucket_count", [4, None], ids=["bucketed", "unbucketed"])
def test_merge_cdc_physical_rows_match_expected(spark, warehouse, bucket_count):
    """Every physical row a MERGE sequence leaves behind — tombstones and
    the ``__lsn``/``__deleted`` meta columns included — on each edge the
    MERGE semantics cover: update/insert/delete, lsn ties (target wins),
    late lower-lsn events, duplicate target keys introduced by append (each
    beaten copy is replaced by one source-payload row), NULL source lsn
    (matched → target kept; unmatched → key + NULL payload), NULL source
    keys (pass through, never match), and live schema evolution."""
    src_schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("v", T.IntegerType()),
            T.StructField("op", T.StringType()),
            T.StructField("lsn", T.LongType()),
        ]
    )
    wide_schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("v", T.IntegerType()),
            T.StructField("extra", T.StringType()),
            T.StructField("op", T.StringType()),
            T.StructField("lsn", T.LongType()),
        ]
    )
    bucketing = {} if bucket_count is None else {
        "bucket_by": "k", "bucket_count": bucket_count,
    }
    t = LakeTable.create(spark, os.path.join(warehouse, "t"), SCHEMA, **bucketing)
    t.merge_cdc(
        spark.createDataFrame(
            [("a", 1, "i", 10), ("b", 2, "i", 11), ("c", 3, "i", 12),
             ("tie", 4, "i", 40), ("nullsrc", 5, "i", 50)],
            src_schema,
        ),
        key_cols=["k"],
    )
    # DUPLICATE target keys for "dup" (append bypasses merge's
    # one-row-per-key invariant on purpose)
    t.append(_df(spark, [("dup", 7), ("dup", 8), ("dup", 9)]))
    t.merge_cdc(
        spark.createDataFrame(
            [
                ("a", 100, "u", 20),          # plain update
                ("b", 0, "d", 21),            # delete → tombstone
                ("c", 999, "u", 5),           # late lower-lsn: must lose
                ("tie", 444, "u", 40),        # lsn tie: target wins
                ("dup", 77, "u", 60),         # beats all three dup copies
                ("new1", 11, "i", 61),        # brand-new key
                ("nullsrc", 55, "u", None),   # matched, NULL lsn: target kept
                ("newnull", 66, "i", None),   # unmatched, NULL lsn
                (None, 99, "i", 62),          # NULL key: passes through
            ],
            src_schema,
        ),
        key_cols=["k"],
    )
    # live schema evolution
    t.merge_cdc(
        spark.createDataFrame(
            [("a", 1000, "x", "u", 70), ("new2", 12, "y", "i", 71)],
            wide_schema,
        ),
        key_cols=["k"],
    )

    # read ALL rows incl. tombstones and meta cols — physical row content,
    # not just the visible state
    snap = t.snapshot()
    manifests = t._require_v2(snap)
    entries = [fe for k in sorted(manifests) for fe in t._read_manifest(manifests[k])]
    df = t._read_files(snap, entries, with_file_col=False)
    assert df.columns == ["k", "v", "extra", "__lsn", "__deleted"]
    assert Counter(tuple(r) for r in df.collect()) == Counter([
        ("a", 1000, "x", 70, False),
        ("b", 0, None, 21, True),
        ("c", 3, None, 12, False),
        ("tie", 4, None, 40, False),
        ("dup", 77, None, 60, False),
        ("dup", 77, None, 60, False),
        ("dup", 77, None, 60, False),
        ("new1", 11, None, 61, False),
        ("nullsrc", 5, None, 50, False),
        ("newnull", None, None, None, None),
        (None, 99, None, 62, False),
        ("new2", 12, "y", 71, False),
    ])
