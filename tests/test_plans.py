"""Plan-property tests: pushdown, pruning, broadcast, shuffle counts.

These encode the 100-TB design contract: a correct result with the wrong
plan is a failing test here."""

from __future__ import annotations

from pyspark.sql import functions as F

from cdm_data_loader_utils_spark.plans.inspect import (
    has_broadcast_join,
    pushed_filters,
    read_schema_columns,
    shuffle_count,
)
from cdm_data_loader_utils_spark import queries as Q

SF = "/root/testdata/sf0.001"


def test_filter_pushdown_reaches_scan(spark):
    ev = Q.load(spark, SF, "events").filter(F.col("event_type") == "purchase")
    out = ev.select("event_id")
    fs = pushed_filters(out)
    assert any("event_type" in f for f in fs), f"no pushdown in {fs}"


def test_column_pruning(spark):
    ev = Q.load(spark, SF, "events").select("event_id", "user_id")
    schemas = read_schema_columns(ev)
    assert schemas and all(set(s) <= {"event_id", "user_id"} for s in schemas), schemas


def test_dim_joins_broadcast(spark):
    df = Q.q_broadcast_dim_join(spark, SF)
    assert has_broadcast_join(df)
    df2 = Q.q_region_rollup(spark, SF)
    assert has_broadcast_join(df2)


def test_lww_agg_is_single_shuffle(spark):
    """The replay dedup must be one exchange (partial agg map-side), not a
    sort-window cascade."""
    from cdm_data_loader_utils_spark.operators.lww import lww_dedup_agg

    ev = Q.events_as_changes(spark, SF)
    out = lww_dedup_agg(ev, ["conv_id", "turn_idx"], ["lsn", "ts"])
    assert shuffle_count(out) == 1
    # partial aggregation present → hot keys collapse before the shuffle
    from cdm_data_loader_utils_spark.plans.inspect import physical_plan

    assert "partial_max_by" in physical_plan(out)


def test_snapshot_diff_single_join_shuffle(spark):
    df = Q.q_snapshot_diff_classify(spark, SF)
    # two grouped halves + one full-outer join; AQE may coalesce but the
    # plan must not contain extra repartitions beyond the 3 logical ones
    assert shuffle_count(df) <= 4, shuffle_count(df)


def test_exact_dedup_single_shuffle(spark):
    """min_by carries the winning row through ONE hash aggregate — no
    join-back second shuffle."""
    from cdm_data_loader_utils_spark.operators.dedup import exact_dedup

    d = Q.load(spark, SF, "documents")
    out = exact_dedup(d)
    assert shuffle_count(out) == 1, shuffle_count(out)
    from cdm_data_loader_utils_spark.plans.inspect import physical_plan

    assert "partial_min_by" in physical_plan(out)


def test_event_scan_prunes_to_needed_columns(spark):
    """The replay ingest path must not read payload columns it drops."""
    ev = Q.load(spark, SF, "events").select("event_id", "ts")
    schemas = read_schema_columns(ev)
    assert schemas and all(set(s) <= {"event_id", "ts"} for s in schemas)


def test_blocked_cosine_never_broadcasts_packed_side(spark):
    """The scale contract of cosine_pairs_blocked: only the tiny chunk-pair
    KEY table may broadcast; the packed O(N·d) vectors must flow through
    shuffled hash joins. And past the key-table threshold (8M pairs) even
    the keys must stop broadcasting — no broadcast anywhere."""
    from cdm_data_loader_utils_spark.operators.similarity import (
        cosine_pairs_blocked,
    )
    from cdm_data_loader_utils_spark.plans.inspect import physical_plan

    emb = Q.load(spark, SF, "embeddings")
    # At tiny sizes the PLANNER may adaptively broadcast the packed table —
    # that is optimal and self-limiting (size estimates exceed the
    # threshold at scale). The removed ceiling was the unconditional
    # F.broadcast(packed); the structural guarantee tested here is the big-C
    # regime: past the 8M-pair key threshold NOTHING carries a broadcast
    # hint, so no fixed-size ceiling exists anywhere in the plan.
    # Unit-scale data always yields tiny size estimates, so the PHYSICAL
    # plan may legitimately broadcast here; the structural property lives in
    # the LOGICAL hints the operator emits, which is what governs at scale.
    import re

    def hints(df):
        an = df._jdf.queryExecution().analyzed().toString()
        return re.findall(r"ResolvedHint \(([^)]*)\)", an)

    big = cosine_pairs_blocked(emb, threshold=0.4, num_chunks=5000)
    assert hints(big) == ["strategy=shuffle_hash", "strategy=shuffle_hash"], (
        "past 8M chunk pairs no broadcast hint may exist; packed sides "
        "stay pinned to shuffled hash joins"
    )
    small = cosine_pairs_blocked(emb, threshold=0.4, num_chunks=8)
    hs = hints(small)
    assert hs.count("strategy=broadcast") == 1, (
        "exactly the chunk-pair KEY table may carry a broadcast hint"
    )
    assert hs.count("strategy=shuffle_hash") == 2
    assert physical_plan(small).count("collect_list") >= 1


def test_operator_cache_release_drops_storage(spark):
    """release() reclaims the operator-internal persisted blocks."""
    from cdm_data_loader_utils_spark.operators.cache import release
    from cdm_data_loader_utils_spark.operators.dedup import simhash_pairs

    docs = Q.load(spark, SF, "documents")
    pairs = simhash_pairs(docs, max_hamming=3, bands=4)
    pairs.count()  # materializes the persisted fingerprint table
    jsc = spark.sparkContext._jsc.sc()
    before = len(jsc.getRDDStorageInfo())
    assert before >= 1
    n = release(pairs)
    assert n >= 1
    after = len(jsc.getRDDStorageInfo())
    assert after < before, (before, after)


def test_partition_filters_keeps_in_lists_whole(spark, tmp_path):
    """An IN-list partition filter must come back as ONE filter, not
    comma-fragmented pieces."""
    from cdm_data_loader_utils_spark.plans.inspect import partition_filters

    df = spark.range(20).withColumn("bucket", F.col("id") % 5)
    path = str(tmp_path / "p")
    df.write.partitionBy("bucket").parquet(path)
    got = spark.read.parquet(path).filter(F.col("bucket").isin(1, 3, 4))
    pf = partition_filters(got)
    in_filters = [f for f in pf if " IN " in f]
    assert len(in_filters) == 1, pf
    assert "(1,3,4)" in in_filters[0].replace(" ", ""), pf


def _spark_jobs(spark, fn):
    """Run ``fn``; return its result and the jobs it launched, each as
    ``(description, [(tasks, output_records) per stage])``, read from the
    status store after the listener bus has drained."""
    sc = spark.sparkContext._jsc.sc()

    def seq(s):
        return [s.apply(i) for i in range(s.size())]

    def jobs():
        sc.listenerBus().waitUntilEmpty()
        return seq(sc.statusStore().jobsList(None))

    last = max((j.jobId() for j in jobs()), default=-1)
    out = fn()
    launched = []
    for j in sorted(jobs(), key=lambda j: j.jobId()):
        if j.jobId() <= last:
            continue
        desc = j.description().get() if j.description().isDefined() else j.name()
        stages = [
            (sd.numTasks(), sd.outputRecords())
            for sid in seq(j.stageIds())
            for sd in seq(sc.statusStore().stageData(sid, False, None, False, None))
        ]
        launched.append((desc, stages))
    return out, launched


def test_lake_commit_and_read_have_no_listing_job_and_core_sized_writes(
    spark, warehouse
):
    """The manifest names every file, so no read lists files through a
    Spark job; a bucketed write runs one task per core, not per bucket,
    and still writes exactly one file per touched bucket."""
    import os

    from pyspark.sql import types as T

    from cdm_data_loader_utils_spark.lake.table import LakeTable

    schema = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("v", T.LongType())]
    )
    t = LakeTable.create(
        spark, os.path.join(warehouse, "t"), schema, bucket_by="k", bucket_count=64
    )
    t.append(spark.createDataFrame([(f"k{i}", i) for i in range(2000)], schema))
    assert len(t.files()) >= 33

    def listing(launched):
        return [d for d, _ in launched if "Listing leaf files" in (d or "")]

    n, launched = _spark_jobs(spark, lambda: t.read().count())
    assert n == 2000 and listing(launched) == []

    src_schema = T.StructType(
        list(schema.fields)
        + [T.StructField("op", T.StringType()), T.StructField("lsn", T.LongType())]
    )
    src = spark.createDataFrame(
        [(f"k{i}", -i, "u", 5) for i in range(0, 2000, 40)]
        + [(f"new{i}", i, "i", 5) for i in range(20)],
        src_schema,
    )
    touched = {
        r[0] for r in src.select(t._bucket_expr(t.snapshot())).distinct().collect()
    }
    before = {fe.path for fe in t.files()}
    _, launched = _spark_jobs(spark, lambda: t.merge_cdc(src, key_cols=["k"]))
    assert listing(launched) == []
    writes = [s for _, stages in launched for s in stages if s[1] > 0]
    assert writes, launched
    cores = spark.sparkContext.defaultParallelism
    assert all(tasks <= cores for tasks, _ in writes), writes
    added = [fe for fe in t.files() if fe.path not in before]
    assert sorted(fe.bucket for fe in added) == sorted(touched)
    assert t.snapshot()["summary"]["files_added"] == len(touched) > cores
