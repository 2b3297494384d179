"""Bucket-pruned reads and the bucket column's fixed type.

A ``read(where=...)`` whose ``=``/``in`` predicate pins the ``bucket_by``
column scans only the files of the buckets those keys hash into; the
results must equal an unpruned read filtered in Python, and ``plan_files``
must report the same split the read makes."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

import cdm_data_loader_utils_spark.lake.table as table_mod
from cdm_data_loader_utils_spark.lake.table import LakeTable, SchemaEvolutionError

STR_SCHEMA = T.StructType(
    [T.StructField("k", T.StringType()), T.StructField("v", T.IntegerType())]
)
INT_SCHEMA = T.StructType(
    [T.StructField("k", T.IntegerType()), T.StructField("v", T.StringType())]
)


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def _matches(row: tuple, where: list[tuple]) -> bool:
    for col, op, value in where:
        x = row[0] if col == "k" else row[1]
        if op == "=" and not (value is not None and x == value):
            return False
        if op == "in" and x not in [m for m in value if m is not None]:
            return False
    return True


def _check_split(spark, t: LakeTable, where: list[tuple]) -> tuple[list, list]:
    """read(where) == plan_files' scanned files filtered == the unpruned
    read filtered in Python."""
    scanned, skipped = t.plan_files(where=where)
    assert len(scanned) + len(skipped) == len(t.files())
    want = [r for r in _rows(t.read()) if _matches(r, where)]
    assert _rows(t.read(where=where)) == want
    if scanned:
        paths = [os.path.join(t.path, fe.path) for fe in scanned]
        from_plan = [
            r for r in _rows(spark.read.parquet(*paths).select("k", "v"))
            if _matches(r, where)
        ]
        assert from_plan == want
    else:
        assert want == []
    return scanned, skipped


@pytest.mark.parametrize(
    "schema,keys",
    [
        (STR_SCHEMA, [f"k{i}" for i in range(60)]),
        (INT_SCHEMA, list(range(60))),
    ],
    ids=["string", "int"],
)
def test_bucket_pruned_read_equals_unpruned(spark, warehouse, schema, keys):
    t = LakeTable.create(
        spark, os.path.join(warehouse, "t"), schema, bucket_by="k", bucket_count=8
    )
    rows = [(k, i) if schema is STR_SCHEMA else (k, str(i))
            for i, k in enumerate(keys)]
    t.append(spark.createDataFrame(rows, schema))
    buckets = {fe.bucket for fe in t.files()}
    assert len(buckets) == 8

    def bucket_of(k):
        one = spark.createDataFrame([(k,)], T.StructType([schema.fields[0]]))
        return one.select(F.pmod(F.xxhash64("k"), F.lit(8))).first()[0]

    a, b, absent = keys[3], keys[41], ("zz" if schema is STR_SCHEMA else 10_000)
    for where in (
        [("k", "=", a)],
        [("k", "in", [a, b])],
        [("k", "in", [a, b, absent])],
        [("k", "=", absent)],
        [("k", "in", [a, b]), ("k", "=", b)],
    ):
        scanned, skipped = _check_split(spark, t, where)
        pinned = {m for c, op, v in where for m in ([v] if op == "=" else v)}
        assert {fe.bucket for fe in scanned} <= {bucket_of(k) for k in pinned}
        assert skipped, where


def test_plan_files_skips_all_other_single_file_buckets(spark, warehouse):
    t = LakeTable.create(
        spark, os.path.join(warehouse, "t"), STR_SCHEMA,
        bucket_by="k", bucket_count=16,
    )
    t.append(spark.createDataFrame([(f"k{i}", i) for i in range(200)], STR_SCHEMA))
    files = t.files()
    assert len(files) == 16 and len({fe.bucket for fe in files}) == 16
    scanned, skipped = t.plan_files(where=[("k", "=", "k7")])
    assert (len(scanned), len(skipped)) == (1, 15)
    assert _rows(t.read(where=[("k", "=", "k7")])) == [("k7", 7)]


def test_none_and_foreign_literals_do_not_prune(spark, warehouse):
    # a string bucket column has no default min/max stats, so every skip
    # here would come from bucket pruning
    t = LakeTable.create(
        spark, os.path.join(warehouse, "t"), STR_SCHEMA,
        bucket_by="k", bucket_count=8,
    )
    t.append(spark.createDataFrame([(f"k{i}", i) for i in range(40)], STR_SCHEMA))
    n = len(t.files())
    for where in (
        [("k", "=", None)],
        [("k", "in", ["k3", None])],
        [("k", "=", 3)],  # an int literal against a string column
        [("k", ">=", "k3")],
    ):
        scanned, skipped = t.plan_files(where=where)
        assert (len(scanned), len(skipped)) == (n, 0), where
    assert t.read(where=[("k", "=", None)]).count() == 0
    _check_split(spark, t, [("k", "in", ["k3", None])])


def test_unbucketed_table_reads_unpruned(spark, warehouse):
    t = LakeTable.create(spark, os.path.join(warehouse, "t"), STR_SCHEMA)
    t.append(spark.createDataFrame([(f"k{i}", i) for i in range(30)], STR_SCHEMA))
    t.append(spark.createDataFrame([(f"k{i}", i) for i in range(30, 60)], STR_SCHEMA))
    scanned, skipped = _check_split(spark, t, [("k", "in", ["k3", "k41"])])
    assert skipped == []


def test_rebucketed_table_prunes_against_new_layout(spark, warehouse):
    t = LakeTable.create(
        spark, os.path.join(warehouse, "t"), STR_SCHEMA,
        bucket_by="k", bucket_count=2,
    )
    t.append(spark.createDataFrame([(f"k{i}", i) for i in range(100)], STR_SCHEMA))
    t.compact(new_bucket_count=16)
    assert t.snapshot()["bucket_count"] == 16
    scanned, skipped = _check_split(spark, t, [("k", "=", "k7")])
    assert len(scanned) == 1 and len(skipped) == len(t.files()) - 1
    _check_split(spark, t, [("k", "in", ["k7", "k70", "k99"])])


def test_widened_bucket_column_disables_read_pruning(spark, warehouse, monkeypatch):
    """A table whose bucket column was widened before such changes were
    rejected keeps int-hashed files beside long-hashed ones: a read must
    not prune it."""
    monkeypatch.setattr(table_mod, "_check_bucket_type", lambda *a: None)
    t = LakeTable.create(
        spark, os.path.join(warehouse, "t"), INT_SCHEMA,
        bucket_by="k", bucket_count=8,
    )
    t.append(spark.createDataFrame([(i, "a") for i in range(20)], INT_SCHEMA))
    long_schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.StringType())]
    )
    t.append(spark.createDataFrame([(100, "a")], long_schema))
    assert t.schema()["k"].dataType == T.LongType()
    # pruned by the long hash, most of these keys' int-hashed files would
    # be skipped
    for k in range(20):
        assert _rows(t.read(where=[("k", "=", k)])) == [(k, "a")]


def test_bucket_column_type_change_is_rejected(spark, warehouse):
    """Widening an int bucket column to long used to lose updates: rows
    already written stay in their int-hash buckets, later merges look the
    same keys up in their long-hash buckets, and insert duplicates."""
    t = LakeTable.create(
        spark, os.path.join(warehouse, "t"), INT_SCHEMA,
        bucket_by="k", bucket_count=8,
    )

    def src(key_type, rows):
        schema = T.StructType(
            [T.StructField("k", key_type), T.StructField("v", T.StringType()),
             T.StructField("op", T.StringType()), T.StructField("lsn", T.LongType())]
        )
        return spark.createDataFrame(rows, schema)

    t.merge_cdc(
        src(T.IntegerType(), [(k, "a", "i", 1) for k in range(20)]),
        key_cols=["k"],
    )
    before = t.snapshot_id
    with pytest.raises(SchemaEvolutionError, match="bucket placement"):
        t.merge_cdc(
            src(T.LongType(), [(100, "a", "i", 2)]), key_cols=["k"],
            incoming_rows=1,
        )
    long_schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.StringType())]
    )
    with pytest.raises(SchemaEvolutionError, match="bucket placement"):
        t.append(spark.createDataFrame([(100, "a")], long_schema))
    assert t.snapshot_id == before
    for k in range(20):
        t.merge_cdc(
            src(T.IntegerType(), [(k, "b", "u", 10 + k)]), key_cols=["k"],
            incoming_rows=1,
        )
    assert _rows(t.read()) == [(k, "b") for k in range(20)]
    assert t.schema()["k"].dataType == T.IntegerType()
