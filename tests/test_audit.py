"""Audit round trip: ingest_log rows written by ``log_batch`` read back
exactly through ``run_metrics`` and ``lineage_report``."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from cdm_data_loader_utils_spark.audit.tables import AuditStore
from cdm_data_loader_utils_spark.schemas import INGEST_LOG_SCHEMA


def test_log_batch_round_trip(spark, warehouse):
    audit = AuditStore(spark, os.path.join(warehouse, "audit"))
    # every metric None: the columns must still come back typed
    audit.log_batch("r1", 0, "ERROR")
    parts = [(p, 10 + p, 1_000 + 7 * p) for p in range(64)]
    files_before = len(audit.ingest_log.files())
    audit.log_batch(
        "r1", 1, "SUCCESS", rows_read=500, rows_valid=480, rows_invalid=20,
        rows_applied=476, lsn_watermark=2**40, snapshot_id=3,
        partition_rows=parts,
    )
    assert len(audit.ingest_log.files()) == files_before + 1

    log = audit.ingest_log.read()
    assert [(f.name, f.dataType) for f in log.schema.fields] == [
        (f.name, f.dataType) for f in INGEST_LOG_SCHEMA.fields
    ]
    err = log.filter(F.col("batch_id") == 0).collect()
    assert len(err) == 1
    assert err[0].asDict() | {"updated": None} == {
        "run_id": "r1", "batch_id": 0, "status": "ERROR", "rows_read": None,
        "rows_valid": None, "rows_invalid": None, "rows_applied": None,
        "lsn_watermark": None, "partition_id": -1, "snapshot_id": None,
        "updated": None,
    }
    assert err[0]["updated"] is not None

    m = audit.run_metrics("r1").collect()[0].asDict()
    assert m == {
        "batches": 2, "rows_read": 500, "rows_valid": 480, "rows_invalid": 20,
        "rows_applied": 476, "lsn_watermark": 2**40, "error_batches": 1,
    }
    lineage = audit.lineage_report("r1").collect()
    assert [
        (r["partition_id"], r["rows_applied"], r["lsn_watermark"]) for r in lineage
    ] == parts
    assert {(r["batch_id"], r["status"], r["snapshot_id"], r["rows_read"])
            for r in lineage} == {(1, "SUCCESS", 3, None)}
