"""CDC replay: change-event tail → exactly-once MERGE into the lake table.

This is the engine's flagship lifecycle, collapsing the reference's six-stage
incremental-update loop (``/root/reference/src/cdm_data_loader_utils/parsers/
refseq_pipeline/cli/refseq_update_manager.py:58-235`` — fetch → snapshot →
diff → resolve → re-ingest → cleanup) into one idempotent micro-batch body
(SURVEY §3.1):

    fence-check → validate/reject → salted LWW dedup → schema-reconcile →
    MERGE → ingest_log (checkpoint + metrics + per-partition lineage)

Two drivers share that body:

* :func:`replay_batches` — deterministic replay over a static change-event
  DataFrame grouped by its ``batch_id`` column (resumable from the audit
  checkpoint, reference analogue ``audit/checkpoint.py:94-113``);
* :func:`stream_events` — genuine Structured Streaming: ``readStream`` over
  an event directory with ``Trigger.AvailableNow``, ``foreachBatch`` invoking
  the same body. Exactly-once = streaming checkpoint (at-least-once delivery)
  + commit fencing in the lake snapshot log (dedup of replayed batches).

A third driver, :func:`tail_lake_events`, is :func:`stream_events` with the
inbox itself a lake table: the source is ``format("lake")`` over the inbox's
snapshot log, so both hops (producer → inbox, inbox → merged table) are
exactly-once.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..audit.tables import AuditStore
from ..lake.table import LakeTable
from ..operators.lww import lww_dedup_agg
from ..operators.validation import annotate_errors, change_event_checks, split_valid
from ..schemas import (
    ROW_ERRORS_COL,
    RUN_STATUS_ERROR,
    RUN_STATUS_SUCCESS,
)

KEY_COLS = ["conv_id", "turn_idx"]
ORDER_COLS = ["lsn", "ts"]


@dataclass
class BatchResult:
    batch_id: int
    skipped: bool
    rows_read: int
    rows_valid: int
    rows_invalid: int
    rows_applied: int
    lsn_watermark: int | None
    snapshot_id: int | None


@dataclass
class _PreparedBatch:
    """Result of the table-state-independent half of a micro-batch: the
    validated + LWW-deduped frame (persisted) plus its lineage/tally
    numbers. Computable for batch N+1 while batch N is still merging —
    it derives only from the event stream, never from the target table
    (the bucket hint carries the bucket_count it was computed under, and
    the merge re-validates it against the CURRENT snapshot)."""

    deduped: DataFrame
    annotated: DataFrame
    lineage: list[tuple[int, int, int]]
    rows_read: int
    rows_valid: int
    bucket_count: int | None

    def release(self) -> None:
        self.deduped.unpersist()


def prepare_batch(
    events: DataFrame,
    table: LakeTable,
    batch_id: int,
) -> _PreparedBatch:
    """validate → tally → salted-free LWW dedup → lineage: everything a
    micro-batch needs BEFORE it looks at the target table. Split out of
    :func:`apply_batch` (r7) so a replay driver can overlap batch N+1's
    dedup/lineage jobs with batch N's merge+commit — the two stages touch
    disjoint inputs, and Spark's FIFO scheduler back-fills the merge's
    straggler tail with the next batch's scan tasks (guide §2.6)."""
    from pyspark.sql import Observation

    annotated = annotate_errors(events, change_event_checks())
    # batch tallies ride along the dedup materialization as an
    # Observation instead of a separate full scan (reference metrics
    # pattern, audit/metrics.py:60-65, without the extra pass)
    obs = Observation(f"batch-{batch_id}")
    observed = annotated.observe(
        obs,
        F.count(F.lit(1)).alias("read"),
        F.sum((F.size(ROW_ERRORS_COL) == 0).cast("long")).alias("valid"),
    )
    valid = observed.filter(F.size(ROW_ERRORS_COL) == 0).drop(ROW_ERRORS_COL)

    # skew-proof last-writer-wins: one surviving event per (conv_id,
    # turn_idx) under total order (lsn desc, ts desc, op desc) — hash
    # aggregate with map-side combine, so hot keys collapse before the
    # shuffle (no salting pass needed); pinned — the merge consumes it
    # for bucket pruning, probing and the rewrite
    deduped = lww_dedup_agg(valid, KEY_COLS, ORDER_COLS).persist()
    try:
        # per-partition lineage: stats per target bucket (north rule); tiny
        # result (≤ bucket_count rows), single shuffle over the deduped
        # batch. This is also the first action: it fills the Observation.
        snap = table.snapshot()
        if snap.get("bucket_by"):
            bucket_count = int(snap["bucket_count"])
            part = F.pmod(
                F.xxhash64(F.col(snap["bucket_by"])), F.lit(bucket_count)
            ).cast("int")
        else:
            bucket_count = None
            part = F.lit(0)
        lineage = [
            (int(r["pid"]), int(r["applied"]), int(r["wm"]))
            for r in deduped.groupBy(part.alias("pid"))
            .agg(F.count("*").alias("applied"), F.max("lsn").alias("wm"))
            .collect()
        ]
        try:
            tally = obs.get
            rows_read, rows_valid = int(tally["read"]), int(tally["valid"] or 0)
        except Exception:  # noqa: BLE001 — see below; fallback is exact
            # When EVERY row of the batch is filtered out (all-invalid
            # batch, or an empty local batch), AQE's empty-relation
            # propagation prunes the CollectMetrics node — the Observation
            # never fires and .get throws a bare JVM assertion. A poisoned
            # upstream file must reject its rows, not crash the replay:
            # recompute the two tallies explicitly (only this degenerate
            # path pays the extra scan).
            rows_read = annotated.count()
            rows_valid = valid.count()
    except BaseException:
        deduped.unpersist()
        raise
    return _PreparedBatch(
        deduped, annotated, lineage, rows_read, rows_valid, bucket_count
    )


def apply_batch(
    events: DataFrame,
    table: LakeTable,
    audit: AuditStore | None,
    run_id: str,
    batch_id: int,
    prepared: _PreparedBatch | None = None,
) -> BatchResult:
    """Apply one micro-batch idempotently. Safe to call twice with the same
    (run_id, batch_id): the second call is fenced out by the snapshot log.

    ``prepared`` (optional) is a :class:`_PreparedBatch` for THESE events a
    pipelined driver computed ahead of time; ownership transfers here (its
    persisted frame is released on every path, including the fenced skip)."""
    fence_key = f"{run_id}:{batch_id}"
    fenced = table.is_fenced(fence_key)
    if fenced is not None:
        if prepared is not None:
            prepared.release()
        return BatchResult(batch_id, True, 0, 0, 0, 0, None, fenced)

    persisted = []
    try:
        prep = prepared if prepared is not None else prepare_batch(
            events, table, batch_id
        )
        persisted.append(prep.deduped)
        deduped, annotated, lineage = prep.deduped, prep.annotated, prep.lineage
        rows_read, rows_valid = prep.rows_read, prep.rows_valid
        rows_invalid = rows_read - rows_valid
        if audit is not None and rows_invalid:
            # invalid rows exist: pay the second scan only in that case
            _, invalid = split_valid(annotated)
            audit.write_rejects(run_id, batch_id, invalid)
        rows_applied = sum(a for _, a, _ in lineage)
        watermark = max((w for _, _, w in lineage), default=None)
        # the lineage partitions ARE the table buckets (same hash expr), so
        # the merge can skip its own touched-bucket discovery job
        touched = (
            {pid for pid, _, _ in lineage}
            if prep.bucket_count is not None else None
        )

        snapshot_id = table.merge_cdc(
            deduped,
            key_cols=KEY_COLS,
            lsn_col="lsn",
            op_col="op",
            touched_buckets=touched,
            # the bucket_count the lineage hash used — a concurrent
            # re-bucket invalidates the hint and the merge recomputes
            touched_buckets_count=prep.bucket_count,
            incoming_rows=rows_applied,
            summary={
                "run_id": run_id,
                "batch_id": batch_id,
                "rows_applied": rows_applied,
                "lsn_watermark": watermark,
            },
            fence_key=fence_key,
        )
        if audit is not None:
            audit.log_batch(
                run_id, batch_id, RUN_STATUS_SUCCESS,
                rows_read=rows_read, rows_valid=rows_valid,
                rows_invalid=rows_invalid, rows_applied=rows_applied,
                lsn_watermark=watermark, snapshot_id=snapshot_id,
                partition_rows=lineage,
            )
        return BatchResult(
            batch_id, False, rows_read, rows_valid, rows_invalid,
            rows_applied, watermark, snapshot_id,
        )
    except Exception:
        if audit is not None:
            audit.log_batch(run_id, batch_id, RUN_STATUS_ERROR)
        raise
    finally:
        for df in persisted:
            df.unpersist()


def replay_batches(
    events: DataFrame,
    table: LakeTable,
    audit: AuditStore | None,
    run_id: str,
    drop_tool_below_batch: int | None = None,
    resume: bool = True,
    salt_buckets: int = 32,
) -> list[BatchResult]:
    """Replay a static change-event DataFrame batch-by-batch (its ``batch_id``
    column defines micro-batch assignment, possibly out of LSN order).

    ``drop_tool_below_batch`` simulates the schema-evolution wave: earlier
    batches are delivered without the ``tool`` column at all, so the first
    post-wave batch triggers live schema evolution inside MERGE.

    Pipelined (r7): while batch N merges+commits, batch N+1's
    table-state-independent half (:func:`prepare_batch` — validate, tally,
    LWW dedup, lineage) runs from a single helper driver thread, so its
    scan/shuffle tasks back-fill the executor slots the merge's straggler
    tail leaves idle (guide §2.6). Commits stay strictly serial — the merge
    for N+1 starts only after N returns — so exactly-once fencing, LSN
    ordering and failure semantics are unchanged; a prepared batch that
    ends up fenced or unused is released, never applied.

    ``salt_buckets`` is accepted and ignored: the dedup
    (:func:`lww_dedup_agg`) combines hot keys map-side, so no salting pass
    exists. It stays so existing callers that pass it keep working.
    """
    batch_ids = [
        int(r[0]) for r in events.select("batch_id").distinct().orderBy("batch_id").collect()
    ]
    start_after = -1
    if resume and audit is not None:
        ckpt = audit.last_checkpoint(run_id)
        if ckpt:
            start_after = int(ckpt["batch_id"])
    # run-level state machine: RUNNING → SUCCESS / ERROR (reference
    # audit/run.py:33-114 lifecycle around the batch loop)
    if audit is not None:
        audit.start_run(run_id)

    def batch_frame(bid: int) -> DataFrame:
        b = events.filter(F.col("batch_id") == bid)
        if drop_tool_below_batch is not None and bid < drop_tool_below_batch:
            b = b.drop("tool")
        return b

    from concurrent.futures import ThreadPoolExecutor

    todo = [bid for bid in batch_ids if bid > start_after]
    results: list[BatchResult] = []
    pool = ThreadPoolExecutor(max_workers=1)
    pending: tuple[int, object] | None = None  # (batch_id, Future)
    try:
        for i, bid in enumerate(todo):
            prep = None
            if pending is not None and pending[0] == bid:
                prep = pending[1].result()
                pending = None
            # prefetch the NEXT batch's dedup/lineage while THIS batch
            # merges (one ahead: bounds cached state to a single batch).
            # Already-fenced batches are NOT prefetched — a resumed run
            # must stay metadata-only for its skipped prefix (the fence is
            # re-checked authoritatively inside apply_batch/merge either
            # way; this probe only avoids wasted dedup work)
            if i + 1 < len(todo):
                nxt = todo[i + 1]
                if table.is_fenced(f"{run_id}:{nxt}") is None:
                    pending = (
                        nxt,
                        pool.submit(
                            prepare_batch, batch_frame(nxt), table, nxt
                        ),
                    )
            results.append(
                apply_batch(
                    batch_frame(bid), table, audit, run_id, bid,
                    prepared=prep,
                )
            )
    except Exception as e:
        if audit is not None:
            audit.fail_run(run_id, str(e)[:512])
        raise
    finally:
        # an unconsumed prefetch (failure mid-loop) must not stay pinned
        if pending is not None:
            try:
                pending[1].result().release()
            except Exception:  # noqa: BLE001 — prefetch failed; nothing pinned
                pass
        pool.shutdown(wait=True)
    if audit is not None:
        audit.complete_run(run_id)
    return results


def apply_batch_fanout(
    events: DataFrame,
    routes: dict[str, tuple["LakeTable", "callable"]],
    run_id: str,
    batch_id: int,
) -> dict[str, int]:
    """Per-row multi-table routing inside ONE micro-batch body (K8).

    ``routes``: name → (lake table, transform) where ``transform(df)``
    selects/reshapes that table's rows. The source scan is persisted once;
    each route is a filtered write with its OWN fence key, so a replayed
    batch skips per table independently — a crash between table writes
    resumes without double-applying the tables that already committed.
    Mirrors the reference's per-batch multi-table sink
    (``pipelines/uniprot_kb_pipeline.py:46-75``: one batch → entries,
    xrefs, … tables)."""
    persisted = events.persist()
    out: dict[str, int] = {}
    try:
        for name, (table, transform) in routes.items():
            out[name] = table.append(
                transform(persisted),
                fence_key=f"{run_id}:{batch_id}:{name}",
                summary={"run_id": run_id, "batch_id": batch_id, "route": name},
            )
    finally:
        persisted.unpersist()
    return out


def stream_events(
    spark: SparkSession,
    events_dir: str,
    table: LakeTable,
    audit: AuditStore | None,
    run_id: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 4,
    trigger: str | None = None,
    timeout_sec: float | None = None,
):
    """Structured-Streaming tail over a directory of change-event parquet
    files. Default trigger is ``Trigger.AvailableNow`` (replay-to-current
    then stop — the batch-replay parity mode); pass
    ``trigger="5 seconds"`` for a genuinely LIVE processing-time tail that
    keeps polling ``events_dir`` for new files. A live tail never
    terminates on its own: it returns the running ``StreamingQuery`` when
    ``timeout_sec`` is None, else stops cleanly after the timeout.
    ``timeout_sec`` also bounds the default AvailableNow replay (stop +
    checkpoint after the deadline; the next run RESUMES from the
    checkpoint) — it is honored in both trigger modes, never silently
    ignored.

    The streaming checkpoint gives at-least-once micro-batches across
    restarts; :func:`apply_batch`'s snapshot-log fencing upgrades that to
    exactly-once table commits (SURVEY §7.2 hard part 1) — identically in
    both trigger modes.
    """
    from ..schemas import CHANGE_EVENT_SCHEMA

    stream = (
        spark.readStream.schema(CHANGE_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(events_dir)
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        apply_batch(batch_df, table, audit, run_id, int(batch_id))

    writer = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", os.path.join(checkpoint_dir, run_id))
    )
    return _run_stream(writer, trigger, timeout_sec)


def _run_stream(writer, trigger: str | None, timeout_sec: float | None):
    """Shared trigger/timeout contract of the streaming drivers: default
    ``Trigger.AvailableNow`` (replay-to-current then stop), ``trigger=`` a
    processing-time interval for a live tail; ``timeout_sec`` stops +
    checkpoints cleanly in BOTH modes (the next run resumes), and a live
    tail with no timeout returns the running query."""
    if trigger is None:
        q = writer.trigger(availableNow=True).start()
        if timeout_sec is None:
            q.awaitTermination()
            return None
        try:
            q.awaitTermination(timeout=timeout_sec)
        finally:
            q.stop()
            q.awaitTermination()
        return None
    q = writer.trigger(processingTime=trigger).start()
    if timeout_sec is None:
        return q
    try:
        q.awaitTermination(timeout=timeout_sec)
    finally:
        q.stop()
        q.awaitTermination()
    return None


def tail_lake_events(
    spark: SparkSession,
    source: LakeTable | str,
    table: LakeTable,
    audit: AuditStore | None,
    run_id: str,
    checkpoint_dir: str,
    max_snapshots_per_trigger: int = 4,
    trigger: str | None = None,
    timeout_sec: float | None = None,
):
    """The WAL-tail made literal: the change-event inbox is itself a LAKE
    TABLE whose append commits are the log — tail it with the engine's own
    ``format("lake")`` streaming source and apply each micro-batch through
    the same exactly-once body as :func:`stream_events`. Upstream
    producers land change events with fenced :meth:`LakeTable.append`
    (atomic, idempotent, schema-evolving); downstream this tail resumes
    from its streaming checkpoint at a snapshot-id offset, so the
    end-to-end pipeline is exactly-once on BOTH hops. This is the shape a
    binlog/WAL bridge takes on the lake: producers never coordinate with
    consumers, the snapshot log is the ordering, and
    ``max_snapshots_per_trigger`` is the admission control for catch-up.

    Inbox contract: append-only (a compaction of the inbox is invisible;
    any row-changing commit fails the tail loudly — the inbox is a log,
    not a table to merge into). Same trigger/timeout semantics as
    :func:`stream_events`.

    Drain guarantee: the default (AvailableNow, no timeout) call VERIFIES
    against the checkpoint that the run actually reached the inbox head it
    saw at start, restarting the query if not. Observed once-in-testing
    Spark behavior this defends against: if the previous run's stream
    thread died with a JVM *Error* (e.g. a StackOverflowError in Spark's
    stop path while a merge was being cancelled), the NEXT AvailableNow
    run can terminate after recovery without ever planning a new batch —
    offsets stay where they were despite backlog. A clean restart then
    drains normally; correctness was never at risk (fenced merges are
    exactly-once regardless), only completion of THIS call.
    """
    from .lake_source import register_lake_source

    register_lake_source(spark)
    src_path = source.path if isinstance(source, LakeTable) else source

    def start_writer():
        stream = (
            spark.readStream.format("lake")
            .option("maxSnapshotsPerTrigger", max_snapshots_per_trigger)
            .load(src_path)
        )

        def _sink(batch_df: DataFrame, batch_id: int) -> None:
            apply_batch(batch_df, table, audit, run_id, int(batch_id))

        return (
            stream.writeStream.foreachBatch(_sink)
            .option("checkpointLocation", os.path.join(checkpoint_dir, run_id))
        )

    if trigger is not None or timeout_sec is not None:
        # live tails and explicitly-bounded drains: partial progress is the
        # documented contract; no head verification
        return _run_stream(start_writer(), trigger, timeout_sec)

    ckpt = os.path.join(checkpoint_dir, run_id)
    if "://" in ckpt:
        # head verification reads the offsets log with local file IO; on a
        # remote checkpoint store run unverified (the quirk needs a prior
        # JVM-error crash on the same checkpoint — rare; re-invoke to heal)
        return _run_stream(start_writer(), None, None)
    from .lake_source import _meta_table

    head = _meta_table(src_path).snapshot_id
    for attempt in range(3):
        _run_stream(start_writer(), None, None)
        reached = _last_planned_offset(ckpt)
        if reached is not None and reached >= head:
            return None
        if attempt == 2:
            raise RuntimeError(
                f"tail_lake_events: drain stalled at snapshot {reached} "
                f"of {head} after 3 AvailableNow runs on {src_path}"
            )
    return None


def _last_planned_offset(ckpt: str) -> int | None:
    """Highest snapshot id the streaming checkpoint has PLANNED (offsets
    log; commits may lag by the in-flight batch). None before first plan."""
    import json

    odir = os.path.join(ckpt, "offsets")
    try:
        names = [n for n in os.listdir(odir) if not n.startswith(".")]
    except FileNotFoundError:
        return None
    if not names:
        return None
    latest = max(names, key=int)
    with open(os.path.join(odir, latest)) as f:
        last_line = f.read().splitlines()[-1]
    return int(json.loads(last_line)["snapshot_id"])
