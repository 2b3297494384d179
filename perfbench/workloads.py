"""The three benchmark workloads and their output checks.

Each workload makes its inputs from the seed, runs its timed operations one
after another (a closed loop with one operation in flight), and then checks
the engine's outputs, untimed. The number of timed operations is fixed for a
given ``seconds``: as many whole operations as fit at their nominal cost on a
4-core host, so every run of a workload times the same operations. It drives
the engine only through public functions.

* ``replay_bulk`` — catch-up replay of a materialised change-event stream
  (hot keys, out-of-order window, 2% duplicates, ``tool`` schema wave) into an
  empty 64-bucket table through ``streaming.replay_batches``, no audit store.
  The operation is one micro-batch; its time is the gap between successive
  commit timestamps in the table's snapshot log. Work units are events. A run
  times one replay, whatever ``seconds`` is.
* ``tail_freshness`` — set-up replays a base history into a 64-bucket table
  and runs one untimed warm-up step. Each step then applies one small
  micro-batch through ``streaming.apply_batch`` with an ``AuditStore`` (the
  ``foreachBatch`` body of the streaming drivers) and reads back one
  conversation that batch touched with a point lookup. The operation time is
  commit plus lookup: how long until a delivered change is visible to a
  reader. Work units are events.
* ``query_mix`` — reads the fixed sf0.01 tables in ``data/sf0.01`` (the
  engine's correctness tier, copied byte for byte; the seed only sets the
  query order). An untimed warm round forces every query once with the
  aggregation that takes its pin (row count, hash checksum, float column
  sums); timed rounds then force each query with ``.count()`` and release
  its caches, in a seed-shuffled order. The operation is one round of all
  the queries (per-query times are in the traced run). Work units are
  queries. After timing, each warm-round pin is compared with the one in
  ``meta.json``, which ``pins.py`` takes from results it has verified
  against the query's DuckDB ``oracle_sql()``.

A workload returns a :class:`Outcome`; ``run.py`` turns it into metrics.
"""

from __future__ import annotations

import dataclasses
import json
import math
import os
import random
import time

# bench.py's BENCH_QUERIES minus cdc_replay_final_state (a replay, not an
# operator query)
QUERIES = [
    "lww_latest_turn",
    "snapshot_diff_classify",
    "pricing_summary",
    "broadcast_dim_join",
    "region_rollup",
    "composite_outer_join",
    "exact_dedup",
    "minhash_lsh_near_dups",
    "simhash_near_dups",
    "embedding_cosine_pairs",
    "embedding_neardup_blocked",
    "cosine_topk",
    "ann_lsh_topk",
    "ivf_ann_topk",
    "windowed_event_counts",
    "text_profile",
    "union_fold",
]
# nominal wall time of a timed round on a 4-core host: a run times
# max(1, seconds // NOMINAL_ROUND_S) whole rounds
NOMINAL_ROUND_S = 12.0
HERE = os.path.dirname(os.path.abspath(__file__))
QUERY_DATA = os.path.join(HERE, "data", "sf0.01")

# replay_bulk: batches large enough (>= DECISION_MERGE_MIN_ROWS distinct
# keys) for the decision-path merge; the key space (convs x turns) is far
# larger than a batch, so nearly every event is a distinct key
BULK = {"batch_events": 60_000, "batches": 3, "convs": 20_000,
        "turns": 50, "ooo_window": 10_000, "buckets": 64}
# tail_freshness: a base history much larger than each tail batch, so every
# commit copies-on-write a table far larger than itself; a run times
# max(3, seconds // nominal_op_s) steps (nominal: a 4-core host)
TAIL = {"base_events": 50_000, "batch_events": 5_000, "convs": 2_000,
        "turns": 50, "ooo_window": 1_000, "buckets": 64, "nominal_op_s": 4.0}


@dataclasses.dataclass
class Outcome:
    """What a workload measured and checked."""

    op_s: list[float] = dataclasses.field(default_factory=list)
    units: int = 0
    timed_s: float = 0.0
    t_first_op: float | None = None
    attempted: int = 0
    failed: int = 0
    checks: dict[str, bool] = dataclasses.field(default_factory=dict)
    counters: dict[str, float] = dataclasses.field(default_factory=dict)
    info: dict = dataclasses.field(default_factory=dict)

    def check(self, name: str, ok: bool) -> None:
        self.checks[name] = bool(ok)
        self.attempted += 1
        self.failed += 0 if ok else 1


def _same_rows(spark_df, expected_df) -> bool:
    """Multiset equality via ``exceptAll`` both ways."""
    exp = expected_df.select(*spark_df.columns)
    return (spark_df.exceptAll(exp).limit(1).count() == 0
            and exp.exceptAll(spark_df).limit(1).count() == 0)


def _commit_gaps(table, run_id: str, t0: float,
                 first_batch: int = 0) -> tuple[list[float], dict]:
    """Per-batch times from the snapshot log: the gap between successive
    commits of ``run_id`` from batch ``first_batch`` on (the first measured
    from ``t0``), plus the summed file counters of those commits."""
    stamps, files = [], {"files_rewritten": 0, "files_added": 0, "rows_applied": 0}
    for snap in table.history():
        summary = snap.get("summary") or {}
        if summary.get("run_id") != run_id or summary["batch_id"] < first_batch:
            continue
        stamps.append(snap["timestamp_ms"] / 1000.0)
        for k in files:
            files[k] += int(summary.get(k) or 0)
    stamps.sort()
    gaps = [b - a for a, b in zip([t0] + stamps[:-1], stamps)]
    return gaps, files


# --------------------------------------------------------------------------
def replay_bulk(spark, work: str, seed: int, seconds: float, tracer) -> Outcome:
    from pyspark.sql import functions as F

    from cdm_data_loader_utils_spark.lake.table import LakeTable
    from cdm_data_loader_utils_spark.schemas import TRANSCRIPT_SCHEMA
    from cdm_data_loader_utils_spark.sources.events import (
        expected_final_state,
        generate_change_events,
    )
    from cdm_data_loader_utils_spark.streaming import replay

    c = BULK
    n = c["batch_events"] * c["batches"]
    # the wave batch: every event of an earlier batch has lsn below the
    # wave (lsn <= delivery position), so dropping the column there loses
    # no tool value
    wave = c["batches"] // 2
    gen = generate_change_events(
        spark, n_events=n, n_convs=c["convs"], turns_per_conv=c["turns"],
        seed=seed, ooo_window=c["ooo_window"], batch_size=c["batch_events"],
        tool_from_lsn=wave * c["batch_events"],
    )
    # only the first ``batches`` micro-batches are delivered: the
    # out-of-order spill past the last one is still in flight
    path = os.path.join(work, "events")
    gen.filter(F.col("batch_id") < c["batches"]).write.partitionBy("batch_id").parquet(path)
    events = spark.read.parquet(path)
    delivered = events.count()
    n_batches = c["batches"]

    out = Outcome()
    out.info.update(events=delivered, batches=n_batches)
    table = LakeTable.create(
        spark, os.path.join(work, "transcripts"), TRANSCRIPT_SCHEMA,
        bucket_by="conv_id", bucket_count=c["buckets"],
    )
    out.t_first_op = time.perf_counter()
    tracer.active = tracer.enabled
    t0 = time.time()
    try:
        replay.replay_batches(events, table, None, "bulk", drop_tool_below_batch=wave)
    except Exception as e:  # noqa: BLE001 — reported as failed batches
        out.info["error"] = repr(e)[:300]
        out.check("replay", False)
    wall = time.time() - t0
    tracer.active = False
    gaps, files = _commit_gaps(table, "bulk", t0)
    out.attempted += n_batches
    out.failed += n_batches - len(gaps)
    out.counters.update(files)
    if "error" not in out.info:
        out.op_s, out.units, out.timed_s = gaps, delivered, wall
        t = time.perf_counter()
        out.check("final_state", _same_rows(table.read(), expected_final_state(events)))
        out.info["check_s"] = time.perf_counter() - t
    return out


# --------------------------------------------------------------------------
def _lww_rows(rows) -> set[tuple]:
    """Python LWW fold of one conversation's events: the visible rows."""
    best: dict[int, object] = {}
    for r in rows:
        cur = best.get(r["turn_idx"])
        if cur is None or (r["lsn"], r["ts"]) > (cur["lsn"], cur["ts"]):
            best[r["turn_idx"]] = r
    return {
        (r["turn_idx"], r["role"], r["text"], r["tool"], r["ts"])
        for r in best.values() if r["op"] != "d"
    }


def tail_freshness(spark, work: str, seed: int, seconds: float, tracer) -> Outcome:
    from pyspark.sql import functions as F

    from cdm_data_loader_utils_spark.audit.tables import AuditStore
    from cdm_data_loader_utils_spark.lake.table import LakeTable
    from cdm_data_loader_utils_spark.schemas import TRANSCRIPT_SCHEMA
    from cdm_data_loader_utils_spark.sources.events import (
        expected_final_state,
        generate_change_events,
    )
    from cdm_data_loader_utils_spark.streaming import replay

    c = TAIL
    tb = c["batch_events"]
    n_ops = max(3, int(seconds // c["nominal_op_s"]))
    base_batches = c["base_events"] // tb
    stream = generate_change_events(
        spark, n_events=c["base_events"] + (n_ops + 1) * tb,
        n_convs=c["convs"], turns_per_conv=c["turns"], seed=seed,
        ooo_window=c["ooo_window"], batch_size=tb,
    )
    # batch 0 = the base history; batch 1 = the untimed warm-up step;
    # batches 2.. = the timed steps (the out-of-order spill past the last
    # one is still in flight)
    bid = F.col("batch_id")
    stream = stream.withColumn(
        "batch_id", F.greatest(bid - base_batches + 1, F.lit(0))
    ).filter(bid < n_ops + 2)
    path = os.path.join(work, "events")
    stream.write.partitionBy("batch_id").parquet(path)
    events = spark.read.parquet(path)
    table = LakeTable.create(
        spark, os.path.join(work, "transcripts"), TRANSCRIPT_SCHEMA,
        bucket_by="conv_id", bucket_count=c["buckets"],
    )
    replay.replay_batches(events.filter(bid == 0), table, None, "base")
    audit = AuditStore(spark, os.path.join(work, "audit"))
    # one conversation per tail batch to read back, chosen by the seed
    targets = {
        int(r[0]): r[1]
        for r in events.filter(bid >= 1).groupBy("batch_id")
        .agg(F.min_by("conv_id", F.xxhash64("conv_id", F.lit(seed))))
        .collect()
    }

    out = Outcome()
    lookups: list[tuple[int, str, list]] = []
    skipped = scanned = 0

    def step(b: int) -> tuple[float, int]:
        nonlocal scanned, skipped
        t0 = time.perf_counter()
        res = replay.apply_batch(events.filter(bid == b), table, audit, "tail", b)
        where = [("conv_id", "=", targets[b])]
        with tracer.span("lake.read"):
            rows = table.read(where=where).collect()
        dt = time.perf_counter() - t0
        lookups.append((b, targets[b], rows))
        if tracer.active:
            sc, sk = table.plan_files(where=where)
            scanned, skipped = scanned + len(sc), skipped + len(sk)
        return dt, res.rows_read

    step(1)
    out.t_first_op = time.perf_counter()
    tracer.active = tracer.enabled
    for b in range(2, n_ops + 2):
        try:
            dt, n = step(b)
        except Exception as e:  # noqa: BLE001 — abort; the rest count as failed
            out.attempted += n_ops + 2 - b
            out.failed += n_ops + 2 - b
            out.info["error"] = repr(e)[:300]
            break
        out.op_s.append(dt)
        out.timed_s += dt
        out.units += n
        out.attempted += 2
    tracer.active = False
    out.info.update(commits=len(lookups), base_events=c["base_events"],
                    batch_events=tb)
    out.counters.update(files_scanned=scanned, files_skipped=skipped)
    _, files = _commit_gaps(table, "tail", 0.0, first_batch=2)
    out.counters.update(files)

    if "error" not in out.info:
        t = time.perf_counter()
        out.check("final_state", _same_rows(table.read(), expected_final_state(events)))
        convs = sorted({cv for _, cv, _ in lookups})
        history: dict[str, list] = {}
        for r in events.filter(F.col("conv_id").isin(convs)).collect():
            history.setdefault(r["conv_id"], []).append(r)
        bad = 0
        for b, cv, rows in lookups:
            want = _lww_rows([r for r in history.get(cv, []) if r["batch_id"] <= b])
            got = {(r["turn_idx"], r["role"], r["text"], r["tool"], r["ts"]) for r in rows}
            bad += want != got
        out.attempted += len(lookups)
        out.failed += bad
        out.checks["lookups"] = bad == 0
        out.info["check_s"] = time.perf_counter() - t
    return out


# --------------------------------------------------------------------------
def result_pin(df) -> dict:
    """Force ``df`` with one aggregation and return its pin: the row count,
    an order-insensitive checksum of the non-float columns (the sum of each
    row's 32-bit hash) and the sum of each float column (compared with a
    tolerance, since the last digits of a float sum depend on the order)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType, FloatType

    cols = sorted(df.columns)
    floats = [c for c in cols if isinstance(df.schema[c].dataType, (DoubleType, FloatType))]
    exact = [df[c] for c in cols if c not in floats]
    aggs = [F.count(F.lit(1)),
            F.sum(F.hash(*exact).cast("long")) if exact else F.lit(0)]
    aggs += [F.sum(F.nanvl(df[c].cast("double"), F.lit(None).cast("double")))
             for c in floats]
    row = df.agg(*aggs).first()
    return {"rows": row[0], "checksum": row[1] or 0,
            "float_sums": [x or 0.0 for x in row[2:]]}


def pin_matches(got: dict, want: dict | None) -> bool:
    return (want is not None
            and (got["rows"], got["checksum"]) == (want["rows"], want["checksum"])
            and len(got["float_sums"]) == len(want["float_sums"])
            and all(math.isclose(a, b, rel_tol=1e-6, abs_tol=1e-6)
                    for a, b in zip(got["float_sums"], want["float_sums"])))


def query_mix(spark, work: str, seed: int, seconds: float, tracer) -> Outcome:
    from cdm_data_loader_utils_spark import queries as Q
    from cdm_data_loader_utils_spark.operators.cache import release

    with open(os.path.join(HERE, "meta.json")) as f:
        pins = json.load(f)["query_mix_pins"]
    qmap = Q.queries()
    rng = random.Random(seed)
    out = Outcome()

    # untimed round: warms every query's code paths; each query is forced by
    # the aggregation that takes its pin, which is compared after timing
    results = {}
    for name in rng.sample(QUERIES, len(QUERIES)):
        df = qmap[name](spark, QUERY_DATA)
        results[name] = result_pin(df)
        release(df)

    out.t_first_op = time.perf_counter()
    tracer.active = tracer.enabled
    rounds = max(1, int(seconds // NOMINAL_ROUND_S))
    mismatches = 0
    for _ in range(rounds):
        t0 = time.perf_counter()
        for name in rng.sample(QUERIES, len(QUERIES)):
            with tracer.span(f"queries.{name}"):
                df = qmap[name](spark, QUERY_DATA)
                n = df.count()
                release(df)
            out.units += 1
            out.attempted += 1
            mismatches += n != results[name]["rows"]
        dt = time.perf_counter() - t0
        out.op_s.append(dt)
        out.timed_s += dt
    tracer.active = False
    out.info["rounds"] = rounds
    out.failed += mismatches
    out.checks["row_counts"] = mismatches == 0
    for name in QUERIES:
        out.check(f"pin:{name}", pin_matches(results[name], pins.get(name)))
    return out


WORKLOADS = {
    "replay_bulk": replay_bulk,
    "tail_freshness": tail_freshness,
    "query_mix": query_mix,
}
