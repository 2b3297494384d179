"""Time the internal phases of apply_batch/merge_cdc during the gate replay
and (optionally, REPLAY_EVENTS>0) a synthetic replay leg. Monkeypatch-based —
measurement only, no engine changes."""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cdm_data_loader_utils_spark import queries as Q  # noqa: E402
from cdm_data_loader_utils_spark.lake import table as TT  # noqa: E402
from cdm_data_loader_utils_spark.session import get_spark  # noqa: E402

TIMES: dict[str, float] = {}
COUNTS: dict[str, int] = {}


def wrap(cls, name):
    orig = getattr(cls, name)

    def timed(self, *a, **k):
        t0 = time.perf_counter()
        try:
            return orig(self, *a, **k)
        finally:
            dt = time.perf_counter() - t0
            TIMES[name] = TIMES.get(name, 0.0) + dt
            COUNTS[name] = COUNTS.get(name, 0) + 1

    setattr(cls, name, timed)


def report(tag):
    print(f"--- {tag}")
    for k in sorted(TIMES, key=lambda k: -TIMES[k]):
        print(f"  {k:24s} {TIMES[k]:7.2f}s  n={COUNTS[k]}")
    TIMES.clear()
    COUNTS.clear()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(app_name="merge-probe", master=f"local[{cpus}]",
                      shuffle_partitions=int(cpus))
    spark.sparkContext.setLogLevel("ERROR")

    for name in ("_merge_once", "_write_files", "_read_files", "_commit",
                 "snapshot", "is_fenced", "_replace_entries", "_read_manifest"):
        wrap(TT.LakeTable, name)

    # split _write_files into write action vs stats job
    import pyspark.sql.readwriter as RW
    from pyspark.sql import DataFrame as PDF

    wrap(RW.DataFrameWriter, "parquet")
    wrap(PDF, "collect")

    import cdm_data_loader_utils_spark.streaming.replay as R

    orig_apply = R.apply_batch

    def timed_apply(*a, **kw):
        t0 = time.perf_counter()
        out = orig_apply(*a, **kw)
        TIMES["apply_batch_total"] = TIMES.get("apply_batch_total", 0.0) + (
            time.perf_counter() - t0)
        COUNTS["apply_batch_total"] = COUNTS.get("apply_batch_total", 0) + 1
        return out

    R.apply_batch = timed_apply
    R.replay_batches.__globals__["apply_batch"] = timed_apply

    spark.read.parquet(os.path.join(sf_dir, "events.parquet")).count()
    t0 = time.perf_counter()
    df = Q.q_cdc_replay_final_state(spark, sf_dir)
    n = df.count()
    print(f"final_state total {time.perf_counter()-t0:.2f}s rows={n}")
    report("cdc_replay_final_state (4 batches, sf0.1)")

    ev = int(os.environ.get("REPLAY_EVENTS", "0"))
    if ev:
        import bench

        t0 = time.perf_counter()
        dt, nev = bench.bench_replay_throughput(spark, ev)
        print(f"replay {nev} events: timed {dt:.2f}s "
              f"(total incl. setup {time.perf_counter()-t0:.2f}s)")
        report(f"cdc_replay_synthetic ({ev} events)")


if __name__ == "__main__":
    main()
