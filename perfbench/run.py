"""Benchmark of the CDC engine: one workload per process.

    python3 perfbench/run.py --workload replay_bulk --seed 1 --seconds 10 --trace 0

Workloads are defined in ``workloads.py`` (``replay_bulk``, ``tail_freshness``,
``query_mix``). The run starts the engine's session with ``get_spark`` on
``local[<cores>]``, makes the workload's inputs from ``--seed`` (the change
events of the replay workloads, the query order of ``query_mix``), measures a
closed loop of the workload's operation for ``--seconds``, checks the outputs
and prints one JSON object as the last line of stdout::

    {"correct": true, "attempted": 7, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones (every workload reports
all of them; what an "operation" and a "unit" are depends on the workload):

* ``setup_s`` — process start to the first timed operation: interpreter,
  JVM and ``get_spark`` (with its warm-up), input generation, base history;
* ``op_p50_s``, ``op_p75_s`` — median and 75th percentile of the operation
  times (micro-batch / commit plus lookup / round of queries);
* ``throughput_per_s`` — units of work per second of timed operations
  (events for the two replay workloads, queries for ``query_mix``).

With ``--trace 1`` the engine's public layer entry points are wrapped with
spans (see ``spans.py``), the metrics are the per-layer ones, and the spans
plus both metric sets are written to ``.perfbench/traces/`` in the checkout;
``report.py`` renders them.

All scratch data (lake tables, event files, Spark local dirs, temp files)
lives in ``.perfbench/work-<pid>`` inside the checkout and is removed when
the run ends, also on failure. A failed operation or output check makes
``correct`` false and the exit code 1.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench")
PACKAGE = "cdm_data_loader_utils_spark"

END_TO_END_UNITS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_p75_s": "s",
    "throughput_per_s": "1/s",
}


def _quartiles(xs: list[float]) -> tuple[float, float]:
    """(median, 75th percentile), interpolating between samples."""
    if len(xs) == 1:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[1], q[2]


def end_to_end(out, setup_s: float) -> dict[str, float]:
    p50, p75 = _quartiles(out.op_s) if out.op_s else (0.0, 0.0)
    return {
        "setup_s": setup_s,
        "op_p50_s": p50,
        "op_p75_s": p75,
        "throughput_per_s": out.units / out.timed_s if out.timed_s else 0.0,
    }


def _session_conf(work: str) -> dict[str, str]:
    return {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # the traced run reads every job and stage back from the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def _stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 — the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — last resort below
            proc.kill()
            proc.wait()


def _install_spans(tracer, session_mod) -> None:
    from cdm_data_loader_utils_spark.audit.tables import AuditStore
    from cdm_data_loader_utils_spark.lake.table import LakeTable
    from cdm_data_loader_utils_spark.streaming import replay

    tracer.wrap(session_mod, "get_spark", "session.get_spark")
    tracer.wrap(replay, "replay_batches", "streaming.replay_batches")
    tracer.wrap(replay, "prepare_batch", "streaming.prepare_batch")
    tracer.wrap(replay, "apply_batch", "streaming.apply_batch")
    tracer.wrap(LakeTable, "merge_cdc", "lake.merge_cdc")
    tracer.wrap(LakeTable, "is_fenced", "lake.is_fenced")
    tracer.wrap(AuditStore, "log_batch", "audit.log_batch")


def run(args, work: str) -> tuple[dict, dict]:
    """Run one workload; returns (result object, trace document)."""
    sys.path.insert(0, ROOT)
    import cdm_data_loader_utils_spark.session as session_mod

    import workloads
    from spans import Tracer, per_layer_spec

    tracer = Tracer(enabled=bool(args.trace))
    if tracer.enabled:
        _install_spans(tracer, session_mod)
    cores = len(os.sched_getaffinity(0))
    tracer.active = tracer.enabled
    spark = session_mod.get_spark(
        app_name=f"perfbench-{args.workload}",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf=_session_conf(work),
    )
    tracer.active = False
    session_s = time.perf_counter() - T0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        fn = workloads.WORKLOADS[args.workload]
        out = fn(spark, work, args.seed, float(args.seconds), tracer)
        e2e = end_to_end(out, out.t_first_op - T0)
        doc = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "cores": cores,
            "scratch": os.path.relpath(work, ROOT), "end_to_end": e2e, "op_s": out.op_s,
            "checks": out.checks, "info": {"session_s": session_s, **out.info},
        }
        if tracer.enabled:
            jobs = tracer.read_jobs(spark)
            doc["per_layer"] = tracer.per_layer(jobs, workloads.QUERIES, out.counters)
            doc["spans"] = sorted(tracer.spans, key=lambda s: s["id"])
            metrics = {
                m["name"]: {"value": doc["per_layer"][m["name"]], "unit": m["unit"]}
                for m in per_layer_spec(workloads.QUERIES,
                                        replay=args.workload == "replay_bulk")
            }
        else:
            metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()}
    finally:
        _stop_session(spark)
    correct = out.failed == 0 and all(out.checks.values())
    result = {"correct": correct, "attempted": max(out.attempted, 1),
              "failed": out.failed, "metrics": metrics}
    return result, doc


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["replay_bulk", "tail_freshness", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "session.py")):
        print(f"perfbench: engine package {PACKAGE}/ not found next to "
              f"{os.path.basename(HERE)}/; run from a full checkout", file=sys.stderr)
        return 2

    os.makedirs(OUT_DIR, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"work-{os.getpid()}-", dir=OUT_DIR)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TZ"] = "UTC"
    time.tzset()
    tempfile.tempdir = None
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result, doc = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(f"perfbench: {json.dumps({k: doc[k] for k in ('scratch', 'end_to_end', 'op_s', 'info', 'checks')})}",
          file=sys.stderr)
    if args.trace:
        tdir = os.path.join(OUT_DIR, "traces")
        os.makedirs(tdir, exist_ok=True)
        tpath = os.path.join(tdir, f"{args.workload}-seed{args.seed}.json")
        with open(tpath, "w") as f:
            json.dump(doc, f, indent=1)
        print(f"perfbench: trace written to {tpath}", file=sys.stderr)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
