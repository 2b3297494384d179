"""Per-layer tracing for the traced benchmark run (``--trace 1``).

The tracer records a span around each call into an engine layer. Spans are
recorded from the benchmark's own files: :meth:`Tracer.wrap` replaces a
public function or method in place with a wrapper, so calls the engine makes
internally (``replay_batches`` → ``apply_batch`` → ``LakeTable.merge_cdc``)
are traced too. A span keeps its id, parent id, name, thread, start and end.

Each span sets a Spark job group (``pb-<span id>``) for the duration of the
call, on the thread that makes it, and restores the caller's group after.
Jobs that ``replay_batches`` runs from its prefetch thread therefore land
under ``streaming.prepare_batch``. At the end of the run the tracer waits for
the listener bus to drain, reads every job and stage from Spark's status
store, and sums stage metrics per span.

Per span name ``X`` it reports (all fields include child spans, except
``self_s``):

* ``X.calls`` and ``X.wall_s``;
* ``X.self_s`` — wall time minus the part covered by child spans;
* ``X.driver_s`` — wall time minus the part during which any job of the span
  or of its children ran: planning, metadata and commit IO;
* ``X.executor_run_s``, ``X.shuffle_write_mb``, ``X.shuffle_read_mb``,
  ``X.input_mb`` — summed over the stages of the span's jobs.

Two layers are lazy: ``LakeTable.read`` and the ``queries.<name>`` functions
return a DataFrame whose work runs when it is forced. Their spans
(``lake.read``, ``queries.<name>``) are recorded by the workloads around the
call together with the ``.collect()`` or ``.count()`` that forces it.

A span on a helper thread that has no open span of its own is parented to the
outermost open span of the main thread. Spans are recorded only while the
tracer is active; set-up and output checks run with it off, apart from
``session.get_spark``.
"""

from __future__ import annotations

import contextlib
import functools
import threading
import time

MB = 1024.0 * 1024.0

SPANS = [
    "session.get_spark",
    "streaming.replay_batches",
    "streaming.prepare_batch",
    "streaming.apply_batch",
    "lake.merge_cdc",
    "lake.is_fenced",
    "lake.read",
    "audit.log_batch",
]
SPAN_FIELDS = {
    "calls": ("count", "higher"),
    "wall_s": ("s", "lower"),
    "self_s": ("s", "lower"),
    "driver_s": ("s", "lower"),
    "executor_run_s": ("s", "lower"),
    "shuffle_write_mb": ("MB", "lower"),
    "shuffle_read_mb": ("MB", "lower"),
    "input_mb": ("MB", "lower"),
}
QUERY_FIELDS = ("wall_s", "executor_run_s", "shuffle_write_mb")
DERIVED = {
    "lake.merge_cdc.files_rewritten": ("count", "lower"),
    "lake.merge_cdc.files_added": ("count", "lower"),
    "lake.merge_cdc.write_amplification": ("ratio", "lower"),
    "lake.read.files_skipped_ratio": ("ratio", "higher"),
    "streaming.prepare_overlap_ratio": ("ratio", "higher"),
}


# metrics only replay_bulk can make non-zero: the other workloads never call
# replay_batches while the tracer is on
REPLAY_ONLY = ("streaming.replay_batches", "streaming.prepare_overlap_ratio")


def per_layer_spec(query_names: list[str], replay: bool = True) -> list[dict]:
    """Every per-layer metric the traced run emits, in output order; without
    ``replay``, those only ``replay_bulk`` can make non-zero are left out."""
    out = []
    for span in SPANS:
        for field, (unit, better) in SPAN_FIELDS.items():
            out.append({"name": f"{span}.{field}", "unit": unit, "better": better})
    for q in query_names:
        for field in QUERY_FIELDS:
            unit, better = SPAN_FIELDS[field]
            out.append({"name": f"queries.{q}.{field}", "unit": unit, "better": better})
    for name, (unit, better) in DERIVED.items():
        out.append({"name": name, "unit": unit, "better": better})
    if not replay:
        out = [m for m in out if not m["name"].startswith(REPLAY_ONLY)]
    return out


def _union_within(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class Tracer:
    """Span recorder plus Spark status-store reader; one per traced run."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.active = False
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[dict] = []
        self._next_id = 1

    # ------------------------------------------------------------ recording
    def _stack(self) -> list[dict]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        from pyspark import SparkContext

        stack = self._stack()
        with self._lock:
            sid = self._next_id
            self._next_id += 1
            if stack:
                parent = stack[-1]["id"]
            elif stack is not self._main_stack and self._main_stack:
                parent = self._main_stack[0]["id"]
            else:
                parent = None
        rec = {
            "id": sid, "parent": parent, "name": name,
            "thread": threading.current_thread().name,
            "start": time.time(), "end": None,
        }
        sc = SparkContext._active_spark_context
        prev = None
        if sc is not None:
            prev = (sc.getLocalProperty("spark.jobGroup.id"),
                    sc.getLocalProperty("spark.job.description"))
            sc.setJobGroup(f"pb-{sid}", name)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", prev[0])
                sc.setLocalProperty("spark.job.description", prev[1])
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a wrapper that records span ``name``."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)

    # -------------------------------------------------------------- reading
    def read_jobs(self, spark) -> list[dict]:
        """Every finished job with its group, interval and summed stage
        metrics. A stage shared by several jobs counts once, for the first
        job that ran it; skipped stages count nothing."""
        jsc = spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jlist = store.jobsList(None)
        raw = [jlist.apply(i) for i in range(jlist.size())]
        raw.sort(key=lambda j: j.jobId())
        seen: set[int] = set()
        jobs = []
        for j in raw:
            sub, done = j.submissionTime(), j.completionTime()
            if not (sub.isDefined() and done.isDefined()):
                continue
            grp = j.jobGroup()
            job = {
                "group": grp.get() if grp.isDefined() else None,
                "start": sub.get().getTime() / 1000.0,
                "end": done.get().getTime() / 1000.0,
                "executor_run_ms": 0, "shuffle_write": 0, "shuffle_read": 0,
                "input": 0, "output_records": 0,
            }
            sids = j.stageIds()
            for k in range(sids.size()):
                sid = sids.apply(k)
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — stage never attempted
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                job["executor_run_ms"] += st.executorRunTime()
                job["shuffle_write"] += st.shuffleWriteBytes()
                job["shuffle_read"] += st.shuffleReadBytes()
                job["input"] += st.inputBytes()
                job["output_records"] += st.outputRecords()
            jobs.append(job)
        return jobs

    def per_layer(self, jobs: list[dict], query_names: list[str],
                  counters: dict[str, float]) -> dict[str, float]:
        """Per-layer metric values from the recorded spans and ``jobs``.

        ``counters`` supplies the derived counters the workload measured
        itself (``files_rewritten``, ``files_added``, ``rows_applied``,
        ``files_scanned``, ``files_skipped``)."""
        spans = sorted(self.spans, key=lambda s: s["id"])
        by_id = {s["id"]: s for s in spans}
        children: dict[int, list[dict]] = {}
        for s in spans:
            if s["parent"] in by_id:
                children.setdefault(s["parent"], []).append(s)
        own_jobs: dict[int, list[dict]] = {}
        main_spans = [s for s in spans if s["thread"] == "MainThread"]
        for j in jobs:
            sid = None
            if j["group"] and j["group"].startswith("pb-"):
                sid = int(j["group"][3:])
            elif j["group"] is None:
                # jobs run before a SparkContext existed to carry a group
                # (the get_spark warm-up): innermost main-thread span open
                # at submission
                open_ = [s for s in main_spans if s["start"] <= j["start"] <= s["end"]]
                if open_:
                    sid = max(open_, key=lambda s: s["start"])["id"]
            if sid in by_id:
                own_jobs.setdefault(sid, []).append(j)

        def subtree(s):
            out = [s]
            for c in children.get(s["id"], []):
                out.extend(subtree(c))
            return out

        agg: dict[str, dict[str, float]] = {}
        merge_out = 0
        for s in spans:
            wall = s["end"] - s["start"]
            tree = subtree(s)
            tree_jobs = [j for t in tree for j in own_jobs.get(t["id"], [])]
            kids = [(c["start"], c["end"]) for c in children.get(s["id"], [])]
            a = agg.setdefault(s["name"], dict.fromkeys(SPAN_FIELDS, 0.0))
            a["calls"] += 1
            a["wall_s"] += wall
            a["self_s"] += wall - _union_within(kids, s["start"], s["end"])
            a["driver_s"] += wall - _union_within(
                [(j["start"], j["end"]) for j in tree_jobs], s["start"], s["end"]
            )
            a["executor_run_s"] += sum(j["executor_run_ms"] for j in tree_jobs) / 1000.0
            a["shuffle_write_mb"] += sum(j["shuffle_write"] for j in tree_jobs) / MB
            a["shuffle_read_mb"] += sum(j["shuffle_read"] for j in tree_jobs) / MB
            a["input_mb"] += sum(j["input"] for j in tree_jobs) / MB
            if s["name"] == "lake.merge_cdc":
                merge_out += sum(j["output_records"] for j in tree_jobs)

        out: dict[str, float] = {}
        for span in SPANS:
            a = agg.get(span, {})
            for field in SPAN_FIELDS:
                out[f"{span}.{field}"] = a.get(field, 0.0)
        for q in query_names:
            a = agg.get(f"queries.{q}", {})
            for field in QUERY_FIELDS:
                out[f"queries.{q}.{field}"] = a.get(field, 0.0)

        merges = [(s["start"], s["end"]) for s in spans if s["name"] == "lake.merge_cdc"]
        preps = [s for s in spans if s["name"] == "streaming.prepare_batch"]
        prep_wall = sum(s["end"] - s["start"] for s in preps)
        overlap = sum(_union_within(merges, s["start"], s["end"]) for s in preps)
        applied = counters.get("rows_applied", 0)
        files = counters.get("files_scanned", 0) + counters.get("files_skipped", 0)
        out["lake.merge_cdc.files_rewritten"] = counters.get("files_rewritten", 0)
        out["lake.merge_cdc.files_added"] = counters.get("files_added", 0)
        out["lake.merge_cdc.write_amplification"] = merge_out / applied if applied else 0.0
        out["lake.read.files_skipped_ratio"] = (
            counters.get("files_skipped", 0) / files if files else 0.0
        )
        out["streaming.prepare_overlap_ratio"] = overlap / prep_wall if prep_wall else 0.0
        return out
