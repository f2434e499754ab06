"""Traced-run collector.

Spans are recorded from the benchmark side, around calls into each layer
of the package: the benchmark wraps the public functions of the layer
modules (``sources``, ``plans``, ``operators``, ``ml``, ``streaming``) for
the duration of a traced run and opens a span whenever a call crosses
into a different layer. Every span gets its own Spark job group, so the
jobs a span triggered can be read back from Spark's status store after
the op; structured-streaming queries run their jobs under their run id,
which a ``StreamingQueryListener`` reports together with each
micro-batch's progress.

Everything is kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import functools
import inspect
import itertools
import json
import sys
import threading
import time
from dataclasses import asdict, dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

PKG = "big_data_analysis_diseases_outbreaks_spark"
# module prefix → layer; `functions` are column expressions with no call
# boundary at run time, so they get no spans of their own.
LAYER_MODULES = {
    f"{PKG}.sources": "sources",
    f"{PKG}.plans": "plans",
    f"{PKG}.operators": "operators",
    f"{PKG}.ml": "ml",
    f"{PKG}.streaming": "streaming",
}
# the stream source is the ingest boundary, whatever module it lives in
SOURCE_FUNCTIONS = {"load_table", "load_tables", "trends_view", "events_stream",
                    "trends_stream"}
LAYERS = ("plans", "operators", "ml", "streaming", "queries")


@dataclass
class Span:
    span_id: int
    op_id: int
    name: str
    layer: str
    parent: int | None
    start: float
    end: float = 0.0
    group: str = ""


@dataclass
class OpRecord:
    """Everything measured about one op (one registry/streaming call)."""

    op_id: int
    name: str
    owner: str  # layer that owns the op's executor work
    build_ms: float = 0.0  # driver time in the op's call, minus its jobs
    eager_job_ms: float = 0.0  # job time inside the call
    sink_ms: float = 0.0  # time to materialize the result after the call
    groups: list = field(default_factory=list)
    run_ids: list = field(default_factory=list)
    stage: dict = field(default_factory=dict)  # summed stage counters
    jobs: int = 0
    stages_run: int = 0
    stages_skipped: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    layer_ms: dict = field(default_factory=dict)  # self time per layer
    stream: dict = field(default_factory=dict)


STAGE_FIELDS = {
    "executorRunTime": "executor_run_ms",
    "executorCpuTime": "executor_cpu_ns",
    "jvmGcTime": "gc_ms",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "memoryBytesSpilled": "spill_memory_bytes",
    "diskBytesSpilled": "spill_disk_bytes",
    "inputBytes": "input_bytes",
    "inputRecords": "input_records",
    "outputBytes": "output_bytes",
}


class _Listener(StreamingQueryListener):
    def __init__(self, tracer: "Tracer"):
        self.tracer = tracer

    def onQueryStarted(self, event):
        self.tracer._stream_started(str(event.runId))

    def onQueryProgress(self, event):
        p = event.progress
        self.tracer._stream_progress(str(p.runId), {
            "num_input_rows": p.numInputRows,
            "duration_ms": dict(p.durationMs or {}),
            "state": [
                {
                    "rows": s.numRowsTotal,
                    "memory_bytes": s.memoryUsedBytes,
                    "commit_ms": s.commitTimeMs,
                    "dropped_by_watermark": s.numRowsDroppedByWatermark,
                }
                for s in p.stateOperators
            ],
        })

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.tracer._stream_terminated(str(event.runId))


class Tracer:
    """Spans + Spark counters for one traced run. Thread-safe: each
    client thread has its own span stack (Spark job groups are
    thread-local too)."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.spans: list[Span] = []
        self.ops: list[OpRecord] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._progress: dict[str, list] = {}
        self._terminated: set[str] = set()
        self._started_runs: list[str] = []
        self._patched: list[tuple[object, str, object]] = []
        self._listener = _Listener(self)
        spark.streams.addListener(self._listener)
        self._patch()

    # ---- span stack -------------------------------------------------
    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _open(self, name: str, layer: str, op_id: int) -> Span:
        stack = self._stack()
        sid = next(self._ids)
        span = Span(sid, op_id, name, layer, stack[-1].span_id if stack else None,
                    time.perf_counter(), group=f"perfbench-{op_id}-{sid}")
        stack.append(span)
        self.sc.setJobGroup(span.group, name)
        return span

    def _close(self, span: Span) -> None:
        span.end = time.perf_counter()
        stack = self._stack()
        stack.pop()
        if stack:
            self.sc.setJobGroup(stack[-1].group, stack[-1].name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        with self._lock:
            self.spans.append(span)

    def call(self, layer: str, fn, *args, **kwargs):
        """Run ``fn`` inside a span of ``layer`` unless the caller already
        is in that layer (a span marks a crossing between layers)."""
        stack = self._stack()
        if not stack or stack[-1].layer == layer:
            return fn(*args, **kwargs)
        span = self._open(fn.__name__, layer, stack[-1].op_id)
        try:
            return fn(*args, **kwargs)
        finally:
            self._close(span)

    def op(self, name: str, owner: str, body):
        """Trace one op: ``body()`` runs inside a ``queries`` span and
        returns (result, call_end), ``call_end`` being when the registry
        call returned and materializing its result began."""
        op_id = next(self._ids)
        rec = OpRecord(op_id, name, owner)
        with self._lock:
            runs_before = len(self._started_runs)
        root = self._open(name, "queries", op_id)
        try:
            result, call_end = body()
        finally:
            self._close(root)
        with self._lock:
            rec.run_ids = self._started_runs[runs_before:]
            rec.groups = [s.group for s in self.spans if s.op_id == op_id]
        self._collect(rec, root, call_end)
        with self._lock:
            self.ops.append(rec)
        return result

    # ---- streaming listener ----------------------------------------
    def _stream_started(self, run_id: str) -> None:
        with self._lock:
            self._started_runs.append(run_id)

    def _stream_progress(self, run_id: str, prog: dict) -> None:
        with self._lock:
            self._progress.setdefault(run_id, []).append(prog)

    def _stream_terminated(self, run_id: str) -> None:
        with self._lock:
            self._terminated.add(run_id)

    def _wait_streams(self, run_ids: list[str], timeout: float = 10.0) -> None:
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            with self._lock:
                if all(r in self._terminated for r in run_ids):
                    return
            time.sleep(0.02)

    # ---- status-store readout --------------------------------------
    def _jobs(self, groups: list[str]) -> list:
        tracker = self.sc.statusTracker()
        out = []
        for g in groups:
            for jid in tracker.getJobIdsForGroup(g):
                out.append(self.store.job(jid))
        return out

    def _collect(self, rec: OpRecord, root: Span, call_end: float) -> None:
        self._wait_streams(rec.run_ids)
        jobs = self._jobs(rec.groups + rec.run_ids)
        # job wall intervals (ms since epoch) → union, split at call_end
        wall0 = time.time() - (time.perf_counter() - root.start)
        call_end_ms = (wall0 + (call_end - root.start)) * 1000
        intervals = []
        for j in jobs:
            rec.jobs += 1
            rec.stages_skipped += j.numSkippedStages()
            rec.stages_run += j.numCompletedStages() + j.numFailedStages()
            rec.tasks += j.numTasks() - j.numSkippedTasks()
            rec.failed_tasks += j.numFailedTasks()
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime(), done.get().getTime()))
            stage_ids = j.stageIds()  # a Scala Seq
            for sid in (stage_ids.apply(i) for i in range(stage_ids.size())):
                try:
                    st = self.store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - stage evicted or never ran
                    continue
                if str(st.status()) not in ("COMPLETE", "FAILED"):
                    continue  # skipped stages ran no tasks
                for jname, key in STAGE_FIELDS.items():
                    rec.stage[key] = rec.stage.get(key, 0) + getattr(st, jname)()
        in_call = _union_ms(intervals, None, call_end_ms)
        call_ms = (call_end - root.start) * 1000
        rec.eager_job_ms = in_call
        rec.build_ms = max(call_ms - in_call, 0.0)
        rec.sink_ms = (root.end - call_end) * 1000
        # layer self time: span duration minus its child spans
        spans = [s for s in self.spans if s.op_id == rec.op_id]
        child_ms: dict[int, float] = {}
        for s in spans:
            if s.parent is not None:
                child_ms[s.parent] = child_ms.get(s.parent, 0.0) + (s.end - s.start) * 1000
        for s in spans:
            self_ms = (s.end - s.start) * 1000 - child_ms.get(s.span_id, 0.0)
            rec.layer_ms[s.layer] = rec.layer_ms.get(s.layer, 0.0) + self_ms
        # wall time inside ml spans (fits run eagerly there); an ml span
        # never directly encloses another one, see call()
        rec.layer_ms["ml_total"] = sum(
            (s.end - s.start) * 1000 for s in spans if s.layer == "ml")
        with self._lock:
            progress = [p for r in rec.run_ids for p in self._progress.get(r, [])]
            last = [self._progress[r][-1] for r in rec.run_ids if self._progress.get(r)]
        if rec.run_ids:
            def dur(key):
                return sum(p["duration_ms"].get(key, 0) for p in progress)

            rec.stream = {
                "micro_batches": sum(1 for p in progress if p["num_input_rows"] > 0),
                "add_batch_ms": dur("addBatch"),
                "query_planning_ms": dur("queryPlanning"),
                "wal_commit_ms": dur("walCommit") + dur("commitOffsets"),
                "state_commit_ms": sum(s["commit_ms"] for p in progress for s in p["state"]),
                "watermark_dropped_rows": sum(
                    s["dropped_by_watermark"] for p in progress for s in p["state"]),
                "state_rows": sum(s["rows"] for p in last for s in p["state"]),
                "state_memory_bytes": sum(s["memory_bytes"] for p in last for s in p["state"]),
            }

    # ---- wrapping layer functions ----------------------------------
    def _patch(self) -> None:
        originals: dict[int, tuple[object, str]] = {}
        for modname, mod in list(sys.modules.items()):
            layer = next((lay for pre, lay in LAYER_MODULES.items()
                          if modname == pre or modname.startswith(pre + ".")), None)
            if layer is None or mod is None:
                continue
            for attr, fn in vars(mod).items():
                if (inspect.isfunction(fn) and not attr.startswith("_")
                        and fn.__module__ == modname):
                    lay = "sources" if attr in SOURCE_FUNCTIONS else layer
                    originals[id(fn)] = (fn, lay)
        wrapped = {key: self._wrap(fn, lay) for key, (fn, lay) in originals.items()}
        # rebind every module-level reference (``from x import f`` copies)
        for modname, mod in list(sys.modules.items()):
            if mod is None or not modname.startswith(PKG):
                continue
            for attr, val in list(vars(mod).items()):
                if id(val) in wrapped and originals[id(val)][0] is val:
                    self._patched.append((mod, attr, val))
                    setattr(mod, attr, wrapped[id(val)])

    def _wrap(self, fn, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return tracer.call(layer, fn, *args, **kwargs)

        return traced

    def close(self) -> None:
        for obj, attr, val in reversed(self._patched):
            setattr(obj, attr, val)
        self._patched.clear()
        self.spark.streams.removeListener(self._listener)

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({
                **extra,
                "spans": [asdict(s) for s in self.spans],
                "ops": [asdict(o) for o in self.ops],
            }, f)


def _union_ms(intervals, lo, hi) -> float:
    """Length of the union of [a, b] intervals clipped to (lo, hi]."""
    clipped = sorted(
        (max(a, lo) if lo is not None else a, min(b, hi) if hi is not None else b)
        for a, b in intervals
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
