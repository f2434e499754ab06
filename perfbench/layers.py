"""Per-layer metrics of a traced run.

Counts and times are means per op over the traced phase (``session.*``:
medians over the set-ups; ``core_busy_frac``: executor time over op wall
time × cores). The executor counters of an op go to the layer that owns
it (``Workload.owner_of``); a layer that owns no op of the workload
reports 0.
"""

from __future__ import annotations

import statistics

from tracing import LAYERS

PER_LAYER = (
    "session.get_spark_ms", "session.warmup_ms",
    "sources.load_ms", "sources.input_bytes", "sources.input_records",
    "queries.build_ms", "queries.eager_job_ms", "queries.sink_ms",
    "queries.jobs", "queries.stages_run", "queries.stages_skipped", "queries.tasks",
    "ml.fit_ms", "ml.score_ms",
    "streaming.micro_batches", "streaming.add_batch_ms",
    "streaming.query_planning_ms", "streaming.wal_commit_ms",
    "streaming.state_rows", "streaming.state_memory_bytes",
    "streaming.state_commit_ms", "streaming.watermark_dropped_rows",
    "streaming.sink_bytes",
    *(f"{lay}.{m}" for lay in LAYERS for m in (
        "executor_run_ms", "executor_cpu_ms", "gc_ms", "shuffle_read_bytes",
        "shuffle_write_bytes", "spill_bytes", "core_busy_frac", "failed_tasks")),
    "trace.overhead_ms",
)

UNITS = {"_ms": "ms", "_bytes": "bytes", "_frac": "fraction"}


def unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def per_layer(tracer, wl, cores: int, get_spark_s, warmup_s, untraced, traced) -> dict:
    ops = tracer.ops
    m: dict[str, float] = {
        "session.get_spark_ms": statistics.median(get_spark_s) * 1000,
        "session.warmup_ms": statistics.median(warmup_s) * 1000,
        "sources.load_ms": _mean(o.layer_ms.get("sources", 0.0) for o in ops),
        "sources.input_bytes": _mean(o.stage.get("input_bytes", 0) for o in ops),
        "sources.input_records": _mean(o.stage.get("input_records", 0) for o in ops),
        "queries.build_ms": _mean(o.build_ms for o in ops),
        "queries.eager_job_ms": _mean(o.eager_job_ms for o in ops),
        "queries.sink_ms": _mean(o.sink_ms for o in ops),
        "queries.jobs": _mean(o.jobs for o in ops),
        "queries.stages_run": _mean(o.stages_run for o in ops),
        "queries.stages_skipped": _mean(o.stages_skipped for o in ops),
        "queries.tasks": _mean(o.tasks for o in ops),
    }
    ml_ops = [o for o in ops if o.owner == "ml"]
    m["ml.fit_ms"] = _mean(o.layer_ms.get("ml_total", 0.0) for o in ml_ops)
    m["ml.score_ms"] = _mean(o.sink_ms for o in ml_ops)

    st_ops = [o for o in ops if o.owner == "streaming"]
    for key in ("micro_batches", "add_batch_ms", "query_planning_ms",
                "wal_commit_ms", "state_rows", "state_memory_bytes",
                "state_commit_ms", "watermark_dropped_rows"):
        m[f"streaming.{key}"] = _mean(o.stream.get(key, 0) for o in st_ops)
    m["streaming.sink_bytes"] = _mean(o.stage.get("output_bytes", 0) for o in st_ops)

    for lay in LAYERS:
        owned = [o for o in ops if o.owner == lay]
        run_ms = sum(o.stage.get("executor_run_ms", 0) for o in owned)
        wall_ms = sum(o.build_ms + o.eager_job_ms + o.sink_ms for o in owned)
        m[f"{lay}.executor_run_ms"] = _mean(o.stage.get("executor_run_ms", 0) for o in owned)
        m[f"{lay}.executor_cpu_ms"] = _mean(
            o.stage.get("executor_cpu_ns", 0) / 1e6 for o in owned)
        m[f"{lay}.gc_ms"] = _mean(o.stage.get("gc_ms", 0) for o in owned)
        m[f"{lay}.shuffle_read_bytes"] = _mean(
            o.stage.get("shuffle_read_bytes", 0) for o in owned)
        m[f"{lay}.shuffle_write_bytes"] = _mean(
            o.stage.get("shuffle_write_bytes", 0) for o in owned)
        m[f"{lay}.spill_bytes"] = _mean(
            o.stage.get("spill_memory_bytes", 0) + o.stage.get("spill_disk_bytes", 0)
            for o in owned)
        m[f"{lay}.core_busy_frac"] = run_ms / (wall_ms * cores) if wall_ms else 0.0
        m[f"{lay}.failed_tasks"] = float(sum(o.failed_tasks for o in owned))

    # tracing overhead: traced minus untraced time for the same work
    m["trace.overhead_ms"] = (traced.wall_s() - untraced.wall_s()) * 1000
    return {k: (m[k], unit_of(k)) for k in PER_LAYER}
