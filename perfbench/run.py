"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Generates the workload's input from the
seed (cached under ``.perfbench_cache/``), times two cold set-ups (one
of them in a fresh process), runs the workload in a closed loop for
``--seconds`` (finishing the block of ops in flight), checks every output
outside the timed region and prints one JSON result as the last line of
stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones. With
``--trace 1`` the run measures an untraced phase and then a traced phase,
each for half of ``--seconds``, prints the per-layer metrics (plus the
tracing overhead), and writes every span and op record to
``.perfbench_traces/<workload>-s<seed>.json``.

Everything the run writes stays inside the checkout: inputs in
``.perfbench_cache/``, temp files, Spark local dirs, checkpoints and sinks
in ``.perfbench_work/`` (removed at exit), traces in ``.perfbench_traces/``.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
# the benchmark's modules, and the checkout root for the package and its
# test oracle (imported once the environment is configured, see main)
sys.path[:0] = [HERE, os.getcwd()]

from gen import cached_inputs  # noqa: E402

PKG = "big_data_analysis_diseases_outbreaks_spark"
# cold set-ups timed per run; the median is reported. Each costs about
# 10 s (JVM launch, session, first job), so a third would not fit the
# run budget.
SETUPS = 2


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def host() -> dict:
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    return {"cpus": cpus, "mem_mb": mem_kb // 1024}


def configure_env(work: str, h: dict) -> None:
    """Pin the engine's parallelism and memory to the host and keep every
    temp file inside ``work``. Must run before pyspark is imported."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    # the session default (48g) is sized for a large box; give the driver
    # JVM a quarter of this host's memory, between 1g and 16g
    driver_gb = max(1, min(16, h["mem_mb"] // 4 // 1024))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(h["cpus"]),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_gb}g",
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        # every JVM (the launcher's too): temp files in the checkout, and no
        # hsperfdata files, which the JVM would put in /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf", f"spark.local.dir={local}",
            "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "pyspark-shell",
        ]),
    })
    os.environ.pop("SPARK_GRAFT_SF_DIR", None)


def quantile(values: list[float], q: int) -> float:
    """q-th percentile (``statistics.quantiles``' default method)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100)[q - 1]


class Phase:
    """One measured phase: a closed loop of ``clients`` callers drawing ops
    block after block, a block being one of each of the workload's ops (in
    the workload's order for one caller, in a seeded shuffle for several).
    Drawing stops at a block boundary once ``seconds`` have passed and at
    least ``min_ops`` were drawn, so every block runs to its end."""

    def __init__(self, wl, runner, seconds: float, seed: int, clients: int,
                 min_ops: int, tracer=None):
        self.wl, self.runner, self.seconds = wl, runner, seconds
        self.min_ops = max(min_ops, 1)
        self.tracer = tracer
        self.clients = clients
        self.rng = random.Random(seed)
        self.latencies: list[float] = []
        self.by_op: dict[str, list[float]] = {}
        self.pass_s: list[float] = []
        self.results: list[tuple[str, object]] = []
        self.attempted = 0
        self.failed = 0
        self.elapsed = 0.0
        self._lock = threading.Lock()

    def _one(self, name: str, clear_cache: bool) -> None:
        t0 = time.perf_counter()
        try:
            if self.tracer is None:
                result, _ = self.runner.run(name, clear_cache)
            else:
                result = self.tracer.op(
                    name, self.wl.owner_of(name),
                    lambda: self.runner.run(name, clear_cache))
        except Exception:  # noqa: BLE001 - a failed op counts, the run goes on
            log(f"op {name} failed:\n{traceback.format_exc()}")
            with self._lock:
                self.attempted += 1
                self.failed += 1
            return
        dt = (time.perf_counter() - t0) * 1000
        with self._lock:
            self.attempted += 1
            self.latencies.append(dt)
            self.by_op.setdefault(name, []).append(dt)
            self.results.append((name, result))

    def _draws(self):
        for block in itertools.count():
            names = list(self.wl.ops)
            if self.clients > 1:
                self.rng.shuffle(names)
            for name in names:
                yield block, name

    def run(self) -> "Phase":
        n = len(self.wl.ops)
        draws = self._draws()
        drawn = 0
        blocks: dict[int, list[float]] = {}  # block → [first start, last end]
        t0 = time.perf_counter()

        def client():
            nonlocal drawn
            while True:
                with self._lock:
                    if (drawn % n == 0 and drawn >= self.min_ops
                            and time.perf_counter() - t0 >= self.seconds):
                        return
                    block, name = next(draws)
                    drawn += 1
                start = time.perf_counter()
                # one caller releases cached frames after each op; several
                # must not, it would evict each other's cached data
                self._one(name, clear_cache=self.clients == 1)
                end = time.perf_counter()
                with self._lock:
                    span = blocks.setdefault(block, [start, end])
                    span[0], span[1] = min(span[0], start), max(span[1], end)

        threads = [threading.Thread(target=client, name=f"client-{i}")
                   for i in range(self.clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        self.elapsed = time.perf_counter() - t0
        self.pass_s = [end - start for start, end in blocks.values()]
        return self

    def wall_s(self) -> float:
        """Median time of one block, from its first op's start to its
        last op's end."""
        return statistics.median(self.pass_s)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def end_to_end(phase: Phase, setup_s: float, rows: int, rss_mb: float) -> dict:
    lat = phase.latencies
    wall = phase.wall_s()
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall, "s"),
        "events_per_s": (rows / wall, "rows/s"),
        "query_p50_ms": (quantile(lat, 50), "ms"),
        "query_p90_ms": (quantile(lat, 90), "ms"),
        "queries_per_s": (len(lat) / phase.elapsed, "1/s"),
        "peak_rss_mb": (rss_mb, "MB"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smoke run: tiny input, one op of each kind")
    ap.add_argument("--setup-only", action="store_true",
                    help="time one set-up in this process and print it as JSON")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PKG)):
        log(f"error: run from the root of a checkout ({PKG}/ not found in {root})")
        return 2
    h = host()
    work = os.path.join(root, ".perfbench_work", f"run-{os.getpid()}")
    configure_env(work, h)
    try:
        return _run(args, root, work, h)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def timed_setup(wl_name: str):
    """One set-up: ``get_spark()`` (in a new process this launches the
    JVM) plus the engine warm-up, the session's first job. Returns
    (spark, get_spark seconds, warm-up seconds)."""
    from big_data_analysis_diseases_outbreaks_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{wl_name}")
    t1 = time.perf_counter()
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark, t1 - t0, time.perf_counter() - t1


def setup_in_fresh_process(args, root: str) -> tuple[float, float]:
    """Time one cold set-up (JVM launch, session, package shipping and
    warm-up) in a new process; returns (get_spark s, warm-up s)."""
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", "0", "--setup-only"],
        cwd=root, capture_output=True, text=True, timeout=170)
    if proc.returncode != 0:
        raise RuntimeError(f"set-up process failed:\n{proc.stderr[-3000:]}")
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    return out["get_spark_s"], out["warmup_s"]


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit (the gateway JVM
    exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def _run(args, root: str, work: str, h: dict) -> int:
    import pyspark

    from big_data_analysis_diseases_outbreaks_spark.queries import all_queries
    from workloads import (WARM_SHAPE, WORKLOADS, Checker, OpRunner, input_rows,
                           is_stream)

    if args.workload not in WORKLOADS:
        log(f"error: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2
    wl = WORKLOADS[args.workload]
    if args.setup_only:
        spark, get_spark_s, warmup_s = timed_setup(wl.name)
        stop_spark(spark)
        print(json.dumps({"get_spark_s": get_spark_s, "warmup_s": warmup_s}))
        return 0
    registry = all_queries()
    cache = os.path.join(root, ".perfbench_cache")
    warm_dir, _, _ = cached_inputs(cache, 0, WARM_SHAPE)

    shapes = {"history": wl.shape}
    if wl.ingest_shape:
        shapes["ingest"] = wl.ingest_shape
    gen_s = 0.0
    dirs, manifests = {}, {}
    for key, shape in shapes.items():
        dirs[key], manifests[key], took = cached_inputs(
            cache, args.seed, WARM_SHAPE if args.tiny else shape)
        gen_s += took
    op_dirs = {op: dirs[wl.input_of(op)] for op in wl.ops}
    clients = wl.clients or h["cpus"]
    # the traced run reports no latency percentiles: it splits --seconds
    # over its two phases, and each needs only one block of ops
    seconds = args.seconds / 2 if args.trace else args.seconds
    min_ops = len(wl.ops) if args.tiny or args.trace else wl.min_ops

    spark = None
    try:
        # set-up = JVM launch, session start and the engine warm-up job.
        # Every sample is cold: all but the last run in a fresh process
        # each; the last one starts the session the run measures with.
        get_spark_s, warmup_s = [], []
        for _ in range(SETUPS - 1):
            a, b = setup_in_fresh_process(args, root)
            get_spark_s.append(a)
            warmup_s.append(b)
        spark, a, b = timed_setup(wl.name)
        get_spark_s.append(a)
        warmup_s.append(b)
        setup_s = statistics.median(a + b for a, b in zip(get_spark_s, warmup_s))
        # prime: every op of the workload once on the tiny input, so the
        # measured phase starts with loaded classes and running workers.
        # The stream ops run one after another: OpRunner drops the memory
        # sink views an op created, which needs one stream op at a time,
        # and concurrent first calls of the stream source on an input
        # (streaming.pipeline._stream_source_dir) race to create its
        # symlink directory and fail with FileExistsError.
        t0 = time.perf_counter()
        warm = OpRunner(spark, {op: warm_dir for op in wl.ops}, work, registry)
        streams = [op for op in wl.ops if is_stream(op)]

        def prime_streams():
            for op in streams:
                warm.run(op, False)

        with ThreadPoolExecutor(h["cpus"]) as pool:
            futs = [pool.submit(prime_streams)]
            futs += [pool.submit(warm.run, op, False)
                     for op in wl.ops if not is_stream(op)]
            for fut in futs:
                fut.result()
        spark.catalog.clearCache()
        prime_s = time.perf_counter() - t0
        log(f"setup: get_spark {get_spark_s} warmup {warmup_s} prime {prime_s:.1f}")

        runner = OpRunner(spark, op_dirs, work, registry)
        phase = Phase(wl, runner, seconds, args.seed, clients, min_ops).run()
        traced = None
        tracer = None
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark)
            try:
                traced = Phase(wl, runner, seconds, args.seed, clients,
                               min_ops, tracer=tracer).run()
            finally:
                tracer.close()
        rss_mb = jvm_peak_rss_mb(spark)

        log(f"measured: {phase.elapsed:.1f}s, {len(phase.latencies)} ops")
        # ---- output checks, outside the timed region ----
        t_check = time.perf_counter()
        checker = Checker(spark, {op: (op_dirs[op], manifests[wl.input_of(op)])
                                  for op in wl.ops}, registry)
        mismatches = 0
        try:
            for ph in (phase, traced) if traced else (phase,):
                for name, result in ph.results:
                    problem = checker.check(name, result)
                    if problem:
                        mismatches += 1
                        log(f"check {name}: {problem}")
        finally:
            checker.close()

        log(f"checks: {time.perf_counter() - t_check:.1f}s")
        phases = [p for p in (phase, traced) if p is not None]
        attempted = sum(p.attempted for p in phases)
        failed = sum(p.failed for p in phases) + mismatches
        info = {
            "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cpus": h["cpus"], "mem_mb": h["mem_mb"],
            "clients": clients, "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
            "spark": pyspark.__version__, "input_rows": {k: m["rows"] for k, m in manifests.items()},
            "gen_s": gen_s, "prime_s": prime_s, "passes": len(phase.pass_s),
            "ops": len(phase.latencies), "error_rate": failed / max(attempted, 1),
            "op_median_ms": {k: round(statistics.median(v), 1)
                             for k, v in phase.by_op.items()},
        }
        if args.trace:
            from layers import per_layer

            metrics = per_layer(tracer, wl, h["cpus"], get_spark_s, warmup_s,
                                phase, traced)
            out_dir = os.path.join(root, ".perfbench_traces")
            os.makedirs(out_dir, exist_ok=True)
            path = os.path.join(out_dir, f"{wl.name}-s{args.seed}.json")
            tracer.write(path, {"info": info, "metrics": metrics})
            info["trace_file"] = os.path.relpath(path, root)
        else:
            metrics = end_to_end(phase, setup_s, input_rows(wl, manifests), rss_mb)
    finally:
        if spark is not None:
            stop_spark(spark)

    print(json.dumps({"run": info}), flush=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
