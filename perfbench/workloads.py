"""The benchmark's workloads: which ops each one runs, on what input, and
how each op's output is checked.

Every op goes through the package's public surface: the registry in
``queries`` (``all_queries()[name].fn(spark, sf_dir)``), or for the
stream fan-out, ``streaming.pipeline.run_foreach_batch_fanout``.
"""

from __future__ import annotations

import os
import time
import uuid
from dataclasses import dataclass

import duckdb
import pandas as pd
from big_data_analysis_diseases_outbreaks_spark.sources.tables import TABLE_NAMES
from gen import Shape
from tests.oracle_harness import _pdf_rows, duckdb_connection

FANOUT = "run_foreach_batch_fanout"


@dataclass(frozen=True)
class Workload:
    """A closed loop: ``clients`` callers (0 → one per core), each issuing
    its next op when the previous one returns. One caller runs ``ops`` in
    order, pass after pass; several draw ops from a seeded order."""

    name: str
    clients: int
    shape: Shape
    ops: tuple[str, ...]
    owner: str  # layer that owns the ops' executor work (default)
    input_tables: tuple[str, ...]  # tables whose rows count as input
    min_ops: int = 0  # keep going past --seconds until this many ops
    owners: tuple[tuple[str, str], ...] = ()  # per-op owner overrides
    ingest_shape: Shape | None = None  # separate input of the stream ops

    def owner_of(self, op: str) -> str:
        return dict(self.owners).get(op, self.owner)

    def input_of(self, op: str) -> str:
        return "ingest" if self.ingest_shape and is_stream(op) else "history"


def is_stream(op: str) -> bool:
    return op == FANOUT or op.startswith("stream_")


# The paper's engine end to end: the stream ingest of the latest month's
# events (watermarked daily aggregate persisted through foreachBatch;
# complete-mode aggregates on the default and the RocksDB state store;
# per-series running z-scores in applyInPandasWithState state; session
# windows), then the batch refresh over a year of history.
#
# Left out of both workloads: registry ops that round a ratio of two data
# values at 4 decimals and so disagree with their DuckDB oracle whenever
# the ratio is a decimal tie (8.87 / 8.0 = 1.10875: Spark rounds the
# decimal up, DuckDB rounds the binary double 1.1087499... down). With
# value / moving_avg in operators.detrend.detrend, anomaly_zscore failed
# its check on 4 of 40 outbreak inputs, anomaly_map_series on 2 of 40 (and
# on 2 of 56 dashboard inputs), trends_detrend on 2 of 56 dashboard
# inputs; qfactor_normalization (ROUND(a.value / b.value, 4)) fails the
# same way.
OUTBREAK_OPS = (
    FANOUT, "stream_daily_agg", "stream_running_zscore",
    "stream_daily_agg_rocksdb", "stream_session_agg",
    "trends_daily_agg", "anomaly_region_map", "pivot_wide", "features_join",
    "kmeans_anomaly", "iforest_anomaly",
)
DASHBOARD_OPS = (
    # trends
    "trend_slope_by_region", "value_trend_runs", "daily_user_bitmap_distinct",
    # map
    "anomaly_region_map",
    # TPC-H relational
    "top10_customers", "tpch_q1_pricing", "sql_pipe_quarterly_revenue",
    "nation_top_revenue_share", "orders_unshipped_revenue_top10",
    # asof
    "asof_last_signup", "asof_nearest_signup",
    # text
    "doc_quality_score", "doc_phrase_query",
    # embeddings
    "embedding_int8_dot_topk", "cosine_topk",
)
WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="outbreak_pipeline",
            clients=1,
            shape=Shape(regions=8, days=366, recs_per_day=2.0, sf=0.01),
            ingest_shape=Shape(regions=8, days=30, recs_per_day=2.0, sf=0.01),
            ops=OUTBREAK_OPS,
            owner="plans",
            owners=(
                *((op, "streaming") for op in OUTBREAK_OPS if is_stream(op)),
                ("trends_daily_agg", "operators"), ("pivot_wide", "operators"),
                ("features_join", "operators"),
                ("kmeans_anomaly", "ml"), ("iforest_anomaly", "ml"),
            ),
            input_tables=("events",),
        ),
        Workload(
            name="dashboard_mix",
            clients=0,
            shape=Shape(regions=5, days=30, recs_per_day=33.0, sf=0.02,
                        docs=1000, vecs=1000, users=75),
            ops=DASHBOARD_OPS,
            owner="queries",
            input_tables=tuple(TABLE_NAMES),
            min_ops=100,
        ),
    )
}

# tiny input for warm-ups and smoke runs (same generator)
WARM_SHAPE = Shape(regions=3, days=40, recs_per_day=1.0, planted=1, sf=0.002,
                   docs=60, vecs=60, users=50)


class OpRunner:
    """Runs ops against a session; ``dirs`` maps each op to its input
    dir. Every stream op gets fresh checkpoint and sink dirs."""

    def __init__(self, spark, dirs: dict[str, str], work_dir: str, registry):
        self.spark = spark
        self.dirs = dirs
        self.work_dir = work_dir
        self.registry = registry

    def fresh_dir(self, tag: str) -> str:
        d = os.path.join(self.work_dir, f"{tag}-{uuid.uuid4().hex[:12]}")
        os.makedirs(d)
        return d

    def _sink_views(self) -> set[str]:
        return {t.name for t in self.spark.catalog.listTables()
                if t.isTemporary and t.name.startswith("stream_out_")}

    def run(self, name: str, clear_cache: bool):
        """Returns (result, call_end): ``call_end`` marks where the
        registry call returned and materializing the result began. The
        result is a pandas frame, or the facts path for the fan-out.
        ``clear_cache`` releases every cached frame afterwards; concurrent
        clients must not, it would evict each other's cached data. A
        stream op drops the memory-sink views it created, so stream ops
        must not run concurrently on one session."""
        spark = self.spark
        sf_dir = self.dirs[name]
        stream = is_stream(name)
        if stream:
            spark.conf.set("spark.sql.streaming.checkpointLocation",
                           self.fresh_dir("ckpt"))
            views = self._sink_views()
        try:
            if name == FANOUT:
                from big_data_analysis_diseases_outbreaks_spark.streaming.pipeline import (
                    run_foreach_batch_fanout,
                )

                paths = run_foreach_batch_fanout(spark, sf_dir,
                                                 self.fresh_dir("fanout"))
                call_end = time.perf_counter()
                return paths["facts"], call_end
            df = self.registry[name].fn(spark, sf_dir)
            call_end = time.perf_counter()
            return df.toPandas(), call_end
        finally:
            if stream:
                for view in self._sink_views() - views:
                    spark.catalog.dropTempView(view)
            if clear_cache:
                # cached feature frames outlive their op (ml prepare_features
                # leaves them for the caller to release)
                spark.catalog.clearCache()


# ---- output checks ---------------------------------------------------


def rows_differ(got, want) -> str | None:
    """None when two canonical forms (``oracle_harness._pdf_rows``: columns
    sorted by name, type-tagged cells, floats at 9 decimals, rows sorted)
    are equal, else a one-line reason."""
    (g_cols, g_rows), (w_cols, w_rows) = got, want
    if g_cols != w_cols:
        return f"columns {g_cols} != {w_cols}"
    if len(g_rows) != len(w_rows):
        return f"row count {len(g_rows)} != {len(w_rows)}"
    for g, w in zip(g_rows, w_rows):
        if g != w:
            return f"first differing row: got {g}, want {w}"
    return None


class Checker:
    """Computes each op's expected output once (outside the timed
    region) and compares every result against it. ``inputs`` maps each
    op to its (input dir, generator manifest)."""

    def __init__(self, spark, inputs: dict[str, tuple[str, dict]], registry):
        self.spark = spark
        self.inputs = inputs
        self.registry = registry
        self._expected: dict[str, object] = {}
        self._passed: dict[str, pd.DataFrame] = {}  # a result found correct
        self._cons: dict[str, duckdb.DuckDBPyConnection] = {}

    def _duck(self, sf_dir: str):
        if sf_dir not in self._cons:
            self._cons[sf_dir] = duckdb_connection(sf_dir)
        return self._cons[sf_dir]

    def close(self):
        for con in self._cons.values():
            con.close()
        self._cons.clear()

    def expected(self, name: str):
        """The op's expected output: a row count for the detectors, else
        the canonical form of the expected frame."""
        if name not in self._expected:
            want = self._compute(name)
            self._expected[name] = (want if isinstance(want, int)
                                    else _pdf_rows(want))
        return self._expected[name]

    def _compute(self, name: str):
        sf_dir, _ = self.inputs[name]
        con = self._duck(sf_dir)
        if name in ("stream_daily_agg", "stream_daily_agg_rocksdb"):
            # complete-mode replay must equal its batch twin
            return self.registry["trends_daily_agg"].fn(self.spark, sf_dir).toPandas()
        if name == FANOUT:
            # append mode under a 1-hour watermark: a day is emitted once
            # the final watermark (max event time - 1 h) passes its end
            return con.execute(
                self.registry["trends_daily_agg"].oracle.replace(
                    "SELECT date, region, kw, value FROM daily",
                    "SELECT date, region, kw, value FROM daily WHERE "
                    "CAST(date AS TIMESTAMP) + INTERVAL 1 DAY <= "
                    "(SELECT MAX(ts) FROM events) - INTERVAL 1 HOUR")
            ).arrow().to_pandas()
        if name in ("kmeans_anomaly", "iforest_anomaly"):
            return con.execute(
                "SELECT COUNT(*) FROM (SELECT DISTINCT CAST(ts AS DATE), "
                "event_type FROM events)").fetchone()[0]
        if self.registry[name].oracle is None:
            raise ValueError(f"{name}: no oracle to check against")
        return con.execute(self.registry[name].oracle).arrow().to_pandas()

    def check(self, name: str, result) -> str | None:
        want = self.expected(name)
        if name in ("kmeans_anomaly", "iforest_anomaly"):
            return self._check_ml(result, want, self.inputs[name][1]["planted"])
        if name == FANOUT:
            result = duckdb.execute(
                "SELECT CAST(date AS DATE) AS date, region, kw, value FROM "
                f"read_parquet('{result}/**/*.parquet', hive_partitioning = true)"
            ).arrow().to_pandas()
        # a frame identical (values, dtypes, row order) to one already
        # found correct gets the same verdict without a second comparison
        seen = self._passed.get(name)
        try:
            if seen is not None and result.equals(seen):
                return None
        except (TypeError, ValueError):  # cells pandas cannot compare
            pass
        problem = rows_differ(_pdf_rows(result), want)
        if problem is None:
            self._passed[name] = result
        return problem

    @staticmethod
    def _check_ml(result: pd.DataFrame, n_cells: int, planted: list) -> str | None:
        """Row count plus planted-anomaly recall (ml_recall_report's rule:
        a planted (date, region) cell must be flagged)."""
        if len(result) != n_cells:
            return f"row count {len(result)} != {n_cells}"
        flagged = {
            (str(d), r)
            for d, r, a in zip(result["date"], result["region"], result["is_anomaly"])
            if a == 1
        }
        missed = [tuple(c) for c in planted if tuple(c) not in flagged]
        if missed:
            return f"planted anomalies not flagged: {missed}"
        return None


def input_rows(workload: Workload, manifests: dict[str, dict]) -> int:
    """Input rows one pass reads: the input tables of each of its inputs."""
    return sum(m["rows"][t] for m in manifests.values() for t in workload.input_tables)

