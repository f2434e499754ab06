"""The benchmark's own tests.

    python3 -m pytest perfbench -q

Unit tests of the generator, the output comparison, the block loop and
the span arithmetic, plus a tiny-input smoke run of every workload with
tracing on (which also exercises the trace writer) and one end-to-end
run. The smoke runs start Spark twice each, so they take about a minute
each.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from gen import generate  # noqa: E402
from layers import PER_LAYER  # noqa: E402
from run import Phase  # noqa: E402
from tracing import _union_ms  # noqa: E402
from tests.oracle_harness import _pdf_rows  # noqa: E402
from workloads import WARM_SHAPE, WORKLOADS, rows_differ  # noqa: E402


def _tables(d):
    return {f: pq.read_table(os.path.join(d, f)) for f in sorted(os.listdir(d))}


def test_generator_is_seeded(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    ma = generate(a, 7, WARM_SHAPE)
    generate(b, 7, WARM_SHAPE)
    generate(c, 8, WARM_SHAPE)
    ta, tb, tc = _tables(a), _tables(b), _tables(c)
    assert all(ta[f].equals(tb[f]) for f in ta)
    assert not ta["events.parquet"].equals(tc["events.parquet"])
    ev = ta["events.parquet"].to_pandas()
    # some rows are out of event-time order, and every planted cell has
    # one extra record per keyword
    assert (ev["ts"].diff().dt.total_seconds() < -600).any()
    assert len(ma["planted"]) == WARM_SHAPE.planted


def frames_differ(got, want):
    return rows_differ(_pdf_rows(got), _pdf_rows(want))


def test_frames_differ_semantics():
    a = pd.DataFrame({"k": ["x", "y"], "v": [1, 2]})
    assert frames_differ(a, a.iloc[::-1]) is None  # order-insensitive
    assert frames_differ(a, a.assign(v=[1.0, 2.0])) is not None  # int != float
    assert frames_differ(a, a.assign(v=[1, 3])) is not None
    f = pd.DataFrame({"v": [0.1 + 0.2]})
    assert frames_differ(f, pd.DataFrame({"v": [0.3]})) is None  # 9 dp
    assert frames_differ(pd.DataFrame({"v": [None, 1.0]}),
                         pd.DataFrame({"v": [float("nan"), 1.0]})) is None


def test_union_ms():
    assert _union_ms([(0, 10), (5, 20), (30, 40)], None, None) == 30
    assert _union_ms([(0, 10), (5, 20)], None, 8) == 8


class _FakeRunner:
    def run(self, name, clear_cache):
        return name, 0.0


@pytest.mark.parametrize("clients", [1, 4])
def test_phase_runs_whole_blocks(clients):
    wl = WORKLOADS["dashboard_mix"]
    n = len(wl.ops)
    phase = Phase(wl, _FakeRunner(), 0, seed=5, clients=clients,
                  min_ops=2 * n + 1).run()
    # drawing stops at a block boundary past min_ops: three whole blocks
    assert phase.attempted == 3 * n and phase.failed == 0
    assert len(phase.pass_s) == 3
    assert sorted(name for name, _ in phase.results) == sorted(wl.ops * 3)
    if clients == 1:  # one caller keeps the workload's order
        assert [name for name, _ in phase.results] == list(wl.ops) * 3


def _run(workload, *extra, cwd=ROOT):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload",
         workload, "--seed", "3", "--seconds", "0", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=900)


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_traced(workload):
    proc = _run(workload, "--trace", "1", "--tiny")
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert result["correct"] and result["failed"] == 0, proc.stderr[-3000:]
    assert set(result["metrics"]) == set(PER_LAYER)
    info = json.loads(lines[-2])["run"]
    with open(os.path.join(ROOT, info["trace_file"])) as f:
        trace = json.load(f)
    assert trace["spans"] and trace["ops"]
    assert {s["layer"] for s in trace["spans"]} >= {"queries", "sources"}


def test_smoke_end_to_end():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = {m["name"] for m in json.load(f)["end_to_end"]}
    proc = _run("dashboard_mix", "--trace", "0", "--tiny")
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"]
    assert set(result["metrics"]) == names
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_fails_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = _run("dashboard_mix", "--trace", "0", cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
