"""Seeded input generator for the benchmark.

Writes one parquet file per table (the layout ``sources.tables`` reads)
into a cache directory keyed by (seed, shape), so a second run with the
same seed reuses the files. The same seed always gives identical table
contents.

Tables:

- ``events``: outbreak-shaped search-volume records. ``event_type`` is
  the region (``R000``…), ``user_id % 20`` the keyword (the mapping of
  ``sources.tables.trends_view``), one series per (region, keyword) with
  a seasonal baseline and several records per series-day. A share of the
  rows is written out of event-time order, some of them hours late, and
  a few (day, region) cells carry a planted outbreak: every keyword of
  that cell gets one extra record worth ``50 × baseline + 1000``.
- ``part``/``lineitem``/``orders``/``customer``/``supplier``/``nation``/
  ``region``: a TPC-H-shaped star whose lineitems form a co-purchase
  graph (parts bought in the same order).
- ``documents`` (with planted near-duplicates) and ``embeddings``.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

N_KW = 20  # trends_view derives kw as user_id % 20
EPOCH_DAY = np.datetime64("2024-01-01", "D")
PLANT_MULT, PLANT_ADD = 50, 1000  # the ml_recall_report injection rule
LATE_FRAC = 0.03  # share of rows moved out of event-time order

WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "green"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
SEGMENTS = ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
# with five regions, name them like the testdata's event types,
# which the funnel/asof queries filter on
EVENT_TYPES = ["error", "click", "view", "signup", "purchase"]


def region_names(n: int) -> list[str]:
    return EVENT_TYPES[:n] if n <= len(EVENT_TYPES) else [f"R{i:03d}" for i in range(n)]


@dataclass(frozen=True)
class Shape:
    """Input size. ``sf`` scales the TPC-H-shaped tables like the
    repository testdata (sf0.1 ≈ 600k lineitems)."""

    regions: int = 170
    days: int = 366
    recs_per_day: float = 2.0  # mean records per series-day (≥ 1)
    planted: int = 6  # (day, region) outbreak cells
    users: int = 500  # distinct users per keyword
    sf: float = 0.01
    docs: int = 500
    vecs: int = 500

    def key(self) -> str:
        return "-".join(f"{k}{v}" for k, v in asdict(self).items())


def _strings(values: list[str], idx: np.ndarray) -> pa.Array:
    return pa.DictionaryArray.from_arrays(
        pa.array(idx.astype(np.int32)), pa.array(values)
    ).cast(pa.string())


def _ts(day: np.ndarray, micros: np.ndarray) -> pa.Array:
    us = (EPOCH_DAY.astype("datetime64[us]").astype(np.int64)
          + day.astype(np.int64) * 86_400_000_000 + micros)
    return pa.array(us.astype("datetime64[us]"))


def _events(rng: np.random.Generator, s: Shape) -> tuple[pa.Table, list]:
    n_series = s.regions * N_KW
    base = rng.lognormal(3.0, 0.5, n_series)  # mean daily volume / series
    phase = rng.uniform(0, 2 * np.pi, n_series)
    # records per series-day: 1 + Poisson(mean - 1)
    k = 1 + rng.poisson(s.recs_per_day - 1, (n_series, s.days))
    series = np.repeat(np.repeat(np.arange(n_series), s.days), k.ravel())
    day = np.repeat(np.tile(np.arange(s.days), n_series), k.ravel())
    season = 1 + 0.25 * np.sin(2 * np.pi * day / 365 + phase[series])
    per_rec = base[series] * season / s.recs_per_day
    value = np.round(np.maximum(per_rec * rng.gamma(8, 1 / 8, len(day)), 0), 2)

    # planted outbreaks: distinct regions, days past the first month
    n_planted = min(s.planted, s.regions)
    regs = rng.choice(s.regions, size=n_planted, replace=False)
    pdays = rng.integers(min(30, s.days - 1), s.days, size=n_planted)
    names = region_names(s.regions)
    planted = sorted((int(d), names[r]) for d, r in zip(pdays, regs))
    p_series = (regs[:, None] * N_KW + np.arange(N_KW)).ravel()
    p_day = np.repeat(pdays, N_KW)
    p_val = np.round(PLANT_MULT * base[p_series] + PLANT_ADD, 2)
    series = np.concatenate([series, p_series])
    day = np.concatenate([day, p_day])
    value = np.concatenate([value, p_val])

    micros = rng.integers(0, 86_400_000_000, len(day))
    order = np.lexsort((micros, day))
    series, day, value, micros = series[order], day[order], value[order], micros[order]
    # out-of-order / late rows: keep the file position, move the event
    # time back by 10 minutes to 6 hours
    late = rng.random(len(day)) < LATE_FRAC
    us = day.astype(np.int64) * 86_400_000_000 + micros
    us[late] -= rng.integers(600_000_000, 6 * 3_600_000_000, int(late.sum()))
    us = np.maximum(us, 0)
    day, micros = us // 86_400_000_000, us % 86_400_000_000

    region = series // N_KW
    kw = series % N_KW
    user_id = kw + N_KW * rng.integers(0, s.users, len(day))
    n = len(day)
    props = pc.binary_join_element_wise(
        '{"k": ', pc.cast(pa.array(rng.integers(0, 100, n)), pa.string()), "}", ""
    )
    table = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts(day, micros),
        "user_id": pa.array(user_id.astype(np.int64)),
        "event_type": _strings(names, region),
        "value": pa.array(value),
        "props": props,
    })
    planted_cells = [
        [str(EPOCH_DAY + np.timedelta64(d, "D")), r] for d, r in planted
    ]
    return table, planted_cells


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _tpch(rng: np.random.Generator, s: Shape) -> dict[str, pa.Table]:
    n_cust = max(int(15000 * s.sf), 50)
    n_supp = max(int(1000 * s.sf), 10)
    n_part = max(int(20000 * s.sf), 100)
    n_ord = max(int(150000 * s.sf), 500)
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION{i:02d}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": _strings(SEGMENTS, rng.integers(0, 5, n_cust)),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }),
    }
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": _strings(names, rng.integers(0, len(names), n_part)),
        "p_brand": _strings([f"Brand#{i}" for i in range(1, 26)],
                            rng.integers(0, 25, n_part)),
        "p_type": _strings(PART_TYPES, rng.integers(0, 6, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)),
    })
    first = np.datetime64("1995-01-01", "D")
    span = int((np.datetime64("2001-08-01", "D") - first).astype(np.int64))
    odate = rng.integers(0, span, n_ord)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": _strings(["F", "O", "P"], rng.integers(0, 3, n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n_ord)),
        "o_orderdate": pa.array((first + odate).astype("datetime64[us]")),
        "o_orderpriority": _strings(PRIORITIES, rng.integers(0, 5, n_ord)),
    })
    lines = 1 + rng.binomial(12, 0.25, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    n_li = len(okey)
    lineno = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    # co-purchase structure: each order draws parts from a "basket
    # community" of nearby keys, so the graph has clusters and triangles
    community = rng.integers(0, n_part, n_ord)
    partkey = (np.repeat(community, lines) + rng.integers(0, 40, n_li)) % n_part
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = np.repeat(odate, lines) + rng.integers(1, 122, n_li)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey.astype(np.int64)),
        "l_partkey": pa.array(partkey.astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
        "l_linenumber": pa.array(lineno.astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 3000, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": _strings(["A", "N", "R"], rng.integers(0, 3, n_li)),
        "l_linestatus": _strings(["F", "O"], rng.integers(0, 2, n_li)),
        "l_shipdate": pa.array((first + ship).astype("datetime64[us]")),
    })
    return out


def _documents(rng: np.random.Generator, s: Shape) -> pa.Table:
    texts, langs, sources = [], [], []
    for i in range(s.docs):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            j = int(rng.integers(0, i))
            toks = texts[j].split()
            for p in rng.integers(0, len(toks), max(1, len(toks) // 10)):
                toks[p] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(toks + ["dup"]))
            langs.append(langs[j])
            sources.append(sources[j])
            continue
        n = int(rng.integers(10, 90))
        texts.append(" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), n)))
        langs.append(LANGS[int(rng.integers(0, 5))])
        sources.append(f"src{int(rng.integers(0, 20))}")
    return pa.table({
        "doc_id": pa.array(np.arange(s.docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array(sources),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng: np.random.Generator, s: Shape) -> pa.Table:
    label = rng.integers(0, 10, s.vecs)
    centers = rng.normal(0, 1, (10, 64))
    x = centers[label] + rng.normal(0, 0.6, (s.vecs, 64))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(s.vecs, dtype=np.int64)),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def generate(out_dir: str, seed: int, shape: Shape) -> dict:
    """Write every table for (seed, shape) into ``out_dir``; returns the
    manifest (row counts, planted cells)."""
    rng = np.random.default_rng([seed, 20240101])
    tables = _tpch(rng, shape)
    tables["events"], planted = _events(rng, shape)
    tables["documents"] = _documents(rng, shape)
    tables["embeddings"] = _embeddings(rng, shape)
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=1 << 20)
    return {
        "seed": seed,
        "shape": asdict(shape),
        "rows": {name: t.num_rows for name, t in tables.items()},
        "planted": planted,
    }


def cached_inputs(cache_root: str, seed: int, shape: Shape) -> tuple[str, dict, float]:
    """(sf_dir, manifest, generation seconds — 0.0 on a cache hit)."""
    d = os.path.join(cache_root, f"s{seed}-{shape.key()}")
    manifest_path = os.path.join(d, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return d, json.load(f), 0.0
    t0 = time.perf_counter()
    tmp = d + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    manifest = generate(tmp, seed, shape)
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    try:
        os.replace(tmp, d)
    except OSError:  # ``d`` exists: another run's finished copy, or a stale one
        if os.path.exists(manifest_path):
            shutil.rmtree(tmp, ignore_errors=True)
        else:
            shutil.rmtree(d)
            os.replace(tmp, d)
    return d, manifest, time.perf_counter() - t0
