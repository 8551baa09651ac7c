"""Seeded input generator for the benchmark workloads.

Every input a workload hands the engine is built here, from the seed,
before the workload's timed loop starts. The engine never sees the seed:
it sees only files on disk (parquet tables, SGB1 grid drops, gzipped CSV
served over loopback HTTP) and the expected values the generator returns
are used by the benchmark's output checks.

Functions return plain dicts of expected values (counts, checksums) so a
check can compare the engine's published outputs against what was fed in.
"""

from __future__ import annotations

import datetime as dt
import gzip
import os
import struct
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- relational + corpus tables (the query surface's fixture schema) ------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["red", "blue", "hot", "cold", "small", "large", "old", "new"]
_NOUN = ["widget", "plate", "ring", "rod", "bolt", "gizmo", "gear", "nut"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "the a data spark join hash row batch scan customer column filter small "
    "slow merge order vector line table agg value key stream window group "
    "part big sort query fast"
).split()
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EMBED_DIM = 64


def _ts(days: np.ndarray, base: dt.date) -> pa.Array:
    base_us = int(dt.datetime.combine(base, dt.time()).replace(tzinfo=dt.timezone.utc).timestamp()) * 10**6
    return pa.array(base_us + days.astype(np.int64) * 86_400 * 10**6, pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> int:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return table.num_rows


def documents(rng: np.random.Generator, n: int, first_id: int = 0, dup_share: float = 0.05) -> dict:
    """Synthetic documents over a 30-word vocabulary; ``dup_share`` of them
    are near-duplicates (an earlier text plus a ``dup`` marker), so the
    dedup tiers have real partners to find."""
    texts: list[str] = []
    for i in range(n):
        if texts and rng.random() < dup_share:
            texts.append(texts[int(rng.integers(len(texts)))] + " dup")
        else:
            words = rng.choice(_VOCAB, size=int(rng.integers(10, 91)))
            texts.append(" ".join(words))
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": list(rng.choice(_LANGS, size=n, p=_LANG_P)),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def embeddings(rng: np.random.Generator, n: int, first_id: int = 0) -> dict:
    """Unit vectors drawn around ten cluster centres (``label``)."""
    centres = rng.normal(size=(10, EMBED_DIM))
    labels = rng.integers(0, 10, size=n)
    vecs = centres[labels] + 0.6 * rng.normal(size=(n, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    }


def write_tables(out_dir: str, seed: int, sf: float, n_docs: int, n_vecs: int) -> dict[str, int]:
    """The ten fixture tables (TPC-H-shaped star schema, ``events``,
    ``documents``, ``embeddings``) at scale factor ``sf``; returns row
    counts by table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = max(10, int(150_000 * sf)), max(5, int(10_000 * sf))
    n_part, n_ord = max(20, int(200_000 * sf)), max(100, int(1_500_000 * sf))
    n_line, n_ev = max(400, int(6_000_000 * sf)), max(100, int(1_000_000 * sf))
    n_users = max(10, int(15_000 * sf))
    rows = {}
    rows["region"] = _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    rows["nation"] = _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    rows["customer"] = _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": list(rng.choice(_SEGMENTS, n_cust)),
    })
    rows["supplier"] = _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    pk = np.arange(n_part, dtype=np.int64)
    rows["part"] = _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": list(rng.choice(_PTYPES, n_part)),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    odays = rng.integers(0, 2404, n_ord)
    rows["orders"] = _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": list(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _ts(odays, dt.date(1995, 1, 1)),
        "o_orderpriority": list(rng.choice(_PRIORITIES, n_ord)),
    })
    lok = rng.integers(0, n_ord, n_line).astype(np.int64)
    rows["lineitem"] = _write(out_dir, "lineitem", {
        "l_orderkey": lok,
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_line), 2),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": list(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": list(rng.choice(["F", "O"], n_line)),
        "l_shipdate": _ts(odays[lok] + rng.integers(1, 96, n_line), dt.date(1995, 1, 1)),
    })
    base_us = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()) * 10**6
    ts = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_ev)) + base_us
    rows["events"] = _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": list(rng.choice(_EVENT_TYPES, n_ev)),
        "value": np.round(rng.uniform(0.01, 490.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    rows["documents"] = _write(out_dir, "documents", documents(rng, n_docs))
    rows["embeddings"] = _write(out_dir, "embeddings", embeddings(rng, n_vecs))
    return rows


# --- grid drops for the ingest jobs ---------------------------------------


def sgb1_message(variable: str, values: np.ndarray) -> bytes:
    """One SGB1 message (the engine's synthetic GRIB-shaped wire format,
    ``sources.gribsim``) built with numpy instead of ``struct`` so a drop
    of a million cells encodes in milliseconds."""
    ny, nx = values.shape
    name = variable.encode("utf-8")
    data = values.astype(">f8").tobytes()
    return (
        b"SGB1" + struct.pack(">H", len(name)) + name + struct.pack(">II", ny, nx)
        + data + struct.pack(">I", zlib.crc32(data) & 0xFFFFFFFF) + b"7777"
    )


def cams_drops(vault: str, rng, dates: list[str], variables: list[str], shape) -> dict:
    """One multi-message SGB1 file per date; returns per-date (cells, sum)."""
    os.makedirs(vault, exist_ok=True)
    expected = {}
    for d in dates:
        grids = {v: np.round(rng.gamma(2.0, 5.0, shape), 4) for v in variables}
        with open(os.path.join(vault, f"{d}.bin"), "wb") as f:
            for v, g in grids.items():
                f.write(sgb1_message(v, g))
        expected[d] = {
            "cells": sum(g.size for g in grids.values()),
            "sum": float(sum(g.sum() for g in grids.values())),
        }
    return expected


def _grid_table(namespace, variable, times_us, values: np.ndarray, units, level=None) -> dict:
    ny, nx = values.shape
    yy, xx = np.divmod(np.arange(ny * nx, dtype=np.int64), nx)
    cols = {
        "namespace": [namespace] * (ny * nx),
        "variable": [variable] * (ny * nx),
        "time": pa.array(np.full(ny * nx, times_us, np.int64), pa.timestamp("us")),
    }
    if level is not None:
        cols["level"] = pa.array([level] * (ny * nx), pa.string())
    cols.update({"y": yy, "x": xx, "value": values.ravel().astype(np.float64)})
    if units is not None:
        cols["units"] = [units] * (ny * nx)
    return cols


def _us(t: dt.datetime) -> int:
    return int(t.replace(tzinfo=dt.timezone.utc).timestamp()) * 10**6


def ecmwf_drops(vault: str, rng, times: list[dt.datetime], shape) -> dict:
    """One long-format parquet file per forecast time with the raw
    variables (2t K, tp m, msl Pa, u/v m/s); returns per-time expected
    (cells, sum) of the CONVERTED output the pipeline publishes."""
    os.makedirs(vault, exist_ok=True)
    expected = {}
    for t in times:
        raw = {
            "2t": rng.uniform(230.0, 320.0, shape),
            "tp": rng.exponential(0.002, shape),
            "msl": rng.uniform(95_000.0, 105_000.0, shape),
            "u": rng.normal(0.0, 8.0, shape),
            "v": rng.normal(0.0, 8.0, shape),
        }
        parts = [
            pa.table(_grid_table("ecmwf_forecast", v, _us(t), g, None, level="sfc"))
            for v, g in raw.items()
        ]
        table = pa.concat_tables(parts).append_column(
            "units", pa.array([None] * sum(p.num_rows for p in parts), pa.string())
        )
        pq.write_table(table, os.path.join(vault, f"t={t:%Y%m%d%H}.parquet"))
        conv = [raw["2t"] - 273.15, raw["tp"] * 1000.0, raw["msl"] / 100.0,
                np.sqrt(raw["u"] ** 2 + raw["v"] ** 2)]
        expected[t.strftime("%Y-%m-%dT%H:%M:%S")] = {
            "cells": sum(c.size for c in conv), "sum": float(sum(c.sum() for c in conv)),
        }
    return expected


def chirps_months(vault: str, rng, months: list[str], shape) -> dict:
    """One monthly ``rfe`` parquet per month (seasonal signal plus noise);
    returns per-month raw grids so the check can recompute anomalies."""
    os.makedirs(vault, exist_ok=True)
    grids = {}
    season = 60.0 + 50.0 * np.sin(np.linspace(0.0, np.pi, shape[0]))[:, None]
    for m in months:
        moy = int(m[5:7])
        g = np.round(np.maximum(0.0, season * (1 + 0.5 * np.cos(moy / 12 * 2 * np.pi))
                                + rng.normal(0.0, 15.0, shape)), 3)
        t = dt.datetime.fromisoformat(m + "-01")
        pq.write_table(pa.table(_grid_table("chirps_rainfall", "rfe", _us(t), g, "mm")),
                       os.path.join(vault, f"m={m}.parquet"))
        grids[m] = g
    return grids


def tamsat_files(vault: str, rng, dates: list[str], shape) -> dict:
    """One gzipped CSV (date,y,x,rfe) per day; returns per-date (rows, sum)."""
    os.makedirs(vault, exist_ok=True)
    ny, nx = shape
    yy, xx = np.divmod(np.arange(ny * nx), nx)
    expected = {}
    for d in dates:
        rfe = np.round(rng.exponential(4.0, ny * nx), 2)
        lines = ["date,y,x,rfe"] + [f"{d},{y},{x},{r:.2f}" for y, x, r in zip(yy, xx, rfe)]
        with gzip.open(os.path.join(vault, f"rfe_{d}.csv.gz"), "wb", compresslevel=1) as f:
            f.write(("\n".join(lines) + "\n").encode())
        expected[d] = {"rows": int(ny * nx), "sum": float(rfe.sum())}
    return expected
