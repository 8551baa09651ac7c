"""The registered query surface and its memo tier, traced.

Run by the ``ingest_ticks`` traced run after its loop and checks, over
generated fixture tables: one pass over ``QUERIES`` (each built with
``plans.REGISTRY[name].spark(spark, sf_dir)`` and executed to the ``noop``
sink, the ``bench.py`` shape), an order-insensitive comparison of a seeded
sample against the DuckDB oracles (``plans.oracle_sql()``), then a cold
``plans.memo_prebuild.prebuild``. These feed the ``plans`` and
``memo_prebuild`` per-layer metrics. They are part of no timed run, because
a cold prebuild alone costs more than a timed run's budget; they ride on
the ingest traced run because that one has the most time to spare within
the 180 s a run may take.
"""

from __future__ import annotations

import hashlib
import time

import duckdb
import numpy as np

from . import gen
from . import trace as T
from .spec import MEMO_CHAINS

# memo-free, oracle-checked queries, one or two per family of the surface
QUERIES = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume", "q9_product_type_profit",
    "q12_shipmode_priority_buckets", "q18_large_volume_customers", "rollup_revenue", "funnel_conversion",
    "sessionize_events", "window_value_functions", "derived_wind_speed", "focal_mean_3x3",
    "json_props_extract", "text_token_stats", "embedding_cosine_topk", "except_intersect_nations",
)
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")


def _digest(rows) -> tuple[int, str]:
    """Row count and an order-insensitive hash of canonicalised rows."""
    def cell(v):
        if v is None or (isinstance(v, float) and v != v):
            return "<NULL>"
        if isinstance(v, (float, np.floating)):
            return "0.0" if v == 0 else repr(float(v))
        if isinstance(v, (bool, np.bool_)):
            return str(bool(v))
        if isinstance(v, (int, np.integer)):
            return str(int(v))
        if hasattr(v, "isoformat"):
            return v.isoformat()
        if isinstance(v, (list, tuple, np.ndarray)):
            return "[" + ",".join(cell(x) for x in v) + "]"
        return str(v)

    lines = sorted("|".join(cell(v) for v in r) for r in rows)
    return len(lines), hashlib.sha256("\n".join(lines).encode()).hexdigest()


def oracle_check(ctx, sf_dir: str, names) -> list[str]:
    """Spark result vs the DuckDB oracle: row count and value hash."""
    from data_ingestion_auto_spark import plans

    fails = []
    con = duckdb.connect()
    try:
        con.execute("SET threads = 2")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        for name in names:
            q = plans.REGISTRY[name]
            sdf = q.spark(ctx.spark, sf_dir).toPandas()
            ddf = con.execute(q.oracle).fetchdf()
            cols = sorted(sdf.columns)
            if cols != sorted(ddf.columns):
                fails.append(f"{name}: columns {cols} != oracle {sorted(ddf.columns)}")
                continue
            got = _digest(sdf[cols].itertuples(index=False, name=None))
            want = _digest(ddf[cols].itertuples(index=False, name=None))
            if got != want:
                fails.append(f"{name}: rows/hash {got} != oracle {want}")
    finally:
        con.close()
    return fails


def run_traced(ctx, base: str) -> dict:
    """Query pass, oracle sample and cold prebuild; returns what
    ``layer_metrics`` needs plus any check failures."""
    from data_ingestion_auto_spark import plans
    from data_ingestion_auto_spark.plans import memo_prebuild
    from data_ingestion_auto_spark.plans.dedup import MEMO_BUILD_LOG

    size = {"full": (0.001, 100), "smoke": (0.001, 40)}[ctx.size]
    sf_dir = f"{base}/sf"
    gen.write_tables(sf_dir, ctx.seed, size[0], size[1], size[1])
    tr, times, fails, roots = ctx.tracer, [], [], []
    for name in np.random.default_rng([ctx.seed, 2]).permutation(QUERIES):
        name = str(name)
        t0 = time.perf_counter()
        with tr.span(name, "plans") as root:
            with tr.span(name, "plans.build"):
                df = plans.REGISTRY[name].spark(ctx.spark, sf_dir)
            t1 = time.perf_counter()
            with tr.span(name, "plans.execute"):
                df.write.format("noop").mode("overwrite").save()
        times.append((t1 - t0, time.perf_counter() - t1))
        roots.append(root)
    sample = np.random.default_rng([ctx.seed, 4]).choice(sorted(QUERIES), 3, replace=False)
    fails += oracle_check(ctx, sf_dir, [str(n) for n in sample])
    n_log = len(MEMO_BUILD_LOG)
    t0 = time.perf_counter()
    walls = memo_prebuild.prebuild(ctx.spark, sf_dir)
    wall = time.perf_counter() - t0
    return {"times": times, "roots": roots, "fails": fails, "prebuild_wall": wall, "chains": walls,
            "build_sum": sum(s for _, s in MEMO_BUILD_LOG[n_log:])}


def layer_metrics(res: dict, jobs: list, spans: list) -> dict:
    n = len(res["times"])
    m = {f"plans.{k}": v for k, v in T.fold(jobs, spans, res["roots"], per=n).items()}
    m["plans.build_s"] = float(np.median([b for b, _ in res["times"]]))
    m["plans.execute_s"] = float(np.median([e for _, e in res["times"]]))
    builds = [s for s in spans if s["layer"] == "plans.build"]
    m["plans.eager_jobs"] = T.fold(jobs, spans, builds, per=n)["jobs"]
    m["memo_prebuild.wall_s"] = res["prebuild_wall"]
    m["memo_prebuild.build_sum_s"] = res["build_sum"]
    m["memo_prebuild.overlap"] = res["build_sum"] / res["prebuild_wall"]
    for c in MEMO_CHAINS:
        m[f"memo_prebuild.{c}_s"] = res["chains"].get(c, 0.0)
        mine = [j for j in jobs if j["group"] == f"memo-prebuild:{c}"]
        for k in ("executor_run_s", "shuffle_write_bytes", "spill_bytes"):
            m[f"memo_prebuild.{c}.{k}"] = float(sum(j[k] for j in mine))
    return m
