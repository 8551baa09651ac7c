"""Workload ``ingest_ticks``: the reference's scheduled ingest job.

A ``JobRegistry`` with four reference-shaped jobs is driven by a synthetic
clock that advances one interval per ``run_due``, so every job is due on
every tick. Publishing ticks come first: before each one the benchmark
releases the next drop of every source (a CDS result file, a forecast
file, a CHIRPS month, a TAMSAT day on the loopback origin). Skip ticks
follow: nothing new is released, so every job's state gate says "nothing
new" and the tick measures the polling cost.

- cams:   ``run_cds_forecast_batch`` over ``LocalCdsQueue`` SGB1 files,
          then per-zone daily means through ``sinks_db.publish_batch``
- ecmwf:  ``run_forecast_batch`` (2t/tp/msl conversions, u,v -> wind)
- chirps: ``run_anomaly_batch`` over 3 years of monthly history, anomaly
          frame through ``sinks_db.publish_batch``
- tamsat: ``run_download_batch`` with ``UrllibHttpStore`` against the
          loopback origin, then ``sinks.overwrite_partitions`` and
          ``state.commit``

Op = one publishing tick (``run_due`` wall, through the state commit);
item = one grid cell published.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import math
import os
import shutil
import time
from collections import defaultdict

import duckdb
import numpy as np

from . import gen, surface

SIZES = {
    "full": {"cams": (91, 180), "ecmwf": (46, 90), "chirps": (60, 80), "tamsat": (100, 100),
             "drops": 16, "history_months": 36, "keep_days": 2},
    "smoke": {"cams": (19, 36), "ecmwf": (10, 18), "chirps": (6, 8), "tamsat": (10, 10),
              "drops": 14, "history_months": 36, "keep_days": 2},
}
CAMS_VARS = ["pm2p5", "pm10", "no2", "go3"]
CAMS_DATASET = "cams-global-atmospheric-composition-forecasts"
ZONE_ROWS = 10
INTERVAL = 1800
MIN_POLLS = 6  # skip ticks are cheap; a few more than the time allows steady their median
START = dt.date(2024, 3, 1)


def _month(i: int) -> str:
    y, m = divmod(2021 * 12 + i, 12)
    return f"{y:04d}-{m + 1:02d}"


class _CountingQueue:
    """``LocalCdsQueue`` wrapper counting polls and downloaded bytes."""

    def __init__(self, queue):
        self._q = queue
        self.polls = 0
        self.bytes = 0

    def submit(self, dataset, options):
        return self._q.submit(dataset, options)

    def poll(self, task_id):
        self.polls += 1
        return self._q.poll(task_id)

    def download(self, task_id, out_file, chunk_size=8192):
        out = self._q.download(task_id, out_file, chunk_size)
        self.bytes += os.path.getsize(out)
        return out


def _counting_state(path: str):
    """A ``StateStore`` that counts and times its public calls."""
    from data_ingestion_auto_spark.state import StateStore

    class CountingStateStore(StateStore):
        calls = 0
        seconds = 0.0
        _depth = 0

        def _timed(self, fn, *a, **k):
            outer = self._depth == 0
            self._depth += 1
            t0 = time.perf_counter()
            try:
                return fn(*a, **k)
            finally:
                self._depth -= 1
                if outer:
                    CountingStateStore.calls += 1
                    CountingStateStore.seconds += time.perf_counter() - t0

        def get(self, *a, **k):
            return self._timed(super().get, *a, **k)

        def commit(self, *a, **k):
            return self._timed(super().commit, *a, **k)

        def should_skip(self, *a, **k):
            return self._timed(super().should_skip, *a, **k)

    CountingStateStore.calls = 0
    CountingStateStore.seconds = 0.0
    return CountingStateStore(path)


def _tree_bytes(path: str, since: float = 0.0) -> tuple[int, int]:
    """(bytes, leaf dirs) of data files under ``path`` modified after ``since``."""
    n, leaves = 0, set()
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            if not f.startswith((".", "_")) and os.path.getmtime(p) >= since:
                n += os.path.getsize(p)
                leaves.add(d)
    return n, len(leaves)


def _snapshot(paths: list[str]) -> set:
    snap = set()
    for root in paths:
        for d, _, files in os.walk(root):
            for f in files:
                st = os.stat(os.path.join(d, f))
                snap.add((os.path.join(d, f), st.st_size, st.st_mtime_ns))
    return snap


def _overwrite(tracer, fn, df, path: str, cols: list[str]) -> None:
    """``sinks.overwrite_partitions`` under a span, counting what it wrote."""
    with tracer.span("overwrite_partitions", "sinks"):
        t0 = time.time()
        fn(df, path, cols)
        if tracer.enabled:
            n, leaves = _tree_bytes(path, t0 - 1e-3)
            tracer.count("sinks.bytes_written", n)
            tracer.count("sinks.partitions_written", leaves)


@contextlib.contextmanager
def _instrument(ctx):
    """Trace mode: time the sink calls the pipelines make internally by
    wrapping the names ``pipelines`` imported from ``sinks``."""
    from data_ingestion_auto_spark import pipelines

    if not ctx.tracer.enabled:
        yield
        return
    orig_over, orig_ret = pipelines.overwrite_partitions, pipelines.retention_delete

    def overwrite(df, path, cols):
        _overwrite(ctx.tracer, orig_over, df, path, cols)

    def retention(path, col, watermark):
        with ctx.tracer.span("retention_delete", "sinks"):
            out = orig_ret(path, col, watermark)
            ctx.tracer.count("sinks.retention_deleted", len(out))
            return out

    pipelines.overwrite_partitions, pipelines.retention_delete = overwrite, retention
    try:
        yield
    finally:
        pipelines.overwrite_partitions, pipelines.retention_delete = orig_over, orig_ret


def prepare(ctx, rep: int) -> dict:
    """Inputs, output dirs, DB tables, the origin and the job registry."""
    from data_ingestion_auto_spark import pipelines, sinks, sinks_db
    from data_ingestion_auto_spark.jobs import Job, JobRegistry
    from data_ingestion_auto_spark.sources.cds_connector import CdsClient, LocalCdsQueue
    from data_ingestion_auto_spark.sources.http_connector import UrllibHttpStore
    from pyspark.sql import functions as F

    from .origin import Origin

    size = SIZES[ctx.size]
    base = os.path.join(ctx.root, f"ingest{rep}")
    rng = np.random.default_rng([ctx.seed, 1])
    n = size["drops"]
    cams_dates = [(START + dt.timedelta(days=i)).isoformat() for i in range(n)]
    ecmwf_times = [dt.datetime(2024, 3, 1) + dt.timedelta(hours=6 * i) for i in range(n)]
    hist = size["history_months"]
    months = [_month(i) for i in range(hist + n)]
    tamsat_dates = cams_dates
    vault = os.path.join(base, "vault")
    st = {
        "base": base, "size": size,
        "cams_dates": cams_dates, "ecmwf_times": ecmwf_times, "months": months[hist:],
        "tamsat_dates": tamsat_dates,
        "exp_cams": gen.cams_drops(os.path.join(vault, "cams"), rng, cams_dates, CAMS_VARS, size["cams"]),
        "exp_ecmwf": gen.ecmwf_drops(os.path.join(vault, "ecmwf"), rng, ecmwf_times, size["ecmwf"]),
        "chirps_grids": gen.chirps_months(os.path.join(vault, "chirps"), rng, months, size["chirps"]),
        "exp_tamsat": gen.tamsat_files(os.path.join(vault, "tamsat"), rng, tamsat_dates, size["tamsat"]),
        "released": 0,
    }
    d = {k: os.path.join(base, k) for k in (
        "cds", "ecmwf_src", "chirps_src", "www", "landing_cams", "landing_tamsat",
        "out_cams", "out_ecmwf", "out_tamsat", "normals", "staging")}
    for p in d.values():
        os.makedirs(p, exist_ok=True)
    os.makedirs(os.path.join(d["cds"], CAMS_DATASET))
    os.makedirs(os.path.join(d["www"], "tamsat"))
    for m in months[:hist]:  # the CHIRPS history is there before the first tick
        os.replace(os.path.join(vault, "chirps", f"m={m}.parquet"), os.path.join(d["chirps_src"], f"m={m}.parquet"))
    st["dirs"] = d
    st["db"] = os.path.join(base, "publish.duckdb")
    sinks_db.bootstrap_ddl(st["db"], "cams_daily", CAMS_VARS)
    sinks_db.bootstrap_ddl(st["db"], "chirps_anomaly", ["current", "normal", "anomaly"])
    state = _counting_state(os.path.join(base, "state.json"))
    st["state"] = state
    queue = _CountingQueue(LocalCdsQueue(d["cds"]))
    st["queue"] = queue
    client = CdsClient(queue)
    origin = Origin(d["www"]).__enter__()
    st["origin"] = origin
    store = UrllibHttpStore(timeout=30.0)
    spark = ctx.spark
    tr = ctx.tracer
    keep = size["keep_days"]
    # per-call walls of the timed loop, keyed "<phase>:<name>"
    walls = st["walls"] = defaultdict(list)

    def record(name, t0):
        if st["phase"] in ("publish", "skip"):
            walls[f"{st['phase']}:{name}"].append(time.perf_counter() - t0)

    def timed(job):
        def run():
            t0 = time.perf_counter()
            with tr.span(job.__name__, "jobs"):
                out = job()
            record(job.__name__, t0)
            return out
        return run

    def pipe(name, fn, *a, **k):
        t0 = time.perf_counter()
        with tr.span(name, "pipelines"):
            out = fn(*a, **k)
        record(name, t0)
        return out

    def publish(df, table, latest=None):
        t0 = time.perf_counter()
        with tr.span(f"publish_batch:{table}", "sinks_db"):
            rows = sinks_db.publish_batch(df, st["db"], table, d["staging"], latest_date=latest)
        record("publish_batch", t0)
        if st["phase"] == "publish":
            walls["rows_upserted"].append(rows)

    def cams():
        res = pipe("run_cds_forecast_batch", pipelines.run_cds_forecast_batch, spark, client, CAMS_DATASET,
                   {"date": cams_dates[0]}, state, "cams_forecast", d["landing_cams"], d["out_cams"],
                   keep_days=keep)
        if res["status"] == "ingested":
            day = res["date"]
            stats = (spark.read.parquet(d["out_cams"]).filter(F.col("date") == day)
                     .groupBy(F.floor(F.col("y") / ZONE_ROWS).alias("zone"))
                     .pivot("variable", CAMS_VARS).agg(F.avg("value")))
            watermark = (dt.date.fromisoformat(day) - dt.timedelta(days=keep)).isoformat()
            publish(stats.select(F.to_timestamp(F.lit(day)).alias("date"),
                                 F.format_string("ZONE(%d)", "zone").alias("geom"), *CAMS_VARS),
                    "cams_daily", latest=watermark)
        return res

    def ecmwf():
        released = ecmwf_times[: st["released"]]
        catalog = spark.createDataFrame([(t, True) for t in released], "date timestamp, available boolean")
        grid = spark.read.parquet(d["ecmwf_src"])
        return pipe("run_forecast_batch", pipelines.run_forecast_batch, grid, catalog,
                    pipelines.ECMWF_FORECAST, state, d["out_ecmwf"])

    def chirps():
        latest = st["months"][st["released"] - 1] if st["released"] else None
        if latest is None or state.should_skip("chirps_rainfall", latest, key="monthly"):
            return {"status": "skipped", "month": latest}
        grid = spark.read.parquet(d["chirps_src"])
        anomaly = pipe("run_anomaly_batch", pipelines.run_anomaly_batch, grid, pipelines.CHIRPS_RAINFALL,
                       state, d["normals"], latest)
        publish(anomaly.select(F.col("time").alias("date"),
                               F.format_string("POINT(%d %d)", "x", "y").alias("geom"),
                               "current", "normal", "anomaly"), "chirps_anomaly")
        state.commit("chirps_rainfall", {"monthly": latest})
        return {"status": "ingested", "month": latest}

    def tamsat():
        last = state.get("tamsat_rainfall")
        day = (dt.date.fromisoformat(last) + dt.timedelta(days=1)).isoformat() if last else tamsat_dates[0]
        df = pipe("run_download_batch", pipelines.run_download_batch, spark, store,
                  [origin.url(f"tamsat/rfe_{day}.csv.gz")], d["landing_tamsat"],
                  "date string, y int, x int, rfe double")
        if not df.inputFiles():
            return {"status": "skipped", "date": day}
        _overwrite(tr, sinks.overwrite_partitions, df, d["out_tamsat"], ["date"])
        state.commit("tamsat_rainfall", {"last_update": day})
        return {"status": "ingested", "date": day}

    reg = JobRegistry()
    for job in (cams, ecmwf, chirps, tamsat):
        reg.register(Job(job.__name__, timed(job), interval_seconds=INTERVAL))
    st["registry"] = reg
    st["clock"] = 0.0
    return st


def warm(ctx, st: dict) -> None:
    """One publishing tick and one skip tick before the timed loop."""
    st["phase"] = "warm"
    _release(st)
    _tick(st)
    st["warm_skip_s"] = _tick(st)[0]


def _release(st: dict) -> None:
    """Make the next drop of every source available."""
    i, d, v = st["released"], st["dirs"], os.path.join(st["base"], "vault")
    os.replace(os.path.join(v, "cams", f"{st['cams_dates'][i]}.bin"),
               os.path.join(d["cds"], CAMS_DATASET, f"{st['cams_dates'][i]}.bin"))
    name = f"t={st['ecmwf_times'][i]:%Y%m%d%H}.parquet"
    os.replace(os.path.join(v, "ecmwf", name), os.path.join(d["ecmwf_src"], name))
    name = f"m={st['months'][i]}.parquet"
    os.replace(os.path.join(v, "chirps", name), os.path.join(d["chirps_src"], name))
    name = f"rfe_{st['tamsat_dates'][i]}.csv.gz"
    os.replace(os.path.join(v, "tamsat", name), os.path.join(d["www"], "tamsat", name))
    st["released"] += 1


def _tick(st: dict) -> tuple[float, dict]:
    st["clock"] += INTERVAL
    t0 = time.perf_counter()
    res = st["registry"].run_due(now=st["clock"])
    return time.perf_counter() - t0, res


def run(ctx, st: dict, seconds: float) -> dict:
    """Publishing ticks, then skip ticks. The publishing phase leaves time
    for ``MIN_POLLS`` skip ticks, estimated from the warm-up skip tick."""
    size = st["size"]
    t_end = time.perf_counter() + seconds
    t_pub = t_end - MIN_POLLS * st["warm_skip_s"]
    st["phase"] = "publish"
    st["pub_from"] = st["released"]
    st["t_loop"] = time.time()
    pub, skip = [], []
    outputs = [st["dirs"][k] for k in ("out_cams", "out_ecmwf", "out_tamsat", "normals")]
    before = _counts(ctx, st)
    with _instrument(ctx):
        # start a tick only if it should end within its phase's time
        while not pub or (time.perf_counter() + pub[-1][0] < t_pub and st["released"] < size["drops"]):
            _release(st)
            pub.append(_tick(st))
        st["phase"] = "skip"
        st["snap_before_skip"] = _snapshot(outputs) | {os.stat(st["db"]).st_mtime_ns}
        while len(skip) < MIN_POLLS or time.perf_counter() + skip[-1][0] < t_end:
            skip.append(_tick(st))
        st["snap_after_skip"] = _snapshot(outputs) | {os.stat(st["db"]).st_mtime_ns}
    st["phase"] = "done"
    st["pub"], st["skip"] = pub, skip
    st["counts"] = {k: v - before.get(k, 0) for k, v in _counts(ctx, st).items()}
    cells = [_tick_cells(st, st["pub_from"] + i) for i in range(len(pub))]
    return {
        "op_s": [w for w, _ in pub],
        "poll_s": [w for w, _ in skip],
        "items": sum(cells),
        "item_s": sum(w for w, _ in pub),
        "attempted": len(pub) + len(skip),
        "failed_ops": _bad_ticks(pub, "ingested") + _bad_ticks(skip, "skipped"),
    }


def _counts(ctx, st: dict) -> dict:
    """Cumulative layer counters (their change over the loop is reported)."""
    state = type(st["state"])
    return {
        **getattr(ctx.tracer, "counters", {}),
        "sources.http_requests": st["origin"].requests,
        "sources.http_bytes_served": st["origin"].bytes_served,
        "sources.cds_polls": st["queue"].polls,
        "cds_bytes": st["queue"].bytes,
        "state.calls": state.calls,
        "state.s": state.seconds,
    }


def _tick_cells(st: dict, i: int) -> int:
    s = st["size"]
    return (st["exp_cams"][st["cams_dates"][i]]["cells"]
            + st["exp_ecmwf"][st["ecmwf_times"][i].strftime("%Y-%m-%dT%H:%M:%S")]["cells"]
            + math.prod(s["chirps"]) + math.prod(s["tamsat"]))


def _bad_ticks(ticks, want: str) -> int:
    return sum(1 for _, res in ticks
               if len(res) != 4 or any(r.get("status") != want for r in res.values()))


def corrupt(ctx, st: dict) -> None:
    """Damage one published output (for the benchmark's self-test)."""
    con = duckdb.connect(st["db"])
    try:
        con.execute("UPDATE ingest.chirps_anomaly SET anomaly = anomaly + 1 WHERE geom = 'POINT(0 0)'")
    finally:
        con.close()


def check(ctx, st: dict) -> list[str]:
    """Untimed output checks; returns the list of failures."""
    from pyspark.sql import functions as F

    spark, fails = ctx.spark, []
    d, size, keep = st["dirs"], st["size"], st["size"]["keep_days"]
    n = st["released"]

    def close(a, b, rel=1e-9):
        return math.isclose(a, b, rel_tol=rel, abs_tol=1e-6)

    # cams: exactly the retention window survives, with the generator's cells and checksum
    last_cams = st["cams_dates"][n - 1]
    watermark = (dt.date.fromisoformat(last_cams) - dt.timedelta(days=keep)).isoformat()
    window = [x for x in st["cams_dates"][:n] if x >= watermark]
    got = {str(r["date"]): (r["c"], r["s"]) for r in spark.read.parquet(d["out_cams"]).groupBy("date")
           .agg(F.count("*").alias("c"), F.sum("value").alias("s")).collect()}
    if sorted(got) != window:
        fails.append(f"cams partitions {sorted(got)} != retention window {window}")
    for day in window:
        exp = st["exp_cams"][day]
        c, s = got.get(day, (0, 0.0))
        if c != exp["cells"] or not close(s, exp["sum"]):
            fails.append(f"cams {day}: cells/sum {c}/{s} != {exp['cells']}/{exp['sum']}")
    con = duckdb.connect(st["db"], read_only=True)
    try:
        zones = math.ceil(size["cams"][0] / ZONE_ROWS)
        rows = con.execute("SELECT strftime(date, '%Y-%m-%d'), count(*) FROM ingest.cams_daily "
                           "GROUP BY 1 ORDER BY 1").fetchall()
        if [r[0] for r in rows] != window or any(r[1] != zones for r in rows):
            fails.append(f"cams_daily rows {rows} != {zones} zones on {window}")
        chirps = con.execute("SELECT strftime(date, '%Y-%m'), count(*), sum(anomaly) FROM ingest.chirps_anomaly "
                             "GROUP BY 1 ORDER BY 1").fetchall()
    finally:
        con.close()
    # chirps: one anomaly row per cell per published month, anomaly vs the history normal
    months = st["months"][:n]
    if [r[0] for r in chirps] != months:
        fails.append(f"chirps months {[r[0] for r in chirps]} != {months}")
    grids, all_months = st["chirps_grids"], list(st["chirps_grids"])
    cells = math.prod(size["chirps"])
    for m, c, s in chirps:
        hist = [grids[h] for h in all_months if h < m and h[5:7] == m[5:7]]
        exp = float((grids[m] - np.mean(hist, axis=0)).sum())
        if c != cells or not math.isclose(s, exp, rel_tol=1e-4, abs_tol=cells * 1e-3):
            fails.append(f"chirps {m}: rows/anomaly-sum {c}/{s} != {cells}/{exp}")
    # ecmwf: forecasts purge, so only the latest time survives
    last_t = st["ecmwf_times"][n - 1].strftime("%Y-%m-%dT%H:%M:%S")
    e = spark.read.parquet(d["out_ecmwf"]).groupBy("time_key").agg(
        F.count("*").alias("c"), F.sum("value").alias("s")).collect()
    exp = st["exp_ecmwf"][last_t]
    if len(e) != 1 or e[0]["time_key"] != last_t or e[0]["c"] != exp["cells"] or not close(e[0]["s"], exp["sum"]):
        fails.append(f"ecmwf partitions {[tuple(r) for r in e]} != ({last_t}, {exp['cells']}, {exp['sum']})")
    # tamsat: every released day, with its rows and checksum
    t = {str(r["date"]): (r["c"], r["s"]) for r in spark.read.parquet(d["out_tamsat"]).groupBy("date")
         .agg(F.count("*").alias("c"), F.sum("rfe").alias("s")).collect()}
    if sorted(t) != st["tamsat_dates"][:n]:
        fails.append(f"tamsat partitions {sorted(t)} != {st['tamsat_dates'][:n]}")
    for day, (c, s) in t.items():
        exp = st["exp_tamsat"][day]
        if c != exp["rows"] or not close(s, exp["sum"]):
            fails.append(f"tamsat {day}: rows/sum {c}/{s} != {exp['rows']}/{exp['sum']}")
    # state watermarks equal the last published drop of each source
    state = st["state"]
    want = {"cams_forecast": last_cams, "ecmwf_forecast": last_t,
            "tamsat_rainfall": st["tamsat_dates"][n - 1]}
    for ds, w in want.items():
        if state.get(ds) != w:
            fails.append(f"state {ds} = {state.get(ds)} != {w}")
    if state.get("chirps_rainfall", "monthly") != months[-1]:
        fails.append(f"state chirps_rainfall.monthly != {months[-1]}")
    # skip ticks wrote nothing
    if st["snap_before_skip"] != st["snap_after_skip"]:
        fails.append("skip ticks changed published outputs")
    return fails


def trace_extra(ctx, st: dict) -> list[str]:
    """Traced run only, after the checks: the query surface and a cold
    memo prebuild over generated fixture tables (see surface.py)."""
    st["surface"] = surface.run_traced(ctx, st["base"])
    return st["surface"]["fails"]


def layer_metrics(ctx, st: dict, jobs: list, spans: list) -> dict:
    from . import trace as T

    med = lambda xs: float(np.median(xs)) if xs else 0.0  # noqa: E731
    w, c, d = st["walls"], st["counts"], st["dirs"]
    m = surface.layer_metrics(st["surface"], jobs, spans)
    m.update({f"jobs.{k}_s": med(w[f"publish:{k}"]) for k in ("cams", "ecmwf", "chirps", "tamsat")})
    m["jobs.skip_tick_p50_s"] = med([x for x, _ in st["skip"]])
    for name in ("run_cds_forecast_batch", "run_forecast_batch", "run_anomaly_batch", "run_download_batch"):
        m[f"pipelines.{name}_s"] = med(w[f"publish:{name}"])
    m["pipelines.run_forecast_batch_skip_s"] = med(w["skip:run_forecast_batch"])
    m.update(T.layer_fold(jobs, spans, "pipelines", since=st["t_loop"]))
    m.update(T.layer_fold(jobs, spans, "sinks_db", since=st["t_loop"]))
    m["sinks_db.publish_batch_s"] = med(w["publish:publish_batch"])
    m["sinks_db.rows_upserted"] = float(sum(w["rows_upserted"]))
    over = [s["end"] - s["start"] for s in spans
            if s["name"] == "overwrite_partitions" and s["start"] >= st["t_loop"]]
    m["sinks.overwrite_partitions_s"] = med(over)
    for k in ("partitions_written", "bytes_written", "retention_deleted", "http_requests",
              "http_bytes_served", "cds_polls", "calls", "s"):
        for layer in ("sinks", "sources", "state"):
            if f"{layer}.{k}" in c:
                m[f"{layer}.{k}"] = float(c[f"{layer}.{k}"])
    m["sources.bytes_landed"] = float(sum(_tree_bytes(d[k], st["t_loop"])[0] for k in ("landing_cams", "landing_tamsat")))
    # useful = source bytes of the drops the loop published; fetched = bytes
    # the CDS queue and the origin delivered during the loop (a re-download
    # or a fetch that is never published lowers the ratio)
    fetched = c["sources.http_bytes_served"] + c["cds_bytes"]
    useful = sum(os.path.getsize(os.path.join(d["cds"], CAMS_DATASET, f"{x}.bin"))
                 + os.path.getsize(os.path.join(d["www"], "tamsat", f"rfe_{x}.csv.gz"))
                 for x in st["cams_dates"][st["pub_from"]: st["released"]])
    m["sources.useful_fetch_ratio"] = useful / fetched if fetched else 0.0
    return m


def teardown(ctx, st: dict) -> None:
    st["origin"].__exit__(None, None, None)
    shutil.rmtree(st["base"], ignore_errors=True)
