"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload ingest_ticks --seed 1 --seconds 20 --trace 0

Run from the repository root. One process, one Spark session on
``local[nproc]`` (``SPARK_GRAFT_CPUS`` = nproc). Every artefact (warehouse,
landing dirs, state file, DuckDB file, checkpoints, memo root, temp files)
lives under one per-run root inside the checkout, removed at exit.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
workload twice in the same process for half the seconds each, traced
(Python spans plus Spark's event log) then untraced, prints the per-layer
metrics and the tracing overhead (traced op p50 / untraced op p50, an
upper bound since the untraced half runs on the warmer JVM), and writes
the spans to ``.perfbench_runs/trace-<workload>.json``.
``--size smoke`` runs a tiny version of the workload (see selftest.py).

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``;
the line before it carries the details (tail percentile, sample counts,
check failures).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from dataclasses import dataclass  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
RUNS = os.path.join(REPO, ".perfbench_runs")
SETUP_REPS = 3


@dataclass
class Ctx:
    spark: object
    tracer: object
    root: str
    seed: int
    size: str


def tail(xs: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond): the highest percentile that
    still has at least ten samples beyond it (the maximum when there are
    ten samples or fewer)."""
    s = sorted(xs)
    if len(s) <= 10:
        return s[-1], 100.0, 0
    i = len(s) - 11
    return s[i], 100.0 * (i + 1) / len(s), len(s) - 1 - i


def start_session(root: str, cpus: int, event_log: str | None = None):
    from data_ingestion_auto_spark.session import get_session

    conf = {
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "3g"),
        "spark.sql.warehouse.dir": f"file:{root}/warehouse",
        "spark.local.dir": f"{root}/local",
        # no hsperfdata files in the host's /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={root}/tmp -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file:{event_log}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_session("perfbench", master=f"local[{cpus}]", extra_conf=conf)
    spark.range(1).count()  # the first action starts the scheduler
    return spark


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def e2e(res: dict, setup_s: float) -> tuple[dict, dict]:
    ops = res["op_s"]
    t, pct, beyond = tail(ops)
    metrics = {
        "setup_s": setup_s,
        "op_p50_s": statistics.median(ops),
        "poll_p50_s": statistics.median(res["poll_s"]),
        "items_per_s": res["items"] / res["item_s"],
    }
    detail = {"op_s": [round(x, 3) for x in ops], "poll_s": [round(x, 3) for x in res["poll_s"]],
              "op_max_s": max(ops), "op_tail_s": t, "tail_percentile": pct,
              "tail_samples_beyond": beyond,
              "items": res["items"], "item_wall_s": res["item_s"]}
    return metrics, detail


def timed_run(w, args, root: str, cpus: int) -> dict:
    spark = start_session(root, cpus)
    session_s = time.perf_counter() - T_START
    from .trace import NullTracer

    ctx = Ctx(spark, NullTracer(), root, args.seed, args.size)
    reps, st = [], None
    for r in range(SETUP_REPS):
        if st is not None:
            w.teardown(ctx, st)
        t0 = time.perf_counter()
        st = w.prepare(ctx, r)
        reps.append(time.perf_counter() - t0)
    try:
        t0 = time.perf_counter()
        w.warm(ctx, st)
        warm_s = time.perf_counter() - t0
        res = w.run(ctx, st, args.seconds)
        if args.corrupt:
            w.corrupt(ctx, st)
        fails = w.check(ctx, st)
    finally:
        w.teardown(ctx, st)
    metrics, detail = e2e(res, session_s + statistics.median(reps) + warm_s)
    detail.update({"session_s": session_s, "prepare_reps_s": reps, "warm_s": warm_s, "check_failures": fails})
    return {"metrics": metrics, "detail": detail, "attempted": res["attempted"],
            "failed": res["failed_ops"] + (1 if fails else 0), "correct": not fails}


def traced_run(w, args, root: str, cpus: int) -> dict:
    from . import trace as T

    # traced half first, with Spark's event log on
    log_dir = os.path.join(root, "eventlog")
    spark = start_session(root, cpus, event_log=log_dir)
    session_s = time.perf_counter() - T_START
    tracer = T.Tracer(spark)
    ctx = Ctx(spark, tracer, root, args.seed, args.size)
    st = w.prepare(ctx, 0)
    try:
        w.warm(ctx, st)
        res = w.run(ctx, st, args.seconds / 2)
        fails = w.check(ctx, st)
        if hasattr(w, "trace_extra"):
            fails += w.trace_extra(ctx, st)
        spark.stop()  # closes the event log
        jobs = T.spark_jobs(T.read_event_log(log_dir))
        layers = w.layer_metrics(ctx, st, jobs, tracer.spans)
    finally:
        w.teardown(ctx, st)
    os.makedirs(RUNS, exist_ok=True)
    tracer.dump(os.path.join(RUNS, f"trace-{args.workload}.json"))
    # untraced half: the reference the overhead is measured against, in a
    # new SparkContext of the same (now warmer) JVM, so the ratio is an
    # upper bound of the tracing overhead
    spark = start_session(root, cpus)
    ctx = Ctx(spark, T.NullTracer(), root, args.seed, args.size)
    st = w.prepare(ctx, 1)
    try:
        w.warm(ctx, st)
        plain = w.run(ctx, st, args.seconds / 2)
    finally:
        w.teardown(ctx, st)
    plain_p50, traced_p50 = statistics.median(plain["op_s"]), statistics.median(res["op_s"])
    layers.update({
        "session.start_s": session_s,
        "session.jvm_peak_rss_mb": jvm_peak_rss_mb(spark),
        "trace.overhead_ratio": traced_p50 / plain_p50,
    })
    detail = {"untraced_op_p50_s": plain_p50, "traced_op_p50_s": traced_p50,
              "spark_jobs": len(jobs), "spans": len(tracer.spans), "check_failures": fails}
    return {"metrics": layers, "detail": detail, "attempted": res["attempted"],
            "failed": res["failed_ops"] + (1 if fails else 0), "correct": not fails}


def main(argv: list[str] | None = None) -> int:
    from . import spec

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=spec.WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    ap.add_argument("--corrupt", action="store_true", help="damage an output before the checks (self-test)")
    args = ap.parse_args(argv)

    cpus = len(os.sched_getaffinity(0))
    os.makedirs(RUNS, exist_ok=True)
    root = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=RUNS)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(root, sub))
    # everything the engine, Spark and its Python workers write stays under root
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "TMPDIR": os.path.join(root, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(root, "local"),
        "PYTHONPATH": os.pathsep.join(p for p in (REPO, os.environ.get("PYTHONPATH")) if p),
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",  # the launcher JVM that spark-submit starts
        "TZ": "UTC",
    })
    time.tzset()
    tempfile.tempdir = None
    try:
        try:
            importlib.import_module("data_ingestion_auto_spark.session")
        except ImportError as e:
            print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
            return 3
        w = importlib.import_module(f"perfbench.{args.workload}")
        out = (traced_run if args.trace else timed_run)(w, args, root, cpus)
        wanted = spec.PER_LAYER if args.trace else spec.E2E
        metrics = {k: {"value": float(out["metrics"].get(k, 0.0)), "unit": u} for k, u in wanted.items()}
        print(json.dumps({"detail": out["detail"]}, default=str))
        print(json.dumps({"correct": out["correct"], "attempted": int(out["attempted"]),
                          "failed": int(out["failed"]), "metrics": metrics}))
        return 0
    finally:
        _stop_jvm()
        shutil.rmtree(root, ignore_errors=True)


def _stop_jvm() -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    try:
        from pyspark import SparkContext
        from pyspark.sql import SparkSession
    except ImportError:
        return
    s = SparkSession.getActiveSession()
    if s is not None:
        s.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _on_term(signum, frame):
    raise SystemExit(128 + signum)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _on_term)
    sys.path.insert(0, REPO)
    import perfbench.run as _run  # the package module, so relative imports work

    _run.T_START = T_START
    sys.exit(_run.main())
