"""Metric names and units the benchmark emits (mirrored in BENCHMARK.json;
``python3 perfbench/selftest.py`` checks the two agree)."""

from __future__ import annotations

WORKLOADS = ("ingest_ticks", "corpus_refresh")

# end to end, every workload: "op" is a publishing tick or a streaming
# epoch, "poll" a skip tick or a stream trigger with no new files, "item" a
# published grid cell or an arriving row
E2E = {
    "setup_s": "s",
    "op_p50_s": "s",
    "poll_p50_s": "s",
    "items_per_s": "items/s",
}

_FOLD = ("jobs", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
         "shuffle_write_bytes", "spill_bytes", "driver_gap_s")
_FOLD_UNITS = {"jobs": "count", "tasks": "count", "shuffle_write_bytes": "bytes", "spill_bytes": "bytes"}


def _fold(prefix: str) -> dict[str, str]:
    return {f"{prefix}.{k}": _FOLD_UNITS.get(k, "s") for k in _FOLD}


PER_LAYER: dict[str, str] = {
    "session.start_s": "s",
    "session.jvm_peak_rss_mb": "MB",
    "trace.overhead_ratio": "ratio",
    "jobs.cams_s": "s",
    "jobs.ecmwf_s": "s",
    "jobs.chirps_s": "s",
    "jobs.tamsat_s": "s",
    "jobs.skip_tick_p50_s": "s",
    "pipelines.run_cds_forecast_batch_s": "s",
    "pipelines.run_forecast_batch_s": "s",
    "pipelines.run_anomaly_batch_s": "s",
    "pipelines.run_download_batch_s": "s",
    "pipelines.run_forecast_batch_skip_s": "s",
    **_fold("pipelines"),
    "sources.http_requests": "count",
    "sources.http_bytes_served": "bytes",
    "sources.bytes_landed": "bytes",
    "sources.useful_fetch_ratio": "ratio",
    "sources.cds_polls": "count",
    "sinks.overwrite_partitions_s": "s",
    "sinks.partitions_written": "count",
    "sinks.bytes_written": "bytes",
    "sinks.retention_deleted": "count",
    "sinks_db.publish_batch_s": "s",
    "sinks_db.rows_upserted": "count",
    **_fold("sinks_db"),
    "state.calls": "count",
    "state.s": "s",
    "plans.build_s": "s",
    "plans.execute_s": "s",
    "plans.eager_jobs": "count",
    **_fold("plans"),
    "memo_prebuild.wall_s": "s",
    "memo_prebuild.build_sum_s": "s",
    "memo_prebuild.overlap": "ratio",
    "operators.write_band_index_s": "s",
    "operators.write_ivf_index_s": "s",
    "operators.write_chunk_index_s": "s",
    "operators.write_postings_index_s": "s",
    "operators.band_index_rows": "count",
    "operators.ivf_index_rows": "count",
    "operators.chunk_index_rows": "count",
    "operators.postings_index_rows": "count",
}
MEMO_CHAINS = ("sareps_pd", "cc_chain", "ppjoin", "sareps_direct", "ann_models",
               "pq_models", "sampling", "cdc_winnow")
for _c in MEMO_CHAINS:
    PER_LAYER[f"memo_prebuild.{_c}_s"] = "s"
for _c in MEMO_CHAINS:
    PER_LAYER[f"memo_prebuild.{_c}.executor_run_s"] = "s"
    PER_LAYER[f"memo_prebuild.{_c}.shuffle_write_bytes"] = "bytes"
    PER_LAYER[f"memo_prebuild.{_c}.spill_bytes"] = "bytes"
STREAM_TIERS = ("dedup", "ann", "cdc", "search")
STREAM_KEYS = {"trigger_s": "s", "add_batch_s": "s", "query_planning_s": "s", "wal_commit_s": "s",
               "latest_offset_s": "s", "rows_per_epoch": "count", "jobs_per_epoch": "count"}
for _t in STREAM_TIERS:
    for _k, _u in STREAM_KEYS.items():
        PER_LAYER[f"streaming.{_t}.{_k}"] = _u
