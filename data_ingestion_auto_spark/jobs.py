"""Job registry + interval scheduler model (SURVEY §1.1 job/schedule row;
reference ingest/jobs.py:28-74 + main.py:18-36).

The reference runs five jobs on APScheduler interval triggers in the
default thread pool, one thread per job, with max_instances=1.
Spark-first restatement: each job is a (pipeline callable, interval,
enabled) record; `run_due` runs every due job once per tick, each in its
own thread, and returns when all of them have finished. A tick that
blocks until its jobs end never overlaps the next one, so no job runs
twice at once (W2 single-flight, like one streaming query per
checkpoint). The jobs share the caller's Spark session, state store and
sinks. In production each enabled job maps to a Structured Streaming
query with trigger(processingTime=f"{interval}s")
(streaming/incremental.py); this registry is the shared declarative layer
plus a batch fallback driver.

Job threads do not inherit the calling thread's Spark local properties
(job group, job description, scheduler pool): a job that wants its
actions tagged sets them itself, on its own thread.

The dev allowlist mirrors TASKS_DEV (main.py:26-28, config/dev.py:4):
selective job start by id.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field


@dataclass
class Job:
    job_id: str
    run: Callable[[], dict]
    interval_seconds: int = 1800  # the reference's universal cadence
    enabled: bool = True
    last_run_at: float | None = field(default=None, compare=False)


class JobRegistry:
    def __init__(self, allowlist: list[str] | None = None) -> None:
        self._jobs: dict[str, Job] = {}
        self._allowlist = allowlist  # dev mode: only these ids run

    def register(self, job: Job) -> None:
        if job.job_id in self._jobs:
            raise ValueError(f"duplicate job id: {job.job_id}")
        self._jobs[job.job_id] = job

    def jobs(self) -> list[Job]:
        return list(self._jobs.values())

    def _runnable(self, job: Job, now: float) -> bool:
        if not job.enabled:
            return False
        if self._allowlist is not None and job.job_id not in self._allowlist:
            return False
        return job.last_run_at is None or now - job.last_run_at >= job.interval_seconds

    def run_due(self, now: float | None = None) -> dict[str, dict]:
        """One scheduler tick: run every due job once, each in its own
        thread, and return when all have finished (single-flight, W2).
        Results are keyed in registration order. A job that raises records
        an error result and does NOT advance its own schedule — it retries
        next tick, matching the reference's 404-retry semantics (W5); the
        other jobs are unaffected."""
        now = time.time() if now is None else now
        due = [job for job in self._jobs.values() if self._runnable(job, now)]
        if not due:
            return {}
        with ThreadPoolExecutor(max_workers=len(due), thread_name_prefix="job") as pool:
            futures = {job.job_id: pool.submit(_run_job, job, now) for job in due}
        return {job_id: f.result() for job_id, f in futures.items()}


def _run_job(job: Job, now: float) -> dict:
    try:
        result = job.run()
    except Exception as e:  # noqa: BLE001 — scheduler must survive job failure
        return {"status": "error", "error": f"{type(e).__name__}: {e}"}
    job.last_run_at = now
    return result
