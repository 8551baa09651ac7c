"""Job registry / interval scheduler semantics (W1/W2/W5)."""

from __future__ import annotations

import threading

import pytest

from data_ingestion_auto_spark.jobs import Job, JobRegistry


def test_interval_gating():
    calls = []
    r = JobRegistry()
    r.register(Job("a", lambda: calls.append("a") or {"status": "ok"}, interval_seconds=100))
    assert "a" in r.run_due(now=1000.0)
    assert r.run_due(now=1050.0) == {}  # not due yet
    assert "a" in r.run_due(now=1100.0)
    assert calls == ["a", "a"]


def test_failure_retries_next_tick():
    """W5: a failing job records an error and stays due (schedule does not
    advance) — next tick retries."""
    state = {"fail": True}

    def flaky():
        if state["fail"]:
            raise RuntimeError("404 not yet available")
        return {"status": "ok"}

    r = JobRegistry()
    r.register(Job("f", flaky, interval_seconds=100))
    out = r.run_due(now=0.0)
    assert out["f"]["status"] == "error" and "404" in out["f"]["error"]
    state["fail"] = False
    out2 = r.run_due(now=1.0)  # immediately due again — schedule not advanced
    assert out2["f"]["status"] == "ok"
    assert r.run_due(now=50.0) == {}  # now gated by interval


def test_dev_allowlist_and_disabled():
    """TASKS_DEV-style selective start (main.py:26-28) + enabled flag
    (jobs.py registry entries)."""
    ran = []
    r = JobRegistry(allowlist=["x"])
    r.register(Job("x", lambda: ran.append("x") or {"status": "ok"}))
    r.register(Job("y", lambda: ran.append("y") or {"status": "ok"}))
    r.register(Job("z", lambda: ran.append("z") or {"status": "ok"}, enabled=False))
    r.run_due(now=0.0)
    assert ran == ["x"]


def test_duplicate_id_rejected():
    r = JobRegistry()
    r.register(Job("a", lambda: {}))
    with pytest.raises(ValueError):
        r.register(Job("a", lambda: {}))


def test_due_jobs_run_concurrently():
    """A tick hands each due job its own thread: two jobs that wait for
    each other on a barrier both finish. Run one after the other, the
    first would break the barrier at its timeout and report an error."""
    barrier = threading.Barrier(2, timeout=5)

    def meet():
        barrier.wait()
        return {"status": "ok"}

    r = JobRegistry()
    r.register(Job("a", meet))
    r.register(Job("b", meet))
    assert r.run_due(now=0.0) == {"a": {"status": "ok"}, "b": {"status": "ok"}}


def test_failure_leaves_other_jobs_unaffected():
    """W5 under concurrency: only the raising job keeps its schedule
    un-advanced; the job beside it records its result and advances."""
    calls = {"bad": 0}

    def bad():
        calls["bad"] += 1
        if calls["bad"] == 1:
            raise RuntimeError("404 not yet available")
        return {"status": "ok"}

    r = JobRegistry()
    r.register(Job("good", lambda: {"status": "ok"}, interval_seconds=100))
    r.register(Job("bad", bad, interval_seconds=100))
    out = r.run_due(now=0.0)
    assert out["good"] == {"status": "ok"}
    assert out["bad"]["status"] == "error" and "404" in out["bad"]["error"]
    assert {j.job_id: j.last_run_at for j in r.jobs()} == {"good": 0.0, "bad": None}
    assert r.run_due(now=1.0) == {"bad": {"status": "ok"}}  # only the failed job retries
    assert r.run_due(now=50.0) == {}


def test_results_follow_registration_order():
    """Result keys follow registration order, not completion order: each
    job waits until every job registered after it has finished."""
    ids = ["first", "second", "third"]
    done = {i: threading.Event() for i in ids}

    def job(i):
        def run():
            for later in ids[ids.index(i) + 1:]:
                assert done[later].wait(timeout=5)
            done[i].set()
            return {"status": "ok"}
        return run

    r = JobRegistry()
    for i in ids:
        r.register(Job(i, job(i)))
    out = r.run_due(now=0.0)
    assert list(out) == ids
    assert all(v == {"status": "ok"} for v in out.values())
