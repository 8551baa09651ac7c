"""The memo prebuild's deadline is a real bound: past it, queued chains
never start, running ones are re-cancelled for a fixed number of sweeps,
and a chain that ignores cancellation is left behind instead of holding
the caller."""

from __future__ import annotations

import logging
import threading
import time


def test_prebuild_returns_past_a_chain_that_ignores_cancel(spark, monkeypatch, caplog):
    from data_ingestion_auto_spark.plans import memo_prebuild as MP

    release, finished = threading.Event(), threading.Event()
    ran = []

    def sleeper():
        # pure-Python wait: a Spark job-group cancel cannot interrupt it
        t_end = time.monotonic() + 120
        while not release.is_set() and time.monotonic() < t_end:
            time.sleep(0.05)
        finished.set()

    chains = [
        ("sleeper", [sleeper]),
        ("queued", [lambda: ran.append("queued")]),
    ]
    monkeypatch.setattr(MP, "prebuild_chains", lambda spark, sf_dir: chains)
    monkeypatch.setattr(MP, "_SWEEP_SEC", 0.5)
    timeout = 1.0
    try:
        with caplog.at_level(logging.WARNING, logger=MP.__name__):
            t0 = time.monotonic()
            walls = MP.prebuild(spark, "unused", max_workers=1, timeout_sec=timeout)
            elapsed = time.monotonic() - t0
    finally:
        release.set()
    assert finished.wait(5)  # the left-behind chain ends once released
    assert elapsed < timeout + MP._DRAIN_SWEEPS * MP._SWEEP_SEC + 2.0, elapsed
    assert walls == {}
    assert ran == []  # the queued chain was cancelled before it started
    text = caplog.text
    assert "cancelled chains: ['queued', 'sleeper']" in text
    assert "left behind: ['sleeper']" in text
