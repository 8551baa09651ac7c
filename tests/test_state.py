"""StateStore semantics (SURVEY W3/W5/K6/K7 + §5's partial-failure fixes)."""

from __future__ import annotations

import json
import os
import sys
import threading

from data_ingestion_auto_spark.state import StateStore


def test_skip_when_equal(tmp_path):
    s = StateStore(str(tmp_path / "state.json"))
    assert not s.should_skip("ecmwf", "2024-01-01")  # empty state: no skip
    s.commit("ecmwf", {"last_update": "2024-01-01"})
    assert s.should_skip("ecmwf", "2024-01-01")
    assert not s.should_skip("ecmwf", "2024-01-02")


def test_no_commit_on_failure(tmp_path):
    """State only advances via explicit commit — a raising pipeline leaves
    the watermark untouched (fixes reference tamsat :120-123 which
    committed inside a param loop)."""
    s = StateStore(str(tmp_path / "state.json"))
    s.commit("tamsat", {"last_update": "2024-01-01"})
    try:
        raise RuntimeError("download 404")
    except RuntimeError:
        pass  # pipeline aborts before commit
    assert s.get("tamsat") == "2024-01-01"


def test_per_substream_keys_independent(tmp_path):
    """monthly vs pentadal advance independently (chirps :137,225)."""
    s = StateStore(str(tmp_path / "state.json"))
    s.commit("chirps", {"monthly": "2024-01"})
    s.commit("chirps", {"pentadal": "2024-01-p3"})
    assert s.get("chirps", "monthly") == "2024-01"
    assert s.get("chirps", "pentadal") == "2024-01-p3"
    s.commit("chirps", {"monthly": "2024-02"})
    assert s.get("chirps", "pentadal") == "2024-01-p3"  # untouched


def test_nested_normals_keys(tmp_path):
    """monthly_normals.<MM> memoization keys (chirps :272-273)."""
    s = StateStore(str(tmp_path / "state.json"))
    s.commit("chirps", {"monthly_normals.01": "/normals/moy=01"})
    assert s.get("chirps", "monthly_normals.01") == "/normals/moy=01"
    assert s.get("chirps", "monthly_normals.02") is None


def test_atomic_write_leaves_valid_json(tmp_path):
    path = str(tmp_path / "state.json")
    s = StateStore(path)
    for i in range(20):
        s.commit("ds", {"last_update": f"2024-01-{i + 1:02d}"})
    with open(path) as f:
        data = json.load(f)
    assert data["ds"]["last_update"] == "2024-01-20"
    # no stray temp files left behind
    assert [p for p in os.listdir(tmp_path) if p.endswith(".tmp")] == []


def test_delete(tmp_path):
    s = StateStore(str(tmp_path / "state.json"))
    s.commit("a", {"k1": "v1", "k2": "v2"})
    s.delete("a", "k1")
    assert s.get("a", "k1") is None
    assert s.get("a", "k2") == "v2"
    s.delete("a")
    assert s.get_all("a") == {}


def test_concurrent_commits_lose_nothing(tmp_path):
    """Commits from many threads serialize: 8 threads x 25 commits, each
    thread to its own dataset, rewriting five keys and adding one new key
    per commit. Every key survives with its last value and the file stays
    valid JSON; an unlocked read-modify-write would drop updates."""
    path = str(tmp_path / "state.json")
    store = StateStore(path)
    n_threads, n_commits = 8, 25

    def worker(t):
        for i in range(n_commits):
            store.commit(f"ds{t}", {f"k{i % 5}": f"{t}-{i}", f"n{i}": str(i)})

    threads = [threading.Thread(target=worker, args=(t,)) for t in range(n_threads)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    with open(path) as f:
        data = json.load(f)
    for t in range(n_threads):
        want = {f"k{i % 5}": f"{t}-{i}" for i in range(n_commits)}
        want.update({f"n{i}": str(i) for i in range(n_commits)})
        assert data[f"ds{t}"] == want
