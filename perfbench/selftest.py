"""Self-test of the benchmark at tiny size.

    python3 perfbench/selftest.py [workload ...]

For each workload (default: all) runs ``run.py --size smoke`` three times
as a subprocess: a timed run, which must emit every end-to-end metric with
its unit and pass its output checks; a run with ``--corrupt``, where one
engine output is damaged before the checks, which must report
``correct: false``; and a traced run, which must emit every per-layer
metric. Also checks that BENCHMARK.json lists exactly the metrics
``spec.py`` defines. Exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)

from perfbench import spec  # noqa: E402


def _run(workload: str, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "3", "--size", "smoke", *extra]
    proc = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True, timeout=900)
    _require(proc.returncode == 0, f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _require(ok: bool, msg: str) -> None:
    if not ok:
        raise SystemExit(f"selftest FAILED: {msg}")


def _units(result: dict) -> dict[str, str]:
    return {k: v["unit"] for k, v in result["metrics"].items()}


def main(argv: list[str]) -> int:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    _require({m["name"]: m["unit"] for m in bench["end_to_end"]} == spec.E2E, "BENCHMARK.json end_to_end")
    _require({m["name"]: m["unit"] for m in bench["per_layer"]} == spec.PER_LAYER, "BENCHMARK.json per_layer")
    _require([w["name"] for w in bench["workloads"]] == list(spec.WORKLOADS), "BENCHMARK.json workloads")
    for w in argv or spec.WORKLOADS:
        timed = _run(w)
        _require(_units(timed) == spec.E2E, f"{w}: end-to-end metrics {_units(timed)}")
        _require(timed["correct"] and timed["failed"] == 0, f"{w}: checks failed: {timed}")
        _require(all(v["value"] > 0 for v in timed["metrics"].values()), f"{w}: a metric is 0: {timed}")
        bad = _run(w, "--corrupt")
        _require(not bad["correct"] and bad["failed"] >= 1, f"{w}: corrupted output passed the checks")
        traced = _run(w, "--trace", "1")
        _require(_units(traced) == spec.PER_LAYER, f"{w}: per-layer metrics differ")
        _require(traced["correct"], f"{w}: traced run failed its checks")
        print(f"ok {w}: {len(timed['metrics'])} end-to-end, {len(traced['metrics'])} per-layer metrics, "
              "corrupted output detected", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
