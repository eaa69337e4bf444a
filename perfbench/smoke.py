"""Smoke test of the benchmark itself, at a tiny size:

- every named metric is printed with its unit, untraced and traced;
- the traced run writes spans for every layer;
- a deliberately perturbed output (negative control) fails the output
  check and the run.

    python3 perfbench/smoke.py [workload ...]

Exits non-zero on the first failed assertion. Takes a few minutes per
workload (each run boots Spark).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)

from layers import END_TO_END, PER_LAYER  # noqa: E402

# span-name prefixes each workload's traced run must produce; together
# they cover every layer of the per-layer table
SPANS = {
    "query": ("commands.parse", "engine.execute_command", "plans.compile", "store.read",
              "response.json_frames", "spark.fetch"),
    "live": ("commands.parse", "engine.execute_command", "schema.validate", "store.store",
             "store.flush", "store.read", "materialize.remember", "materialize.show",
             "materialize.describe", "response.json_frames", "spark.fetch"),
    "curate": ("pipeline.", "spark.localCheckpoint"),
}


def run(workload: str, *extra: str) -> tuple[int, dict]:
    cmd = [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--size", "tiny", *extra]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else {}
    if not result:
        sys.stderr.write(proc.stderr[-4000:])
    return proc.returncode, result


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"smoke: FAILED: {what}")
    print(f"smoke: ok: {what}", flush=True)


def check_metrics(result: dict, names: dict, what: str) -> None:
    metrics = result.get("metrics", {})
    expect(set(metrics) == set(names), f"{what}: every metric printed")
    expect(all(metrics[k]["unit"] == u and isinstance(metrics[k]["value"], float)
               for k, u in names.items()), f"{what}: each with its unit")


def main(workloads: list[str]) -> None:
    for wl in workloads:
        code, result = run(wl, "--trace", "0")
        expect(code == 0 and result.get("correct") is True, f"{wl}: clean run is correct")
        expect(result["failed"] == 0 and result["attempted"] > 0, f"{wl}: no failed operation")
        check_metrics(result, END_TO_END, f"{wl} untraced")

        code, result = run(wl, "--trace", "1")
        expect(code == 0 and result.get("correct") is True, f"{wl}: traced run is correct")
        check_metrics(result, PER_LAYER, f"{wl} traced")
        with open(os.path.join(BENCH_DIR, "out", f"spans-{wl}-7.jsonl")) as f:
            names = {json.loads(line)["name"] for line in f}
        missing = [p for p in SPANS[wl] if not any(n.startswith(p) for n in names)]
        expect(not missing, f"{wl}: spans for every layer it loads (missing {missing})")

        code, result = run(wl, "--trace", "0", "--perturb")
        expect(code != 0 and result.get("correct") is False,
               f"{wl}: perturbed output fails the check")


if __name__ == "__main__":
    main(sys.argv[1:] or ["query", "live", "curate"])
