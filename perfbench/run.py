"""Repository benchmark: one served-engine or pipeline workload per run.

    python3 perfbench/run.py --workload query|live|curate --seed N \
        --seconds S --trace 0|1

Prints provenance and per-kind detail on one JSON line, then, as the last
line, {"correct", "attempted", "failed", "metrics"}: every end-to-end
metric with --trace 0, every per-layer metric with --trace 1. See
perfbench/README.md for the workloads and the metric -> layer map.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
WORKLOADS = ("query", "live", "curate")


def _launcher_env(work: str) -> None:
    """Make the package importable for Spark's Python workers whatever the
    working directory (the package is not installed), and keep every
    scratch file inside the checkout."""
    paths = [REPO_ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault("SNELDB_DRIVER_MEM", "2g")


class Ctx:
    """What a workload needs from the harness: inputs, the session, the
    tracer and the measuring loop."""

    def __init__(self, args, work, spark, tracer):
        self.seed, self.seconds, self.trace = args.seed, args.seconds, bool(args.trace)
        self.size, self.perturb, self.work = args.size, args.perturb, work
        self.spark, self.tracer = spark, tracer
        self.plans: dict[int, tuple[int, int]] = {}
        self._cmd = 0

    def next_cmd(self) -> int:
        self._cmd += 1
        if self.tracer is not None:
            self.tracer.cmd = self._cmd
        return self._cmd

    def trace_enabled(self, on: bool) -> None:
        if self.tracer is not None:
            self.tracer.enabled = on

    def after_request(self, cmd: int, traced: bool) -> None:
        """Traced requests: count exchanges and scans in the plan that
        served them (outside the timed region)."""
        if not traced or self.tracer is None:
            return
        from tracing import plan_counts

        df = self.tracer.frames.pop(cmd, None)
        if df is None:
            return
        parts = getattr(df, "__sneldb_serve_parts__", None) or (df,)
        with self.tracer.internal():
            counts = [plan_counts(p) for p in parts]
        self.plans[cmd] = (sum(c[0] for c in counts), sum(c[1] for c in counts))

    def measure(self, out, cycle_fn, min_cycles: int, warmup: int = 1) -> None:
        """`warmup` cold cycles, then a closed loop of cycles for
        `self.seconds`: after `min_cycles` (doubled when traced) a cycle
        starts only while its expected length still fits. A traced run
        alternates untraced and traced cycles so the two can be
        compared."""
        from harness import median

        self.trace_enabled(False)
        out.warmup_s = [cycle_fn(-1 - w, False) for w in range(warmup)]
        if self.tracer is not None:
            out.info["untagged_jobs_before"] = self.tracer.untagged_jobs()
        start, cycle = time.perf_counter(), 0
        min_cycles *= 2 if self.trace else 1
        while True:
            done = [c for c, _ in out.cycles]
            elapsed = time.perf_counter() - start
            if cycle >= min_cycles and elapsed + median(done) > self.seconds:
                break
            traced = self.trace and cycle % 2 == 1
            self.trace_enabled(traced)
            out.cycles.append((cycle_fn(cycle, traced), traced))
            cycle += 1
        self.trace_enabled(False)
        if self.tracer is not None:
            out.info["untagged_jobs_after"] = self.tracer.untagged_jobs()
        out.info["measured_s"] = round(time.perf_counter() - start, 3)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: small inputs for the smoke test")
    ap.add_argument("--perturb", action="store_true",
                    help="negative control: corrupt one checked output")
    args = ap.parse_args(argv)

    sys.path[:0] = [REPO_ROOT, BENCH_DIR]
    try:
        import sneldb_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import sneldb_spark from {REPO_ROOT}: {e}", file=sys.stderr)
        return 2
    work = os.path.join(BENCH_DIR, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _launcher_env(work)

    import harness
    import layers

    cores = len(os.sched_getaffinity(0))
    cpu0 = harness.cpu_times()
    spark = tracer = None
    try:
        t0 = time.perf_counter()
        spark = harness.boot_spark(work, cores)
        harness.check_worker_import(spark)
        boot_s = time.perf_counter() - t0
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark)
            tracer.install()
            tracer.set_group("setup")
            tracer.enabled = True  # set-up spans: REMEMBER bootstraps
        ctx = Ctx(args, work, spark, tracer)
        module = __import__(f"wl_{args.workload}")
        run = module.run(ctx)
        run.boot_s = boot_s
        memory = harness.memory_mb(spark)
        if tracer is not None:
            per_layer = layers.per_layer(args.workload, run, ctx, tracer)
            os.makedirs(os.path.join(BENCH_DIR, "out"), exist_ok=True)
            tracer.write(os.path.join(
                BENCH_DIR, "out", f"spans-{args.workload}-{args.seed}.jsonl"))
            tracer.uninstall()
        master = spark.sparkContext.master
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    cpu1 = harness.cpu_times()
    e2e = layers.end_to_end(run, memory["peak_rss"])
    detail = {
        "workload": args.workload,
        "provenance": harness.provenance(args.seed, cores, master, cpu0, cpu1),
        "detail": layers.detail(run),
        "memory_mb": {k: round(v, 1) for k, v in memory.items()},
        "checks": [{"name": n, "ok": ok, "detail": d} for n, ok, d in run.checks],
    }
    print(harness.dumps(detail))
    metrics = per_layer if args.trace else e2e
    result = {
        "correct": run.correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(harness.dumps(result), flush=True)
    return 0 if run.correct else 1


if __name__ == "__main__":
    sys.exit(main())
