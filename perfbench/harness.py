"""Shared pieces of the workloads: Spark boot, the timed client, run
statistics and provenance."""

from __future__ import annotations

import gc
import hashlib
import json
import math
import os
import statistics
import time
from dataclasses import dataclass, field

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))


@dataclass
class Sample:
    kind: str          # request family, e.g. "point", "store_batch", "show"
    ms: float          # send -> terminal frame
    cycle: int
    traced: bool
    ttff_ms: float | None = None  # send -> first batch frame (reads)
    cmd: int | None = None


@dataclass
class Run:
    """Everything one workload run measured."""

    setup_s: list[float] = field(default_factory=list)
    boot_s: float = 0.0
    warmup_s: list[float] = field(default_factory=list)  # cold first cycles
    samples: list[Sample] = field(default_factory=list)
    cycles: list[tuple[float, bool]] = field(default_factory=list)  # (s, traced)
    attempted: int = 0
    failed: int = 0
    checks: list[tuple[str, bool, str]] = field(default_factory=list)
    info: dict = field(default_factory=dict)

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks.append((name, bool(ok), detail))

    @property
    def correct(self) -> bool:
        return bool(self.checks) and all(ok for _, ok, _ in self.checks)


def median(values) -> float:
    return float(statistics.median(values))


def pct(values, q: int) -> float:
    """q-th percentile (inclusive method) of at least one value."""
    values = sorted(values)
    if len(values) == 1:
        return float(values[0])
    return float(statistics.quantiles(values, n=100, method="inclusive")[q - 1])


# -- process, host and harness facts --------------------------------------
def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_pid(spark) -> int | None:
    """The driver JVM: the gateway process or its java descendant."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is None:
        return None
    todo = [proc.pid]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"java" in f.read().split(b"\0")[0]:
                    return pid
            with open(f"/proc/{pid}/task/{pid}/children") as f:
                todo.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return None


def memory_mb(spark) -> dict[str, float]:
    """Peak resident memory of this Python driver plus the JVM, in MB.

    The JVM heap is pre-touched at a fixed size (see `boot_spark`), so
    the JVM's VmHWM holds the whole heap whatever the driver keeps in
    it. `peak_rss` therefore counts the JVM without its committed heap
    and adds the heap the driver still holds after a full collection at
    the end of the run. Peak heap use is no substitute: it is mostly
    garbage the collector has not reached yet, so it follows the
    collector's schedule."""
    mb = {"python_hwm": _status_kb(os.getpid(), "VmHWM") / 1024.0,
          "jvm_hwm": 0.0, "heap_committed": 0.0, "heap_live": 0.0}
    jpid = jvm_pid(spark)
    if jpid is not None:
        gc.collect()  # drop Python-side py4j references first, so their
        # JVM objects are collectable
        mem = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        # Spark's ContextCleaner frees cached blocks of collected RDDs
        # only after a collection, on its own thread: collect until the
        # live heap stops shrinking
        live = None
        for _ in range(10):
            mem.gc()
            now = mem.getHeapMemoryUsage().getUsed()
            if live is not None and now > 0.98 * live:
                break
            live = now
            time.sleep(0.5)
        heap = mem.getHeapMemoryUsage()
        mb["jvm_hwm"] = _status_kb(jpid, "VmHWM") / 1024.0
        mb["heap_committed"] = heap.getCommitted() / 2**20
        mb["heap_live"] = heap.getUsed() / 2**20
    mb["peak_rss"] = mb["python_hwm"] + mb["jvm_hwm"] - mb["heap_committed"] + mb["heap_live"]
    return mb


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    delta = [a - b for a, b in zip(after, before)]
    total = sum(delta[:8])  # user..steal; guest time is inside user
    return 100.0 * delta[7] / total if total > 0 else 0.0


def harness_hash() -> str:
    """sha256 over the benchmark's own source files."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(BENCH_DIR)):
        path = os.path.join(BENCH_DIR, name)
        if os.path.isfile(path) and not name.startswith("."):
            h.update(name.encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


# -- Spark -------------------------------------------------------------------
def boot_spark(work: str, cores: int):
    """A classic local session sized to the box, with every scratch path
    inside `work`."""
    from sneldb_spark.session import get_spark, quiet_logs

    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a fixed, pre-touched heap: peak RSS then does not depend on
            # when the collector chose to grow the heap
            "spark.driver.extraJavaOptions": (
                f"-Xms{os.environ['SNELDB_DRIVER_MEM']} -XX:+AlwaysPreTouch "
                f"-Djava.io.tmpdir={local} -Dderby.system.home={work}"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100",
        },
    )
    quiet_logs(spark)
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    for them to exit."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def check_worker_import(spark) -> None:
    """Python workers must import the package from any working directory;
    fail the run at set-up, loudly, when they cannot."""

    def probe(batches):  # nested: shipped by value, not by module path
        import sneldb_spark  # noqa: F401

        yield from batches

    try:
        spark.range(0, 1, 1, 1).mapInPandas(probe, "id long").collect()
    except Exception as e:  # noqa: BLE001 - re-raised with the reason
        raise SystemExit(
            "perfbench: Python workers cannot import sneldb_spark "
            f"(PYTHONPATH={os.environ.get('PYTHONPATH')!r}): {e}"
        ) from e


# -- the served engine and its client ---------------------------------------
class Served:
    """A SnelDBServer on an ephemeral localhost port and one client
    connection issuing commands in a closed loop."""

    def __init__(self, db):
        from sneldb_spark.client import SnelDBClient
        from sneldb_spark.server import SnelDBServer

        self.server = SnelDBServer(db).start()
        host, port = self.server.address
        self.client = SnelDBClient(f"tcp://{host}:{port}", timeout=170)

    def request(self, text: str, keep_rows: bool = False):
        """Send one command; returns (ms to terminal frame, ms to first
        batch frame or None, terminal frame, rows if kept). Every batch
        frame is drained before the clock stops."""
        rows: list = []
        ttff = None
        t0 = time.perf_counter()
        last = None
        for frame in self.client.execute_stream(text):
            kind = frame.get("type")
            if kind == "batch":
                if ttff is None:
                    ttff = (time.perf_counter() - t0) * 1000.0
                if keep_rows:
                    rows.extend(frame["rows"])
            elif kind == "schema" and keep_rows:
                rows.append(frame["columns"])
            last = frame
        ms = (time.perf_counter() - t0) * 1000.0
        return ms, ttff, last, rows

    def close(self) -> None:
        self.client.close()
        self.server.stop()


def same_rows(a: list, b: list) -> bool:
    """Equal as multisets of rows; floats compare to 1e-9 relative."""
    def key(row) -> tuple:
        return tuple((0, "") if isinstance(v, float) else (1, str(v)) for v in row)

    def same(x, y) -> bool:
        return len(x) == len(y) and all(
            math.isclose(u, v, rel_tol=1e-9) if isinstance(u, float) or isinstance(v, float)
            else u == v for u, v in zip(x, y))

    a, b = sorted(a, key=key), sorted(b, key=key)
    return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))


def table_rows(rows: list) -> tuple[list[str], list[list]]:
    """Split `request(..., keep_rows=True)` output into (columns, rows)."""
    return (rows[0], rows[1:]) if rows else ([], [])


def provenance(seed: int, cores: int, master: str, cpu0: list[int], cpu1: list[int]) -> dict:
    return {
        "seed": seed,
        "nproc": cores,
        "spark_master": master,
        "cpu_steal_pct": round(steal_pct(cpu0, cpu1), 3),
        "loadavg": open("/proc/loadavg").read().split()[:3],
        "harness_sha256": harness_hash(),
        "comparable_with_bench_py": False,
    }


def dumps(obj) -> str:
    return json.dumps(obj, separators=(",", ":"), sort_keys=False)
