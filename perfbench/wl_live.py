"""`live`: writes beside reads on a served engine with two REMEMBERed
results.

The only workload where the memtable-union read path, serve-then-refresh
SHOW, and flush and compaction contending with foreground work are seen.
Each SHOW folds the cycle's delta (about 1k events) into state covering
200k+ events: the materialized state is the engine's own cache, and
here it fits.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time

import numpy as np

import gen
from harness import Run, Sample, Served, same_rows, table_rows

SIZES = {"full": (200_000, 5_000), "tiny": (5_000, 200)}  # base events, contexts
TYPES = ("add_to_cart", "checkout")
BASE_DAYS = 3
SETUP_REPS = 3
MIN_CYCLES = 2
BATCHES, BATCH_SIZE = 10, 100
# flush-triggered compaction once a type holds more segment files than
# this; the periodic sweep runs on the same threshold
COMPACT_FILES, COMPACT_INTERVAL_S = 8, 10
MATERIALIZED = {
    "revenue": "QUERY checkout COUNT, TOTAL amount BY plan",
    "funnel": "QUERY add_to_cart FOLLOWED BY checkout LINKED BY context_id COUNT BY plan",
}
READS = (
    lambda c: f"QUERY checkout FOR {c}",
    lambda c: "QUERY add_to_cart COUNT, TOTAL price BY plan",
)


def _setup(ctx, root: str, parquet: str, n: int, n_ctx: int):
    from pyspark.sql import functions as F
    from sneldb_spark import SnelDB

    table = gen.events_table(ctx.seed, n, n_ctx, types=TYPES, days=BASE_DAYS)
    gen.write_parquet(table, parquet)
    shutil.rmtree(root, ignore_errors=True)
    db = SnelDB(ctx.spark, root, auto_compact_files=COMPACT_FILES,
                compaction_interval=COMPACT_INTERVAL_S)
    src = ctx.spark.read.parquet(parquet)
    for et in TYPES:
        db.execute(gen.define_text(et))
        struct = db.store.registry.get(et).spark_struct
        db.store.append_dataframe(et, src.where(F.col("event_type") == et).select(
            [F.col(f.name).cast(f.dataType) for f in struct.fields]))
    for name, query in MATERIALIZED.items():
        db.execute(f"REMEMBER {query} AS {name}")
    return db, table


def _live_files(db) -> tuple[int, int, int]:
    """(segment files, bytes on disk, compaction publishes) over the live
    directory of every type."""
    files = nbytes = publishes = 0
    for et in TYPES:
        live = db.store.storage.resolve(os.path.join(db.root, "events", et))
        m = re.search(r"\.v(\d+)$", live)
        publishes += int(m.group(1)) if m else 0
        for dirpath, _, names in os.walk(live):
            for name in names:
                if name.endswith(".parquet"):
                    files += 1
                    nbytes += os.path.getsize(os.path.join(dirpath, name))
    return files, nbytes, publishes


def _wal_bytes(root: str) -> int:
    wal = os.path.join(root, "wal")
    if not os.path.isdir(wal):
        return 0
    return sum(os.path.getsize(os.path.join(wal, f)) for f in os.listdir(wal)
               if f.endswith(".jsonl"))


def run(ctx) -> Run:
    n, n_ctx = SIZES[ctx.size]
    out = Run()
    parquet = os.path.join(ctx.work, "base.parquet")
    db = None
    for rep in range(SETUP_REPS):
        if db is not None:  # the previous rep's teardown is not set-up
            db.close()
            shutil.rmtree(db.root, ignore_errors=True)
        t0 = time.perf_counter()
        db, table = _setup(ctx, os.path.join(ctx.work, f"store{rep}"), parquet, n, n_ctx)
        out.setup_s.append(time.perf_counter() - t0)

    acked = {et: table.column("event_type").to_pylist().count(et) for et in TYPES}
    user_bytes = 0
    if ctx.trace:  # payload bytes a client would have sent for the base
        cols = table.to_pydict()
        fields = {et: list(gen.EVENT_TYPES[et][0]) for et in TYPES}
        for i, et in enumerate(cols["event_type"]):
            user_bytes += len(cols["context_id"][i]) + len(
                json.dumps({f: cols[f][i] for f in fields[et]}))
    served = Served(db)
    rng = np.random.default_rng([ctx.seed, 20])
    wal_per_event, files_seen, flush_jobs, pending = [], [], [], 0

    def request(kind: str, text: str, cycle: int, traced: bool, keep: bool = False):
        cmd = ctx.next_cmd()
        ms, ttff, last, rows = served.request(text, keep_rows=keep)
        out.attempted += 1
        ok = last is not None and last.get("type") in ("ok", "end")
        if not ok:
            out.failed += 1
            out.check(f"{kind} answered", False, f"{text[:60]}: {last}")
        elif cycle >= 0:
            out.samples.append(Sample(kind, ms, cycle, traced, ttff, cmd))
        ctx.after_request(cmd, traced)
        return ms, rows

    def cycle_fn(cycle: int, traced: bool) -> float:
        nonlocal user_bytes, pending
        total = 0.0
        for _ in range(BATCHES):
            body = []
            for _ in range(BATCH_SIZE):
                et = TYPES[int(rng.random() < 1 / 3)]
                c = gen.ctx_name(rng.integers(n_ctx))
                payload = json.dumps(gen.payload_for(et, rng))
                body.append(f"STORE {et} FOR {c} PAYLOAD {payload}")
                acked[et] += 1
                user_bytes += len(c) + len(payload)
            total += request("store_batch", f"BATCH [ {'; '.join(body)} ]", cycle, traced)[0]
        pending += BATCHES * BATCH_SIZE
        for name in MATERIALIZED:
            total += request("show", f"SHOW {name}", cycle, traced)[0]
        read = READS[cycle % len(READS)](gen.ctx_name(rng.integers(n_ctx)))
        total += request("read", read, cycle, traced)[0]
        wal_per_event.append(_wal_bytes(db.root) / pending)
        # the flush commit runs on engine pool threads, outside the
        # command's job group: count the untagged jobs started meanwhile
        before = ctx.tracer.untagged_jobs() if traced else 0
        total += request("flush", "FLUSH", cycle, traced)[0]
        if traced:
            flush_jobs.append(ctx.tracer.untagged_jobs() - before)
        pending = 0
        files_seen.append(_live_files(db)[0])
        return total / 1000.0

    ctx.measure(out, cycle_fn, min_cycles=MIN_CYCLES)

    # checks: every acked event is visible, and each SHOW equals its QUERY
    for et in TYPES:
        _, rows = request("check", f"QUERY {et} COUNT", -1, False, keep=True)
        got = table_rows(rows)[1]
        n_got = got[0][0] if got else None
        want = acked[et] - (1 if ctx.perturb and et == TYPES[0] else 0)
        out.check(f"{et} rows == acked", n_got == want, f"{n_got} vs {want}")
    for name, query in MATERIALIZED.items():
        _, shown = request("check", f"SHOW {name}", -1, False, keep=True)
        _, direct = request("check", query, -1, False, keep=True)
        a, b = table_rows(shown)[1], table_rows(direct)[1]
        out.check(f"SHOW {name} == QUERY", same_rows(a, b), f"{a[:3]} vs {b[:3]}")

    files, nbytes, publishes = _live_files(db)
    fold_errors = sum(db.materializer.describe(m)["fold_errors"] for m in MATERIALIZED)
    served.close()
    db.close()
    out.info["base_events"] = n
    out.info["acked"] = acked
    out.info["layer"] = {
        "store.wal_bytes_per_event": float(np.median(wal_per_event)),
        "store.flush_rows": BATCHES * BATCH_SIZE,
        "store.flush_jobs": float(np.median(flush_jobs)) if flush_jobs else 0.0,
        "store.segment_files_max": max(files_seen),
        "store.segment_files_final": files,
        "store.compactions": publishes,
        "store.bytes_per_user_byte": nbytes / user_bytes if user_bytes else 0.0,
        "materialize.fold_errors": fold_errors,
    }
    return out
