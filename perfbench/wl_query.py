"""`query`: read-only traffic over a flushed store.

Loads the commands -> plans (py4j plan construction, Catalyst) -> Spark
execution -> response path, and bypasses the WAL, the memtable, flush,
compaction and the materializer: a write-path or materializer change
predicts no move here.
"""

from __future__ import annotations

import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

import gen
from harness import Run, Sample, Served, same_rows, table_rows

SIZES = {"full": (1_000_000, 20_000), "tiny": (20_000, 500)}  # events, contexts
SETUP_REPS = 3
MIN_CYCLES = 2


# -- templates: text + DuckDB oracle ----------------------------------------
# Each template function draws its parameters from `rng` and returns
# (command text, oracle SQL over view `ev`, comparison kind).

def _day(ts: int) -> str:
    return time.strftime("%Y-%m-%d", time.gmtime(ts))


def _seq_sql(a: str, b: str, followed: bool, where_a: str = "", where_b: str = "",
             within: int | None = None, cols: str = "a_id, b_id", tail: str = "") -> str:
    """As-of sequence oracle: each A pairs with the first B at or after it
    (FOLLOWED BY) or the latest B strictly before it (PRECEDED BY), per
    context; A sorts before B at equal timestamps, event id breaks ties."""
    agg, frame = (("min", "CURRENT ROW AND UNBOUNDED FOLLOWING") if followed
                  else ("max", "UNBOUNDED PRECEDING AND 1 PRECEDING"))
    win = f'AND (mt).ts - "timestamp" <= {within}' if within is not None else ""
    return f"""
WITH a AS (SELECT * FROM ev WHERE event_type = '{a}' {where_a}),
b AS (SELECT * FROM ev WHERE event_type = '{b}' {where_b}),
u AS (SELECT context_id, "timestamp", event_id, plan, FALSE AS is_b FROM a
      UNION ALL SELECT context_id, "timestamp", event_id, plan, TRUE FROM b),
m AS (SELECT *, {agg}(CASE WHEN is_b THEN struct_pack(ts := "timestamp", eid := event_id) END)
        OVER (PARTITION BY context_id ORDER BY "timestamp", is_b, event_id
              ROWS BETWEEN {frame}) AS mt FROM u),
p AS (SELECT event_id AS a_id, (mt).eid AS b_id, plan FROM m
      WHERE NOT is_b AND mt IS NOT NULL {win})
SELECT {cols} FROM p {tail}"""


def point_replay_typed(rng, n_ctx):
    c = gen.ctx_name(rng.integers(n_ctx))
    return (f"REPLAY checkout FOR {c}",
            f"SELECT event_id FROM ev WHERE event_type = 'checkout' AND context_id = '{c}'",
            "ids")


def point_replay_all(rng, n_ctx):
    c = gen.ctx_name(rng.integers(n_ctx))
    return (f"REPLAY FOR {c}", f"SELECT event_id FROM ev WHERE context_id = '{c}'", "ids")


def point_query_for(rng, n_ctx):
    c, p = gen.ctx_name(rng.integers(n_ctx)), int(rng.integers(50, 400))
    return (f"QUERY add_to_cart FOR {c} WHERE price > {p}",
            f"SELECT event_id FROM ev WHERE event_type = 'add_to_cart' "
            f"AND context_id = '{c}' AND price > {p}", "ids")


def agg_total_avg_by(rng, n_ctx):
    x = int(rng.integers(0, 1000))
    return (f"QUERY checkout COUNT, TOTAL amount, AVG items BY plan WHERE amount > {x}",
            f"SELECT plan, count(*), sum(amount), avg(items) FROM ev "
            f"WHERE event_type = 'checkout' AND amount > {x} GROUP BY plan", "rows")


def agg_unique_per_day(rng, n_ctx):
    plan = gen.PLANS[int(rng.integers(3))]
    return (f'QUERY add_to_cart COUNT UNIQUE context_id PER day WHERE plan = "{plan}"',
            f"SELECT \"timestamp\" // 86400 * 86400, count(DISTINCT context_id) FROM ev "
            f"WHERE event_type = 'add_to_cart' AND plan = '{plan}' GROUP BY 1", "rows")


def agg_per_hour_by(rng, n_ctx):
    q = int(rng.integers(2, 5))
    return (f"QUERY add_to_cart TOTAL price PER hour BY plan WHERE qty >= {q}",
            f"SELECT \"timestamp\" // 3600 * 3600, plan, sum(price) FROM ev "
            f"WHERE event_type = 'add_to_cart' AND qty >= {q} GROUP BY 1, 2", "rows")


def agg_plot(rng, n_ctx):
    return ("PLOT COUNT OF checkout VS COUNT OF add_to_cart BREAKDOWN BY plan",
            "SELECT plan, count(*) FILTER (WHERE event_type = 'checkout'), "
            "count(*) FILTER (WHERE event_type = 'add_to_cart') FROM ev "
            "WHERE event_type IN ('checkout', 'add_to_cart') GROUP BY plan", "rows")


def scan_where_return(rng, n_ctx):
    x, plan = int(rng.integers(1400, 1800)), gen.PLANS[int(rng.integers(2))]
    return (f'QUERY checkout WHERE amount > {x} AND plan = "{plan}" RETURN [amount, plan]',
            f"SELECT event_id FROM ev WHERE event_type = 'checkout' AND amount > {x} "
            f"AND plan = '{plan}'", "ids")


def scan_order_limit(rng, n_ctx):
    page, off = int(rng.integers(gen.N_PAGES)), int(rng.integers(0, 2000))
    return (f'QUERY page_view WHERE page = "/p{page}" ORDER BY ms DESC, event_id ASC '
            f"LIMIT 5000 OFFSET {off}",
            f"SELECT event_id FROM ev WHERE event_type = 'page_view' AND page = '/p{page}' "
            f"ORDER BY ms DESC, event_id ASC LIMIT 5000 OFFSET {off}", "ordered_ids")


def scan_since_until(rng, n_ctx):
    start = gen.END_TS - gen.DAYS * 86400 + int(rng.integers(1, gen.DAYS - 4)) * 86400
    end = start + int(rng.integers(1, 4)) * 86400
    start -= start % 86400
    end -= end % 86400
    return (f'QUERY add_to_cart SINCE "{_day(start)}" UNTIL "{_day(end)}" RETURN [sku, price]',
            f"SELECT event_id FROM ev WHERE event_type = 'add_to_cart' "
            f'AND "timestamp" >= {start} AND "timestamp" < {end}', "ids")


def seq_followed_count(rng, n_ctx):
    w = int(rng.integers(1, 48)) * 3600
    return (f"QUERY add_to_cart FOLLOWED BY checkout LINKED BY context_id WITHIN {w} COUNT",
            _seq_sql("add_to_cart", "checkout", True, within=w, cols="count(*)"), "rows")


def seq_followed_count_by(rng, n_ctx):
    page, w = int(rng.integers(gen.N_PAGES)), int(rng.integers(1, 24)) * 3600
    return (f'QUERY page_view FOLLOWED BY add_to_cart LINKED BY context_id '
            f'WHERE page_view.page = "/p{page}" WITHIN {w} COUNT BY plan',
            _seq_sql("page_view", "add_to_cart", True, where_a=f"AND page = '/p{page}'",
                     within=w, cols="plan, count(*)", tail="GROUP BY plan"), "rows")


def seq_preceded_limit(rng, n_ctx):
    page = int(rng.integers(gen.N_PAGES))
    return (f'QUERY checkout PRECEDED BY page_view LINKED BY context_id '
            f'WHERE page_view.page = "/p{page}" LIMIT 2000',
            _seq_sql("checkout", "page_view", False, where_b=f"AND page = '/p{page}'"),
            "pairs_limit_2000")


FAMILIES = {
    "point": [point_replay_typed, point_replay_all, point_query_for],
    "agg": [agg_total_avg_by, agg_unique_per_day, agg_per_hour_by, agg_plot],
    "scan": [scan_where_return, scan_order_limit, scan_since_until],
    "seq": [seq_followed_count, seq_preceded_limit, seq_followed_count_by],
}


# -- oracle comparison ---------------------------------------------------------
def compare(kind: str, columns: list[str], rows: list[list], oracle: list[tuple]) -> str:
    """'' when the engine result matches the oracle, else a reason."""
    if kind in ("ids", "ordered_ids"):
        got = [r[columns.index("event_id")] for r in rows]
        want = [o[0] for o in oracle]
        if kind == "ids":
            got, want = sorted(got), sorted(want)
        return "" if got == want else f"{len(got)} ids vs oracle {len(want)}"
    if kind == "rows":
        return "" if same_rows(rows, oracle) else f"rows differ: {rows[:3]} vs {oracle[:3]}"
    if kind == "pairs_limit_2000":
        pairs = {(a, b) for a, b in oracle}
        got = [(r[columns.index("a_event_id")], r[columns.index("b_event_id")]) for r in rows]
        if len(got) != min(2000, len(pairs)):
            return f"{len(got)} pairs, oracle has {len(pairs)}"
        bad = [p for p in got if p not in pairs]
        return f"{len(bad)} pairs not in oracle" if bad else ""
    raise ValueError(kind)


# -- the workload ------------------------------------------------------------
def load_store(ctx, root: str, parquet: str, n: int, n_ctx: int):
    """Generate the seeded events and bulk-load them, one append per type
    in parallel (appends to different types are independent jobs)."""
    from pyspark.sql import functions as F
    from sneldb_spark import SnelDB

    gen.write_parquet(gen.events_table(ctx.seed, n, n_ctx), parquet)
    shutil.rmtree(root, ignore_errors=True)
    db = SnelDB(ctx.spark, root)
    src = ctx.spark.read.parquet(parquet)

    def append(et: str):
        struct = db.store.registry.get(et).spark_struct
        db.store.append_dataframe(et, src.where(F.col("event_type") == et).select(
            [F.col(f.name).cast(f.dataType) for f in struct.fields]))

    for et in gen.EVENT_TYPES:
        db.execute(gen.define_text(et))
    with ThreadPoolExecutor(len(gen.EVENT_TYPES)) as ex:
        for fut in [ex.submit(append, et) for et in gen.EVENT_TYPES]:
            fut.result()
    return db


def run(ctx) -> Run:
    import duckdb

    n, n_ctx = SIZES[ctx.size]
    out = Run()
    parquet = os.path.join(ctx.work, "events.parquet")
    db = None
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        if db is not None:
            shutil.rmtree(db.root, ignore_errors=True)
        db = load_store(ctx, os.path.join(ctx.work, f"store{rep}"), parquet, n, n_ctx)
        out.setup_s.append(time.perf_counter() - t0)

    served = Served(db)
    rng = np.random.default_rng([ctx.seed, 10])
    checked: dict[str, tuple] = {}  # template -> (text, sql, kind, columns, rows)

    def one(fam: str, build, cycle: int, traced: bool, keep: bool):
        text, sql, kind = build(rng, n_ctx)
        cmd = ctx.next_cmd()
        ms, ttff, last, rows = served.request(text, keep_rows=keep)
        out.attempted += 1
        if last is None or last.get("type") != "end":
            out.failed += 1
            out.check(f"{build.__name__} answered", False, str(last))
            return ms
        if cycle >= 0:
            out.samples.append(Sample(fam, ms, cycle, traced, ttff, cmd))
        if keep:
            checked[build.__name__] = (text, sql, kind) + table_rows(rows)
        ctx.after_request(cmd, traced)
        return ms

    def cycle_fn(cycle: int, traced: bool) -> float:
        total = 0.0
        for fam, builds in FAMILIES.items():
            build = builds[cycle % len(builds)]
            total += one(fam, build, cycle, traced, build.__name__ not in checked)
        return total / 1000.0

    ctx.measure(out, cycle_fn, min_cycles=MIN_CYCLES)

    # one instance of every template is checked; templates the timed
    # window did not reach run once more, untimed
    ctx.trace_enabled(False)
    for fam, builds in FAMILIES.items():
        for build in builds:
            if build.__name__ not in checked:
                one(fam, build, -1, False, True)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW ev AS SELECT * FROM read_parquet('{parquet}')")
    for name, (text, sql, kind, columns, rows) in sorted(checked.items()):
        if ctx.perturb and rows:
            rows = rows[1:]
        why = compare(kind, columns, rows, con.execute(sql).fetchall())
        out.check(name, not why, f"{text}: {why}" if why else text)
    con.close()
    out.info["events"] = n
    out.info["contexts"] = n_ctx
    served.close()
    db.close()
    return out
