"""Seeded input generators. The same seed always yields the same rows.

Events are written as one Parquet file that both the engine (through
``EventStore.append_dataframe``) and the DuckDB oracle read, so the two
sides check the very same data.
"""

from __future__ import annotations

import json

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Every generated timestamp lies in [END_TS - DAYS * 86400, END_TS): far
# enough in the past that live STOREs (server clock) land above them.
END_TS = 1_750_000_000
DAYS = 90

PLANS = ["free", "pro", "team"]
PLAN_P = [0.6, 0.3, 0.1]

# type -> (DEFINE field spec, share of events)
EVENT_TYPES = {
    "page_view": ({"page": "string", "plan": PLANS, "ms": "int"}, 0.7),
    "add_to_cart": ({"sku": "string", "plan": PLANS, "price": "int", "qty": "int"}, 0.2),
    "checkout": ({"plan": PLANS, "amount": "int", "items": "int"}, 0.1),
}
N_PAGES = 50
N_SKUS = 200


def define_text(event_type: str) -> str:
    return f"DEFINE {event_type} FIELDS {json.dumps(EVENT_TYPES[event_type][0])}"


def ctx_name(i) -> str:
    return f"u{int(i):05d}"


def _labels(prefix: str, idx: np.ndarray) -> pa.Array:
    return pc.binary_join_element_wise(prefix, pc.cast(pa.array(idx), pa.string()), "")


def events_table(seed: int, n: int, n_ctx: int, types=tuple(EVENT_TYPES),
                 days: int = DAYS) -> pa.Table:
    """`n` events of `types` (shares renormalised) over `n_ctx` contexts
    and the `days` before END_TS, as one flat table: core columns plus
    the union of payload fields (null where a type lacks the field).
    Sorted by timestamp; event ids ascend with it like the engine's
    snowflake ids."""
    rng = np.random.default_rng([seed, 1])
    shares = np.array([EVENT_TYPES[t][1] for t in types])
    kind = rng.choice(len(types), size=n, p=shares / shares.sum())
    ts = np.sort(END_TS - 1 - rng.integers(0, days * 86400, n))
    ctx = rng.integers(0, n_ctx, n)
    plan = rng.choice(len(PLANS), size=n, p=PLAN_P)
    ctx_s = pc.utf8_lpad(pc.cast(pa.array(ctx), pa.string()), 5, "0")
    cols = {
        "context_id": pc.binary_join_element_wise("u", ctx_s, ""),
        "event_type": pc.take(pa.array(list(types)), pa.array(kind)),
        "timestamp": pa.array(ts, pa.int64()),
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "plan": pc.take(pa.array(PLANS), pa.array(plan)),
    }
    is_t = {t: kind == i for i, t in enumerate(types)}

    def only(t: str, values) -> pa.Array:
        mask = pa.array(~is_t[t]) if t in is_t else pa.array(np.ones(n, bool))
        return pc.if_else(mask, pa.scalar(None, values.type), values)

    cols["page"] = only("page_view", _labels("/p", rng.integers(0, N_PAGES, n)))
    cols["ms"] = only("page_view", pa.array(rng.integers(0, 5000, n)))
    cols["sku"] = only("add_to_cart", _labels("s", rng.integers(0, N_SKUS, n)))
    cols["price"] = only("add_to_cart", pa.array(rng.integers(1, 500, n)))
    cols["qty"] = only("add_to_cart", pa.array(rng.integers(1, 6, n)))
    cols["amount"] = only("checkout", pa.array(rng.integers(1, 2000, n)))
    cols["items"] = only("checkout", pa.array(rng.integers(1, 11, n)))
    return pa.table(cols)


def write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=1 << 17)


def payload_for(event_type: str, rng: np.random.Generator) -> dict:
    """One STORE payload for `add_to_cart` or `checkout`."""
    plan = PLANS[int(rng.choice(len(PLANS), p=PLAN_P))]
    if event_type == "add_to_cart":
        return {"sku": f"s{int(rng.integers(0, N_SKUS))}", "plan": plan,
                "price": int(rng.integers(1, 500)), "qty": int(rng.integers(1, 6))}
    return {"plan": plan, "amount": int(rng.integers(1, 2000)),
            "items": int(rng.integers(1, 11))}

