"""REMEMBER / SHOW: materialized query results with incremental refresh.

Mirrors the reference's materialization design (reference:
src/engine/materialize/, src/command/handlers/show/delta/): a stored result
plus a high-water mark `(timestamp, event_id)` over the *source* events.

- `REMEMBER <query> AS name` runs the query, persists the result as
  Parquet, and records the high-water mark of the scanned source. For a
  plain aggregate query it ALSO persists mergeable per-group partial
  state (see plans/aggregates.py).
- `SHOW name` on a stale result serves first and refreshes in the
  background. Event-shaped results append: only the delta
  (`ts > hwm OR (ts = hwm AND id > hwm_id)`) is scanned and served
  beside the stored segments, and a fold writes it as a new interval
  segment — at 100 TB the difference between an incremental touch-up and
  a full rescan. Aggregate results (plain, sequence, chain, COMPARE)
  merge a delta partial aggregate into the stored state (reference:
  src/command/handlers/show/delta/refresher.rs) — a delta scan plus a
  state-sized shuffle, never a history rescan; SHOW serves the finalized
  merge and the fold publishes that same merge as the next state.
  Shapes with no incremental form (group-LIMIT aggregates, retention
  windows on event results) recompute when the high-water mark moved.
"""

from __future__ import annotations

import json
import os
import re
import threading
import weakref

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sneldb_spark.commands import ast
from sneldb_spark.commands.serde import (
    compare_from_json,
    compare_to_json,
    query_from_json,
    query_to_json,
)
from sneldb_spark.errors import MaterializationError


class Materializer:
    def __init__(self, engine, root: str, storage=None, serve_first: bool = True):
        from sneldb_spark.store.storage import LOCAL

        self.engine = engine
        self.root = os.path.join(root, "materialized")
        self.storage = storage if storage is not None else LOCAL
        # serve-then-refresh SHOW (reference parity:
        # src/command/handlers/show/orchestrator.rs:123-170 — the
        # StoredFrameStreamer spawns BEFORE the delta pipeline, so
        # time-to-first-frame is not a persist). Event-shaped results
        # (plain / sequence / chain) serve `stored-segments ∪ lazily-
        # computed-delta`; state-merge results (agg / seq-agg / chain-agg
        # / COMPARE) serve the finalize of ONE eagerly checkpointed
        # merge(pinned state, delta). Either way a background fold
        # writes and publishes the same rows the SHOW served; SHOW never
        # waits on a staged write or a publish.
        self.serve_first = serve_first
        # Fold-side segment-count bound: every refresh appends one
        # interval dir, and the serve path's stored-plan cost (file
        # listing + mergeSchema footer reads) is linear in the dir
        # count — a SHOW-every-20s service would otherwise watch its
        # time-to-first-frame creep. When a fold leaves more than this
        # many interval segments, it compacts them into a fresh base
        # (same S7 rationale as the event store's auto_compact_files).
        # None = manual compact() only.
        self.auto_compact_segments: int | None = 48
        self._fold_lock = threading.Lock()
        self._fold_threads: dict[str, threading.Thread] = {}
        # (name, exception) pairs from background folds — folds never
        # raise into the serving thread; quiesce() surfaces (and drains)
        # them, and a later successful fold for the name clears them
        self.fold_errors: list[tuple[str, Exception]] = []
        # Live serve frames per name (weak: a drained/dropped frame
        # leaves the set on GC). A serve frame pins its stored file
        # listing at build time; every data-path publish/recover passes
        # the live frames' pinned copies as keep_live so compaction can
        # run on cadence while GC spares what a slow reader still needs.
        self._serve_frames: dict[str, weakref.WeakSet] = {}
        # Optional snapshot-pinned hook (see _pin_snapshot): called once
        # per REMEMBER, right after the bootstrap's read mark is probed.
        # Lets a bulk loader that carries its own event timestamps resume
        # appending DURING the bootstrap instead of serializing around it.
        self.on_snapshot = None

    def _dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _manifest_path(self, name: str) -> str:
        return os.path.join(self._dir(name), "manifest.json")

    def exists(self, name: str) -> bool:
        return os.path.exists(self._manifest_path(name))

    def _write_manifest(self, name: str, manifest: dict) -> None:
        """Atomic manifest replace (tmp + os.replace): SHOW serves from
        the published manifest while a background fold commits a new one,
        so a reader must never see a truncated file."""
        p = self._manifest_path(name)
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, p)

    def _parallel(self, *thunks) -> list:
        """Run independent actions concurrently and return their results
        in order (each is a Spark job; actions are only sequential
        because they are called one after another — overlapping them
        back-fills the tail of one job with the next one's tasks).
        Callers pass writes (or state-merge builds) that are
        mutually independent AND whose shared inputs are already
        materialized (persisted / checkpointed / written), so no input
        is computed twice. Worker threads re-tag the caller's scheduler
        pool (local properties are per-thread). First exception wins;
        all writes are awaited either way so a failure never leaves a
        stray in-flight job writing into a directory the caller is
        about to clean up."""
        thunks = [t for t in thunks if t is not None]
        if len(thunks) <= 1:
            return [t() for t in thunks]
        from concurrent.futures import ThreadPoolExecutor

        from sneldb_spark.session import set_scheduler_pool

        try:
            pool = self.engine.spark.sparkContext.getLocalProperty(
                "spark.scheduler.pool"
            )
        except Exception:  # Spark Connect: server-side scheduling
            pool = None

        def run(t):
            if pool is not None:
                set_scheduler_pool(self.engine.spark, pool)
            return t()

        with ThreadPoolExecutor(
            max_workers=min(4, len(thunks)),
            thread_name_prefix="sneldb-mat-write",
        ) as ex:
            futs = [ex.submit(run, t) for t in thunks]
            errs = [f.exception() for f in futs]
        first = next((e for e in errs if e is not None), None)
        if first is not None:
            raise first
        return [f.result() for f in futs]

    # -- background fold machinery (serve-then-refresh SHOW) ---------------
    def _register_serve(self, name: str, frame: DataFrame) -> None:
        with self._fold_lock:
            self._serve_frames.setdefault(name, weakref.WeakSet()).add(frame)

    def pin_derived(self, name: str, parent: DataFrame, child: DataFrame) -> DataFrame:
        """Transfer a serve frame's GC pin to a frame DERIVED from it
        (e.g. a LIMIT'd SHOW). pyspark transformations keep no Python
        reference to their parent, and the registry is a WeakSet — so
        without this the parent (the only pin holder) is collected the
        moment the caller rebinds it, _pinned_lives() loses the pin, and
        a compaction publish past gc_grace_versions can GC files the
        derived plan still reads mid-drain. The child carries both the
        pinned-copy path and a strong reference to the parent (belt and
        braces: the parent may hold serve-parts state the drain path
        inspects). No-op passthrough when the parent isn't a pinned
        serve frame (fresh/non-segmented materializations)."""
        live = getattr(parent, "__sneldb_pinned_live__", None)
        if live is not None:
            child.__sneldb_pinned_live__ = live
            child.__sneldb_serve_parent__ = parent
            self._register_serve(name, child)
        return child

    def _serves_outstanding(self, name: str) -> bool:
        ws = self._serve_frames.get(name)
        return bool(ws) and len(ws) > 0

    def _fold_in_flight(self, name: str) -> bool:
        t = self._fold_threads.get(name)
        return t is not None and t.is_alive() and t is not threading.current_thread()

    def _pinned_lives(self, name: str) -> set[str]:
        """Physical copy paths still pinned by live serve frames for
        `name` — passed as keep_live to every data-path publish/recover
        so compaction GC spares them until their readers drop."""
        ws = self._serve_frames.get(name)
        return {
            p
            for f in (ws or ())
            if (p := getattr(f, "__sneldb_pinned_live__", None)) is not None
        }

    def _schedule_fold(self, name: str, fn) -> bool:
        """Start `fn` on a per-name background thread. One fold per name
        at a time: if one is in flight, skip — the serve path already
        computed its frame from the PUBLISHED state and lower bound, and
        the next stale SHOW re-schedules from wherever the running fold
        lands. Never blocks the serving thread."""
        with self._fold_lock:
            t = self._fold_threads.get(name)
            if t is not None and t.is_alive():
                return False

            def run():
                from sneldb_spark.session import set_scheduler_pool

                # bulk pool: fold jobs must not head-of-line-block the
                # serve pool's small first-frame tasks (FAIR across pools)
                set_scheduler_pool(self.engine.spark, "sneldb-bulk")
                try:
                    fn()
                    # a committed fold supersedes any earlier transient
                    # failure for this name — describe() must not report
                    # a permanently-stale error count
                    with self._fold_lock:
                        self.fold_errors = [
                            e for e in self.fold_errors if e[0] != name
                        ]
                except Exception as e:  # surfaced via quiesce()/describe()
                    with self._fold_lock:
                        self.fold_errors.append((name, e))

            t = threading.Thread(
                target=run, name=f"sneldb-mat-fold-{name}", daemon=True
            )
            self._fold_threads[name] = t
            t.start()
            return True

    def quiesce(self, name: str | None = None,
                drain: bool = True) -> list[tuple[str, Exception]]:
        """Join in-flight background folds (all names, or one) and DRAIN
        any recorded fold errors (pop-and-return: surfacing an error is
        consuming it — otherwise one transient failure makes every later
        quiesce()/describe() for that name report stale errors forever,
        and forget()+re-REMEMBER inherits the dead materialization's
        count). Lifecycle operations that delete or rewrite a
        materialization's directories (forget, compact) call this first
        so a fold never writes into a removed tree; compact passes
        drain=False — it quiesces as a side effect and must not swallow
        errors its caller never sees."""
        me = threading.current_thread()
        with self._fold_lock:
            threads = [
                t
                for n, t in self._fold_threads.items()
                if (name is None or n == name) and t is not me
            ]
        for t in threads:
            t.join()
        with self._fold_lock:
            drained = [
                e for e in self.fold_errors if name is None or e[0] == name
            ]
            if drain:
                self.fold_errors = [
                    e
                    for e in self.fold_errors
                    if not (name is None or e[0] == name)
                ]
        return drained

    # -- helpers ----------------------------------------------------------
    def _pin_snapshot(self, q) -> tuple[int, int]:
        """REMEMBER-bootstrap probe: take the source high-water mark and
        fire `on_snapshot`. Once this returns, the bootstrap's read is
        CLOSED at the mark — every later-committed row lands in the next
        delta exactly once — so a loader may resume appends immediately
        and its jobs overlap the bootstrap's (they are independent from
        here on; remember() additionally holds background compaction for
        the bootstrap's duration, so an overlapped append crossing a
        compaction threshold can never GC source files the bootstrap's
        in-flight jobs still read). Without the hook a loader carrying its own event
        timestamps must serialize around the WHOLE bootstrap: if its
        early rows committed before this probe, the mark could rise
        above rows it had not committed yet, silently dropping them from
        every delta. Fired only here (after the FULL probe — all sides
        of a COMPARE), never on refresh probes, where no such ordering
        contract exists."""
        hwm = self._source_hwm(q)
        cb = self.on_snapshot
        if cb is not None:
            cb()
        return hwm

    def _source_hwm(self, q) -> tuple[int, int]:
        """(max timestamp, max event_id) over the query's source types.
        Footer-stats + memtable probe (no Spark job) when available —
        this runs on EVERY SHOW, so it must stay metadata-cheap — with a
        full agg(max(...)) scan as the fallback. For a COMPARE the mark
        is the max across all sides (event_ids are globally monotonic
        across types — the same invariant wildcard and sequence hwms
        already rely on)."""
        if isinstance(q, ast.CompareCommand):
            marks = [self._source_hwm(s) for s in q.queries]
            return max(m[0] for m in marks), max(m[1] for m in marks)
        hwm_ts, hwm_id = -1, -1
        for et in q.sequence.event_types:
            fast = self.engine.store.source_hwm(et)
            if fast is not None:
                hwm_ts = max(hwm_ts, fast[0])
                hwm_id = max(hwm_id, fast[1])
                continue
            try:
                df = self.engine.store.read(et)
            except Exception:
                continue
            row = df.agg(
                F.max("timestamp").alias("ts"), F.max("event_id").alias("id")
            ).collect()[0]
            if row["ts"] is not None:
                hwm_ts = max(hwm_ts, row["ts"])
                hwm_id = max(hwm_id, row["id"])
        return hwm_ts, hwm_id

    def _incrementable(self, q) -> bool:
        return (
            isinstance(q, ast.QueryCommand)
            and not q.is_aggregate
            and not q.is_sequence
            and q.limit is None
        )

    def _compare_incrementable(self, c, manifest: dict) -> bool:
        """A remembered COMPARE refreshes incrementally when every side is
        a plain (non-sequence, uncapped) aggregate — each side then keeps
        its own mergeable partial state, exactly like a standalone
        aggregate REMEMBER, and only the full-outer side merge re-runs
        (group-count-sized, not scan-sized)."""
        from sneldb_spark.plans.aggregates import is_percentile

        return (
            isinstance(c, ast.CompareCommand)
            and len(c.queries) > 0
            and manifest.get("max_rows") is None
            and manifest.get("max_age_seconds") is None
            and all(
                s.is_aggregate
                and not s.is_sequence
                and s.limit is None
                and s.offset is None
                for s in c.queries
            )
            # exact percentiles merge (value-multiset state); the approx
            # sketch doesn't — route those to full recompute
            and not (
                self.engine.compiler.approx_percentiles
                and any(
                    is_percentile(a.op) for s in c.queries for a in s.aggs
                )
            )
        )

    def _seq_incrementable(self, q, manifest: dict) -> bool:
        """Non-aggregate single-link sequence results refresh by matching
        only the delta against small carried state (see _refresh_sequence).
        Excluded: USING TIME (a user field is not append-ordered, so the
        'new events have the highest ts' invariant the delta logic rests
        on would not hold), LIMIT (caps matched sequences — a delta pair
        could displace a stored one), and retention options."""
        return (
            isinstance(q, ast.QueryCommand)
            and not q.is_aggregate
            and self._seq_delta_safe(q, manifest)
        )

    def _seq_agg_incrementable(self, q, manifest: dict) -> bool:
        """Sequence AGGREGATES refresh by aggregating only the DELTA
        PAIRS into mergeable per-group state (pairs are append-only under
        server timestamps, so the same merge the plain aggregates use is
        exact over them)."""
        from sneldb_spark.plans.aggregates import is_percentile

        return (
            isinstance(q, ast.QueryCommand)
            and q.is_aggregate
            and self._seq_delta_safe(q, manifest)
            # same rule as _agg_incrementable: only the approx-percentile
            # sketch lacks a merge
            and not (
                self.engine.compiler.approx_percentiles
                and any(is_percentile(a.op) for a in q.aggs)
            )
        )

    @staticmethod
    def _seq_delta_safe(q, manifest: dict) -> bool:
        return (
            isinstance(q, ast.QueryCommand)
            and q.is_sequence
            and len(q.sequence.links) == 1
            and q.limit is None
            and q.offset is None
            and q.sequence_time_field is None
            # WITHIN is delta-safe: the as-of match runs UNFILTERED (so
            # consumed-A state stays exact) and the window filter applies
            # to emitted pairs only — see _within_pairs
            and manifest.get("max_rows") is None
            and manifest.get("max_age_seconds") is None
        )

    def _chain_incrementable(self, q, manifest: dict) -> bool:
        """Multi-link FOLLOWED BY chains refresh by stepwise delta match
        against carried per-step state: pending chains (matched through
        step i, awaiting i+1 — identity is the head event, chains are
        one-per-head) plus boundary events of each step type at the
        high-water second. WITHIN is delta-safe the same way the single
        link's is: the stepwise match runs UNFILTERED (state bookkeeping
        stays exact — an advance with a too-wide gap still consumes the
        step) and every adjacent gap filters at EMISSION only; a pending
        chain whose cursor is older than hwm-W can never emit (its next
        gap will exceed the window) and is pruned. Excluded: PRECEDED BY
        links (a backward link's candidate set is not append-bounded the
        same way), USING TIME, LIMIT/OFFSET, aggregates, retention."""
        return self._chain_delta_safe(q, manifest) and not q.is_aggregate

    def _chain_delta_safe(self, q, manifest: dict) -> bool:
        from sneldb_spark.commands.ast import FOLLOWED_BY

        return (
            isinstance(q, ast.QueryCommand)
            and q.is_sequence
            and len(q.sequence.links) > 1
            and all(k == FOLLOWED_BY for k, _ in q.sequence.links)
            and q.limit is None
            and q.offset is None
            and q.sequence_time_field is None
            and q.order_by is None
            and manifest.get("max_rows") is None
            and manifest.get("max_age_seconds") is None
            and self.engine.compiler.multi_link
        )

    @staticmethod
    def _within_chain(q, chain: DataFrame, n_steps: int) -> DataFrame:
        """WITHIN over a completed chain: every adjacent gap bounded —
        the same emission filter compile_chain applies."""
        if q.sequence_within is None:
            return chain
        for i in range(n_steps - 1):
            gap = F.abs(
                F.col(f"s{i + 1}_timestamp").cast("long")
                - F.col(f"s{i}_timestamp").cast("long")
            )
            chain = chain.where(gap <= F.lit(int(q.sequence_within)))
        return chain

    def _chain_first(self, heads: DataFrame, nxt: DataFrame, link: str,
                     cols0: list[str], cols1: list[str]) -> DataFrame:
        """Heads (unprefixed side rows) + first link -> s0_/s1_ chain."""
        from sneldb_spark.commands.ast import FOLLOWED_BY
        from sneldb_spark.plans.sequence import A_PREFIX, B_PREFIX, sequence_match

        from sneldb_spark.plans.sequence import _bq

        pairs = sequence_match(heads, nxt, link, FOLLOWED_BY)
        # one selectExpr py4j call for the whole rename (round-12 driver
        # latency: these wide projections rebuild on every refresh)
        return pairs.selectExpr(
            *[f"{_bq(A_PREFIX + c)} AS {_bq(f's0_{c}')}" for c in cols0],
            *[f"{_bq(B_PREFIX + c)} AS {_bq(f's1_{c}')}" for c in cols1],
        )

    def _chain_step(self, chain: DataFrame, nxt: DataFrame, link: str,
                    i: int, cols_next: list[str]) -> DataFrame:
        """Advance an s-prefixed chain (cursor at step i) by one link —
        the same cursor-view trick plans/sequence.py sequence_match_chain
        uses, so refresh steps are pair-for-pair the batch chain's."""
        import re as _re

        from sneldb_spark.commands.ast import FOLLOWED_BY
        from sneldb_spark.plans.sequence import A_PREFIX, B_PREFIX, sequence_match

        from sneldb_spark.plans.sequence import _bq

        ts, tie = "timestamp", "event_id"
        cursor = chain.selectExpr(
            f"{_bq(f's0_{link}')} AS {_bq(link)}",
            f"{_bq(f's{i}_{ts}')} AS {_bq(ts)}",
            f"{_bq(f's{i}_{tie}')} AS {_bq(tie)}",
            *[_bq(c) for c in chain.columns],
        )
        matched = sequence_match(
            cursor, nxt, link, FOLLOWED_BY, ts_a=ts, ts_b=ts, tie=tie
        )
        step_re = _re.compile(r"^s\d+_")
        return matched.selectExpr(
            *[
                f"{_bq(A_PREFIX + c)} AS {_bq(c)}"
                for c in cursor.columns
                if step_re.match(c)
            ],
            *[
                f"{_bq(B_PREFIX + c)} AS {_bq(f's{i + 1}_{c}')}"
                for c in cols_next
            ],
        )

    # -- batched multi-part state (round 12) --------------------------------
    # The per-step carry frames (chain pending_s{i}/boundary_{j}, sequence
    # pending_a/boundary_b) used to be one parquet directory — and one Spark
    # job + commit — EACH. At tiny-delta scale the lifecycle cost IS that
    # job count (guide §2.6/§6), so they now land in ONE partitioned write:
    # state/parts/__part=<name>/... plus a sidecar recording each part's
    # exact schema (parts may differ in schema — the union null-fills to the
    # superset and readers select the original columns back; an EMPTY part
    # writes no partition directory at all, so readers reconstruct it from
    # the sidecar schema). Legacy per-directory layouts remain readable.
    _PART_COL = "__part"
    _PARTS_SUBDIR = "parts"
    _PARTS_SIDECAR = "_state_parts.json"

    def _write_state_parts(self, state_dir: str, parts: dict[str, DataFrame]):
        """One Spark job + one commit for every carry-state part. Callers
        guarantee the parts' shared inputs are already materialized (the
        same contract the per-directory parallel writes had)."""
        d = self._live(state_dir)
        os.makedirs(d, exist_ok=True)
        tagged = None
        schemas: dict[str, dict] = {}
        for part, df in parts.items():
            schemas[part] = json.loads(df.schema.json())
            t = df.select(F.lit(part).alias(self._PART_COL), "*")
            tagged = (
                t if tagged is None
                else tagged.unionByName(t, allowMissingColumns=True)
            )
        tagged.write.mode("overwrite").partitionBy(self._PART_COL).parquet(
            os.path.join(d, self._PARTS_SUBDIR)
        )
        tmp = os.path.join(d, self._PARTS_SIDECAR + ".tmp")
        with open(tmp, "w") as f:
            json.dump(schemas, f)
        os.replace(tmp, os.path.join(d, self._PARTS_SIDECAR))

    def _state_part_schema_at(self, d: str, part: str):
        p = os.path.join(d, self._PARTS_SIDECAR)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            schemas = json.load(f)
        if part not in schemas:
            return None
        from pyspark.sql.types import StructType

        return StructType.fromJson(schemas[part])

    def _state_part_exists_at(self, d: str, part: str) -> bool:
        if os.path.isdir(
            os.path.join(d, self._PARTS_SUBDIR, f"{self._PART_COL}={part}")
        ):
            return True
        if self._state_part_schema_at(d, part) is not None:
            return True  # written empty: no partition dir, sidecar only
        return os.path.isdir(os.path.join(d, part))  # legacy layout

    def _read_state_part_at(self, d: str, part: str) -> DataFrame:
        """Read one carry-state part from a RESOLVED state dir: batched
        layout first (original schema restored via the sidecar; an empty
        part reconstructs as an empty local relation), then the legacy
        per-directory layout."""
        spark = self.engine.spark
        pdir = os.path.join(d, self._PARTS_SUBDIR, f"{self._PART_COL}={part}")
        schema = self._state_part_schema_at(d, part)
        if os.path.isdir(pdir):
            df = spark.read.parquet(pdir)
            if schema is not None:
                df = df.select(*[f.name for f in schema.fields])
            return df
        legacy = os.path.join(d, part)
        if os.path.isdir(legacy):
            return spark.read.parquet(legacy)
        if schema is not None:
            return spark.createDataFrame([], schema)
        raise FileNotFoundError(
            f"state part {part!r} does not exist under {d}"
        )

    def _read_state_part(self, state_dir: str, part: str) -> DataFrame:
        return self._read_state_part_at(self._live(state_dir), part)

    def _remember_chain(self, name: str, q, path: str) -> tuple[int, int]:
        """Initial chain materialization: stepwise match, store completed
        chains as the segment base, carry per-step state."""
        completed, n, hwm, cleanup, write_state = self._chain_initial_match(
            name, q
        )
        # base FIRST: it materializes every persisted chain step, so the
        # parallel state writes below are pure cached-read jobs
        self._within_chain(q, completed, n).write.mode("overwrite").parquet(
            os.path.join(path, "base")
        )
        write_state()
        cleanup()
        return hwm

    def _remember_chain_agg(self, name: str, q, manifest: dict,
                            path: str) -> tuple[int, int]:
        """Initial chain-AGGREGATE materialization: the stepwise match
        once, mergeable partial state over the (window-filtered)
        completed chains, result from the state's finalize — the same
        one-estimator rule every aggregate materialization follows."""
        completed, n, hwm, cleanup, write_state = self._chain_initial_match(
            name, q
        )
        state, keys = self.engine.compiler.compile_chain_aggregate_partial(
            q, self._within_chain(q, completed, n)
        )
        spath = self._seq_agg_state_path(name)
        # Materialize the agg state ONCE (eager localCheckpoint — this
        # also materializes the persisted chain steps), then run the
        # state write, the finalize write, and the per-step carry state
        # all concurrently: every write consumes already-materialized
        # rows, and finalize reads the same rows the state dir holds
        # (one-estimator rule), just without the write -> read-back leg.
        state_ck = state.localCheckpoint(eager=True)
        manifest["state_keys"] = keys
        # write_state lands the state dir's consumed-hwm marker
        self._parallel(
            lambda: state_ck.write.mode("overwrite").parquet(spath),
            lambda: self._finalize(q, keys, state_ck)
            .write.mode("overwrite").parquet(path),
            write_state,
        )
        cleanup()
        return hwm

    def _chain_initial_match(self, name: str, q):
        """Stepwise full match (capturing every intermediate); returns
        (completed chains [persisted], n_steps, hwm, cleanup,
        write_state). `write_state` writes the per-step pending/boundary
        state dirs CONCURRENTLY (they are mutually independent small
        frames off the persisted chain steps) — callers invoke it after
        their own result write has materialized the persisted chains, so
        the parallel writes are pure cached-read jobs."""
        hwm_ts, hwm_id = self._pin_snapshot(q)
        frames, types, kinds, link = self.engine.compiler.chain_parts(
            q, upper=(hwm_ts, hwm_id)
        )
        n = len(frames)
        cols = [f.columns for f in frames]
        chains = [
            self._chain_first(frames[0], frames[1], link, cols[0], cols[1]).persist()
        ]
        for i in range(1, n - 1):
            chains.append(
                self._chain_step(chains[-1], frames[i + 1], link, i, cols[i + 1])
                .persist()
            )
        gap = q.sequence_within

        def _pend(i: int) -> DataFrame:
            if i == 0:
                pend = frames[0].join(
                    chains[0].select(F.col("s0_event_id").alias("event_id")),
                    "event_id", "left_anti",
                )
                cursor_ts = "timestamp"
            else:
                pend = chains[i - 1].join(
                    chains[i].select("s0_event_id"), "s0_event_id", "left_anti"
                )
                cursor_ts = f"s{i}_timestamp"
            if gap is not None:
                pend = pend.where(
                    F.col(cursor_ts).cast("long") >= F.lit(hwm_ts - int(gap))
                )
            return pend

        def write_state():
            # every per-step carry frame in ONE partitioned write (one
            # Spark job + one commit instead of 2n-2 of each)
            parts: dict[str, DataFrame] = {
                f"pending_s{i}": _pend(i) for i in range(n - 1)
            }
            for j in range(1, n):
                parts[f"boundary_{j}"] = frames[j].where(
                    F.col("timestamp").cast("long") == F.lit(hwm_ts)
                )
            self._write_state_parts(self._state_path(name), parts)
            self._write_state_hwm(self._state_path(name), hwm_ts, hwm_id)

        def cleanup():
            for c in chains:
                c.unpersist()

        return chains[-1], n, (hwm_ts, hwm_id), cleanup, write_state

    def _refresh_chain(self, name: str, q, manifest: dict, path: str,
                       cur: tuple[int, int], served: dict | None = None):
        """Incremental chain refresh: per-step delta candidates
        (boundary ∪ (lower, cur] slice), stepwise advance of carried +
        newly-formed chains, append completed chains as an interval
        segment, swap the per-step state as one unit. A carried chain
        awaiting step i had NO eligible candidate at the old mark (the
        match is unconditional — no window), so its first at-or-after
        among boundary ∪ delta IS its first overall; same-second ties
        ride in via the boundary frames, exactly like the single link.
        With a `served` bundle at the same lower bound, the fold writes
        the serve path's checkpointed frames — no second advance."""
        lower = self._published_lower(manifest, self._state_path(name))
        if tuple(lower) >= tuple(cur):
            return  # an earlier (crashed) fold already appended this slice
        if served is not None and tuple(served["lower"]) == tuple(lower):
            completed, new_pend, cands, n = (
                served["completed"], served["new_pend"],
                served["cands"], served["n"],
            )
        else:
            lower, completed, new_pend, cands, n = self._chain_delta_match(
                name, q, manifest, cur
            )
        seg = os.path.join(self._live(path), f"d_{lower[0]}_{lower[1]}")
        state = self._state_path(name)
        nxt = self.storage.stage_path(state)
        self.storage.remove_tree(nxt)
        # segment FIRST; a crashed rerun overwrites the same slice
        completed.write.mode("overwrite").parquet(seg)
        self._write_chain_next_state(nxt, q, new_pend, cands, n, cur)
        self._write_state_hwm(nxt, *cur)
        self.storage.publish_dir(state)

    def _refresh_chain_agg(self, name: str, q, manifest: dict, path: str,
                           cur: tuple[int, int], served: dict | None = None):
        """Incremental chain-AGGREGATE refresh: partial-aggregate only
        the delta's completed (window-filtered) chains, merge into stored
        per-group state, finalize — plus the same per-step pending/
        boundary swap the plain chain refresh does (_chain_agg_bundle).
        The synchronous SHOW and the background fold both run this."""
        self._refresh_merged(
            self._chain_agg_bundle, name, q, manifest, path, cur, served
        )

    def _chain_agg_bundle(self, name: str, q, manifest: dict,
                          cur: tuple[int, int]) -> dict:
        def delta(d: str, lower: tuple[int, int]):
            parts = self.engine.compiler.chain_parts(q, upper=cur)
            state = {
                p: self._read_state_part(d, p)
                for p in self._chain_state_parts(len(parts[0]))
            }
            completed, new_pend, cands, n = self._chain_delta_frames(
                q, cur, lower, state, parts
            )
            delta_state, _ = self.engine.compiler.compile_chain_aggregate_partial(
                q, completed
            )
            return delta_state, [
                lambda nxt: self._write_chain_next_state(
                    nxt, q, new_pend, cands, n, cur
                )
            ]

        return self._merge_bundle(
            self._state_path(name), manifest, cur, q.aggs,
            manifest["state_keys"], delta, sub="agg_state",
        )

    def _write_chain_next_state(self, nxt: str, q, new_pend, cands, n: int,
                                cur: tuple[int, int]):
        """Every per-step pending/boundary frame in ONE partitioned write
        (their shared inputs — the stepwise advance checkpoints — were
        materialized by the caller's segment or merge)."""
        cur_ts = cur[0]
        gap = q.sequence_within
        parts: dict[str, DataFrame] = {}
        for i, p in enumerate(new_pend):
            if gap is not None:
                cursor_ts = "timestamp" if i == 0 else f"s{i}_timestamp"
                p = p.where(
                    F.col(cursor_ts).cast("long") >= F.lit(cur_ts - int(gap))
                )
            parts[f"pending_s{i}"] = p
        for j in range(1, n):
            parts[f"boundary_{j}"] = cands[j].where(
                F.col("timestamp").cast("long") == F.lit(cur_ts)
            )
        self._write_state_parts(nxt, parts)

    @staticmethod
    def _chain_state_parts(n: int) -> list[str]:
        """Carry-state part names of an n-step chain."""
        return [f"pending_s{i}" for i in range(n - 1)] + [
            f"boundary_{j}" for j in range(1, n)
        ]

    def _chain_delta_match(self, name: str, q, manifest: dict,
                           cur: tuple[int, int]):
        """The stepwise delta advance against the PUBLISHED state paths
        (fold/sync path — the serve path runs the same builder over
        pinned snapshots); returns (lower, completed [window-filtered],
        new_pend frames, cands, n). The per-step advances are GC-scoped
        lazy localCheckpoints."""
        sd = self._state_path(name)
        lower = self._published_lower(manifest, sd)
        parts = self.engine.compiler.chain_parts(q, upper=cur)
        state = {
            p: self._read_state_part(sd, p)
            for p in self._chain_state_parts(len(parts[0]))
        }
        completed, new_pend, cands, n = self._chain_delta_frames(
            q, cur, lower, state, parts
        )
        return lower, completed, new_pend, cands, n

    def _chain_agg_incrementable(self, q, manifest: dict) -> bool:
        """Chain AGGREGATES: completed chains are append-only per refresh
        (one emission per head, window filter applied pre-aggregation),
        so delta chains partial-aggregate and merge exactly like the
        single-link sequence aggregates."""
        from sneldb_spark.plans.aggregates import is_percentile

        return (
            self._chain_delta_safe(q, manifest)
            and q.is_aggregate
            and not (
                self.engine.compiler.approx_percentiles
                and any(is_percentile(a.op) for a in q.aggs)
            )
        )

    def _agg_incrementable(self, q, manifest: dict) -> bool:
        """Plain aggregates refresh by partial-state merge. Excluded:
        sequence aggregates (the match itself isn't mergeable), LIMIT
        (caps *groups*; a delta could add groups that should compete),
        and retention options (they filter event-shaped rows, not
        groups)."""
        from sneldb_spark.plans.aggregates import is_percentile

        return (
            isinstance(q, ast.QueryCommand)
            and q.is_aggregate
            and not q.is_sequence
            and q.limit is None
            and q.offset is None
            and manifest.get("max_rows") is None
            and manifest.get("max_age_seconds") is None
            # exact percentiles carry a mergeable value-multiset state;
            # the approx sketch exposes no merge — full recompute there
            and not (
                self.engine.compiler.approx_percentiles
                and any(is_percentile(a.op) for a in q.aggs)
            )
        )

    def _state_path(self, name: str) -> str:
        return os.path.join(self._dir(name), "state")

    def _live(self, path: str) -> str:
        """Physical location of a publish-managed directory's live copy
        (storage.resolve): identity on LocalStorage, pointer target on an
        object-store backend. Resolved at USE time, never cached across a
        publish."""
        return self.storage.resolve(path)

    def _read_segments(self, path: str):
        """Sequence (event-shaped) results are a directory of append-only
        interval segments; recursiveFileLookup reads them all (and reads
        a legacy flat layout identically)."""
        return (
            self.engine.spark.read.option("recursiveFileLookup", "true")
            .option("mergeSchema", "true")
            .parquet(self._live(path))
        )

    def _seq_agg_state_path(self, name: str) -> str:
        return os.path.join(self._live(self._state_path(name)), "agg_state")

    def _within_pairs(self, q, pairs: DataFrame) -> DataFrame:
        """The WITHIN conversion-window filter over a matched-pair frame
        (exact: the as-of match picked the closest candidate). Applied to
        EMITTED pairs only — carry state must come from the UNFILTERED
        match, because an A whose first at-or-after B fell outside the
        window is CONSUMED (every later B is farther), not pending."""
        from sneldb_spark.plans.sequence import A_PREFIX, B_PREFIX

        return self.engine.compiler._apply_within(pairs, q, A_PREFIX, B_PREFIX)

    def _seq_carry_state(
        self, a_frame: DataFrame, b_frame: DataFrame, kind: str, link: str,
        pairs: DataFrame, hwm_ts: int, max_gap: int | None = None,
    ) -> tuple[DataFrame, DataFrame]:
        """(pending A's, boundary B's) to carry for the next delta match.
        `pairs` must cover every A in `a_frame` that is matched —
        UNFILTERED by any WITHIN window (full pairs at REMEMBER; just the
        new pairs at refresh, where carried pending already excludes
        previously-matched A's). With a window, pending A's older than
        the window relative to the high-water mark are dropped: any
        future B (ts > hwm) would miss their window, and dropping them
        has the same outcome as the consumed-then-filtered path."""
        from sneldb_spark.commands.ast import FOLLOWED_BY
        from sneldb_spark.plans.sequence import A_PREFIX

        if kind == FOLLOWED_BY:
            pending = a_frame.join(
                pairs.select(F.col(A_PREFIX + "event_id").alias("event_id")),
                "event_id",
                "left_anti",
            )
            if max_gap is not None:
                pending = pending.where(
                    F.col("timestamp").cast("long") >= F.lit(hwm_ts - max_gap)
                )
            boundary = b_frame.where(
                F.col("timestamp").cast("long") == F.lit(hwm_ts)
            )
        else:
            pending = a_frame.where(F.lit(False))
            boundary = self._preceded_state(b_frame, link, hwm_ts)
        return pending, boundary

    @staticmethod
    def _delta_slice(df: DataFrame, hwm_ts: int, hwm_id: int) -> DataFrame:
        from sneldb_spark.plans.filters import hwm_after

        return df.where(hwm_after(hwm_ts, hwm_id))

    def _seq_sides(self, q, upper: tuple[int, int] | None = None):
        """sequence_parts with the read side optionally CLOSED at the
        just-probed high-water mark: rows racing in after the probe are
        excluded from this materialization pass and picked up exactly
        once by the next delta — this is what makes the agg-state merge
        (pure addition, no dedup possible) race-safe."""
        from sneldb_spark.plans.filters import hwm_at_or_before

        a, b, kind, link, ts_a, ts_b = self.engine.compiler.sequence_parts(q)
        if upper is not None:
            bound = hwm_at_or_before(*upper)
            a, b = a.where(bound), b.where(bound)
        return a, b, kind, link, ts_a, ts_b

    def _seq_delta_candidates(
        self, sd: str, q, lower: tuple[int, int], upper: tuple[int, int]
    ):
        """(a_cand, b_cand, kind, link): the carried state in state dir
        `sd` unioned with the (lower, upper]-bounded delta of each side —
        the full candidate set for an incremental re-match."""
        a, b, kind, link, _ts_a, _ts_b = self._seq_sides(q, upper=upper)
        a_cand = self._read_state_part(sd, "pending_a").unionByName(
            self._delta_slice(a, *lower), allowMissingColumns=True
        )
        b_cand = self._read_state_part(sd, "boundary_b").unionByName(
            self._delta_slice(b, *lower), allowMissingColumns=True
        )
        return a_cand, b_cand, kind, link

    @staticmethod
    def _preceded_state(b: DataFrame, link_field: str, hwm_ts: int) -> DataFrame:
        """PRECEDED BY carries two B rows per link group: the latest B
        overall (what a future A with a later ts pairs with) and the
        latest B strictly before the high-water second (what a future A
        landing exactly ON that second pairs with, since its own second
        is excluded by strictness). Everything else is unreachable by any
        future A — server timestamps are append-ordered."""
        from pyspark.sql import Window

        w = Window.partitionBy(link_field).orderBy(
            F.col("timestamp").cast("long").desc(), F.col("event_id").desc()
        )
        last = (
            b.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )
        pre = (
            b.where(F.col("timestamp").cast("long") < F.lit(hwm_ts))
            .withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )
        return last.unionByName(pre).dropDuplicates(["event_id"])

    def _swap_in(self, df: DataFrame, path: str):
        """Overwrite `path` with `df` via write-to-staging + publish:
        a reader never sees a half-written directory, and there is no
        crash window with zero readable copies (store/storage.py
        publish protocol; recover_dir in show() repairs a mid-publish
        crash)."""
        df.write.mode("overwrite").parquet(self.storage.stage_path(path))
        self.storage.publish_dir(path)

    def _apply_retention(self, df: DataFrame, manifest: dict) -> DataFrame:
        """Retention per the reference's materialization limits: keep rows
        no older than max_age_seconds, and at most max_rows (newest first).
        Only meaningful for event-shaped (non-aggregate) results."""
        max_age = manifest.get("max_age_seconds")
        max_rows = manifest.get("max_rows")
        if "timestamp" not in df.columns:
            return df
        if max_age is not None:
            import time as _time

            cutoff = int(_time.time()) - int(max_age)
            df = df.where(F.col("timestamp") >= F.lit(cutoff))
        if max_rows is not None:
            df = (
                df.orderBy(F.col("timestamp").desc(), F.col("event_id").desc())
                .limit(int(max_rows))
            )
        return df

    # -- REMEMBER ---------------------------------------------------------
    def remember(
        self,
        name: str,
        q: ast.QueryCommand,
        max_rows: int | None = None,
        max_age_seconds: int | None = None,
    ):
        """REMEMBER bootstrap. Runs under the store's compaction hold: the
        on_snapshot hook lets a loader overlap appends with the bootstrap,
        and an overlapped append can cross a compaction threshold — but a
        compaction publish deletes the superseded live copy (keep_live is
        ignored by the local backend), which would fail the bootstrap's
        in-flight source reads with missing files. The hold defers
        background rewrites until the bootstrap's last source read is
        done; deferred types compact right after."""
        import contextlib

        store = getattr(self.engine, "store", None)
        hold = (
            store.hold_compaction()
            if store is not None and hasattr(store, "hold_compaction")
            else contextlib.nullcontext()
        )
        with hold:
            return self._remember_impl(name, q, max_rows, max_age_seconds)

    def _remember_impl(
        self,
        name: str,
        q: ast.QueryCommand,
        max_rows: int | None = None,
        max_age_seconds: int | None = None,
    ):
        if self.exists(name):
            raise MaterializationError(f"materialization {name!r} already exists")
        is_compare = isinstance(q, ast.CompareCommand)
        manifest = {
            "name": name,
            "query": compare_to_json(q) if is_compare else query_to_json(q),
            "hwm_ts": -1,
            "hwm_id": -1,
            "max_rows": max_rows,
            "max_age_seconds": max_age_seconds,
        }
        path = os.path.join(self._dir(name), "data")
        if is_compare:
            if self._compare_incrementable(q, manifest):
                # manifest hwm = the mark the side reads were closed at,
                # so rows racing in mid-materialization land in the next
                # delta exactly once
                hwm_ts, hwm_id = self._remember_compare(name, q, manifest, path)
            else:
                # probe FIRST, compile with the read closed at the probed
                # mark: a row racing in after the probe is excluded from
                # this result and lands in the next refresh exactly once —
                # probing after the write would record it as consumed
                # while it is absent from the stored rows.
                hwm_ts, hwm_id = self._pin_snapshot(q)
                self._apply_retention(
                    self.engine.compiler.compile(q, upper=(hwm_ts, hwm_id)),
                    manifest,
                ).write.mode("overwrite").parquet(path)
            manifest["hwm_ts"], manifest["hwm_id"] = hwm_ts, hwm_id
            self._write_manifest(name, manifest)
            return self.engine.spark.read.parquet(path).count()
        if self._agg_incrementable(q, manifest):
            # Materialize the RESULT from the partial state's finalize so
            # the remembered values and every later state-merge refresh go
            # through the one estimator — with approx COUNT UNIQUE the
            # query path (approx_count_distinct) and the sketch estimate
            # differ slightly, and a refresh must never silently change
            # which one the user is looking at.
            hwm = self._pin_snapshot(q)
            # read closed at the probed mark: a row racing in lands in
            # the next delta exactly once, never in both
            state, keys = self.engine.compiler.compile_aggregate_partial(
                q, upper=hwm
            )
            # Materialize the partial state ONCE (eager localCheckpoint),
            # then write the state dir and the finalized result
            # concurrently — both writes consume the same materialized
            # rows, so the one-estimator rule holds exactly as it did
            # when finalize re-read the just-written state files, without
            # the sequential write -> read-back -> write chain (two extra
            # scheduler turnarounds on tiny grouped state).
            state_ck = state.localCheckpoint(eager=True)
            manifest["state_keys"] = keys

            def _write_agg_state():
                state_ck.write.mode("overwrite").parquet(
                    self._state_path(name)
                )
                self._write_state_hwm(self._state_path(name), *hwm)

            self._parallel(
                _write_agg_state,
                lambda: self._finalize(q, keys, state_ck)
                .write.mode("overwrite").parquet(path),
            )
            manifest["hwm_ts"], manifest["hwm_id"] = hwm
            self._write_manifest(name, manifest)
            return self.engine.spark.read.parquet(path).count()
        elif self._incrementable(q) and max_rows is None and max_age_seconds is None:
            # retention-free event materializations use the append-only
            # segment layout from day one: REMEMBER writes data/base with
            # the read closed at the probed mark, every refresh appends an
            # interval segment, and a marker file inside data/ carries the
            # consumed hwm (no multi-part state, so no swap machinery).
            from sneldb_spark.plans.filters import hwm_at_or_before

            hwm_ts, hwm_id = self._pin_snapshot(q)
            base = self.engine.compiler.compile_query(q).where(
                hwm_at_or_before(hwm_ts, hwm_id)
            )
            base.write.mode("overwrite").parquet(os.path.join(path, "base"))
            self._write_state_hwm(path, hwm_ts, hwm_id)
            manifest["segments"] = True
            manifest["hwm_ts"], manifest["hwm_id"] = hwm_ts, hwm_id
            self._write_manifest(name, manifest)
            return self._read_segments(path).count()
        elif self._chain_agg_incrementable(q, manifest):
            hwm_ts, hwm_id = self._remember_chain_agg(name, q, manifest, path)
            manifest["seq_state"] = True
            manifest["chain_steps"] = len(q.sequence.event_types)
            manifest["hwm_ts"], manifest["hwm_id"] = hwm_ts, hwm_id
            self._write_manifest(name, manifest)
            return self.engine.spark.read.parquet(path).count()
        elif self._chain_incrementable(q, manifest):
            hwm_ts, hwm_id = self._remember_chain(name, q, path)
            manifest["seq_state"] = True
            manifest["chain_steps"] = len(q.sequence.event_types)
            manifest["hwm_ts"], manifest["hwm_id"] = hwm_ts, hwm_id
            self._write_manifest(name, manifest)
            return self._read_segments(path).count()
        elif self._seq_agg_incrementable(q, manifest):
            hwm_ts, hwm_id = self._remember_sequence_agg(name, q, manifest, path)
            manifest["seq_state"] = True
            manifest["hwm_ts"], manifest["hwm_id"] = hwm_ts, hwm_id
            self._write_manifest(name, manifest)
            return self.engine.spark.read.parquet(path).count()
        elif self._seq_incrementable(q, manifest):
            hwm_ts, hwm_id = self._remember_sequence(name, q, path)
            manifest["seq_state"] = True
            manifest["hwm_ts"], manifest["hwm_id"] = hwm_ts, hwm_id
            self._write_manifest(name, manifest)
            return self._read_segments(path).count()
        else:
            # same probe-then-closed-read ordering as the COMPARE branch
            hwm_ts, hwm_id = self._pin_snapshot(q)
            df = self._apply_retention(
                self.engine.compiler.compile_query(q, upper=(hwm_ts, hwm_id)),
                manifest,
            )
            df.write.mode("overwrite").parquet(path)
        manifest["hwm_ts"], manifest["hwm_id"] = hwm_ts, hwm_id
        self._write_manifest(name, manifest)
        return self.engine.spark.read.parquet(path).count()

    def _remember_sequence(self, name: str, q, path: str) -> tuple[int, int]:
        """Initial sequence materialization: run the full match, then
        carry (a) the A rows still awaiting a match (FOLLOWED BY — the
        state the reference's delta refresher shape calls 'open heads';
        PRECEDED BY needs none, an old A can never gain a strictly-earlier
        B) and (b) the small boundary-B rows a future delta A could pair
        with. The read side is CLOSED at the pre-probed high-water mark,
        so a row racing in mid-materialization is excluded here and
        picked up exactly once by the next delta (there is no row-level
        dedup — the bounded slices are what keep pairs unique)."""
        from sneldb_spark.plans.sequence import sequence_match

        hwm_ts, hwm_id = self._pin_snapshot(q)
        a, b, kind, link, ts_a, ts_b = self._seq_sides(q, upper=(hwm_ts, hwm_id))
        # UNFILTERED match: WITHIN applies to the emitted pairs only;
        # carry state needs the raw match (window-missed A's are consumed)
        pairs = sequence_match(a, b, link, kind, ts_a=ts_a, ts_b=ts_b).persist()
        self._within_pairs(q, pairs).write.mode("overwrite").parquet(
            os.path.join(path, "base")
        )
        pending, boundary = self._seq_carry_state(
            a, b, kind, link, pairs, hwm_ts, max_gap=q.sequence_within
        )
        # both carry frames read the persisted match (materialized by the
        # base write above): one partitioned write, one job + commit
        self._write_state_parts(
            self._state_path(name),
            {"pending_a": pending, "boundary_b": boundary},
        )
        pairs.unpersist()
        self._write_state_hwm(self._state_path(name), hwm_ts, hwm_id)
        return hwm_ts, hwm_id

    def _remember_sequence_agg(self, name: str, q, manifest: dict,
                               path: str) -> tuple[int, int]:
        """Initial sequence-AGGREGATE materialization: run the full
        match once (persisted for the duration), store mergeable partial
        state over the pairs plus the sequence carry state, and derive
        the visible result from the state's finalize — the same
        one-estimator rule the plain aggregate path follows."""
        from sneldb_spark.plans.sequence import sequence_match

        hwm_ts, hwm_id = self._pin_snapshot(q)
        a, b, kind, link, ts_a, ts_b = self._seq_sides(q, upper=(hwm_ts, hwm_id))
        pairs = sequence_match(a, b, link, kind, ts_a=ts_a, ts_b=ts_b).persist()
        try:
            state, keys = self.engine.compiler.compile_sequence_aggregate_partial(
                q, self._within_pairs(q, pairs)
            )
            spath = self._seq_agg_state_path(name)
            # Materialize the partial state ONCE (eager localCheckpoint —
            # this also materializes the persisted match), then run the
            # state write, the finalize write, and both carry-state
            # writes concurrently: all four consume materialized rows,
            # and finalize reads exactly the rows the state dir holds
            # (one-estimator rule) without the write -> read-back leg.
            state_ck = state.localCheckpoint(eager=True)
            manifest["state_keys"] = keys
            pending, boundary = self._seq_carry_state(
                a, b, kind, link, pairs, hwm_ts, max_gap=q.sequence_within
            )
            self._parallel(
                lambda: state_ck.write.mode("overwrite").parquet(spath),
                lambda: self._finalize(q, keys, state_ck)
                .write.mode("overwrite").parquet(path),
                lambda: self._write_state_parts(
                    self._state_path(name),
                    {"pending_a": pending, "boundary_b": boundary},
                ),
            )
            self._write_state_hwm(self._state_path(name), hwm_ts, hwm_id)
        finally:
            pairs.unpersist()
        return hwm_ts, hwm_id

    def _refresh_sequence(self, name: str, q, manifest: dict, path: str,
                          cur: tuple[int, int], served: dict | None = None):
        """Incremental sequence SHOW: match ONLY (pending A's + delta A's)
        against (boundary B's + delta B's) — never the history. Append-
        ordered server timestamps make this exact: a stored pair can
        never be displaced by later events (FOLLOWED BY keeps the first
        qualifying B; PRECEDED BY's strict 'before' excludes everything
        new), so the delta can only ADD pairs for previously-unmatched or
        new A's, whose candidate B's are exactly the carried state plus
        the delta (boundary-second ties included). Every output plan
        executes against the OLD directories; the result is then replaced
        and the state dir published as one unit (storage.publish_dir)."""
        from sneldb_spark.plans.sequence import sequence_match

        cur_ts, _cur_id = cur
        # The in-state marker overrides a manifest that a crash left stale
        # (same recovery contract as the aggregate path).
        lower = self._published_lower(manifest, self._state_path(name))
        if tuple(lower) >= tuple(cur):
            return  # an earlier (crashed) fold already appended this slice
        if served is not None and tuple(served["lower"]) == tuple(lower):
            # fold from the served bundle: the as-of match was built
            # (and lazily checkpointed) by the serve path — write those
            # rows instead of re-running the match
            a_cand, b_cand = served["a_cand"], served["b_cand"]
            kind, link = served["kind"], served["link"]
            new_pairs = served["pairs"]
        else:
            a_cand, b_cand, kind, link = self._seq_delta_candidates(
                self._state_path(name), q, lower, cur
            )
            new_pairs = sequence_match(a_cand, b_cand, link, kind).localCheckpoint(
                eager=False
            )

        new_pending, new_boundary = self._seq_carry_state(
            a_cand, b_cand, kind, link, new_pairs, cur_ts,
            max_gap=q.sequence_within,
        )

        # APPEND-ONLY result: the delta pairs land in an interval-named
        # segment dir (deterministic for this (lower, cur] slice, so a
        # crashed refresh that reruns OVERWRITES the same segment instead
        # of duplicating it) — refresh IO scales with the delta, never
        # with the accumulated result. The stored history is never read
        # or rewritten.
        seg = os.path.join(self._live(path), f"d_{lower[0]}_{lower[1]}")
        state = self._state_path(name)
        nxt = self.storage.stage_path(state)
        self.storage.remove_tree(nxt)
        # segment FIRST: until the state publish lands, a rerun recomputes
        # the same slice and overwrites this segment idempotently (it also
        # materializes the checkpointed match the carry writes read)
        self._within_pairs(q, new_pairs).write.mode("overwrite").parquet(seg)
        self._write_state_parts(
            nxt, {"pending_a": new_pending, "boundary_b": new_boundary}
        )
        self._write_state_hwm(nxt, cur[0], cur[1])
        # Publish the state as ONE unit (store/storage.py protocol — the
        # same swap every result dir uses; formerly a bespoke
        # .next/_COMPLETE rename pair). Crash analysis: before the
        # publish, everything is old and a rerun redoes the delta
        # idempotently (the in-state hwm marker plus the interval-named
        # segment overwrite make re-execution safe for every refresh
        # shape — there is NO row-level dedup, so that idempotence is
        # load-bearing); a crash inside the publish is repaired by
        # recover_dir in show(), restoring the OLD state, and the same
        # idempotent rerun re-derives the delta.
        self.storage.publish_dir(state)

    def _refresh_sequence_agg(self, name: str, q, manifest: dict, path: str,
                              cur: tuple[int, int], served: dict | None = None):
        """Incremental sequence-aggregate refresh: compute the DELTA
        PAIRS exactly as the event-shaped refresh does, partial-aggregate
        only them, merge into the stored per-group state, finalize
        (_seq_agg_bundle). Exact because the pair set is append-only (see
        _refresh_sequence) and every aggregate op merges over disjoint
        row sets. The synchronous SHOW and the background fold both run
        this."""
        self._refresh_merged(
            self._seq_agg_bundle, name, q, manifest, path, cur, served
        )

    def _seq_agg_bundle(self, name: str, q, manifest: dict,
                        cur: tuple[int, int]) -> dict:
        from sneldb_spark.plans.sequence import sequence_match

        def delta(d: str, lower: tuple[int, int]):
            a_cand, b_cand, kind, link = self._seq_delta_candidates(
                d, q, lower, cur
            )
            # lazily checkpointed: the merge below computes it once, and
            # the fold's carry-state write reuses the blocks
            pairs = sequence_match(a_cand, b_cand, link, kind).localCheckpoint(
                eager=False
            )
            delta_state, _ = self.engine.compiler.compile_sequence_aggregate_partial(
                q, self._within_pairs(q, pairs)
            )
            pending, boundary = self._seq_carry_state(
                a_cand, b_cand, kind, link, pairs, cur[0],
                max_gap=q.sequence_within,
            )
            return delta_state, [
                lambda nxt: self._write_state_parts(
                    nxt, {"pending_a": pending, "boundary_b": boundary}
                )
            ]

        return self._merge_bundle(
            self._state_path(name), manifest, cur, q.aggs,
            manifest["state_keys"], delta, sub="agg_state",
        )

    def _write_state_hwm(self, state_dir: str, hwm_ts: int, hwm_id: int):
        """Underscore-prefixed so Spark's parquet listing ignores it;
        rides inside the state dir so it swaps atomically with it.
        Resolves: callers pass logical live dirs AND physical staging
        dirs alike (resolve is identity on the latter)."""
        d = self._live(state_dir)
        os.makedirs(d, exist_ok=True)
        # atomic replace: the serve-first path reads this marker while a
        # background fold advances it
        tmp = os.path.join(d, "_hwm.json.tmp")
        with open(tmp, "w") as f:
            json.dump({"ts": int(hwm_ts), "id": int(hwm_id)}, f)
        os.replace(tmp, os.path.join(d, "_hwm.json"))

    def _read_state_hwm(self, state_dir: str):
        p = os.path.join(self._live(state_dir), "_hwm.json")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            d = json.load(f)
        return d["ts"], d["id"]

    # -- state-merge shapes: agg, seq-agg, chain-agg, COMPARE ----------------
    # One refresh body per shape, run by the synchronous SHOW and by the
    # background fold alike. A bundle is built against ONE published
    # state snapshot (_snapshot): `lower` is that snapshot's consumed
    # mark, `merged` the merge of its partial state with the
    # (lower, cur] delta, eagerly localCheckpointed, and `writes` the
    # staged writes of the next state dir (merged state first, then any
    # carry state). A serve-first SHOW returns the finalize of `merged`
    # and hands the bundle to the fold, which writes those same rows as
    # the next state and result — one estimator by construction — unless
    # a publish moved the snapshot under it, in which case it rebuilds.

    def _snapshot(self, state_dir: str, manifest: dict, build):
        """build(d, lower) against one resolved published copy `d` of
        `state_dir`, lower = max(manifest hwm, d's marker). A concurrent
        fold's publish can flip the pointer and GC the copy we resolved
        mid-read (the grace window is a knob; gc_grace_versions=0 GCs
        immediately) — the documented reader contract is re-resolve and
        retry (docs/scale.md read-repair), which is exact here because
        marker and state re-read together: a newer snapshot means a
        larger lower and a correspondingly smaller delta."""
        last: Exception | None = None
        for _ in range(6):
            d = self._live(state_dir)
            try:
                return build(d, self._published_lower(manifest, d))
            except Exception as e:  # noqa: BLE001 — retry only read races
                if not self._is_missing_file_err(e):
                    raise
                last = e
        raise last

    def _merge_bundle(self, state_dir: str, manifest: dict,
                      cur: tuple[int, int], aggs, keys: list[str], delta,
                      sub: str = "") -> dict:
        """The bundle of one state dir whose partial state lives at
        `sub` inside it. `delta(d, lower)` returns (delta partial state,
        carry-state writes); it is skipped when the snapshot already
        covers `cur` (a crash between state and result publish), and the
        stored state itself is then what the result finalizes."""
        from sneldb_spark.plans.aggregates import merge_partial_states

        def at(d: str) -> str:
            return os.path.join(d, sub) if sub else d

        def build(d: str, lower: tuple[int, int]) -> dict:
            merged = self.engine.spark.read.parquet(at(d))
            writes = []
            if tuple(lower) < tuple(cur):
                delta_state, writes = delta(d, lower)
                merged = merge_partial_states(
                    merged.unionByName(delta_state, allowMissingColumns=True),
                    aggs, keys,
                    approx_unique=self.engine.compiler.approx_count_unique,
                )
            # eager: the served frame and the fold must not depend on
            # state files a later publish may GC
            merged = merged.localCheckpoint(eager=True)
            return {
                "lower": tuple(lower),
                "merged": merged,
                "writes": [
                    lambda nxt: merged.write.mode("overwrite").parquet(at(nxt)),
                    *writes,
                ],
            }

        return self._snapshot(state_dir, manifest, build)

    def _unmoved(self, served: dict | None, state_dir: str,
                 manifest: dict) -> dict | None:
        """`served` if its snapshot is still the published one, else
        None (a publish landed since the SHOW built it)."""
        if served is not None and tuple(served["lower"]) == tuple(
            self._published_lower(manifest, state_dir)
        ):
            return served
        return None

    def _finalize(self, q, keys: list[str], merged: DataFrame) -> DataFrame:
        from sneldb_spark.plans.aggregates import finalize_partial_state

        return finalize_partial_state(
            merged, q.aggs, keys,
            approx_unique=self.engine.compiler.approx_count_unique,
        )

    def _commit_merge(self, path: str, final: DataFrame, cur: tuple[int, int],
                      bundles: dict[str, dict]) -> None:
        """Stage the next copy of every state dir (keyed by dir) whose
        snapshot is behind `cur`, and the finalized result, all
        concurrently; then publish the states (each with its marker at
        `cur`) and the result LAST. Nothing is visible before the
        publishes. A crash between them leaves a marker ahead of the
        manifest: the next SHOW merges from the marker (never twice) and
        republishes the result."""
        staged = {}
        for sdir, b in bundles.items():
            if tuple(b["lower"]) < tuple(cur):
                nxt = self.storage.stage_path(sdir)
                self.storage.remove_tree(nxt)
                staged[sdir] = nxt
        result = self.storage.stage_path(path)
        self._parallel(
            lambda: final.write.mode("overwrite").parquet(result),
            *[
                (lambda w=w, nxt=nxt: w(nxt))
                for sdir, nxt in staged.items()
                for w in bundles[sdir]["writes"]
            ],
        )
        for sdir, nxt in staged.items():
            self._write_state_hwm(nxt, *cur)
            self.storage.publish_dir(sdir)
        self.storage.publish_dir(path)

    def _refresh_merged(self, bundle_fn, name: str, q, manifest: dict,
                        path: str, cur: tuple[int, int],
                        served: dict | None) -> None:
        sdir = self._state_path(name)
        b = self._unmoved(served, sdir, manifest) or bundle_fn(
            name, q, manifest, cur
        )
        self._commit_merge(
            path, self._finalize(q, manifest["state_keys"], b["merged"]), cur,
            {sdir: b},
        )

    def _serve_merged(self, bundle_fn):
        """Serve function of a single-state shape: the finalize of the
        bundle's merge, plus the bundle for the fold."""
        def serve(name: str, q, manifest: dict, path: str, cur):
            b = bundle_fn(name, q, manifest, cur)
            return self._finalize(q, manifest["state_keys"], b["merged"]), b

        return serve

    def _refresh_agg(self, name: str, q, manifest: dict, path: str,
                     cur: tuple[int, int], served: dict | None = None):
        """Incremental plain-aggregate refresh: aggregate ONLY the rows
        past the high-water mark (the delta scan's hwm predicate reaches
        the Parquet scan, pushdown-tested), merge into the stored
        per-group state, and finalize. The read is closed at `cur`, so a
        row racing in mid-refresh is consumed exactly once by the next
        delta. The synchronous SHOW and the background fold both run
        this."""
        self._refresh_merged(
            self._agg_bundle, name, q, manifest, path, cur, served
        )

    def _agg_bundle(self, name: str, q, manifest: dict,
                    cur: tuple[int, int]) -> dict:
        return self._agg_side_bundle(
            self._state_path(name), q, manifest["state_keys"], manifest, cur
        )

    def _agg_side_bundle(self, state_dir: str, q, keys: list[str],
                         manifest: dict, cur: tuple[int, int]) -> dict:
        """Bundle of one plain aggregate's state dir (a materialized
        aggregate, or one COMPARE side)."""
        return self._merge_bundle(
            state_dir, manifest, cur, q.aggs, keys,
            lambda d, lower: (
                self.engine.compiler.compile_aggregate_partial(
                    q, hwm=lower, upper=cur
                )[0],
                [],
            ),
        )

    # -- COMPARE materialization (extension) -------------------------------
    def _compare_state_dir(self, name: str, i: int) -> str:
        return os.path.join(self._dir(name), "cstate", f"side_{i}")

    def _remember_compare(self, name: str, c, manifest: dict,
                          path: str) -> tuple[int, int]:
        """Initial COMPARE materialization: one mergeable partial state
        PER SIDE (each side is a plain aggregate), reads closed at the
        probed high-water mark, visible result derived from the states'
        finalize + the same full-outer side merge a direct COMPARE
        compiles — so a refresh and a fresh run go through one estimator
        and one merge implementation."""
        from sneldb_spark.plans.compare import merge_sides, side_labels

        labels = side_labels(c.queries, c.labels)
        hwm = self._pin_snapshot(c)
        keys_list, sps, writes = [], [], []
        for i, s in enumerate(c.queries):
            state, keys = self.engine.compiler.compile_aggregate_partial(
                s, upper=hwm
            )
            sp = self._compare_state_dir(name, i)

            def write_side(state=state, sp=sp):
                state.write.mode("overwrite").parquet(sp)
                self._write_state_hwm(sp, *hwm)

            writes.append(write_side)
            keys_list.append(keys)
            sps.append(sp)
        # each side's state write scans only ITS source slice — mutually
        # independent jobs, run together; the finalize frames are built
        # (and the merged result written) off the committed states after
        self._parallel(*writes)
        finals = [
            self._finalize(s, keys, self.engine.spark.read.parquet(sp))
            for s, keys, sp in zip(c.queries, keys_list, sps)
        ]
        merge_sides(c.queries, labels, finals).write.mode("overwrite").parquet(path)
        manifest["compare_state_keys"] = keys_list
        return hwm

    def _refresh_compare(self, name: str, c, manifest: dict, path: str,
                         cur: tuple[int, int], served: list | None = None):
        """Incremental COMPARE refresh: each side merges only ITS delta
        into its stored partial state (per-side markers make a
        mid-publish crash resumable without double-merging), then the
        group-count-sized side merge re-runs — the sources are never
        rescanned. The synchronous SHOW and the background fold both run
        this; a served side whose snapshot has not moved is reused."""
        bundles = self._compare_bundles(name, c, manifest, cur, served)
        self._commit_merge(
            path, self._compare_final(c, manifest, bundles), cur,
            {
                self._compare_state_dir(name, i): b
                for i, b in enumerate(bundles)
            },
        )

    def _compare_bundles(self, name: str, c, manifest: dict,
                         cur: tuple[int, int],
                         served: list | None = None) -> list[dict]:
        """One bundle per side — independent merges, built together."""
        keys = manifest["compare_state_keys"]

        def side(i: int, s) -> dict:
            sdir = self._compare_state_dir(name, i)
            return self._unmoved(
                served[i] if served else None, sdir, manifest
            ) or self._agg_side_bundle(sdir, s, keys[i], manifest, cur)

        return self._parallel(*[
            (lambda i=i, s=s: side(i, s)) for i, s in enumerate(c.queries)
        ])

    def _compare_final(self, c, manifest: dict, bundles: list[dict]) -> DataFrame:
        from sneldb_spark.plans.compare import merge_sides, side_labels

        keys = manifest["compare_state_keys"]
        return merge_sides(
            c.queries, side_labels(c.queries, c.labels),
            [
                self._finalize(s, keys[i], b["merged"])
                for i, (s, b) in enumerate(zip(c.queries, bundles))
            ],
        )

    def _serve_compare(self, name: str, c, manifest: dict, path: str, cur):
        bundles = self._compare_bundles(name, c, manifest, cur)
        return self._compare_final(c, manifest, bundles), bundles

    # -- SHOW -------------------------------------------------------------
    # -- serve-then-refresh builders ---------------------------------------
    # Interval segments are named d_{lower_ts}_{lower_id} after the slice
    # lower bound they cover ((lower, cur]); `base` is the initial
    # REMEMBER result. A serve frame at published lower L reads base plus
    # every segment named STRICTLY below L and computes (L, cur] itself —
    # so a fold's already-committed-but-unmarked segment (named exactly
    # L) is never double-counted, and nothing is missed.
    _SEG_NAME = re.compile(r"^d_(-?\d+)_(-?\d+)$")

    def _segment_files_before(
        self, path: str, lower: tuple[int, int]
    ) -> tuple[str, list[str]]:
        # Resolve ONCE and walk the resolved physical copy itself
        # (resolving an already-physical `dst.vN` dir is the identity).
        # Resolving twice — once here, once inside walk_parquet(path) —
        # raced a concurrent auto-compaction publish: the walked files
        # then relpath'd outside `live` ('../data.vN/...'), the d_*
        # regex never matched, and a served SHOW silently double-counted
        # folded rows alongside the recomputed delta.
        live = self._live(path)
        files = []
        for f in self.storage.walk_parquet(live):
            rel = os.path.relpath(f, live)
            top = rel.split(os.sep)[0]
            if top == os.pardir:
                raise RuntimeError(
                    f"segment listing escaped its resolved dir: {f} vs {live}"
                )
            m = self._SEG_NAME.match(top)
            if m and (int(m.group(1)), int(m.group(2))) >= tuple(lower):
                continue
            files.append(f)
        return live, files

    def _stored_union(self, path: str, lower: tuple[int, int], delta: DataFrame) -> DataFrame:
        """stored-segments-below-lower ∪ delta, lazily. The file listing
        is pinned at build time; the background fold only ADDS segment
        dirs, so the stored read never loses files under it.

        The returned frame carries `__sneldb_serve_parts__ = (stored,
        delta)`: the response streamer (response.py) iterates the parts
        SEQUENTIALLY when present, so the first wire frames need only
        the stored parquet scan's plan + one file-read task — the
        delta's join plan (the expensive planning) is paid while stored
        frames are already flowing. Values and order are identical to
        iterating the union (stored partitions precede delta partitions
        in a union plan anyway)."""
        live, files = self._segment_files_before(path, lower)
        if not files:
            return delta
        # explicit schema (the delta side's — compiled from the CURRENT
        # registry): no mergeSchema inference job, no distributed footer
        # sweep on the serve path. Parquet schema-on-read fills columns
        # a pre-evolution segment lacks with nulls, the same outcome
        # unionByName(allowMissingColumns) gives.
        stored = self.engine.spark.read.schema(delta.schema).parquet(*files)
        out = stored.unionByName(delta, allowMissingColumns=True)
        # record WHICH physical copy this frame's listing pins: every
        # later publish on the data path (compact / recover) passes the
        # union of live frames' pins as keep_live, so GC never deletes a
        # copy a registered reader is still streaming from
        out.__sneldb_pinned_live__ = live
        if set(stored.columns) == set(delta.columns):
            # identical column sets (the norm — one query shape wrote
            # both): parts stream safely under the union's schema. With
            # drift (allowMissingColumns filled nulls) skip the split —
            # correctness over the streaming micro-optimization.
            out.__sneldb_serve_parts__ = (
                stored.select(out.columns),
                delta.select(out.columns),
            )
        return out

    def _pin(self, p: str) -> DataFrame:
        """Read a (small by design) state dir and eagerly localCheckpoint
        it: the serve frame must not reference state FILES that the
        background fold's state publish may GC before the frame is
        consumed. Checkpoint blocks are reclaimed when the frame is
        garbage-collected."""
        return self.engine.spark.read.parquet(p).localCheckpoint(eager=True)

    @staticmethod
    def _is_missing_file_err(e: Exception) -> bool:
        """A read that lost its files to a concurrent publish's GC: the
        JVM reports it in the message, a Python-side open (the marker or
        the parts sidecar) as FileNotFoundError."""
        if isinstance(e, FileNotFoundError):
            return True
        s = str(e)
        return (
            "FAILED_READ_FILE" in s
            or "FileNotFoundException" in s
            or "PATH_NOT_FOUND" in s
            or "does not exist" in s
        )

    def _pin_state_snapshot(self, name: str, manifest: dict,
                            subdirs: list[str]):
        """(lower, {subdir: pinned frame}) from ONE published state
        snapshot (see _snapshot for the re-resolve-and-retry)."""
        return self._snapshot(
            self._state_path(name), manifest,
            lambda d, lower: (lower, self._pin_parts(d, subdirs)),
        )

    def _pin_parts(self, d: str, subdirs: list[str]) -> dict[str, DataFrame]:
        """Eagerly pinned carry-state parts of resolved state dir `d`."""
        from concurrent.futures import ThreadPoolExecutor

        parts_dir = os.path.join(d, self._PARTS_SUBDIR)
        if os.path.isdir(parts_dir):
            # batched layout: ONE pinned read of the partitioned state
            # serves every part (one Spark job instead of one per
            # subdir); each part selects its sidecar schema back off the
            # checkpointed rows. A part that was empty at write time has
            # no partition dir (its filter just matches nothing); if
            # EVERY part was empty there is nothing to read at all and
            # each pin reconstructs from the sidecar schema.
            has_files = any(
                e.startswith(f"{self._PART_COL}=") for e in os.listdir(parts_dir)
            )
            whole = (
                self.engine.spark.read.parquet(parts_dir).localCheckpoint(
                    eager=True
                )
                if has_files
                else None
            )
            pins = {}
            for s in subdirs:
                schema = self._state_part_schema_at(d, s)
                if schema is None:
                    raise FileNotFoundError(
                        f"state part {s!r} does not exist under {d}"
                    )
                if whole is None:
                    pins[s] = self.engine.spark.createDataFrame([], schema)
                else:
                    pins[s] = whole.where(F.col(self._PART_COL) == s).select(
                        *[f.name for f in schema.fields]
                    )
            return pins

        # legacy per-directory layout: pin jobs are independent small
        # reads — run them concurrently (each is a Spark job; serial pins
        # were a measured second of serve-path latency under load)
        def pin_in_pool(p: str):
            # fresh thread: re-tag the serve pool (local properties are
            # per-thread under pinned-thread mode)
            from sneldb_spark.session import set_scheduler_pool

            set_scheduler_pool(self.engine.spark, "sneldb-serve")
            return self._pin(p)

        with ThreadPoolExecutor(max_workers=len(subdirs)) as px:
            futs = {s: px.submit(pin_in_pool, os.path.join(d, s)) for s in subdirs}
            return {s: f.result() for s, f in futs.items()}

    def _published_lower(self, manifest: dict, marker_dir: str) -> tuple[int, int]:
        """max(manifest hwm, state marker) — the same recovery rule every
        refresh path applies. `marker_dir` must be the ALREADY-RESOLVED
        physical dir whose state files the caller reads, so marker and
        state always come from one immutable published snapshot."""
        lower = manifest["hwm_ts"], manifest["hwm_id"]
        marker = self._read_state_hwm(marker_dir)
        if marker is not None and tuple(marker) > tuple(lower):
            lower = tuple(marker)
        return lower

    def _serve_plain(self, name: str, q, manifest: dict, path: str, cur):
        """(serve frame, fold bundle). The delta slice is lazily
        localCheckpointed so the serve drain and the background fold
        SHARE one computation — the fold writes the same rows instead
        of re-running the slice (reference parity: one delta pipeline
        feeds both the stream and the persist,
        src/command/handlers/show/delta/refresher.rs)."""
        from sneldb_spark.plans.filters import hwm_at_or_before

        lower = self._published_lower(manifest, path)
        delta = self._delta_slice(
            self.engine.compiler.compile_query(q).where(hwm_at_or_before(*cur)),
            *lower,
        ).localCheckpoint(eager=False)
        serve = self._stored_union(path, lower, delta)
        return serve, {"lower": tuple(lower), "delta": delta}

    def _serve_seq(self, name: str, q, manifest: dict, path: str, cur):
        """(serve frame, fold bundle): the as-of match over pinned state
        ∪ delta is built ONCE; the bundle hands the checkpointed pairs
        (plus the candidate frames the carry-state derivation needs) to
        the background fold so it never re-runs the match."""
        from sneldb_spark.plans.sequence import sequence_match

        lower, pins = self._pin_state_snapshot(
            name, manifest, ["pending_a", "boundary_b"]
        )
        a, b, kind, link, _ts_a, _ts_b = self._seq_sides(q, upper=cur)
        a_cand = pins["pending_a"].unionByName(
            self._delta_slice(a, *lower), allowMissingColumns=True
        )
        b_cand = pins["boundary_b"].unionByName(
            self._delta_slice(b, *lower), allowMissingColumns=True
        )
        pairs = sequence_match(a_cand, b_cand, link, kind).localCheckpoint(
            eager=False
        )
        serve = self._stored_union(path, lower, self._within_pairs(q, pairs))
        bundle = {
            "lower": tuple(lower), "a_cand": a_cand, "b_cand": b_cand,
            "kind": kind, "link": link, "pairs": pairs,
        }
        return serve, bundle

    def _chain_delta_frames(self, q, cur, lower, state, parts):
        """Shared stepwise delta advance over carried state frames
        (`state` maps pending_s{i}/boundary_{j} → DataFrame: published
        reads on the fold path, pinned snapshots on the serve path;
        `parts` is the precompiled chain_parts tuple). Returns
        (completed [window-filtered], new_pend, cands, n). Each step's
        advance output is lazily localCheckpointed: it feeds the next
        step, the pending anti-join, AND (for the last step) the served
        result and the fold's segment write — one computation for all."""
        frames, _types, _kinds, link = parts
        n = len(frames)
        cols = [f.columns for f in frames]
        deltas = [self._delta_slice(f, *lower) for f in frames]
        cands = [None] * n
        for j in range(1, n):
            cands[j] = state[f"boundary_{j}"].unionByName(
                deltas[j], allowMissingColumns=True
            )
        awaiting = state["pending_s0"].unionByName(
            deltas[0], allowMissingColumns=True
        )
        advanced = self._chain_first(
            awaiting, cands[1], link, cols[0], cols[1]
        ).localCheckpoint(eager=False)
        new_pend = [
            awaiting.join(
                advanced.select(F.col("s0_event_id").alias("event_id")),
                "event_id", "left_anti",
            )
        ]
        for i in range(1, n - 1):
            await_i = state[f"pending_s{i}"].unionByName(
                advanced, allowMissingColumns=True
            )
            advanced = self._chain_step(
                await_i, cands[i + 1], link, i, cols[i + 1]
            ).localCheckpoint(eager=False)
            new_pend.append(
                await_i.join(
                    advanced.select("s0_event_id"), "s0_event_id", "left_anti"
                )
            )
        return self._within_chain(q, advanced, n), new_pend, cands, n

    def _serve_chain(self, name: str, q, manifest: dict, path: str, cur):
        """(serve frame, fold bundle): the stepwise chain advance over
        pinned state ∪ delta is built once; completed chains serve
        immediately while the bundle gives the fold the SAME frames to
        persist (segment + next state) without a second advance."""
        parts = self.engine.compiler.chain_parts(q, upper=cur)
        lower, pins = self._pin_state_snapshot(
            name, manifest, self._chain_state_parts(len(parts[0]))
        )
        completed, new_pend, cands, n = self._chain_delta_frames(
            q, cur, lower, pins, parts
        )
        serve = self._stored_union(path, lower, completed)
        bundle = {
            "lower": tuple(lower), "completed": completed,
            "new_pend": new_pend, "cands": cands, "n": n,
        }
        return serve, bundle

    def _refresh_plain_segments(self, name: str, q, manifest: dict, path: str,
                                cur: tuple[int, int],
                                served: dict | None = None):
        """Fold the (lower, cur] slice of a plain segment-layout
        materialization into an interval segment + advance the marker
        (the body the first show() branch always ran; now also the
        background fold for serve-first). With a `served` bundle whose
        lower bound still matches the published one, the fold writes the
        serve path's checkpointed delta instead of re-running the slice."""
        from sneldb_spark.plans.filters import hwm_at_or_before

        lower = self._published_lower(manifest, path)
        if tuple(lower) >= tuple(cur):
            return  # an earlier (crashed) fold already appended this slice
        if served is not None and tuple(served["lower"]) == tuple(lower):
            delta_df = served["delta"]
        else:
            delta_df = self._delta_slice(
                self.engine.compiler.compile_query(q).where(
                    hwm_at_or_before(*cur)
                ),
                *lower,
            )
        # deterministic interval name: a crashed refresh overwrites its
        # own segment; marker written after, so a crash between the two
        # just reruns the same idempotent slice
        seg = os.path.join(self._live(path), f"d_{lower[0]}_{lower[1]}")
        delta_df.write.mode("overwrite").parquet(seg)
        self._write_state_hwm(path, *cur)

    def _fold_and_commit(self, name: str, q, manifest: dict, path: str,
                         cur: tuple[int, int], refresh_fn,
                         served=None):
        """Background-fold body: run the refresh, then commit the
        manifest hwm — the same ordering the sync path uses. Folds are
        serialized per name (one thread at a time), so re-reading the
        manifest here is authoritative: a SHOW that raced the previous
        fold's commit schedules a redundant fold, and this check turns
        it into a no-op. A refresh body whose published snapshot is
        already at or past `cur` (a crashed fold got further than the
        manifest) only finishes the publish, never re-merges.

        `served` is the serve path's fold bundle (the already-built
        delta/match/merge frames): the refresh writes those rows instead
        of recomputing them. If the bundle's serve-time file listing
        outlived the source's GC grace window (event-store compaction
        between serve and fold), the write fails with a missing-file
        error and the fold falls back to a full recompute from fresh
        listings — every refresh is idempotent (interval-named segment
        overwrite + staged state), so the retry is safe at any failure
        point before the publish."""
        with open(self._manifest_path(name)) as f:
            m = json.load(f)
        if (m["hwm_ts"], m["hwm_id"]) >= tuple(cur):
            return
        try:
            refresh_fn(name, q, m, path, cur, served)
        except Exception as e:  # noqa: BLE001 — retry only read races
            if served is None or not self._is_missing_file_err(e):
                raise
            refresh_fn(name, q, m, path, cur, None)
        m["hwm_ts"], m["hwm_id"] = cur
        self._write_manifest(name, m)
        lim = self.auto_compact_segments
        if lim is not None:
            try:
                live = self._live(path)
                n_seg = sum(
                    1 for d in os.listdir(live) if self._SEG_NAME.match(d)
                )
            except OSError:
                n_seg = 0
            if n_seg > lim:
                # compact() quiesces (self-aware: skips this thread) and
                # rewrites the interval layout into one base — bounds
                # the serve path's listing/footer cost at ~lim dirs.
                # Live serve frames keep their pinned pre-compact copy
                # through the publish (keep_live), so compacting under
                # a slow reader is safe.
                self.compact(name)

    def _refresher(self, name: str, q, manifest: dict):
        """(refresh body, serve function or None) of a stale
        materialization: the ONE dispatch the synchronous SHOW and the
        serve-first SHOW share. A refresh body is
        `(name, q, manifest, path, cur, served=None)`; a serve function is
        `(name, q, manifest, path, cur) -> (frame, fold bundle)`."""
        state_d = self._live(self._state_path(name))
        seq_state = manifest.get("seq_state")
        agg_state = (
            seq_state
            and manifest.get("state_keys") is not None
            and os.path.exists(os.path.join(state_d, "agg_state"))
        )
        if self._incrementable(q):
            if manifest.get("segments"):
                return self._refresh_plain_segments, self._serve_plain
            return self._refresh_replace, None
        if agg_state and self._seq_agg_incrementable(q, manifest):
            return (
                self._refresh_sequence_agg,
                self._serve_merged(self._seq_agg_bundle),
            )
        if (
            agg_state
            and self._chain_agg_incrementable(q, manifest)
            and self._state_part_exists_at(state_d, "pending_s0")
        ):
            return (
                self._refresh_chain_agg,
                self._serve_merged(self._chain_agg_bundle),
            )
        if (
            seq_state
            and self._chain_incrementable(q, manifest)
            and self._state_part_exists_at(state_d, "pending_s0")
        ):
            return self._refresh_chain, self._serve_chain
        if (
            seq_state
            and self._seq_incrementable(q, manifest)
            and self._state_part_exists_at(state_d, "pending_a")
        ):
            return self._refresh_sequence, self._serve_seq
        if (
            self._agg_incrementable(q, manifest)
            and manifest.get("state_keys") is not None
            and self.storage.exists(self._state_path(name))
        ):
            return self._refresh_agg, self._serve_merged(self._agg_bundle)
        if (
            self._compare_incrementable(q, manifest)
            and manifest.get("compare_state_keys") is not None
            and self.storage.exists(self._compare_state_dir(name, 0))
        ):
            return self._refresh_compare, self._serve_compare
        return self._refresh_full, None

    def _refresh_replace(self, name: str, q, manifest: dict, path: str,
                         cur: tuple[int, int], served=None):
        """Event result with retention: stored ∪ delta, deduped by
        event_id, retention re-applied, replaced as a whole."""
        delta_df = self._delta_slice(
            self.engine.compiler.compile_query(q),
            manifest["hwm_ts"], manifest["hwm_id"],
        )
        stored = self.engine.spark.read.parquet(self._live(path))
        self._swap_in(
            self._apply_retention(
                stored.unionByName(delta_df).dropDuplicates(["event_id"]),
                manifest,
            ),
            path,
        )

    def _refresh_full(self, name: str, q, manifest: dict, path: str,
                      cur: tuple[int, int], served=None):
        """No incremental form: recompute, closed at the already-probed
        mark so the stored rows and the recorded hwm always describe the
        same snapshot."""
        self._swap_in(
            self._apply_retention(
                self.engine.compiler.compile(q, upper=cur), manifest
            ),
            path,
        )

    def show(self, name: str) -> DataFrame:
        if not self.exists(name):
            raise MaterializationError(f"Materialization '{name}' not found")
        with open(self._manifest_path(name)) as f:
            manifest = json.load(f)
        if manifest["query"].get("compare"):
            q = compare_from_json(manifest["query"])
        else:
            q = query_from_json(manifest["query"])
        path = os.path.join(self._dir(name), "data")
        # Recovery repairs a CRASHED publish — but an in-flight
        # background fold is legitimately staging the next data/state
        # version right now (the fold thread also runs auto-compaction's
        # staged base rewrite), and recover_dir racing it is the exact
        # deleted-staging-mid-write failure the storage layer now guards
        # against structurally. Skip ALL recovery while a fold is alive;
        # a live fold implies no crash, and a genuinely crashed fold
        # leaves no live thread, so the next SHOW recovers as before.
        # The check and the recover calls run UNDER _fold_lock:
        # _schedule_fold registers-and-starts the thread under the same
        # lock, so a concurrent SHOW cannot slip a new fold between our
        # check and our recover (the check-then-act race) — either the
        # fold is already alive (we skip) or its scheduling waits for
        # us. keep_live: recovery GC must spare copies live serve frames
        # pinned.
        with self._fold_lock:
            if not self._fold_in_flight(name):
                self.storage.recover_dir(
                    path, keep_live=self._pinned_lives(name)
                )
                if manifest.get("state_keys") is not None or manifest.get(
                    "seq_state"
                ):
                    self.storage.recover_dir(self._state_path(name))
                if manifest.get("compare_state_keys") is not None:
                    for i in range(len(manifest["compare_state_keys"])):
                        self.storage.recover_dir(
                            self._compare_state_dir(name, i)
                        )
        cur = self._source_hwm(q)
        if tuple(cur) != (manifest["hwm_ts"], manifest["hwm_id"]):
            refresh, serve = self._refresher(name, q, manifest)
            if self.serve_first and serve is not None:
                # serve-then-refresh: the frame is exact as of `cur`
                # now; the fold persists the same rows in the background
                frame, bundle = serve(name, q, manifest, path, cur)
                self._register_serve(name, frame)
                self._schedule_fold(
                    name,
                    lambda: self._fold_and_commit(
                        name, q, dict(manifest), path, cur, refresh, bundle
                    ),
                )
                return frame
            refresh(name, q, manifest, path, cur)
            manifest["hwm_ts"], manifest["hwm_id"] = cur
            self._write_manifest(name, manifest)
        if manifest.get("segments") or (
            manifest.get("seq_state") and manifest.get("state_keys") is None
        ):
            return self._read_segments(path)
        return self.engine.spark.read.parquet(self._live(path))

    # -- lifecycle ---------------------------------------------------------
    def names(self) -> list[str]:
        """All materialization names (sorted; manifest presence is what
        makes a directory a materialization)."""
        if not os.path.isdir(self.root):
            return []
        return sorted(
            n for n in os.listdir(self.root)
            if os.path.exists(self._manifest_path(n))
        )

    def describe(self, name: str) -> dict:
        """Manifest summary + current staleness (metadata-cheap: the
        source probe reads Parquet footers and the memtable, no Spark
        job)."""
        if not self.exists(name):
            raise MaterializationError(f"Materialization '{name}' not found")
        with open(self._manifest_path(name)) as f:
            manifest = json.load(f)
        if manifest["query"].get("compare"):
            q = compare_from_json(manifest["query"])
        else:
            q = query_from_json(manifest["query"])
        cur = self._source_hwm(q)
        return {
            "name": name,
            "kind": (
                "compare" if manifest["query"].get("compare")
                else "sequence" if manifest.get("seq_state")
                else "aggregate" if manifest.get("state_keys") is not None
                else "events"
            ),
            "hwm_ts": manifest["hwm_ts"],
            "hwm_id": manifest["hwm_id"],
            "stale": tuple(cur) != (manifest["hwm_ts"], manifest["hwm_id"]),
            "fold_in_flight": (
                (t := self._fold_threads.get(name)) is not None and t.is_alive()
            ),
            "fold_errors": sum(1 for n, _ in self.fold_errors if n == name),
        }

    def forget(self, name: str):
        """Drop a materialization: result data, partial state, manifest.
        (Extension — the reference keeps materializations until restart
        config changes; a managed store needs an explicit drop.)"""
        if not self.exists(name):
            raise MaterializationError(f"Materialization '{name}' not found")
        # a background fold writing into a tree being deleted would
        # resurrect directories (its manifest commit recreates exists())
        self.quiesce(name)
        self.storage.remove_tree(self._dir(name))

    def compact(self, name: str):
        """Rewrite an append-only segment layout (event-shaped plain or
        sequence materializations) into a single fresh base segment.

        Refreshes keep IO delta-scale by appending interval segments and
        never touching history — the cost is file-count growth, one
        directory per refresh. Compaction is the S7 analogue for results:
        read everything once, rewrite as `base`, drop the consumed
        intervals. Result rows are unchanged (the reader unions segments
        either way); the consumed-hwm marker is preserved so refresh
        bookkeeping is untouched. No-op for state-merged (aggregate /
        compare) materializations — their result is already one compact
        group-count-sized table.

        Slow-reader contract: compaction never DEFERS for readers — it
        runs on cadence and passes the live serve frames' pinned copy
        paths as `keep_live` to publish_dir, so GC spares every copy a
        registered reader is still streaming from regardless of
        `gc_grace_versions` (keep-live pinning; _fold_and_commit's
        auto-compact path does the same). The grace window only covers
        UNREGISTERED readers (a plain `db.df()` escape-hatch frame, an
        external process listing the prefix): those survive
        `gc_grace_versions` further publishes, no more — size that knob
        to cover their maximum drain time times the publish cadence, or
        re-resolve and retry on FAILED_READ_FILE (docs/scale.md
        read-repair). Note the local rename-based backend cannot honor
        keep_live at all (single-process, no-concurrent-reader by
        contract — see Storage.publish_dir)."""
        if not self.exists(name):
            raise MaterializationError(f"Materialization '{name}' not found")
        # compaction rewrites the segment layout a fold appends into —
        # let any in-flight fold land first (errors stay recorded for
        # the owner's quiesce to surface)
        self.quiesce(name, drain=False)
        path = os.path.join(self._dir(name), "data")
        self.storage.recover_dir(path, keep_live=self._pinned_lives(name))
        with open(self._manifest_path(name)) as f:
            manifest = json.load(f)
        segmented = manifest.get("segments") or (
            manifest.get("seq_state") and manifest.get("state_keys") is None
        )
        if not segmented:
            return
        marker = self._read_state_hwm(path)
        merged = self._read_segments(path)
        # staged rewrite + publish: the previous segment layout stays
        # readable until the compacted copy is complete, and a crash at
        # any step leaves at least one readable copy (recover_dir in
        # show() repairs the pointer) — rmtree-before-rename would have
        # a window with zero copies.
        staging = self.storage.stage_path(path)
        self.storage.remove_tree(staging)
        merged.write.mode("overwrite").parquet(os.path.join(staging, "base"))
        # completeness guard (defense in depth behind the storage-level
        # never-GC-above-the-pointer rule): if anything deleted staged
        # files mid-write, ABORT — publishing a base-less copy silently
        # truncates the materialization's entire history (the failure
        # the r11 soak caught). The un-published staging is reclaimed by
        # the next publish; the live layout stays intact and the next
        # auto-compact retries.
        had_rows = any(True for _ in self.storage.walk_parquet(path))
        staged_ok = any(
            True
            for f in self.storage.walk_parquet(os.path.join(staging, "base"))
        )
        if had_rows and not staged_ok:
            raise MaterializationError(
                f"compaction staging for '{name}' lost its rewritten base "
                "mid-write (concurrent GC?); aborting publish — the live "
                "segment layout is untouched"
            )
        if marker is not None:
            self._write_state_hwm(staging, *marker)
        # keep_live: copies pinned by live serve frames survive this
        # publish's GC — a slow reader drains its exact snapshot even
        # across multiple compaction cycles
        self.storage.publish_dir(path, keep_live=self._pinned_lives(name))
