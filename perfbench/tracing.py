"""Layer tracing from outside the engine.

The tracer replaces the engine's layer entry points with timing wrappers
at runtime and restores them afterwards; no engine file changes. Spans
(name, start, end, parent, command id, thread) are kept in memory and
written out when the run ends. Each command's Spark jobs carry a job
group set from the ``execute_command`` wrapper, and job, stage and task
counts come from ``SparkContext.statusTracker()`` after the run.

Tracing is switched per measured cycle (``enabled``), so one traced run
interleaves traced and untraced cycles and states its own overhead.
"""

from __future__ import annotations

import json
import re
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

_MISSING = object()
# job group of commands and stages run while tracing is switched off, so
# that untagged jobs are only the engine's background work
UNTRACED = "untraced"
_FINAL = "== Initial Plan =="
_EXCHANGE = re.compile(r"(?:Broadcast|Reused|Shuffle)?Exchange\b")
_SCAN = re.compile(r"\b(?:FileScan|Scan \w+|LocalTableScan|InMemoryTableScan)\b")


def plan_counts(df) -> tuple[int, int]:
    """(exchanges, scans) in a DataFrame's physical plan — the final
    adaptive plan once the frame has run."""
    text = df._jdf.queryExecution().executedPlan().toString()
    text = text.split(_FINAL, 1)[0]
    return len(_EXCHANGE.findall(text)), len(_SCAN.findall(text))


class Span:
    __slots__ = ("name", "start", "end", "parent", "cmd", "thread", "info")

    def __init__(self, name, start, parent, cmd, thread):
        self.name, self.start, self.end = name, start, None
        self.parent, self.cmd, self.thread = parent, cmd, thread
        self.info = None

    @property
    def ms(self) -> float:
        return ((self.end or self.start) - self.start) * 1000.0

    def to_json(self, idx: int) -> dict:
        return {"id": idx, "name": self.name, "start": self.start, "end": self.end,
                "parent": self.parent, "cmd": self.cmd, "thread": self.thread,
                "info": self.info}


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.enabled = False
        self.spans: list[Span] = []
        self.cmd: int | None = None        # command in flight on the wire
        self.frames: dict[int, object] = {}  # cmd -> served DataFrame
        self.py4j = Counter()              # (cmd, open span name | "*") -> calls
        self.checkpoints = 0
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    # -- spans -----------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def open(self, name: str) -> int:
        st = self._stack()
        parent = st[-1] if st else None
        cmd = self.cmd if (st or self._is_command_thread()) else None
        if parent is not None:
            cmd = self.spans[parent].cmd
        span = Span(name, time.perf_counter(), parent, cmd,
                    threading.current_thread().name)
        with self._lock:
            self.spans.append(span)
            idx = len(self.spans) - 1
        st.append(idx)
        return idx

    def close(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        st = self._stack()
        if st and st[-1] == idx:
            st.pop()

    @staticmethod
    def _is_command_thread() -> bool:
        # socketserver runs each connection on a "...(process_request_thread)"
        # thread; the benchmark's own thread is MainThread
        name = threading.current_thread().name
        return "process_request_thread" in name or name == "MainThread"

    # -- patching ----------------------------------------------------------
    def _patch(self, owner, attr: str, replacement) -> None:
        self._patches.append((owner, attr, owner.__dict__.get(attr, _MISSING)))
        setattr(owner, attr, replacement)

    def _timed(self, name: str, fn, on_enter=None):
        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            idx = tracer.open(name)
            try:
                if on_enter is not None:
                    on_enter(idx, args)
                return fn(*args, **kwargs)
            finally:
                tracer.close(idx)

        wrapper.__wrapped__ = fn
        return wrapper

    def install(self) -> None:
        import sneldb_spark.engine as engine_mod
        import sneldb_spark.server as server_mod
        import sneldb_spark.store.event_store as es_mod
        from pyspark.sql.classic.dataframe import DataFrame as ClassicDF

        from sneldb_spark.engine import SnelDB
        from sneldb_spark.plans.compiler import QueryCompiler
        from sneldb_spark.store.event_store import EventStore
        from sneldb_spark.store.materialize import Materializer

        def parse_info(idx, args):
            text = args[0] if args else ""
            head = text.lstrip()[:6].upper()
            self.spans[idx].info = {"head": head.split(" ")[0],
                                    "stores": text.count("STORE ")}

        self._patch(engine_mod, "parse_command",
                    self._timed("commands.parse", engine_mod.parse_command,
                                on_enter=parse_info))
        self._patch(SnelDB, "execute_command", self._execute_wrapper(SnelDB.execute_command))
        self._patch(QueryCompiler, "compile",
                    self._timed("plans.compile", QueryCompiler.compile))
        self._patch(EventStore, "store", self._timed("store.store", EventStore.store))
        self._patch(EventStore, "read", self._timed("store.read", EventStore.read))
        self._patch(EventStore, "flush", self._timed("store.flush", EventStore.flush))
        self._patch(es_mod, "validate_payload",
                    self._timed("schema.validate", es_mod.validate_payload))
        self._patch(Materializer, "remember",
                    self._timed("materialize.remember", Materializer.remember))
        self._patch(Materializer, "describe",
                    self._timed("materialize.describe", Materializer.describe))
        self._patch(Materializer, "show", self._show_wrapper(Materializer.show))
        self._patch(server_mod, "json_frames", self._frames_wrapper(server_mod.json_frames))
        self._patch(ClassicDF, "toLocalIterator",
                    self._iter_wrapper(ClassicDF.toLocalIterator))
        self._patch(ClassicDF, "localCheckpoint",
                    self._checkpoint_wrapper(ClassicDF.localCheckpoint))
        client_cls = type(self.sc._gateway._gateway_client)
        self._patch(client_cls, "send_command", self._py4j_wrapper(client_cls.send_command))

    def uninstall(self) -> None:
        self.enabled = False
        for owner, attr, original in reversed(self._patches):
            if original is _MISSING:
                delattr(owner, attr)
            else:
                setattr(owner, attr, original)
        self._patches.clear()

    # -- wrappers with side duties ----------------------------------------
    def set_group(self, group: str | None) -> None:
        """Job group of this thread's subsequent Spark jobs."""
        with self.internal():
            self.sc.setLocalProperty("spark.jobGroup.id", group)
        self._tls.group = group

    def _execute_wrapper(self, fn):
        tracer = self

        def execute_command(engine, cmd, *args, **kwargs):
            outermost = not tracer._stack()
            if not tracer.enabled:
                if outermost and getattr(tracer._tls, "group", None) != UNTRACED:
                    tracer.set_group(UNTRACED)
                return fn(engine, cmd, *args, **kwargs)
            idx = tracer.open("engine.execute_command")
            if outermost:
                tracer.set_group(f"cmd-{tracer.spans[idx].cmd}")
            tracer.spans[idx].info = {"kind": type(cmd).__name__}
            try:
                result = fn(engine, cmd, *args, **kwargs)
                if outermost and result.df is not None and tracer.spans[idx].cmd is not None:
                    tracer.frames[tracer.spans[idx].cmd] = result.df
                return result
            finally:
                tracer.close(idx)

        execute_command.__wrapped__ = fn
        return execute_command

    def _show_wrapper(self, fn):
        tracer = self

        def show(mat, name):
            if not tracer.enabled:
                return fn(mat, name)
            stale = mat.describe(name)["stale"]
            idx = tracer.open("materialize.show")
            tracer.spans[idx].info = {"stale": bool(stale)}
            try:
                return fn(mat, name)
            finally:
                tracer.close(idx)

        show.__wrapped__ = fn
        return show

    def _frames_wrapper(self, fn):
        tracer = self

        def json_frames(df, *args, **kwargs):
            if not tracer.enabled:
                yield from fn(df, *args, **kwargs)
                return
            idx = tracer.open("response.json_frames")
            tracer.close(idx)  # reopened around each step below
            span = tracer.spans[idx]
            inside, rows, nbytes = 0.0, 0, 0
            gen = fn(df, *args, **kwargs)
            stack = tracer._stack()
            while True:
                stack.append(idx)
                t0 = time.perf_counter()
                try:
                    frame = next(gen)
                except StopIteration:
                    break
                finally:
                    inside += time.perf_counter() - t0
                    stack.pop()
                nbytes += len(frame) + 1
                if frame.startswith('{"type":"end"'):
                    rows = json.loads(frame)["row_count"]
                yield frame
            span.end = time.perf_counter()
            span.info = {"inside_ms": inside * 1000.0, "rows": rows, "bytes": nbytes}

        json_frames.__wrapped__ = fn
        return json_frames

    def _iter_wrapper(self, fn):
        tracer = self

        def toLocalIterator(df, *args, **kwargs):
            if not tracer.enabled:
                yield from fn(df, *args, **kwargs)
                return
            idx = tracer.open("spark.fetch")
            tracer.close(idx)
            span = tracer.spans[idx]
            blocked = 0.0
            it = fn(df, *args, **kwargs)
            stack = tracer._stack()
            while True:
                stack.append(idx)
                t0 = time.perf_counter()
                try:
                    row = next(it)
                except StopIteration:
                    break
                finally:
                    blocked += time.perf_counter() - t0
                    stack.pop()
                yield row
            span.end = time.perf_counter()
            span.info = {"blocked_ms": blocked * 1000.0}

        toLocalIterator.__wrapped__ = fn
        return toLocalIterator

    def _checkpoint_wrapper(self, fn):
        tracer = self

        def localCheckpoint(df, *args, **kwargs):
            if not tracer.enabled:
                return fn(df, *args, **kwargs)
            tracer.checkpoints += 1
            idx = tracer.open("spark.localCheckpoint")
            try:
                out = fn(df, *args, **kwargs)
                with tracer.internal():
                    tracer.spans[idx].info = {"exchanges": plan_counts(df)[0]}
                return out
            finally:
                tracer.close(idx)

        localCheckpoint.__wrapped__ = fn
        return localCheckpoint

    def _py4j_wrapper(self, fn):
        tracer = self

        def send_command(client, *args, **kwargs):
            if tracer.enabled and not getattr(tracer._tls, "internal", False):
                st = getattr(tracer._tls, "stack", None)
                if st:
                    cmd = tracer.spans[st[0]].cmd
                    for name in {tracer.spans[i].name for i in st}:
                        tracer.py4j[(cmd, name)] += 1
                else:
                    cmd = tracer.cmd if tracer._is_command_thread() else None
                tracer.py4j[(cmd, "*")] += 1
            return fn(client, *args, **kwargs)

        send_command.__wrapped__ = fn
        return send_command

    # -- counts after the run ---------------------------------------------
    @contextmanager
    def internal(self):
        """The benchmark's own py4j calls (status tracker, plan
        inspection) are not counted against a layer."""
        self._tls.internal = True
        try:
            yield
        finally:
            self._tls.internal = False

    def untagged_jobs(self) -> int:
        """Jobs without a job group so far: the engine's own threads."""
        with self.internal():
            self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
            return len(self.sc.statusTracker().getJobIdsForGroup(None))

    def job_stats(self, groups: list[str]) -> dict[str, dict]:
        """Per job group: jobs, stages, tasks and failed tasks, read from
        the status tracker once the listener bus has drained."""
        with self.internal():
            self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
            st = self.sc.statusTracker()
            out = {}
            for g in groups + [None]:
                jobs = st.getJobIdsForGroup(g)
                stages = tasks = failed = 0
                for jid in jobs:
                    info = st.getJobInfo(jid)
                    if info is None:
                        continue
                    for sid in info.stageIds:
                        s = st.getStageInfo(sid)
                        if s is None or s.numCompletedTasks + s.numFailedTasks == 0:
                            continue
                        stages += 1
                        tasks += s.numCompletedTasks
                        failed += s.numFailedTasks
                out[g] = {"jobs": len(jobs), "stages": stages, "tasks": tasks,
                          "failed_tasks": failed}
        return out

    def by_cmd(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.cmd is not None:
                out[s.cmd].append(s)
        return out

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps(s.to_json(i)) + "\n")
