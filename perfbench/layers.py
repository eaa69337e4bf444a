"""Metric assembly: end-to-end metrics from the untraced measurements and
per-layer metrics from the spans and job counts of the traced cycles.

Every workload prints every metric. A layer a workload bypasses reports
0 for it: the layer did no work there.
"""

from __future__ import annotations

from collections import defaultdict

from harness import median, pct

END_TO_END = {
    "setup_s": "s",
    "cycle_s": "s",
    "peak_rss_mb": "MB",
}

STAGES = ("language_id", "quality_filter", "exact_dedup", "minhash_pairs",
          "dedup_clusters", "span_removal", "tfidf_top_terms", "semantic_dedup")

PER_LAYER = {
    # end-to-end latencies per request kind, from the untraced cycles
    # (the per-family medians of `query` are on the detail line only)
    "lat.read_ms_p50": "ms", "lat.read_ms_p90": "ms",
    "lat.store_batch_ms_p50": "ms", "lat.store_batch_ms_p90": "ms",
    "lat.flush_ms_p50": "ms",
    "lat.show_ttff_ms_p50": "ms", "lat.show_ttff_ms_p90": "ms", "lat.show_ms_p50": "ms",
    "lat.job_s": "s",
    "trace.overhead_pct": "%",
    "server.wire_ms": "ms",
    "response.encode_ms": "ms", "response.rows": "count", "response.bytes": "bytes",
    "commands.parse_ms": "ms", "commands.parse_us_per_store": "us",
    "schema.validate_us_per_event": "us",
    "plans.compile_ms": "ms", "plans.py4j_calls": "count",
    "plans.exchanges": "count", "plans.scans": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.failed_tasks": "count", "spark.exec_ms": "ms", "spark.background_jobs": "count",
    "store.store_us_per_event": "us", "store.wal_bytes_per_event": "bytes",
    "store.flush_ms": "ms", "store.flush_rows": "count", "store.flush_jobs": "count",
    "store.read_build_ms": "ms", "store.segment_files_max": "count",
    "store.segment_files_final": "count", "store.compactions": "count",
    "store.bytes_per_user_byte": "ratio",
    "materialize.remember_ms": "ms", "materialize.show_build_ms": "ms",
    "materialize.show_jobs": "count", "materialize.stale_share": "ratio",
    "materialize.fold_errors": "count",
    **{f"pipeline.{s}_{m}": u for s in STAGES
       for m, u in (("s", "s"), ("jobs", "count"), ("tasks", "count"))},
    "pipeline.local_checkpoints": "count", "pipeline.exchanges": "count",
}

READ_KINDS = ("point", "agg", "scan", "seq", "read", "show")


def _med(values) -> float:
    values = list(values)
    return median(values) if values else 0.0


def _p(values, q: int) -> float:
    values = list(values)
    return pct(values, q) if values else 0.0


def end_to_end(run, rss_mb: float) -> dict[str, tuple[float, str]]:
    vals = {
        "setup_s": run.boot_s + median(run.setup_s),
        "cycle_s": _med(c for c, traced in run.cycles if not traced),
        "peak_rss_mb": rss_mb,
    }
    return {k: (vals[k], END_TO_END[k]) for k in END_TO_END}


def detail(run) -> dict:
    """Per request kind: sample count, p50 and p90 (untraced samples)."""
    kinds: dict[str, list] = defaultdict(list)
    ttff: dict[str, list] = defaultdict(list)
    for s in run.samples:
        if not s.traced:
            kinds[s.kind].append(s.ms)
            if s.ttff_ms is not None:
                ttff[s.kind].append(s.ttff_ms)
    out = {
        "boot_s": round(run.boot_s, 3),
        "setup_reps_s": [round(x, 3) for x in run.setup_s],
        "warmup_s": [round(x, 3) for x in run.warmup_s],
        "cycles_s": [round(c, 3) for c, t in run.cycles if not t],
        "error_rate": {"failed": run.failed, "attempted": run.attempted,
                       "value": run.failed / max(run.attempted, 1)},
        "kinds": {k: {"n": len(v), "p50_ms": round(_med(v), 2), "p90_ms": round(_p(v, 90), 2)}
                  for k, v in sorted(kinds.items())},
        "ttff": {k: {"n": len(v), "p50_ms": round(_med(v), 2), "p90_ms": round(_p(v, 90), 2)}
                 for k, v in sorted(ttff.items())},
    }
    out.update(run.info)
    return out


def per_layer(workload: str, run, ctx, tracer) -> dict[str, tuple[float, str]]:
    v: dict[str, float] = {k: 0.0 for k in PER_LAYER}
    plain = [s for s in run.samples if not s.traced]
    traced = [s for s in run.samples if s.traced and s.cmd is not None]

    def kind_ms(kinds, attr="ms"):
        return [getattr(s, attr) for s in plain if s.kind in kinds and getattr(s, attr) is not None]

    reads = ("point", "agg", "scan", "seq") if workload == "query" else ("read",)
    v["lat.read_ms_p50"] = _med(kind_ms(reads))
    v["lat.read_ms_p90"] = _p(kind_ms(reads), 90)
    v["lat.store_batch_ms_p50"] = _med(kind_ms(("store_batch",)))
    v["lat.store_batch_ms_p90"] = _p(kind_ms(("store_batch",)), 90)
    v["lat.flush_ms_p50"] = _med(kind_ms(("flush",)))
    v["lat.show_ttff_ms_p50"] = _med(kind_ms(("show",), "ttff_ms"))
    v["lat.show_ttff_ms_p90"] = _p(kind_ms(("show",), "ttff_ms"), 90)
    v["lat.show_ms_p50"] = _med(kind_ms(("show",)))
    if workload == "curate":
        v["lat.job_s"] = _med(c for c, t in run.cycles if not t)
    on = _med(c for c, t in run.cycles if t)
    off = _med(c for c, t in run.cycles if not t)
    v["trace.overhead_pct"] = 100.0 * (on / off - 1.0) if off else 0.0

    # -- spans of each traced request ------------------------------------
    spans = tracer.by_cmd()
    groups = [f"cmd-{s.cmd}" for s in traced] + list(run.info.get("job_groups", []))
    jobs = tracer.job_stats(groups)
    wire, enc, rows, nbytes, parse_read, compile_ms, py4j = [], [], [], [], [], [], []
    exch, scans, exec_ms, read_build = [], [], [], []
    sp_jobs, sp_stages, sp_tasks, flush_ms, show_jobs = [], [], [], [], []
    parse_store, n_store = 0.0, 0
    for s in traced:
        if s.kind in STAGES:
            continue
        mine = spans.get(s.cmd, [])
        top = [x for x in mine if x.parent is None]
        parse = sum(x.ms for x in top if x.name == "commands.parse")
        execute = sum(x.ms for x in top if x.name == "engine.execute_command")
        frames = [x for x in top if x.name == "response.json_frames" and x.info]
        inside = sum(x.info["inside_ms"] for x in frames)
        wire.append(s.ms - parse - execute - inside)
        job = jobs.get(f"cmd-{s.cmd}", {})
        if s.kind == "store_batch":
            for x in top:
                if x.name == "commands.parse" and x.info:
                    parse_store += x.ms
                    n_store += x.info["stores"]
        if s.kind == "flush":
            flush_ms.extend(x.ms for x in mine if x.name == "store.flush")
        if s.kind not in READ_KINDS:
            continue
        fetch = sum(x.info["blocked_ms"] for x in mine
                    if x.name == "spark.fetch" and x.info)
        enc.append(inside - fetch)
        exec_ms.append(fetch)
        rows.append(sum(x.info["rows"] for x in frames))
        nbytes.append(sum(x.info["bytes"] for x in frames))
        read_build.extend(x.ms for x in mine if x.name == "store.read")
        if s.kind != "show":  # SHOW serves a materialization, it compiles nothing
            parse_read.append(parse)
            compile_ms.append(sum(x.ms for x in mine if x.name == "plans.compile"))
            py4j.append(tracer.py4j.get((s.cmd, "plans.compile"), 0))
        if s.cmd in ctx.plans:
            exch.append(ctx.plans[s.cmd][0])
            scans.append(ctx.plans[s.cmd][1])
        sp_jobs.append(job.get("jobs", 0))
        sp_stages.append(job.get("stages", 0))
        sp_tasks.append(job.get("tasks", 0))
        if s.kind == "show":
            show_jobs.append(job.get("jobs", 0))
    v["server.wire_ms"] = _med(wire)
    v["response.encode_ms"] = _med(enc)
    v["response.rows"] = _med(rows)
    v["response.bytes"] = _med(nbytes)
    v["commands.parse_ms"] = _med(parse_read)
    v["commands.parse_us_per_store"] = 1000.0 * parse_store / n_store if n_store else 0.0
    v["plans.compile_ms"] = _med(compile_ms)
    v["plans.py4j_calls"] = _med(py4j)
    v["plans.exchanges"] = _med(exch)
    v["plans.scans"] = _med(scans)
    v["spark.jobs"] = _med(sp_jobs)
    v["spark.stages"] = _med(sp_stages)
    v["spark.tasks"] = _med(sp_tasks)
    v["spark.failed_tasks"] = float(sum(j["failed_tasks"] for j in jobs.values()))
    v["spark.exec_ms"] = _med(exec_ms)
    n_cycles = sum(1 for _, t in run.cycles if t) or 1
    v["spark.background_jobs"] = (
        run.info["untagged_jobs_after"] - run.info["untagged_jobs_before"]) / len(run.cycles)
    v["store.read_build_ms"] = _med(read_build)
    v["store.flush_ms"] = _med(flush_ms)
    v["materialize.show_jobs"] = _med(show_jobs)

    # -- spans by name, whatever the command -----------------------------
    by_name: dict[str, list] = defaultdict(list)
    for x in tracer.spans:
        if x.end is not None:
            by_name[x.name].append(x)
    validate = by_name["schema.validate"]
    stores = by_name["store.store"]
    v["schema.validate_us_per_event"] = (
        1000.0 * sum(x.ms for x in validate) / len(validate) if validate else 0.0)
    v["store.store_us_per_event"] = (
        1000.0 * sum(x.ms for x in stores) / len(stores) if stores else 0.0)
    v["materialize.remember_ms"] = _med(x.ms for x in by_name["materialize.remember"])
    shows = [x for x in by_name["materialize.show"] if x.info]
    v["materialize.show_build_ms"] = _med(x.ms for x in shows)
    v["materialize.stale_share"] = (
        sum(1 for x in shows if x.info["stale"]) / len(shows) if shows else 0.0)

    # -- workload-reported counters ----------------------------------------
    for key, val in run.info.get("layer", {}).items():
        v[key] = float(val)
    if workload == "curate":
        for stage in STAGES:
            times = [s.ms / 1000.0 for s in traced if s.kind == stage]
            gs = [jobs.get(f"stage-{stage}-{s.cycle}", {}) for s in traced if s.kind == stage]
            v[f"pipeline.{stage}_s"] = _med(times)
            v[f"pipeline.{stage}_jobs"] = _med(g.get("jobs", 0) for g in gs)
            v[f"pipeline.{stage}_tasks"] = _med(g.get("tasks", 0) for g in gs)
        v["pipeline.local_checkpoints"] = tracer.checkpoints / n_cycles
    return {k: (float(v[k]), PER_LAYER[k]) for k in PER_LAYER}
