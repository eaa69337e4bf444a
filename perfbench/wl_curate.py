"""`curate`: a fixed LLM-data curation chain over a seeded corpus.

The corpus is the `documents` and `embeddings` tables of the repository's
test-data generator (`tools/gen_testdata.py`), whose shapes are profiled
from the sf0.1 parquet, at a scale a timed run can repeat. Covers
`pipeline/` (dedup, text, similarity) and its eager `localCheckpoint`
sites; it never touches commands, the store or the frontends. Each
stage's output is forced with a noop write and cached so the next stage
starts from it; a pass is the whole chain. The first pass runs cold and
is not timed.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys
import time

from harness import Run, Sample
from tracing import UNTRACED, plan_counts

# scale factor of the generated tables: 0.03 is 1,500 documents and 600
# vectors (sf0.1 has 5,000 and 2,000)
SIZES = {"full": 0.03, "tiny": 0.006}
SETUP_REPS = 3
MIN_CYCLES = 1


def _stages(docs, vecs):
    """(name, build) in chain order; build(prev) -> DataFrame, where prev
    is the previous stage's cached output."""
    from pyspark.sql import functions as F

    from sneldb_spark.pipeline.dedup import (
        dedup_clusters,
        duplicated_span_removal,
        exact_dedup,
        minhash_dedup_pairs,
    )
    from sneldb_spark.pipeline.similarity import semantic_dedup
    from sneldb_spark.pipeline.text import language_id, quality_features, tfidf_top_terms

    kept: dict = {}

    def quality(prev):
        q = quality_features(prev)
        return q.where((F.col("q_words") >= 10) & (F.col("q_punct_ratio") < 0.2)).select(
            "doc_id", "text", "lang_pred")

    def clusters(prev):
        ids = kept["exact_dedup"].select(F.col("doc_id").alias("id"))
        cl = dedup_clusters(ids, prev.select("id1", "id2"))
        keep = cl.where(F.col("id") == F.col("cluster_id")).select(F.col("id").alias("doc_id"))
        return kept["exact_dedup"].join(keep, "doc_id", "left_semi")

    return kept, [
        ("language_id", lambda prev: language_id(docs)),
        ("quality_filter", quality),
        ("exact_dedup", exact_dedup),
        ("minhash_pairs", lambda prev: minhash_dedup_pairs(prev, threshold=0.5)),
        ("dedup_clusters", clusters),
        ("span_removal", lambda prev: duplicated_span_removal(prev, n=10, min_count=2)),
        ("tfidf_top_terms", lambda prev: tfidf_top_terms(
            prev.select(F.col("id").alias("doc_id"), F.col("clean_text").alias("text")), k=3)),
        ("semantic_dedup", lambda prev: semantic_dedup(vecs, threshold=0.4)),
    ]


def _fingerprint(df) -> tuple[int, int]:
    """(rows, order-independent content hash) of a cached stage output."""
    from pyspark.sql import functions as F

    row = df.agg(F.count(F.lit(1)), F.sum(F.xxhash64(*df.columns) % 1_000_000_007)).first()
    return int(row[0]), int(row[1] or 0)


def _generate(sf: float, out_dir: str, seed: int) -> None:
    """All test tables at scale `sf` into `out_dir`; the chain reads two."""
    tools = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
    if tools not in sys.path:
        sys.path.append(tools)
    import gen_testdata

    with contextlib.redirect_stdout(io.StringIO()):  # it prints per table
        gen_testdata.generate(sf, out_dir, seed)


def run(ctx) -> Run:
    sf = SIZES[ctx.size]
    out = Run()
    spark = ctx.spark
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        data = os.path.join(ctx.work, f"tables-{rep}")
        _generate(sf, data, ctx.seed)
        docs = spark.read.parquet(os.path.join(data, "documents.parquet"))
        vecs = spark.read.parquet(os.path.join(data, "embeddings.parquet"))
        out.setup_s.append(time.perf_counter() - t0)

    fingerprints: list[dict[str, tuple[int, int]]] = []
    exchanges: list[int] = []  # per traced stage, in its final plan

    def cycle_fn(cycle: int, traced: bool) -> float:
        kept, stages = _stages(docs, vecs)
        prev, total, prints = None, 0.0, {}
        for name, build in stages:
            cmd = ctx.next_cmd()
            if ctx.tracer is not None:
                ctx.tracer.set_group(f"stage-{name}-{cycle}" if traced else UNTRACED)
            span = ctx.tracer.open(f"pipeline.{name}") if traced else None
            t0 = time.perf_counter()
            df = build(prev).cache()
            df.write.format("noop").mode("overwrite").save()
            ms = (time.perf_counter() - t0) * 1000.0
            if span is not None:
                ctx.tracer.close(span)
            out.attempted += 1
            total += ms
            if cycle >= 0:
                out.samples.append(Sample(name, ms, cycle, traced, None, cmd))
            if traced:
                with ctx.tracer.internal():
                    exchanges.append(plan_counts(df)[0])
            # the output check is the harness's job, not the stage's
            if ctx.tracer is not None:
                ctx.tracer.set_group(UNTRACED)
            ctx.trace_enabled(False)
            prints[name] = _fingerprint(df)
            ctx.trace_enabled(traced)
            kept[name] = prev = df
        for df in kept.values():
            df.unpersist(blocking=True)
        fingerprints.append(prints)
        return total / 1000.0

    ctx.measure(out, cycle_fn, min_cycles=MIN_CYCLES)
    if ctx.tracer is not None:
        ctx.tracer.set_group(None)

    first = fingerprints[0]
    if ctx.perturb:
        name = next(iter(first))
        first = dict(first, **{name: (first[name][0] + 1, first[name][1])})
    for name in first:
        seen = {p[name] for p in fingerprints}
        out.check(f"{name} rows+hash stable over {len(fingerprints)} passes",
                  seen == {first[name]}, str(sorted(seen)))
        out.check(f"{name} not empty", first[name][0] > 0, str(first[name]))
    out.info["stage_rows"] = {k: v[0] for k, v in first.items()}
    out.info["scale_factor"] = sf
    ckpt_exchanges = sum(
        (s.info or {}).get("exchanges", 0) for s in (ctx.tracer.spans if ctx.tracer else [])
        if s.name == "spark.localCheckpoint")
    traced_passes = sum(1 for _, t in out.cycles if t) or 1
    out.info["layer"] = {"pipeline.exchanges": (sum(exchanges) + ckpt_exchanges) / traced_passes}
    out.info["job_groups"] = [f"stage-{s.kind}-{s.cycle}" for s in out.samples if s.traced]
    return out
