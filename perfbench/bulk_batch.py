"""``bulk_batch``: repeated large ``PipelinePlan.run_batch`` calls over one
materialized pages parquet, each under its own batch_id, into one sink
root. The throughput path: scan, multiline, grok, map and validate,
enrich, route and the persisted fan-out write do the work per row, on top
of run_batch's per-batch fixed cost. Its traced run also measures the
pipeline layers in isolation and the micro-batch stream (stream_layer.py).
"""

from __future__ import annotations

import time
from contextlib import nullcontext

from pyspark.sql import functions as F

import pipeline_layers as pl
import stream_layer
from harness import JobCounter, fresh_dir, median, steal_s, tree_cpu_s
from logsight_filebeat_spark.sources.pages import pages

PAGES = {"full": 40_000, "toy": 1_500}
WARMUP_BATCHES = 3


def stage(ctx, d):
    """Write the batch input under ``d``."""
    fresh_dir(d)
    pages(ctx.spark, PAGES[ctx.scale], seed=ctx.seed).write.parquet(str(d / "pages"))


def run_batches(ctx, plan, src: str, sink, label: str, counter: JobCounter | None):
    """Call run_batch while the timed window has room for another call."""
    ops, groups = [], []
    t_start, cpu0, steal0 = time.perf_counter(), tree_cpu_s(), steal_s()
    while True:
        bid = f"{label}-{len(ops)}"
        rec, err = None, None
        with ctx.tracer.span("op.run_batch"):
            t0 = time.perf_counter()
            try:
                with counter.group(bid) if counter else nullcontext() as gid:
                    rec = plan.run_batch(ctx.spark, ctx.spark.read.parquet(src), bid,
                                         sink_root=str(sink))
                if gid:
                    groups.append(gid)
            except Exception as e:  # an op that raises counts as failed
                err = f"{bid}: {type(e).__name__}: {e}"
            dt = time.perf_counter() - t0
        ops.append({"batch_id": bid, "s": dt, "receipt": rec, "error": err})
        if not ctx.room_for(t_start, len(ops), dt):
            break
    ctx.stolen_s += steal_s() - steal0
    return ops, time.perf_counter() - t_start, tree_cpu_s() - cpu0, groups


def run(ctx) -> dict:
    spark = ctx.spark
    stage_s, d = ctx.repeat_setup(lambda d: stage(ctx, d))
    src = str(d / "pages")
    t0 = time.perf_counter()
    events = spark.read.parquet(src).transform(pl.text_events).agg(F.sum("events")).first()[0]
    plan = pl.build_plan(spark)
    sink = ctx.work / "sink"
    layers: dict[str, float] = {}
    if ctx.trace:
        layers["lineage.guard_s_first"] = pl.time_guard(spark, ctx.tracer, sink, "first")
    # Full-size batches into the timed sink: the first batch into an empty
    # sink root takes the guard's missing-table path, creates every table
    # and pays the JIT's first compiles; the second still runs about a
    # quarter, and the third about a tenth, slower than the ones after it
    # while the JIT catches up.
    for i in range(WARMUP_BATCHES):
        plan.run_batch(spark, spark.read.parquet(src), f"warmup-{i}", sink_root=str(sink))
    warm_s = time.perf_counter() - t0

    with ctx.tracer.span("e2e.untraced"), ctx.tracer.paused():
        ops, wall, cpu, _ = run_batches(ctx, plan, src, sink, "bulk", None)
    all_ops = list(ops)
    if ctx.trace:
        counter = JobCounter(spark)
        with ctx.tracer.span("e2e.traced"):
            tops, _, _, groups = run_batches(ctx, plan, src, sink, "traced", counter)
        all_ops += tops
        layers["lineage.guard_s_last"] = pl.time_guard(spark, ctx.tracer, sink, "last")
        with ctx.tracer.span("layers"):
            layers.update(pl.measure_layers(spark, plan, src, ctx.tracer, ctx.work / "layers"))
        layers["lineage.files"] = sum(1 for p in (sink / "_lineage").glob("*.parquet"))
        with ctx.tracer.span("stream"):
            stream_m, s_attempted, s_failed, s_errors = stream_layer.measure(ctx, plan)
        layers.update(stream_m)
        layers["pipeline.jobs_per_batch"], layers["pipeline.failed_tasks"] = pl.batch_jobs(
            counter, groups)
        p50_traced = median([o["s"] for o in tops])
        layers["trace.overhead_frac"] = p50_traced / median([o["s"] for o in ops]) - 1
        layers["trace.layer_sum_over_e2e"] = sum(
            layers[k] for k in pl.RUN_BATCH_LAYERS) / p50_traced

    t_check = time.perf_counter()
    tables = pl.batch_tables(spark, sink)
    failed, errors = (s_failed, s_errors) if ctx.trace else (0, [])
    for o in all_ops:
        errs = [o["error"]] if o["error"] else pl.check_batch(
            tables, o["batch_id"], events, o["receipt"])
        failed += bool(errs)
        errors += errs
    n_events = events * len(ops)
    return {
        "attempted": len(all_ops) + (s_attempted if ctx.trace else 0),
        "failed": failed,
        "errors": errors,
        "setup": {"stage_s": stage_s, "warmup_s": warm_s},
        "e2e": {
            "events_per_s": n_events / wall,
            "batch_p50_s": median([o["s"] for o in ops]),
            "cpu_s_per_mevent": cpu / (n_events / 1e6),
            "wall_s": wall / len(ops),
        },
        "layers": layers,
        "samples": {"batch_s": [o["s"] for o in all_ops], "events_per_batch": events,
                    "check_s": time.perf_counter() - t_check},
    }
