"""The ``streaming.micro_batch`` layer, measured inside ``bulk_batch``'s
traced run: a closed-loop ``run_stream`` drain over small pages files, one
file per trigger, all staged before the drain starts (``availableNow``).
Every epoch pays run_batch's per-batch fixed cost (its Spark actions, the
lineage guard over a growing ``_lineage``, the metrics and receipts
appends) plus the streaming checkpoint; its parse work is small.
"""

from __future__ import annotations

from pyspark.sql import functions as F

import pipeline_layers as pl
from harness import JobCounter, fresh_dir, median
from logsight_filebeat_spark.sources.pages import pages
from logsight_filebeat_spark.streaming.micro_batch import run_stream

FILES = {"full": 3, "toy": 2}
PAGES_PER_FILE = {"full": 2_000, "toy": 100}
# StreamingQueryProgress.durationMs key -> metric stem
PROGRESS_KEYS = {"triggerExecution": "trigger", "addBatch": "add_batch",
                 "walCommit": "wal_commit", "commitOffsets": "commit_offsets",
                 "latestOffset": "latest_offset"}


def measure(ctx, plan) -> tuple[dict, int, int, list[str]]:
    """Drain FILES staged files; returns (metrics, attempted, failed, errors).
    One epoch is one operation."""
    spark, work = ctx.spark, fresh_dir(ctx.work / "stream")
    files, ppf = FILES[ctx.scale], PAGES_PER_FILE[ctx.scale]
    in_dir, sink = work / "in", work / "sink"
    # page ids are contiguous per file, so a routed row's id names its file
    pages(spark, files * ppf, seed=ctx.seed + 2, partitions=files).write.parquet(str(in_dir))
    file_events = {
        r.f: r.events
        for r in spark.read.parquet(str(in_dir)).transform(pl.text_events)
        .groupBy((pl.page_id() / ppf).cast("long").alias("f"))
        .agg(F.sum("events").alias("events")).collect()
    }
    with ctx.tracer.span("stream.drain"):
        q = run_stream(spark, plan, str(in_dir), str(sink), checkpoint_dir=str(work / "ckpt"),
                       max_files_per_trigger=1)
        q.awaitTermination()
    epochs = [p for p in q.recentProgress if p.numInputRows > 0]
    m = {"stream.epochs": len(epochs)}
    if epochs:
        m.update({f"stream.{stem}_ms_p50": median([p.durationMs.get(k, 0) for p in epochs])
                  for k, stem in PROGRESS_KEYS.items()})
        m["stream.trigger_ms_max"] = max(p.durationMs["triggerExecution"] for p in epochs)
        # Structured Streaming runs every job of a query under its run id's job group
        m["stream.jobs_per_epoch"] = len(JobCounter(spark).jobs(str(q.runId))) / len(epochs)

    errors = [f"stream: {q.exception()}"] if q.exception() else []
    tables = pl.batch_tables(spark, sink)
    failed, seen = 0, set()
    for p in epochs:
        bid = f"epoch-{p.batchId}"
        routed = tables["routed"].get(bid)
        f = routed.min_id // ppf if routed else None
        if routed is None or f != routed.max_id // ppf or f in seen:
            errs = [f"{bid}: rows do not come from exactly one new input file"]
        else:
            seen.add(f)
            errs = pl.check_batch(tables, bid, file_events[f])
        failed += bool(errs)
        errors += errs
    if len(epochs) != files:
        errors.append(f"stream: {files} files staged, {len(epochs)} epochs drained")
        failed += abs(files - len(epochs))
    return m, max(files, len(epochs)), failed, errors
