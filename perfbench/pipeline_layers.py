"""The log pipeline as the two pipeline workloads drive it: the compiled
plan, the event count derived independently from the input text, the
output checks, and the per-layer costs timed from outside.

Per-layer method. Each layer's input is materialized (untimed) as parquet.
A layer span then encloses a ``read`` child span, which runs the
materialized input into the noop sink, and the layer's public function
run into the noop sink (or its real write). The layer's cost is the span's
self time, i.e. the layer run minus the read of its input. The fan-out
layers (persist, totals, write, sink-hour metrics, receipts) read the same
persisted frame ``run_batch`` fans out from; re-reading that cache is part
of what each of them costs per batch, so nothing is subtracted there.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from harness import JobCounter, Tracer, dir_stats, median, noop
from logsight_filebeat_spark.operators import parse as parse_ops
from logsight_filebeat_spark.operators.aggregate import receipts, sink_hour_aggregates
from logsight_filebeat_spark.operators.enrich import enrich_with_lookup, url_host
from logsight_filebeat_spark.operators.log_mapper import ERROR_COL, to_log
from logsight_filebeat_spark.operators.router import SINK_COL, route
from logsight_filebeat_spark.plans.pipeline import (
    Lookup,
    PipelinePlan,
    compile,
    standard_pages_config,
)
from logsight_filebeat_spark.sinks import lineage as lineage_ops
from logsight_filebeat_spark.sinks.writers import write_routed
from logsight_filebeat_spark.sources.pages import APPS, host_meta, lang_meta

SINKS = (*APPS, "default", "_quarantine")
# the columns run_batch reads from pages and writes to routed/
SCAN_COLS = ("url", "warc_ts", "text", "lang")
ROUTED_COLS = (
    "batch_id", SINK_COL, "timestamp", "message", "level", "tags", ERROR_COL,
    "url", "warc_ts",
)
# the isolated layers on run_batch's own path (the Arrow grok is not on it)
RUN_BATCH_LAYERS = (
    "sources.scan_s", "parse.multiline_s", "parse.grok_native_s",
    "log_mapper.to_log_s", "enrich.lookup_s", "router.route_s",
    "pipeline.persist_s", "pipeline.totals_s", "writers.write_routed_s",
    "aggregate.sink_hour_s", "aggregate.receipts_s", "lineage.guard_s_last",
    "lineage.commit_s",
)
INVALID_LEVEL = "invalid log level"
INVALID_TS = "timestamp must be in ISO 8601 format"


def build_plan(spark: SparkSession) -> PipelinePlan:
    """The standard pages pipeline with both enrichment lookups."""
    return compile(
        standard_pages_config(),
        lookups=[
            Lookup(
                table=host_meta(spark),
                on=url_host("url"),
                tag_cols={"site_category": "site_category", "org": "org"},
                lookup_key="host",
            ),
            Lookup(table=lang_meta(spark), on="lang", tag_cols={"lang_name": "lang_name"}),
        ],
    )


def text_events(pages: DataFrame) -> DataFrame:
    """Logical events per page, counted from the raw text without the
    package: every line that does not start with whitespace opens one."""
    lines = F.split("text", "\n")
    return pages.select(
        "url",
        (F.size(lines) - F.size(F.filter(lines, lambda l: l.rlike(r"^\s")))).alias(
            "events"
        ),
    )


def page_id(url_col: str = "url"):
    """The generator's page id, carried in every url as ``?id=<n>``."""
    return F.regexp_extract(F.col(url_col), r"\?id=(\d+)$", 1).cast("long")


# ---------------------------------------------------------------------------
# output checks
# ---------------------------------------------------------------------------

def batch_tables(spark: SparkSession, sink_root: Path) -> dict[str, dict]:
    """Per batch_id: routed rows (and the page-id range they came from),
    metrics event_count, receipts logs_count, and lineage rows."""
    root = str(sink_root)
    routed = {
        r.batch_id: r
        for r in spark.read.parquet(os.path.join(root, "routed"))
        .groupBy("batch_id")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.when(F.col(ERROR_COL).isNull(), 1).otherwise(0)).alias("ok"),
            F.min(page_id()).alias("min_id"),
            F.max(page_id()).alias("max_id"),
        )
        .collect()
    }
    metrics = {
        r.batch_id: r.events
        for r in spark.read.parquet(os.path.join(root, "metrics"))
        .groupBy("batch_id")
        .agg(F.sum("event_count").alias("events"))
        .collect()
    }
    rec = {
        r.batch_id: r.ok
        for r in lineage_ops.read_receipts(spark, root)
        .groupBy("batch_id")
        .agg(F.sum("logs_count").alias("ok"))
        .collect()
    }
    lineage: dict[str, list] = {}
    for r in lineage_ops.read_lineage(spark, root).collect():
        lineage.setdefault(r.batch_id, []).append(r)
    return {"routed": routed, "metrics": metrics, "receipts": rec, "lineage": lineage}


def check_batch(tables: dict, batch_id: str, expected_events: int,
                receipt: dict | None = None) -> list[str]:
    """Every check one batch (or epoch) must pass; returns the failures.
    ``receipt`` is run_batch's return value where the caller has it; the
    streaming path only has the lineage row."""
    errs = []
    lin = [r for r in tables["lineage"].get(batch_id, []) if r.status == "committed"]
    if len(lin) != 1:
        errs.append(f"{batch_id}: {len(lin)} committed lineage rows, want 1")
    rec = receipt or (
        {"rows_ok": lin[0].rows_ok, "rows_failed": lin[0].rows_failed} if lin else None
    )
    if rec is None:
        return errs + [f"{batch_id}: no receipt"]
    total = rec["rows_ok"] + rec["rows_failed"]
    if total != expected_events:
        errs.append(f"{batch_id}: receipt {total} events, input text has {expected_events}")
    routed = tables["routed"].get(batch_id)
    rows = routed.rows if routed else 0
    if rows != total:
        errs.append(f"{batch_id}: {rows} routed rows, receipt says {total}")
    if routed and routed.ok != rec["rows_ok"]:
        errs.append(f"{batch_id}: {routed.ok} ok routed rows, receipt says {rec['rows_ok']}")
    if tables["metrics"].get(batch_id) != rows:
        errs.append(f"{batch_id}: metrics count {tables['metrics'].get(batch_id)}, routed {rows}")
    if tables["receipts"].get(batch_id) != rec["rows_ok"]:
        errs.append(f"{batch_id}: receipts logs_count {tables['receipts'].get(batch_id)}, "
                    f"rows_ok {rec['rows_ok']}")
    return errs


# ---------------------------------------------------------------------------
# per-layer costs
# ---------------------------------------------------------------------------

class LayerTimer:
    """Materialize → span(layer){ span(read){noop(input)}; layer action }."""

    def __init__(self, spark: SparkSession, tracer: Tracer, work: Path):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.secs: dict[str, float] = {}

    def materialize(self, df: DataFrame, name: str) -> DataFrame:
        path = str(self.work / name)
        with self.tracer.span(f"materialize.{name}"):
            df.write.mode("overwrite").parquet(path)
        return self.spark.read.parquet(path)

    def time(self, metric: str, src: DataFrame | None, action) -> object:
        with self.tracer.span(metric) as rec:
            if src is not None:
                with self.tracer.span("read"):
                    noop(src)
            out = action()
        self.secs[metric] = self.tracer.self_time(rec["id"])
        return out


def measure_layers(spark: SparkSession, plan: PipelinePlan, pages_path: str,
                   tracer: Tracer, work: Path) -> dict[str, float]:
    """Time every pipeline layer on ``pages_path`` in isolation and count
    rows at the same boundaries."""
    lt = LayerTimer(spark, tracer, work)
    m: dict[str, float] = {}
    pages = spark.read.parquet(pages_path).select(*SCAN_COLS)
    lt.time("sources.scan_s", None, lambda: noop(pages))
    m["sources.pages"] = pages.count()
    m["sources.input_bytes"] = dir_stats(Path(pages_path))[0]

    # multiline: its input is the scan itself
    lt.time("parse.multiline_s", pages,
            lambda: noop(parse_ops.explode_multiline(pages, "text", "event_text")))
    events = lt.materialize(
        parse_ops.explode_multiline(pages, "text", "event_text"), "events")
    n_events = events.count()
    m["parse.events"] = n_events

    lt.time("parse.grok_native_s", events, lambda: noop(
        parse_ops.with_grok_native(events, "event_text", plan.grok, "parsed")))
    lt.time("parse.grok_arrow_s", events, lambda: noop(
        parse_ops.with_grok_vectorized(events, "event_text", plan.grok, "parsed")))
    parsed = lt.materialize(
        parse_ops.with_grok_native(events, "event_text", plan.grok, "parsed"), "parsed")
    m["parse.grok_hit_ratio"] = parsed.filter(F.col("parsed").isNotNull()).count() / n_events

    lt.time("log_mapper.to_log_s", parsed, lambda: noop(
        to_log(parsed, plan.cfg, event_ts_col=plan.event_ts_col)))
    mapped = lt.materialize(to_log(parsed, plan.cfg, event_ts_col=plan.event_ts_col), "mapped")
    err = {r[0]: r[1] for r in mapped.groupBy(ERROR_COL).count().collect()}
    m["log_mapper.rows_ok"] = err.pop(None, 0)
    m["log_mapper.invalid_level"] = err.pop(INVALID_LEVEL, 0)
    m["log_mapper.invalid_timestamp"] = err.pop(INVALID_TS, 0)
    m["log_mapper.mapper_error"] = sum(err.values())

    def enrich(df):
        for lk in plan.lookups:
            df = enrich_with_lookup(df, lk.table, lk.on, lk.tag_cols, lookup_key=lk.lookup_key)
        return df

    lt.time("enrich.lookup_s", mapped, lambda: noop(enrich(mapped)))
    enriched = lt.materialize(enrich(mapped), "enriched")
    hits = enriched.agg(
        F.avg(F.element_at("tags", "site_category").isNotNull().cast("double")).alias("host"),
        F.avg(F.element_at("tags", "lang_name").isNotNull().cast("double")).alias("lang"),
    ).first()
    m["enrich.hit_ratio.host"] = hits.host
    m["enrich.hit_ratio.lang"] = hits.lang

    lt.time("router.route_s", enriched, lambda: noop(route(enriched, plan.cfg)))
    routed = lt.materialize(
        route(enriched, plan.cfg).withColumn("batch_id", F.lit("layers")), "routed_in")
    per_sink = {r[0]: r[1] for r in routed.groupBy(SINK_COL).count().collect()}
    for s in SINKS:
        m[f"router.rows.{s}"] = per_sink.get(s, 0)

    # fan-out: the persisted frame run_batch writes, aggregates and counts
    cached = routed.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        lt.time("pipeline.persist_s", routed, lambda: cached.count())
        lt.time("pipeline.totals_s", None, lambda: cached.agg(
            F.sum(F.when(F.col(ERROR_COL).isNull(), 1).otherwise(0)),
            F.sum(F.when(F.col(ERROR_COL).isNotNull(), 1).otherwise(0)),
            F.sum(F.coalesce(F.octet_length("message"), F.lit(0))),
        ).first())
        out = work / "sink"
        lt.time("writers.write_routed_s", None, lambda: write_routed(
            cached.select(*ROUTED_COLS), str(out),
            partition_cols=("batch_id", SINK_COL),
            target_file_rows=plan.cfg.batch_size * 1000,
        ))
        nbytes, nfiles = dir_stats(out / "routed")
        m["writers.bytes_written"] = nbytes
        m["writers.files_written"] = nfiles
        m["writers.bytes_per_event"] = nbytes / n_events
        lt.time("aggregate.sink_hour_s", None, lambda: sink_hour_aggregates(
            cached, ts_col=plan.event_ts_col).withColumn("batch_id", F.lit("layers"))
            .write.mode("append").parquet(str(out / "metrics")))
        lt.time("aggregate.receipts_s", None, lambda: receipts(cached, "layers")
                .write.mode("append").parquet(str(out / "receipts")))
        lt.time("lineage.commit_s", None, lambda: lineage_ops.commit_batch(
            spark, str(out), "layers", 1, 0, 0))
    finally:
        cached.unpersist()
    m.update(lt.secs)
    return m


def time_guard(spark: SparkSession, tracer: Tracer, sink_root: Path, label: str) -> float:
    """The rerun guard run_batch starts with, against ``sink_root``'s
    lineage as it stands."""
    with tracer.span(f"lineage.guard.{label}") as rec:
        lineage_ops.is_committed(spark, str(sink_root), "perfbench-probe")
    return tracer.self_time(rec["id"])


def batch_jobs(counter: JobCounter, groups: list[str]) -> tuple[float, int]:
    """(median jobs per operation, failed tasks over all of them)."""
    jobs = [len(counter.jobs(g)) for g in groups]
    return median(jobs), sum(counter.failed_tasks(g) for g in groups)
