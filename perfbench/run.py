#!/usr/bin/env python3
"""Benchmark of the logsight_filebeat_spark engine, run from a checkout root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One process drives a ``local[nproc]`` session built by the package's own
``session.get_spark`` (driver heap: half the box's memory, at most 8g) and
calls only the package's public entry points. Inputs come from
``sources.pages.pages(spark, n, seed=--seed)``.

Workloads (see BENCHMARK.json for why each one is there):

* ``bulk_batch`` — repeated large ``PipelinePlan.run_batch`` calls into one
  sink root (bulk_batch.py).
* ``graph_iterate`` — ``pagerank`` and ``label_propagation`` over a seeded
  link graph (graph_iterate.py).

``--trace 0`` prints the end-to-end metrics: set-up time (session, input
staging as the median of three repeats, warm-up), throughput, the median
operation, process-tree CPU per million events, and timed wall per
operation round. The timed window holds at least two operations and takes
another only while one as long as the last still ends within
``--seconds``. ``--trace 1`` runs the workload's end-to-end pass twice,
untraced then traced, then times each layer's public functions from here
(bulk_batch also drains a small micro-batch stream, stream_layer.py); it
prints the per-layer metrics and writes the spans. A metric of a layer the
workload never calls reads 0.

Every operation's output is checked (pipeline: receipt vs the event count
of the input text, routed rows per batch, metrics, receipts table, exactly
one lineage commit; graph: value-exact against the registry's DuckDB
oracles). An operation that raises or fails a check counts in ``failed``.

Left out on purpose:

* a ``microbatch_stream`` workload. Each run starts a JVM and warms it up
  (about 40 s on a 4-vCPU box before anything is timed), and three
  workloads' worth of runs do not fit the time the whole benchmark is given;
  the stream's per-epoch costs are in bulk_batch's per-layer table instead,
  and an open-loop file-arrival schedule is a later change;
* a tail percentile: a run holds too few batches for a percentile with ten
  samples beyond it;
* peak RSS as a gated metric: the JVM's high-water mark is bimodal from run
  to run (G1 heap growth), so it is a per-layer figure (``jvm.peak_rss_mb``);
* ``ops_failed_frac`` as a gated metric: it is 0 when the code is correct;
  the result's ``attempted``/``failed`` carry it, and the traced run
  reports it as ``harness.ops_failed_frac``;
* the N→4N scaling pair and the 85-query map, which stay in the top-level
  bench.py (on 4 vCPU the pair collapses to 2→4), and bench.py's
  sink-hour-aggregate DAG, which is not a headline here.

Artifacts go to ``.perfbench/`` under the checkout: ``<tag>.json`` (box
fingerprint, every sample, every metric, check errors) and, when traced,
``<tag>.spans.json``. The last stdout line is the result object.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time
from dataclasses import dataclass
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from harness import (  # noqa: E402
    OUT,
    REPO,
    Tracer,
    fingerprint,
    fresh_dir,
    jvm_pid,
    median,
    peak_rss_mb,
    start_session,
    stop_session,
)

WORKLOADS = ("bulk_batch", "graph_iterate")  # one module each
SETUP_REPEATS = 3
MIN_OPS = 2  # per timed window

E2E_UNITS = {
    "setup_s": "s",
    "events_per_s": "events/s",
    "batch_p50_s": "s",
    "cpu_s_per_mevent": "s/Mevent",
    "wall_s": "s",
}
GRAPH_K = range(1, 5)  # rounds 1..graph_iterate.N_ITER["full"]
LAYER_UNITS = {
    "sources.scan_s": "s", "sources.pages": "count", "sources.input_bytes": "B",
    "parse.multiline_s": "s", "parse.events": "count", "parse.grok_native_s": "s",
    "parse.grok_arrow_s": "s", "parse.grok_hit_ratio": "ratio",
    "log_mapper.to_log_s": "s", "log_mapper.rows_ok": "count",
    "log_mapper.invalid_level": "count", "log_mapper.invalid_timestamp": "count",
    "log_mapper.mapper_error": "count",
    "enrich.lookup_s": "s", "enrich.hit_ratio.host": "ratio", "enrich.hit_ratio.lang": "ratio",
    "router.route_s": "s",
    **{f"router.rows.{s}": "count" for s in (
        "auth", "checkout", "search", "ingest", "frontend", "default", "_quarantine")},
    "pipeline.persist_s": "s", "pipeline.totals_s": "s",
    "pipeline.jobs_per_batch": "count", "pipeline.failed_tasks": "count",
    "writers.write_routed_s": "s", "writers.bytes_written": "B",
    "writers.files_written": "count", "writers.bytes_per_event": "B/event",
    "aggregate.sink_hour_s": "s", "aggregate.receipts_s": "s",
    "lineage.guard_s_first": "s", "lineage.guard_s_last": "s",
    "lineage.commit_s": "s", "lineage.files": "count",
    "stream.trigger_ms_p50": "ms", "stream.add_batch_ms_p50": "ms",
    "stream.wal_commit_ms_p50": "ms", "stream.commit_offsets_ms_p50": "ms",
    "stream.latest_offset_ms_p50": "ms", "stream.trigger_ms_max": "ms",
    "stream.epochs": "count", "stream.jobs_per_epoch": "count",
    **{f"webgraph.{op}_s.k{k}": "s" for op in ("pagerank", "lpa") for k in GRAPH_K},
    **{f"webgraph.plan_chars.{op}.k{k}": "chars" for op in ("pagerank", "lpa") for k in GRAPH_K},
    "caching.handles_released": "count",
    "trace.overhead_frac": "frac", "trace.layer_sum_over_e2e": "ratio",
    "harness.ops_failed_frac": "frac",
    # G1 grows the heap by how GC timing falls, so the peak is bimodal run to
    # run: a figure to read, too unsteady to gate a change on
    "jvm.peak_rss_mb": "MB",
}


@dataclass
class Context:
    spark: object
    seed: int
    seconds: int
    trace: bool
    scale: str
    work: Path
    tracer: Tracer
    stolen_s: float = 0.0  # steal time over the timed windows, for the artifact

    def room_for(self, t_start: float, done: int, last_s: float) -> bool:
        """Whether the timed window that began at ``t_start`` takes another
        operation after ``done`` of them, the last taking ``last_s``. A
        window holds MIN_OPS operations, so its median is not one sample,
        and beyond them only what fits in ``seconds``: a slow box measures
        fewer operations instead of running longer. A traced run times one
        operation: it measures layers, not throughput."""
        if self.trace:
            return False
        return done < MIN_OPS or time.perf_counter() - t_start + last_s <= self.seconds

    def repeat_setup(self, stage) -> tuple[list[float], Path]:
        """Run ``stage(d)`` SETUP_REPEATS times, each writing the same inputs
        into its own directory ``d``; returns the timings and the last ``d``,
        whose inputs the workload uses."""
        samples = []
        for i in range(SETUP_REPEATS):
            d = self.work / f"stage{i}"
            with self.tracer.span("setup.stage"):
                t0 = time.perf_counter()
                stage(d)
                samples.append(time.perf_counter() - t0)
        return samples, d


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    # toy inputs for the smoke test only
    ap.add_argument("--scale", choices=("full", "toy"), default="full")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    t_begin = time.perf_counter()
    sys.path.insert(1, str(REPO))
    try:
        import logsight_filebeat_spark
    except ImportError as e:
        print(f"perfbench: cannot import the package under test from {REPO}: {e}",
              file=sys.stderr)
        return 2
    if REPO not in Path(logsight_filebeat_spark.__file__).resolve().parents:
        print(f"perfbench: the package resolves outside {REPO}: "
              f"{logsight_filebeat_spark.__file__}", file=sys.stderr)
        return 2
    # Python workers import the package too (the Arrow grok runs there)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(REPO), os.environ.get("PYTHONPATH")) if p)
    module = importlib.import_module(args.workload)

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = fresh_dir(OUT / tag)
    tracer = Tracer(run_id=f"{tag}-pid{os.getpid()}", enabled=bool(args.trace))
    spark = start_session(work)
    try:
        session_s = time.perf_counter() - t_begin
        ctx = Context(spark, args.seed, args.seconds, bool(args.trace), args.scale,
                      work, tracer)
        with tracer.span(f"run.{args.workload}"):
            res = module.run(ctx)
        res["samples"]["steal_s_timed"] = ctx.stolen_s
        rss = peak_rss_mb(jvm_pid(spark))
        box = fingerprint(spark, args.seed)
    finally:
        stop_session(spark)
    shutil.rmtree(work, ignore_errors=True)
    run_s = time.perf_counter() - t_begin

    setup = dict(res["setup"], session_s=session_s)
    e2e = dict(res["e2e"],
               setup_s=session_s + median(setup["stage_s"]) + setup["warmup_s"])
    ops_failed_frac = res["failed"] / res["attempted"]
    layers = {name: 0 for name in LAYER_UNITS}
    layers.update(res["layers"], **{"harness.ops_failed_frac": ops_failed_frac,
                                    "jvm.peak_rss_mb": rss})
    unknown = set(e2e) ^ set(E2E_UNITS) or set(layers) - set(LAYER_UNITS)
    if unknown:
        raise RuntimeError(f"metrics without a declared unit: {sorted(unknown)}")
    chosen, units = (layers, LAYER_UNITS) if args.trace else (e2e, E2E_UNITS)
    metrics = {k: {"value": chosen[k], "unit": units[k]} for k in units}

    OUT.mkdir(exist_ok=True)
    artifact = {
        "workload": args.workload, "seconds": args.seconds, "trace": args.trace,
        "run_s": run_s,
        "scale": args.scale, "box": box, "setup": setup, "e2e": e2e,
        "layers": layers if args.trace else None, "peak_rss_mb": rss,
        "samples": res["samples"],
        "ops": {"attempted": res["attempted"], "failed": res["failed"],
                "ops_failed_frac": ops_failed_frac}, "errors": res["errors"],
    }
    with open(OUT / f"{tag}.json", "w") as fh:
        json.dump(artifact, fh, indent=1, default=str)
    if args.trace:
        tracer.dump(OUT / f"{tag}.spans.json")
    for err in res["errors"]:
        print(f"perfbench check failed: {err}", file=sys.stderr)
    print(json.dumps({"box": box, "setup": setup, "ops": artifact["ops"]}))
    print(json.dumps({
        "correct": res["failed"] == 0 and not res["errors"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
