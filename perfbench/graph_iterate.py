"""``graph_iterate``: ``pagerank`` and ``label_propagation`` at a fixed round
count over the link graph of a seeded pages table. Exercises
``operators.webgraph`` and ``functions.caching``, which the pipeline
workloads never touch; each round's analyzed plan nests the previous one,
so this is where a fixpoint driver that truncates plans has to show.
Both results are checked value-exact against the registry's DuckDB oracles.
"""

from __future__ import annotations

import re
import time

import duckdb

from harness import fresh_dir, median, steal_s, strip_expr_ids, tree_cpu_s
from logsight_filebeat_spark.entry_queries_corpus import _PG, _lpa_oracle, _pagerank_oracle
from logsight_filebeat_spark.functions.caching import release_persisted
from logsight_filebeat_spark.operators.webgraph import label_propagation, page_graph, pagerank
from logsight_filebeat_spark.sources.pages import pages

PAGES = {"full": 20_000, "toy": 500}
N_ITER = {"full": 4, "toy": 2}


def stage(ctx, d):
    """The pages table and its materialized link graph (nodes, edges)."""
    fresh_dir(d)
    pages(ctx.spark, PAGES[ctx.scale], seed=ctx.seed).write.parquet(str(d / "pages"))
    nodes, edges = page_graph(ctx.spark.read.parquet(str(d / "pages")))
    nodes.write.parquet(str(d / "nodes"))
    edges.write.parquet(str(d / "edges"))


class Graph:
    """The staged link graph, its sizes, the calls timed on it and their oracles."""

    def __init__(self, spark, d):
        self.spark = spark
        self.d = d
        self.n_nodes = self.nodes().count()
        e = self.edges()
        self.n_edges = e.count()
        self.n_und = (
            e.select("src", "dst").union(e.select("dst", "src")).distinct().count()
        )

    def nodes(self):
        return self.spark.read.parquet(str(self.d / "nodes"))

    def edges(self):
        return self.spark.read.parquet(str(self.d / "edges"))

    def call(self, op: str, n_iter: int, plan_chars: bool = False):
        """One iterative call, collected; returns (rows, analyzed-plan chars
        or None, handles released)."""
        if op == "pagerank":
            df = pagerank(self.nodes(), self.edges(), n_nodes=self.n_nodes, n_iter=n_iter)
            key, val = "node", "rank_scaled"
        else:
            df = label_propagation(self.edges(), n_iter=n_iter)
            key, val = "node", "label"
        rows = {r[key]: r[val] for r in df.select(key, val).collect()}
        chars = (len(strip_expr_ids(df._jdf.queryExecution().analyzed().toString()))
                 if plan_chars else None)
        return rows, chars, release_persisted()

    def oracle(self, op: str, n_iter: int) -> dict:
        """The registry's DuckDB oracle over this run's pages. Each round's
        CTE is read two or three times by the next, and DuckDB inlines
        CTEs, so they are materialized: same rows, linear instead of
        exponential in ``n_iter``."""
        sql = (_pagerank_oracle(n_iter) if op == "pagerank" else _lpa_oracle(n_iter))
        sql = sql.replace(f"'{_PG}'", f"read_parquet('{self.d / 'pages'}/*.parquet')")
        sql = re.sub(r"\b(\w+) AS \(", r"\1 AS MATERIALIZED (", sql)
        con = duckdb.connect()
        try:
            con.execute(f"SET temp_directory='{self.d / 'duckdb_tmp'}'")
            con.execute("SET threads=2")
            return dict(con.execute(sql).fetchall())
        finally:
            con.close()


def run(ctx) -> dict:
    n_iter = N_ITER[ctx.scale]
    stage_s, d = ctx.repeat_setup(lambda d: stage(ctx, d))
    g = Graph(ctx.spark, d)
    t0 = time.perf_counter()
    for op in ("pagerank", "lpa"):  # full calls: shorter ones leave more code to compile
        g.call(op, n_iter)
    warm_s = time.perf_counter() - t0
    # edge visits per call: every round joins each (directed / undirected) edge once
    edge_rounds = {"pagerank": g.n_edges * n_iter, "lpa": g.n_und * n_iter}

    ops = []
    t_start, cpu0, steal0 = time.perf_counter(), tree_cpu_s(), steal_s()
    with ctx.tracer.span("e2e.untraced"), ctx.tracer.paused():
        while True:
            t_pair = time.perf_counter()
            for op in ("pagerank", "lpa"):
                t = time.perf_counter()
                rows, _, _ = g.call(op, n_iter)
                ops.append({"op": op, "k": n_iter, "s": time.perf_counter() - t, "rows": rows})
            if not ctx.room_for(t_start, len(ops), time.perf_counter() - t_pair):
                break
    wall, cpu = time.perf_counter() - t_start, tree_cpu_s() - cpu0
    ctx.stolen_s += steal_s() - steal0
    untraced = list(ops)

    layers: dict[str, float] = {}
    if ctx.trace:
        released = 0
        with ctx.tracer.span("e2e.traced"):
            for op in ("pagerank", "lpa"):
                for k in range(1, n_iter + 1):
                    with ctx.tracer.span(f"webgraph.{op}") as rec:
                        rows, chars, rel = g.call(op, k, plan_chars=True)
                    s = ctx.tracer.self_time(rec["id"])
                    ops.append({"op": op, "k": k, "s": s, "rows": rows})
                    layers[f"webgraph.{op}_s.k{k}"] = s
                    layers[f"webgraph.plan_chars.{op}.k{k}"] = chars
                    released += rel
        layers["caching.handles_released"] = released
        traced = layers[f"webgraph.pagerank_s.k{n_iter}"] + layers[f"webgraph.lpa_s.k{n_iter}"]
        pair = sum(o["s"] for o in untraced[:2])
        layers["trace.overhead_frac"] = traced / pair - 1
        layers["trace.layer_sum_over_e2e"] = traced / pair

    t_check = time.perf_counter()
    oracles = {}
    failed, errors = 0, []
    for o in ops:
        key = (o["op"], o["k"])
        if key not in oracles:
            oracles[key] = g.oracle(*key)
        if o["rows"] != oracles[key]:
            diff = sum(1 for n in oracles[key] if o["rows"].get(n) != oracles[key][n])
            errors.append(f"{o['op']} n_iter={o['k']}: {diff} of {len(oracles[key])} "
                          f"values differ from the DuckDB oracle")
            failed += 1
    visits = sum(edge_rounds[o["op"]] for o in untraced)
    return {
        "attempted": len(ops),
        "failed": failed,
        "errors": errors,
        "setup": {"stage_s": stage_s, "warmup_s": warm_s},
        "e2e": {
            "events_per_s": visits / wall,
            "batch_p50_s": median([o["s"] for o in untraced]),
            "cpu_s_per_mevent": cpu / (visits / 1e6),
            "wall_s": wall / (len(untraced) // 2),
        },
        "layers": layers,
        "samples": {
            "call_s": [(o["op"], o["k"], o["s"]) for o in ops],
            "nodes": g.n_nodes, "edges": g.n_edges, "undirected_edges": g.n_und,
            "n_iter": n_iter, "check_s": time.perf_counter() - t_check,
        },
    }
