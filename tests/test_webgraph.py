from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from logsight_filebeat_spark.operators import webgraph as wg


@pytest.fixture()
def toy_pages(spark):
    mk = lambda *hrefs: (  # noqa: E731
        "<html><body><pre>x</pre><nav>"
        + "".join(f'<a href="{h}">l</a>' for h in hrefs)
        + "</nav></body></html>"
    ).encode()
    rows = [
        ("u:A", mk("u:B", "u:C", "u:B")),  # duplicate href to B
        ("u:B", mk("u:C", "u:B")),  # self link (dropped from edges)
        ("u:C", mk()),  # dangling
        ("u:D", b"<html><body>no nav</body></html>"),  # dangling, no nav
    ]
    return spark.createDataFrame(rows, "url string, html binary")


def test_extract_links_positions_and_targets(spark, toy_pages):
    got = {
        (r.src_url, r.link_pos, r.dst_url)
        for r in wg.extract_links(toy_pages).collect()
    }
    assert got == {
        ("u:A", 0, "u:B"),
        ("u:A", 1, "u:C"),
        ("u:A", 2, "u:B"),
        ("u:B", 0, "u:C"),
        ("u:B", 1, "u:B"),
    }


def test_link_edges_weights_and_self_drop(spark, toy_pages):
    got = {
        (r.src_url, r.dst_url): r.n_hrefs
        for r in wg.link_edges(wg.extract_links(toy_pages)).collect()
    }
    assert got == {("u:A", "u:B"): 2, ("u:A", "u:C"): 1, ("u:B", "u:C"): 1}
    # self links kept when asked
    kept = wg.link_edges(wg.extract_links(toy_pages), drop_self=False)
    assert ("u:B", "u:B") in {(r.src_url, r.dst_url) for r in kept.collect()}


def _python_pagerank(nodes, edges, n_iter=3, d=85, scale=10**12):
    """Single-threaded integer fixed-point oracle mirroring the operator."""
    n = len(nodes)
    out = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    r = {v: scale // n for v in nodes}
    base = (100 - d) * (scale // n) // 100
    for _ in range(n_iter):
        inc = {v: 0 for v in nodes}
        for s, t in edges:
            inc[t] += r[s] // out[s]
        dang = sum(r[v] for v in nodes if v not in out)
        r = {v: base + d * (inc[v] + dang // n) // 100 for v in nodes}
    return r


def test_pagerank_matches_integer_oracle_and_is_partition_stable(spark):
    nodes = ["A", "B", "C", "D", "E"]
    edges = [("A", "B"), ("A", "C"), ("B", "C"), ("C", "A"), ("E", "C")]
    ndf = spark.createDataFrame([(v,) for v in nodes], "node string")
    edf = spark.createDataFrame(edges, "src string, dst string")
    want = _python_pagerank(nodes, edges)
    got = {
        r.node: r.rank_scaled
        for r in wg.pagerank(ndf, edf, n_nodes=5, n_iter=3).collect()
    }
    assert got == want
    # integer arithmetic ⇒ bit-identical at any partitioning
    got2 = {
        r.node: r.rank_scaled
        for r in wg.pagerank(
            ndf.repartition(3), edf.repartition(2), n_nodes=5, n_iter=3
        ).collect()
    }
    assert got2 == want
    # the sink (C) outranks everything; dangling D ends at the floor
    assert got["C"] == max(got.values())
    assert got["D"] == min(got.values())


def test_pagerank_all_dangling_uniform(spark):
    ndf = spark.createDataFrame([("A",), ("B",)], "node string")
    edf = spark.createDataFrame([], "src string, dst string")
    got = {r.node: r.rank_scaled for r in wg.pagerank(ndf, edf, 2, n_iter=2).collect()}
    assert got["A"] == got["B"]  # symmetric graph ⇒ identical ranks


def test_pagerank_rejects_bad_n():
    with pytest.raises(ValueError):
        wg.pagerank(None, None, 0)


def test_page_graph_on_fixture_joins_back(spark):
    """Every synthetic href targets a real page url (sources/pages.py uses
    the same _url_of for anchors and rows), so the edge list inner-joins
    back to nodes with zero loss."""
    from logsight_filebeat_spark.sources.pages import pages

    pg = pages(spark, 200)
    nodes, edges = wg.page_graph(pg)
    n_edges = edges.count()
    assert n_edges > 0
    joined = edges.join(nodes.withColumnRenamed("node", "dst"), "dst").count()
    assert joined == n_edges
    # no self links by construction
    assert edges.filter(F.col("src") == F.col("dst")).count() == 0


def test_pagerank_plan_shape(spark):
    """The per-round join must be an equi-join on src — never a cartesian /
    nested-loop over the edge list. (The 1-row dangling broadcast is the
    only BroadcastNestedLoopJoin allowed.)"""
    ndf = spark.createDataFrame([("A",), ("B",)], "node string")
    edf = spark.createDataFrame([("A", "B")], "src string, dst string")
    plan = (
        wg.pagerank(ndf, edf, 2, n_iter=1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan


def test_extract_anchors_pairs_href_with_text(spark):
    rows = [
        (
            "u:A",
            b'<p><a href="u:B">first link</a> and <a href="u:C"></a>'
            b' then <a href="u:B">other words</a></p>',
        ),
        ("u:B", b'<a href="u:A">back</a><a href="u:B">self</a>'),
        ("u:C", b"<p>no anchors</p>"),
    ]
    pages = spark.createDataFrame(rows, "url string, html binary")
    got = {
        (r.src_url, r.dst_url, r.anchor)
        for r in wg.extract_anchors(pages).collect()
    }
    assert got == {
        ("u:A", "u:B", "first link"),
        ("u:A", "u:C", ""),  # empty anchor text still pairs positionally
        ("u:A", "u:B", "other words"),
        ("u:B", "u:A", "back"),
        ("u:B", "u:B", "self"),
    }


def test_anchor_profile_counts_and_sorted_texts(spark):
    rows = [
        ("u:A", b'<a href="u:T">zeta</a><a href="u:T">alpha</a>'),
        ("u:B", b'<a href="u:T">alpha</a>'),
        ("u:T", b'<a href="u:T">me</a>'),  # self anchor dropped
    ]
    pages = spark.createDataFrame(rows, "url string, html binary")
    prof = {r.dst_url: r for r in
            wg.anchor_profile(wg.extract_anchors(pages)).collect()}
    assert set(prof) == {"u:T"}
    t = prof["u:T"]
    assert t.n_anchors == 3 and t.n_sources == 2
    assert t.anchor_texts == ["alpha", "zeta"]  # distinct + sorted


def test_hits_hub_authority_separation(spark):
    """Classic bipartite shape: H links to A1-A3, H2 to A1 only → A1 is the
    strongest authority, H the strongest hub; pure sinks have zero hub
    score, pure sources zero authority."""
    nodes = spark.createDataFrame(
        [(n,) for n in ["H", "H2", "A1", "A2", "A3"]], "node string"
    )
    edges = spark.createDataFrame(
        [("H", "A1"), ("H", "A2"), ("H", "A3"), ("H2", "A1")],
        "src string, dst string",
    )
    got = {r.node: r for r in wg.hits(nodes, edges, n_iter=2).collect()}
    assert got["A1"].auth_scaled > got["A2"].auth_scaled > 0
    assert got["A2"].auth_scaled == got["A3"].auth_scaled
    assert got["H"].hub_scaled > got["H2"].hub_scaled > 0
    assert all(got[a].hub_scaled == 0 for a in ("A1", "A2", "A3"))
    assert all(got[h].auth_scaled == 0 for h in ("H", "H2"))
    # L1 mass is conserved by the integral renormalize (up to div floors)
    n, scale = 5, 10**6
    assert sum(r.auth_scaled for r in got.values()) <= n * scale
    assert n * scale - sum(r.auth_scaled for r in got.values()) < n

    # bit-stable under repartitioning
    again = {
        r.node: (r.hub_scaled, r.auth_scaled)
        for r in wg.hits(
            nodes.repartition(3), edges.repartition(5), n_iter=2
        ).collect()
    }
    assert again == {
        k: (v.hub_scaled, v.auth_scaled) for k, v in got.items()
    }
    from logsight_filebeat_spark.functions.caching import release_persisted

    release_persisted()


def test_url_templates_collapse_volatile_segments(spark):
    from logsight_filebeat_spark.operators.webgraph import url_templates

    rows = [
        ("https://spam.example/item/12345",),
        ("https://spam.example/item/99",),
        ("https://spam.example/item/7",),
        ("https://ok.example/about",),
        ("https://spam.example/u/550e8400-e29b-41d4-a716-446655440000",),
        ("https://spam.example/u/deadbeefdeadbeefdead",),
        ("https://spam.example/item/12345",),  # duplicate URL
    ]
    df = spark.createDataFrame(rows, "url string")
    got = {
        (r.host, r.template): (r.n_pages, r.n_urls)
        for r in url_templates(df, min_pages=1).collect()
    }
    assert got[("spam.example", "/item/{n}")] == (4, 3)
    assert got[("spam.example", "/u/{uuid}")] == (1, 1)
    assert got[("spam.example", "/u/{hex}")] == (1, 1)
    assert got[("ok.example", "/about")] == (1, 1)
    # min_pages gates the long tail
    capped = {
        r.template
        for r in url_templates(df, min_pages=2).collect()
    }
    assert capped == {"/item/{n}"}


def test_resolve_chains_pointer_jumping_matches_naive_walk(spark):
    from logsight_filebeat_spark.operators.webgraph import resolve_chains

    # one long chain (24 hops — needs the doubling, 5 rounds cover 32),
    # a tree (two srcs converging), and a self-contained short chain
    edges = [(f"c{i}", f"c{i + 1}") for i in range(24)]
    edges += [("t1", "hub"), ("t2", "hub"), ("hub", "end")]
    edges += [("s1", "s2")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r.src: (r.root, r.hops) for r in resolve_chains(df, n_iter=5).collect()}

    mapping = dict(edges)

    def naive(x):
        hops = 0
        while x in mapping:
            x, hops = mapping[x], hops + 1
        return x, hops

    want = {s: naive(s) for s, _ in edges}
    assert got == want
    assert got["c0"] == ("c24", 24)
    assert got["t1"] == ("end", 2) and got["hub"] == ("end", 1)
    # partitioning invariance
    got7 = {
        r.src: (r.root, r.hops)
        for r in resolve_chains(df.repartition(7), n_iter=5).collect()
    }
    assert got7 == want


def test_resolve_chains_cycle_is_bounded_not_livelocked(spark):
    from logsight_filebeat_spark.operators.webgraph import resolve_chains

    df = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    rows = resolve_chains(df, n_iter=3).collect()
    # a 3-cycle never terminates; the walk just stops after 2^3 hops of
    # pointer doubling — bounded work, deterministic output shape
    assert len(rows) == 3
    assert all(r.hops <= 9 for r in rows)


def test_triangle_counts_known_graph(spark):
    # K4 on {a,b,c,d} (4 triangles, each node in 3, clustering 1.0)
    # plus a pendant vertex e-a (deg(a)=4, clustering drops) and an
    # isolated edge f-g (no triangles, deg 1 ⇒ coefficient 0.0).
    edges = [
        ("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
        ("c", "d"), ("e", "a"), ("f", "g"),
        # duplicates / reversals / self-loop must not change counts
        ("b", "a"), ("a", "b"), ("c", "c"),
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r.node: (r.deg, r.triangles, r.clustering)
        for r in wg.triangle_counts(df).collect()
    }
    assert got["a"] == (4, 3, round(2 * 3 / (4 * 3), 6))
    for n in ("b", "c", "d"):
        assert got[n] == (3, 3, 1.0)
    assert got["e"] == (1, 0, 0.0)
    assert got["f"] == (1, 0, 0.0) and got["g"] == (1, 0, 0.0)
    # total triangle mass: sum of per-node counts = 3 * n_triangles
    assert sum(t for _, t, _ in got.values()) == 3 * 4
    # partitioning invariance
    got5 = {
        r.node: (r.deg, r.triangles, r.clustering)
        for r in wg.triangle_counts(df.repartition(5)).collect()
    }
    assert got5 == got


def test_triangle_counts_no_cartesian_in_plan(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    plan = wg.triangle_counts(edges)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def _python_trustrank(nodes, edges, seeds, n_iter=3, d=85, scale=10**12):
    """Reference TrustRank mirroring webgraph.trustrank's integer math."""
    ns = len(seeds)
    r0 = scale // ns
    base = (100 - d) * r0 // 100
    out = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    r = {v: (r0 if v in seeds else 0) for v in nodes}
    for _ in range(n_iter):
        inc = {v: 0 for v in nodes}
        for s, t in edges:
            inc[t] += r[s] // out[s]
        dang = sum(r[v] for v in nodes if v not in out)
        r = {
            v: (
                (base + d * (dang // ns) // 100 if v in seeds else 0)
                + d * inc[v] // 100
            )
            for v in nodes
        }
    return r


def test_trustrank_matches_integer_oracle_and_demotes_spam(spark):
    # seed A endorses B; spam ring D<->E links only itself and C
    nodes = ["A", "B", "C", "D", "E"]
    edges = [("A", "B"), ("B", "C"), ("D", "E"), ("E", "D"), ("D", "C")]
    seeds = {"A"}
    ndf = spark.createDataFrame([(v,) for v in nodes], "node string")
    edf = spark.createDataFrame(edges, "src string, dst string")
    sdf = spark.createDataFrame([("A",)], "node string")
    want = _python_trustrank(nodes, edges, seeds)
    got = {
        r.node: r.trust_scaled
        for r in wg.trustrank(ndf, edf, sdf, n_seeds=1, n_iter=3).collect()
    }
    assert got == want
    # partition stability: integer arithmetic is associative
    got2 = {
        r.node: r.trust_scaled
        for r in wg.trustrank(
            ndf.repartition(3), edf.repartition(2), sdf, n_seeds=1, n_iter=3
        ).collect()
    }
    assert got2 == want
    # the spam ring never touches the seed neighborhood: zero trust
    assert got["D"] == 0 and got["E"] == 0
    # trust flows seed -> B -> C
    assert got["A"] > got["B"] > got["C"] > 0


def test_trustrank_rejects_bad_seeds():
    with pytest.raises(ValueError):
        wg.trustrank(None, None, None, n_seeds=0)


def test_cocitation_counts_and_caps(spark):
    edges = [
        # S1 and S2 both cite A and B -> common(A,B) = 2
        ("S1", "A"), ("S1", "B"),
        ("S2", "A"), ("S2", "B"), ("S2", "C"),
        # hub cites everything but exceeds the cap -> contributes nothing
        ("HUB", "A"), ("HUB", "B"), ("HUB", "C"), ("HUB", "D"),
        # duplicate edge collapses before pairing
        ("S1", "A"),
    ]
    edf = spark.createDataFrame(edges, "src string, dst string")
    got = {
        (r.a, r.b): r.common
        for r in wg.cocitation(edf, max_out_degree=3).collect()
    }
    assert got == {("A", "B"): 2, ("A", "C"): 1, ("B", "C"): 1}
    # pairs canonicalized a < b
    assert all(a < b for a, b in got)


def test_cocitation_rejects_bad_cap():
    with pytest.raises(ValueError):
        wg.cocitation(None, max_out_degree=1)


def test_adamic_adar_weights_and_caps(spark):
    import math

    edges = [
        # S1 (outdeg 2) and S2 (outdeg 3) both cite A and B
        ("S1", "A"), ("S1", "B"),
        ("S2", "A"), ("S2", "B"), ("S2", "C"),
        # hub exceeds the cap -> contributes no weight
        ("HUB", "A"), ("HUB", "B"), ("HUB", "C"), ("HUB", "D"),
        # single-outlink source yields no pairs (and no ln(1) division)
        ("SOLO", "A"),
        # duplicate edge collapses before weighting
        ("S1", "A"),
    ]
    edf = spark.createDataFrame(edges, "src string, dst string")
    got = {
        (r.a, r.b): (r.common, r.aa_score)
        for r in wg.adamic_adar(edf, max_out_degree=3).collect()
    }
    w1, w2 = 1 / math.log(2), 1 / math.log(3)
    assert got == {
        ("A", "B"): (2, round(w1 + w2, 6)),
        ("A", "C"): (1, round(w2, 6)),
        ("B", "C"): (1, round(w2, 6)),
    }
    # a lower-outdeg source outweighs a higher-outdeg one per pair
    assert w1 > w2


def test_adamic_adar_repartition_stable(spark):
    """aa_score is round(sum(double), 6), and a double sum depends on the
    order its terms arrive in: one partition and seven must still agree.
    Pairs here sum up to ~20 weights of mixed magnitude."""
    edges = [
        (f"s{i}", f"p{(i * 7 + j * 3) % 13}")
        for i in range(40)
        for j in range(2 + i % 9)
    ]
    edf = spark.createDataFrame(edges, "src string, dst string")

    def scores(df):
        return {
            (r.a, r.b): (r.common, r.aa_score)
            for r in wg.adamic_adar(df, max_out_degree=10).collect()
        }

    one = scores(edf.repartition(1))
    assert max(c for c, _ in one.values()) >= 10
    assert scores(edf.repartition(7)) == one


def test_adamic_adar_rejects_bad_cap():
    with pytest.raises(ValueError):
        wg.adamic_adar(None, max_out_degree=1)


def _python_kcore(edges, k):
    """Reference peel: repeatedly drop nodes with undirected degree < k."""
    es = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    while True:
        deg = {}
        for a, b in es:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        keep = {n for n, d in deg.items() if d >= k}
        nxt = {(a, b) for a, b in es if a in keep and b in keep}
        if nxt == es:
            break
        es = nxt
    out = {}
    for a, b in es:
        out[a] = out.get(a, 0) + 1
        out[b] = out.get(b, 0) + 1
    return out


def test_kcore_matches_python_peel(spark):
    # K4 {a,b,c,d} (survives k=3) + a tail d-e-f (peels off) + a triangle
    # {x,y,z} (survives k=2, peels at k=3) + duplicates/reversals/self-loop
    edges = [
        ("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
        ("c", "d"), ("d", "e"), ("e", "f"),
        ("x", "y"), ("y", "z"), ("z", "x"),
        ("b", "a"), ("a", "a"), ("a", "b"),
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    for k in (2, 3):
        want = _python_kcore(edges, k)
        got = {r.node: r.core_deg for r in wg.kcore(df, k=k).collect()}
        assert got == want, f"k={k}"
    # k=3 keeps exactly the K4
    got3 = {r.node: r.core_deg for r in wg.kcore(df, k=3).collect()}
    assert got3 == {"a": 3, "b": 3, "c": 3, "d": 3}
    # partitioning invariance (confluence of peeling)
    got_rep = {r.node: r.core_deg for r in wg.kcore(df.repartition(7), k=3).collect()}
    assert got_rep == got3


def test_kcore_empty_core_and_bad_k(spark):
    df = spark.createDataFrame([("a", "b"), ("b", "c")], "src string, dst string")
    assert wg.kcore(df, k=3).count() == 0
    with pytest.raises(ValueError):
        wg.kcore(df, k=0)


def test_kcore_plan_size_constant_per_round(spark):
    # The round body references the previous state 3x; without per-round
    # lineage truncation the analyzed plan grows 3^rounds (driver OOM by
    # round ~3 observed on a 30k-edge graph). iteration_barrier pins the
    # returned plan to a leaf LogicalRDD: its explain string must stay
    # small and round-count-independent, and contain no nested join tower.
    df = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")],
        "src string, dst string",
    )
    res = wg.kcore(df, k=3, max_iter=8)
    plan = res._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan
    assert plan.count("Join") == 0  # final agg over the checkpointed leaf
    assert len(plan) < 4000


def test_host_features_farm_vs_hub(spark):
    def page(url, targets):
        html = "".join(f'<a href="{t}">x</a>' for t in targets)
        return (url, bytearray(html.encode()))

    farm = [f"https://farm.example/{i}" for i in range(4)]
    hub = "https://popular.example.org/home"
    rows = (
        # link farm: every farm page links to every other farm page, and
        # all of them point AT the hub (spam chasing rank) — but nothing
        # trusted points back
        [
            page(u, [v for v in farm if v != u] + ([hub] if u == farm[0] else []))
            for u in farm
        ]
        # seed hub endorses only the organic page
        + [page(hub, ["https://site.example/a"])]
        + [page("https://site.example/a", [hub])]
    )
    df = spark.createDataFrame(rows, "url string, html binary")
    got = {r.host: r for r in wg.host_features(df).collect()}
    f = got["farm.example"]
    assert f.n_pages == 4
    assert f.out_links == 13 and f.in_links == 12  # K4; hub ignores it
    assert f.core3_pages == 4  # the K4 is a 3-core
    h = got["popular.example.org"]
    assert h.core3_pages == 0
    # the farm's raw degrees dwarf the hub's, but NO trusted page points
    # at it: zero trust mass — the exact signal the composition exists for
    assert f.trust_sum == 0
    assert h.trust_sum > 0
    assert got["site.example"].trust_sum > 0  # directly endorsed by seed
    # integer stability under repartitioning
    got2 = {r.host: r for r in wg.host_features(df.repartition(5)).collect()}
    assert {k: tuple(v) for k, v in got2.items()} == {
        k: tuple(v) for k, v in got.items()
    }


# ---------------------------------------------------------------------------
# random_walks
# ---------------------------------------------------------------------------

def test_random_walks_deterministic_and_bounded(spark):
    from logsight_filebeat_spark.operators.webgraph import random_walks

    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "a")],
        "src string, dst string",
    )
    out1 = sorted(map(tuple, random_walks(edges, walk_len=3).collect()))
    out2 = sorted(map(tuple, random_walks(edges, walk_len=3).collect()))
    assert out1 == out2  # pure function of (seed, start)
    starts = {r[0] for r in out1}
    assert starts == {"a", "b", "c", "d"}  # every edge source walks
    # step 0 is the start itself
    assert all(n == s for s, t, n in out1 if t == 0)
    # every emitted step follows an actual edge from the previous node
    e = {(s, d) for s, d in [("a","b"),("a","c"),("b","c"),("c","a"),("d","a")]}
    bywalk = {}
    for s, t, n in out1:
        bywalk.setdefault(s, {})[t] = n
    for s, path in bywalk.items():
        for t in range(1, max(path) + 1):
            assert (path[t - 1], path[t]) in e


def test_random_walks_stop_at_dangling(spark):
    from logsight_filebeat_spark.operators.webgraph import random_walks

    # b has no out-edges: walks reaching b stop there
    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    out = sorted(map(tuple, random_walks(edges, walk_len=4).collect()))
    assert out == [("a", 0, "a"), ("a", 1, "b")]


# ---------------------------------------------------------------------------
# bfs_distances / reciprocity
# ---------------------------------------------------------------------------

def test_bfs_min_distances(spark):
    from logsight_filebeat_spark.operators.webgraph import bfs_distances

    # a→b→c→d chain plus a shortcut a→c and a back-edge c→a: c must take
    # dist 1 (shortcut, not the 2-hop chain), a stays 0 despite the cycle
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"), ("c", "a")],
        "src string, dst string",
    )
    seeds = spark.createDataFrame([("a",)], "node string")
    got = dict(bfs_distances(edges, seeds, max_depth=3).collect())
    assert got == {"a": 0, "b": 1, "c": 1, "d": 2}


def test_bfs_multi_source_and_early_stop(spark):
    from logsight_filebeat_spark.operators.webgraph import bfs_distances

    edges = spark.createDataFrame(
        [("a", "b"), ("x", "b"), ("b", "y")], "src string, dst string"
    )
    seeds = spark.createDataFrame([("a",), ("x",)], "node string")
    # max_depth far beyond the graph: the empty frontier must short-circuit
    got = dict(bfs_distances(edges, seeds, max_depth=10).collect())
    assert got == {"a": 0, "x": 0, "b": 1, "y": 2}


def test_reciprocity(spark):
    from logsight_filebeat_spark.operators.webgraph import reciprocity

    # a↔b mutual; a→c one-way; c→a closes the OTHER direction of a→c? no —
    # include it so c's single out-edge IS reciprocated while a's c-edge is
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("a", "c"), ("c", "a"), ("b", "d")],
        "src string, dst string",
    )
    got = {
        r["node"]: (r["n_out"], r["n_recip"], r["reciprocity"])
        for r in reciprocity(edges).collect()
    }
    assert got == {
        "a": (2, 2, 1.0),
        "b": (2, 1, 0.5),
        "c": (1, 1, 1.0),
    }
