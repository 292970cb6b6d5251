"""Unit tests for iterative graph operators (cycles, direction, bounds)."""

from __future__ import annotations

import pytest

from corkscrew_spark.operators import graph
from corkscrew_spark.testing import count_jobs


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


def test_khop_directed_distances(spark):
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c")])
    got = {r["node"]: r["distance"] for r in graph.k_hop(e, ["a"], 3, directed=True).collect()}
    assert got == {"a": 0, "b": 1, "c": 1, "d": 2}


def test_khop_depth_bound(spark):
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    got = {r["node"] for r in graph.k_hop(e, ["a"], 2, directed=True).collect()}
    assert got == {"a", "b", "c"}


def test_khop_cycle_terminates(spark):
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "a")])
    got = {r["node"]: r["distance"] for r in graph.k_hop(e, ["a"], 10, directed=True).collect()}
    assert got == {"a": 0, "b": 1, "c": 2}


def test_shortest_path_prefers_min_depth_then_lex(spark):
    # two depth-2 paths a->b->z and a->c->z: lexicographically smaller wins
    e = _edges(spark, [("a", "b"), ("a", "c"), ("b", "z"), ("c", "z"), ("a", "x")])
    row = graph.shortest_path(e, "a", "z", directed=True).collect()[0]
    assert row["depth"] == 2
    assert row["path"] == ["a", "b", "z"]


def test_shortest_path_survives_cycle(spark):
    e = _edges(spark, [("a", "b"), ("b", "a"), ("b", "c")])
    row = graph.shortest_path(e, "a", "c", directed=True).collect()[0]
    assert row["depth"] == 2 and row["path"] == ["a", "b", "c"]


def test_shortest_path_unreachable(spark):
    e = _edges(spark, [("a", "b"), ("c", "d")])
    assert graph.shortest_path(e, "a", "d", max_depth=5, directed=True).count() == 0


def test_shortest_path_src_equals_dst_is_zero_hops(spark):
    # trivial case short-circuits BEFORE the BFS loop — no joins run
    e = _edges(spark, [("a", "b"), ("b", "c")])
    row = graph.shortest_path(e, "b", "b", directed=True).collect()[0]
    assert row["depth"] == 0 and row["path"] == ["b"]


class TestCteBackend:
    """The Spark 4 WITH RECURSIVE k-hop (operators/graph_cte.py) must pass
    the exact scenarios the frontier BFS does."""

    def test_khop_matches_iterative_scenarios(self, spark):
        from corkscrew_spark.operators.graph_cte import k_hop_cte
        e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c")])
        got = {r["node"]: r["distance"]
               for r in k_hop_cte(e, ["a"], 3, directed=True).collect()}
        assert got == {"a": 0, "b": 1, "c": 1, "d": 2}
        # depth bound
        e2 = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d")])
        assert {r["node"] for r in
                k_hop_cte(e2, ["a"], 2, directed=True).collect()} \
            == {"a", "b", "c"}
        # cycle terminates with exact min distances
        e3 = _edges(spark, [("a", "b"), ("b", "c"), ("c", "a")])
        assert {r["node"]: r["distance"] for r in
                k_hop_cte(e3, ["a"], 10, directed=True).collect()} \
            == {"a": 0, "b": 1, "c": 2}

    def test_backends_agree_on_grid(self, spark):
        """Full-result parity on a 4x4 undirected grid from a corner."""
        from corkscrew_spark.operators.graph_cte import k_hop_cte
        pairs = []
        for i in range(4):
            for j in range(4):
                if i + 1 < 4:
                    pairs.append((f"n{i}{j}", f"n{i+1}{j}"))
                if j + 1 < 4:
                    pairs.append((f"n{i}{j}", f"n{i}{j+1}"))
        e = _edges(spark, pairs)
        it = {(r["node"], r["distance"])
              for r in graph.k_hop(e, ["n00"], 6, directed=False).collect()}
        ct = {(r["node"], r["distance"])
              for r in k_hop_cte(e, ["n00"], 6, directed=False).collect()}
        assert it == ct and len(it) == 16


def test_topo_levels_longest_path(spark):
    # diamond with a long arm: d's level is max(path) = 3
    e = _edges(spark, [("a", "b"), ("a", "c"), ("b", "c"), ("c", "d")])
    got = {r["node"]: r["level"] for r in graph.topo_levels(e).collect()}
    assert got == {"a": 0, "b": 1, "c": 2, "d": 3}


def test_topo_levels_cycle_raises(spark):
    e = _edges(spark, [("a", "b"), ("b", "a")])
    with pytest.raises(ValueError, match="cycle"):
        graph.topo_levels(e, max_depth=5)


def test_pagerank_star_and_cycle(spark):
    from corkscrew_spark.operators import graph

    # star: everyone points at 'hub' → hub gets the highest rank
    star = spark.createDataFrame(
        [("a", "hub"), ("b", "hub"), ("c", "hub")], "src string, dst string")
    ranks = {r["node"]: r["rank"] for r in graph.pagerank(star, iters=15).collect()}
    assert abs(sum(ranks.values()) - 1.0) < 1e-6  # dangling hub redistributed
    assert ranks["hub"] > ranks["a"] == ranks["b"] == ranks["c"]

    # 3-cycle: symmetry → uniform ranks
    cyc = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string")
    ranks = {r["node"]: r["rank"] for r in graph.pagerank(cyc, iters=15).collect()}
    assert abs(sum(ranks.values()) - 1.0) < 1e-6
    for v in ranks.values():
        assert abs(v - 1 / 3) < 1e-9


def test_pagerank_fused_degree_ignores_duplicate_edges(spark):
    """The (node, deg) frame is built by ONE union+sum aggregation over
    the deduplicated edge set (r12 optimization) — duplicated input
    edges must not inflate out-degrees, so ranks over a multigraph and
    its simple projection are bit-identical."""
    from corkscrew_spark.operators import graph

    base = [("a", "b"), ("a", "c"), ("b", "c")]
    dup = base + [("a", "b"), ("b", "c"), ("a", "c")]
    r_base = sorted(map(tuple, graph.pagerank(_edges(spark, base), iters=8).collect()))
    r_dup = sorted(map(tuple, graph.pagerank(_edges(spark, dup), iters=8).collect()))
    assert r_base == r_dup
    # 'c' is a sink (deg null through the fused when(cnt>0) path):
    # dangling mass must still redistribute so total rank stays 1.
    assert abs(sum(r for _, r in r_base) - 1.0) < 1e-9


def test_triangle_count_k4_with_pendant(spark):
    """K4: every vertex is in C(3,2)=3 triangles; a pendant vertex is in 0."""
    edges = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)] + [(1, 5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.triangles for r in graph.triangle_count(df).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3, 5: 0}


def test_triangle_count_direction_and_dup_invariant(spark):
    """Duplicate and reversed edges must not inflate counts."""
    df = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (1, 3), (3, 1), (1, 2), (3, 4)],
        "src long, dst long",
    )
    got = {r.node: r.triangles for r in graph.triangle_count(df).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 0}


def test_weighted_sssp_prefers_cheap_long_path(spark):
    """a->b->c (1+1=2) beats the direct a->c edge of weight 5."""
    e = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "c", 1.0), ("a", "c", 5.0), ("x", "y", 1.0)],
        "src string, dst string, weight double",
    )
    got = {r.node: (r.dist, r.hops) for r in
           graph.weighted_shortest_paths(e, "a").collect()}
    assert got == {"a": (0.0, 0), "b": (1.0, 1), "c": (2.0, 2)}


def test_weighted_sssp_undirected_and_parallel_edges(spark):
    e = spark.createDataFrame(
        [("a", "b", 3.0), ("b", "a", 1.0), ("b", "c", 1.0)],
        "src string, dst string, weight double",
    )
    got = {r.node: r.dist for r in
           graph.weighted_shortest_paths(e, "c", directed=False).collect()}
    assert got == {"c": 0.0, "b": 1.0, "a": 2.0}


def test_weighted_sssp_rejects_negative(spark):
    import pytest as _pytest

    e = spark.createDataFrame([("a", "b", -1.0)],
                              "src string, dst string, weight double")
    with _pytest.raises(ValueError):
        graph.weighted_shortest_paths(e, "a")


def test_graph_facade_delegates(spark):
    edges = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "c", 2.0), ("x", "y", 1.0)],
        "src string, dst string, weight double",
    )
    g = graph.Graph(edges, weight_col="weight")
    assert g.vertices().count() == 5
    assert {r.node: r.degree for r in g.degrees().collect()}["b"] == 2
    hops = {r.node: r.distance for r in g.k_hop(["a"], 2).collect()}
    assert hops == {"a": 0, "b": 1, "c": 2}
    comps = {r.node: r.component for r in g.connected_components().collect()}
    assert comps["c"] == "a" and comps["y"] == "x"
    dists = {r.node: r.dist for r in g.weighted_shortest_paths("a").collect()}
    assert dists == {"a": 0.0, "b": 1.0, "c": 3.0}
    tri = g.triangle_count()
    assert tri.filter("triangles > 0").count() == 0


def test_graph_facade_validates_columns(spark):
    import pytest as _pytest

    edges = spark.createDataFrame([("a", "b")], "u string, v string")
    with _pytest.raises(ValueError, match="missing column"):
        graph.Graph(edges)
    g = graph.Graph(edges, src_col="u", dst_col="v")
    with _pytest.raises(ValueError, match="weight"):
        g.weighted_shortest_paths("a")


class TestStarComponents:
    """connected_components_star vs min-label propagation (must agree)."""

    def _star(self, spark, edges):
        from corkscrew_spark.operators.graph import connected_components_star
        df = spark.createDataFrame(edges, ["src", "dst"])
        return {r.node: r.component
                for r in connected_components_star(df).collect()}

    def _label(self, spark, edges):
        from corkscrew_spark.operators.graph import Graph
        df = spark.createDataFrame(edges, ["src", "dst"])
        return {r.node: r.component
                for r in Graph(df).connected_components().collect()}

    def test_deep_path_graph(self, spark):
        """A 40-hop chain: label propagation's worst case, star's best."""
        edges = [(f"n{i:02d}", f"n{i+1:02d}") for i in range(40)]
        got = self._star(spark, edges)
        assert set(got.values()) == {"n00"}
        assert len(got) == 41

    def test_matches_label_propagation(self, spark):
        edges = [
            ("a", "b"), ("b", "c"), ("c", "a"),      # triangle
            ("d", "e"),                               # pair
            ("f", "f"),                               # self-loop only
            ("g", "h"), ("h", "i"), ("i", "j"),       # chain
        ]
        star = self._star(spark, edges)
        label = self._label(spark, edges)
        assert star == label
        assert star["f"] == "f"  # self-loop-only node: singleton component

    def test_two_components_deterministic(self, spark):
        edges = [("x2", "x1"), ("x3", "x2"), ("y9", "y8")]
        got = self._star(spark, edges)
        assert got == {"x1": "x1", "x2": "x1", "x3": "x1",
                       "y8": "y8", "y9": "y8"}


class TestHits:
    def test_matches_numpy_power_iteration(self, spark):
        import numpy as np
        from corkscrew_spark.operators.graph import hits

        edges = [("a", "c"), ("b", "c"), ("c", "d"), ("a", "d"),
                 ("d", "e"), ("b", "e")]
        nodes = sorted({n for e in edges for n in e})
        idx = {n: i for i, n in enumerate(nodes)}
        A = np.zeros((len(nodes), len(nodes)))
        for s, d in edges:
            A[idx[s], idx[d]] = 1.0
        h = np.ones(len(nodes))
        a = np.ones(len(nodes))
        for _ in range(8):
            a = A.T @ h
            a = a / np.linalg.norm(a)
            h = A @ a
            h = h / np.linalg.norm(h)

        df = spark.createDataFrame(edges, ["src", "dst"])
        got = {r.node: (r.hub, r.authority)
               for r in hits(df, iters=8).collect()}
        for n in nodes:
            # impl normalizes once at the end (scale-invariant direction),
            # so agreement is to float error, not bitwise
            assert abs(got[n][0] - h[idx[n]]) < 1e-6, n
            assert abs(got[n][1] - a[idx[n]]) < 1e-6, n

    def test_hub_authority_roles(self, spark):
        """Pure source is a hub (authority 0); pure sink the reverse."""
        from corkscrew_spark.operators.graph import hits
        df = spark.createDataFrame(
            [("s", "t1"), ("s", "t2")], ["src", "dst"])
        got = {r.node: r for r in hits(df, iters=3).collect()}
        assert got["s"].authority == 0.0 and got["s"].hub > 0.9
        assert got["t1"].hub == 0.0 and got["t1"].authority > 0.5


class TestLabelPropagation:
    def _edges(self, spark, pairs):
        return spark.createDataFrame(pairs, "src string, dst string")

    def test_two_cliques_with_bridge(self, spark):
        from corkscrew_spark.operators.graph import label_propagation
        a = [("a1", "a2"), ("a1", "a3"), ("a1", "a4"), ("a2", "a3"),
             ("a2", "a4"), ("a3", "a4")]
        b = [("b1", "b2"), ("b1", "b3"), ("b1", "b4"), ("b2", "b3"),
             ("b2", "b4"), ("b3", "b4")]
        bridge = [("a1", "b1")]
        out = {r.node: r.community
               for r in label_propagation(
                   self._edges(spark, a + b + bridge), iters=5).collect()}
        assert len({out[n] for n in ("a1", "a2", "a3", "a4")}) == 1
        assert len({out[n] for n in ("b1", "b2", "b3", "b4")}) == 1
        assert out["a1"] != out["b1"]  # sparse cut separates the cliques

    def test_matches_reference_simulation(self, spark):
        """Exact parity with a Python simulation of the same rule:
        most-frequent neighbor+self label, ties -> smallest label."""
        from corkscrew_spark.operators.graph import label_propagation
        import collections
        pairs = [("n0", "n1"), ("n1", "n2"), ("n2", "n0"), ("n2", "n3"),
                 ("n3", "n4"), ("n4", "n5"), ("n5", "n3"), ("n1", "n6")]
        iters = 4
        adj = collections.defaultdict(set)
        for s, d in pairs:
            adj[s].add(d)
            adj[d].add(s)
        labels = {n: n for n in adj}
        for _ in range(iters):
            nxt = {}
            for n in adj:
                votes = collections.Counter(labels[m] for m in adj[n])
                votes[labels[n]] += 1
                best = min(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0]
                nxt[n] = best
            labels = nxt
        out = {r.node: r.community
               for r in label_propagation(
                   self._edges(spark, pairs), iters=iters).collect()}
        assert out == labels

    def test_deterministic_and_facade(self, spark):
        from corkscrew_spark.operators.graph import Graph
        e = self._edges(spark, [("x", "y"), ("y", "z")])
        g = Graph(e)
        r1 = sorted(map(tuple, g.communities(iters=3).collect()))
        r2 = sorted(map(tuple, g.communities(iters=3).collect()))
        assert r1 == r2
        assert {c for _, c in r1} == {"x"}  # tiny path collapses to min label


class TestKCore:
    def test_clique_with_tail(self, spark):
        from corkscrew_spark.operators.graph import k_core
        clique = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"),
                  ("b", "d"), ("c", "d")]
        tail = [("d", "t1"), ("t1", "t2"), ("t2", "t3")]
        e = spark.createDataFrame(clique + tail, "src string, dst string")
        core3 = {r.node: r.degree for r in k_core(e, 3).collect()}
        assert set(core3) == {"a", "b", "c", "d"}
        assert all(d == 3 for d in core3.values())
        # 1-core keeps everything; 4-core is empty (peels recursively)
        assert k_core(e, 1).count() == 7
        assert k_core(e, 4).count() == 0

    def test_matches_reference_peeling(self, spark):
        from corkscrew_spark.operators.graph import k_core
        import collections
        import random
        rng = random.Random(11)
        nodes = [f"n{i}" for i in range(30)]
        pairs = sorted({tuple(sorted(rng.sample(nodes, 2))) for _ in range(70)})
        adj = collections.defaultdict(set)
        for a, b in pairs:
            adj[a].add(b)
            adj[b].add(a)
        k = 3
        alive = {n for n in adj}
        changed = True
        while changed:
            changed = False
            for n in list(alive):
                if len(adj[n] & alive) < k:
                    alive.discard(n)
                    changed = True
        e = spark.createDataFrame(pairs, "src string, dst string")
        got = {r.node for r in k_core(e, k).collect()}
        assert got == alive

    def test_invalid_k(self, spark):
        from corkscrew_spark.operators.graph import k_core
        import pytest as _pytest
        with _pytest.raises(ValueError):
            k_core(spark.createDataFrame([("a", "b")], "src string, dst string"), 0)


class TestMotifFind:
    def _e(self, spark):
        pairs = [("a", "b"), ("b", "c"), ("a", "c"),   # transitive triangle
                 ("c", "d"),                            # tail
                 ("x", "y")]                            # disconnected edge
        return spark.createDataFrame(pairs, "src string, dst string")

    def test_two_paths_and_triangle(self, spark):
        from corkscrew_spark.operators.graph import find_motifs
        e = self._e(spark)
        paths = {(r.a, r.b, r.c) for r in
                 find_motifs(e, "(a)-[]->(b); (b)-[]->(c)").collect()}
        assert ("a", "b", "c") in paths and ("b", "c", "d") in paths
        tri = {(r.a, r.b, r.c) for r in find_motifs(
            e, "(a)-[]->(b); (b)-[]->(c); (a)-[]->(c)").collect()}
        assert tri == {("a", "b", "c")}

    def test_negation(self, spark):
        from corkscrew_spark.operators.graph import find_motifs
        e = self._e(spark)
        open_paths = {(r.a, r.b, r.c) for r in find_motifs(
            e, "(a)-[]->(b); (b)-[]->(c); !(a)-[]->(c)").collect()}
        assert ("a", "b", "c") not in open_paths     # closed by a->c
        assert ("b", "c", "d") in open_paths

    def test_self_loop_term(self, spark):
        """"(a)-[]->(a)" matches self-loops (GraphFrames semantics) —
        regression: aliasing src and dst to the same name raised
        AMBIGUOUS_REFERENCE."""
        from corkscrew_spark.operators.graph import find_motifs
        pairs = [("a", "a"), ("a", "b"), ("b", "c"), ("c", "c")]
        e = spark.createDataFrame(pairs, "src string, dst string")
        loops = {r.a for r in find_motifs(e, "(a)-[]->(a)").collect()}
        assert loops == {"a", "c"}
        # composed: self-loop node that also points elsewhere
        both = {(r.a, r.b) for r in
                find_motifs(e, "(a)-[]->(a); (a)-[]->(b)").collect()}
        assert ("a", "b") in both and ("a", "a") in both
        # negated self-loop: sources WITHOUT a loop (regression: the
        # positive-term fix didn't cover negation)
        no_loop = {(r.a, r.b) for r in
                   find_motifs(e, "(a)-[]->(b); !(a)-[]->(a)").collect()}
        assert ("b", "c") in no_loop
        assert not any(a == "a" or a == "c" for a, _ in no_loop)

    def test_anonymous_and_fanout(self, spark):
        from corkscrew_spark.operators.graph import find_motifs
        e = self._e(spark)
        # nodes with at least one out-neighbor that itself has an
        # out-neighbor: anonymous middle still joins, unbound tail ignored
        hubs = {r.a for r in find_motifs(e, "(a)-[]->(m); (m)-[]->()").collect()}
        assert hubs == {"a", "b"}

    def test_facade_and_errors(self, spark):
        from corkscrew_spark.operators.graph import Graph, find_motifs
        import pytest as _pytest
        g = Graph(self._e(spark))
        assert g.find("(a)-[]->(b)").count() == 5
        with _pytest.raises(ValueError):
            find_motifs(self._e(spark), "nonsense")
        with _pytest.raises(ValueError):
            find_motifs(self._e(spark), "!(a)-[]->(b)")


class TestPersonalizedPagerank:
    def test_matches_numpy_power_iteration(self, spark):
        import numpy as np
        from corkscrew_spark.operators.graph import pagerank

        pairs = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"),
                 ("d", "e"), ("e", "c"), ("b", "e")]
        nodes = sorted({n for p in pairs for n in p})
        idx = {n: i for i, n in enumerate(nodes)}
        n = len(nodes)
        seeds = ["a", "d"]
        reset = np.zeros(n)
        for s in seeds:
            reset[idx[s]] = 1.0 / len(seeds)
        out_deg = np.zeros(n)
        for s, _ in pairs:
            out_deg[idx[s]] += 1
        r = reset.copy()
        d = 0.85
        for _ in range(10):
            contrib = np.zeros(n)
            dangling = 0.0
            for i in range(n):
                if out_deg[i] == 0:
                    dangling += r[i]
            for s, t in pairs:
                contrib[idx[t]] += r[idx[s]] / out_deg[idx[s]]
            r = (1 - d) * reset + d * (contrib + dangling * reset)
        e = spark.createDataFrame(pairs, "src string, dst string")
        got = {row.node: row.rank
               for row in pagerank(e, iters=10, reset_nodes=seeds).collect()}
        for node in nodes:
            assert abs(got[node] - r[idx[node]]) < 1e-9, node
        # mass conserved; seeds hold extra mass vs classic uniform reset
        assert abs(sum(got.values()) - 1.0) < 1e-9

    def test_empty_seed_list_raises(self, spark):
        from corkscrew_spark.operators.graph import pagerank
        import pytest as _pytest
        e = spark.createDataFrame([("a", "b")], "src string, dst string")
        with _pytest.raises(ValueError):
            pagerank(e, reset_nodes=[])

    def test_reset_df_bit_identical_to_reset_nodes(self, spark):
        """The collect-free reset_df form (broadcast seed join, in-plan
        1/count weight) must produce BIT-identical ranks to the literal
        reset_nodes list — same IEEE double division, same reset column,
        same iteration math (r12 optimization)."""
        from corkscrew_spark.operators.graph import pagerank

        pairs = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"),
                 ("d", "e"), ("e", "c"), ("b", "e")]
        e = spark.createDataFrame(pairs, "src string, dst string")
        seeds = ["a", "d", "e"]
        seeds_df = spark.createDataFrame([(s,) for s in seeds], "seed string")
        via_list = sorted(map(tuple, pagerank(e, iters=7, reset_nodes=seeds).collect()))
        via_df = sorted(map(tuple, pagerank(e, iters=7, reset_df=seeds_df).collect()))
        assert via_list == via_df  # exact float equality, not approx

    def test_reset_nodes_and_reset_df_together_raise(self, spark):
        from corkscrew_spark.operators.graph import pagerank
        import pytest as _pytest
        e = spark.createDataFrame([("a", "b")], "src string, dst string")
        seeds_df = spark.createDataFrame([("a",)], "seed string")
        with _pytest.raises(ValueError):
            pagerank(e, reset_nodes=["a"], reset_df=seeds_df)


def _plan(df) -> str:
    """The physical plan before AQE re-plans anything."""
    return df._jdf.queryExecution().sparkPlan().toString()


def test_ckpt_observe_metrics_and_plan(spark):
    """session.ckpt_observe: the fused convergence probe must report the
    exact aggregates of the materialized rows (including the empty
    case) and only those, leave a clean checkpointed plan (no lingering
    observe node — downstream consumers scan the materialized RDD), and
    hand back a frame that plans as a join's broadcast side exactly
    when its observed size fits spark.sql.autoBroadcastJoinThreshold."""
    from pyspark.sql import functions as F

    from corkscrew_spark.session import ckpt_observe

    df = spark.range(100).withColumn("changed", F.col("id") % 10 == 0)
    ck, m = ckpt_observe(
        df,
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("changed"), 1)).alias("nc"),
    )
    assert m == {"n": 100, "nc": 10}  # the caller's names only
    assert ck.count() == 100 and ck.columns == ["id", "changed"]
    assert "Scan ExistingRDD" in ck._jdf.queryExecution().executedPlan().toString()

    empty, me = ckpt_observe(spark.range(5).filter("id < 0"),
                             F.count(F.lit(1)).alias("n"))
    assert me == {"n": 0} and empty.count() == 0

    # Checkpoints of Python-built frames report an unknown size to
    # Catalyst, so only the guard can make either side a broadcast.
    big = _edges(spark, [(str(i), str(i + 1)) for i in range(2000)]) \
        .localCheckpoint(eager=True)
    rows = [("1", 0), ("7", 0)]

    def small_join():
        small, _ = ckpt_observe(
            spark.createDataFrame(rows, "node string, distance int"))
        return _plan(small.join(big, small["node"] == big["src"]))

    plain = spark.createDataFrame(rows, "node string, distance int") \
        .localCheckpoint(eager=True)
    assert "SortMergeJoin" in _plan(plain.join(big, plain["node"] == big["src"]))
    plan = small_join()
    assert "BroadcastHashJoin" in plan and "BuildLeft" in plan, plan

    key = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "-1")
        assert "Broadcast" not in small_join()
        for value in ("10MB", "10485760b"):  # byte strings, as Spark writes them
            spark.conf.set(key, value)
            assert "BroadcastHashJoin" in small_join()
    finally:
        spark.conf.set(key, before)


def test_bytes_conf_parses_spark_byte_strings():
    from corkscrew_spark.session import _bytes_conf

    assert _bytes_conf("10485760b") == 10 * 1024 * 1024
    assert _bytes_conf("10MB") == _bytes_conf("10m") == 10 * 1024 * 1024
    assert _bytes_conf("33554432") == 32 * 1024 * 1024
    assert _bytes_conf("1g") == 1 << 30
    assert _bytes_conf("-1") == -1
    with pytest.raises(ValueError):
        _bytes_conf("1.5MB")


def test_size_guard_leaves_results_unchanged(spark):
    """k_hop, shortest_path and connected_components_star return the
    same rows whether the size guard broadcasts (default threshold) or
    never does (threshold -1)."""
    pairs = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("c", "e"),
             ("e", "f"), ("x", "y"), ("y", "z"), ("f", "g")]

    def run():
        e = _edges(spark, pairs)
        return (
            sorted(map(tuple, graph.k_hop(e, ["a"], max_depth=3).collect())),
            [tuple(r) for r in graph.shortest_path(e, "a", "g").collect()],
            sorted(map(tuple, graph.connected_components_star(e).collect())),
        )

    key = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(key)
    guarded = run()
    try:
        spark.conf.set(key, "-1")
        unguarded = run()
    finally:
        spark.conf.set(key, before)
    assert guarded == unguarded
    assert guarded[1] == [(5, ["a", "b", "c", "e", "f", "g"])]


def test_star_components_second_call_compiles_nothing(spark):
    """get_spark keeps the codegen stage id out of generated class names,
    so a warm call reuses every compiled class even though AQE numbers
    its stages in whatever order they finish."""
    from corkscrew_spark.operators.graph import connected_components_star

    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    e = _edges(spark, [(f"n{i}", f"n{i + 1}") for i in range(12)]
               + [("m1", "m2"), ("m2", "m3")])
    connected_components_star(e).collect()
    compiled = metrics.METRIC_COMPILATION_TIME().getCount()
    connected_components_star(e).collect()
    assert metrics.METRIC_COMPILATION_TIME().getCount() == compiled


def _query_jobs(spark, sf_dir, name) -> int:
    """Jobs one noop materialization of registered query ``name`` runs at
    sf0.01, counted under one job group (table registration outside)."""
    import os

    from corkscrew_spark.catalog import register_tables
    from corkscrew_spark.plans.queries import QUERIES

    sf = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    if not os.path.isdir(sf):
        pytest.skip(f"no sf0.01 test data next to {sf_dir}")
    register_tables(spark, sf)
    with count_jobs(spark) as jobs:
        QUERIES[name](spark, sf).write.format("noop").mode("overwrite").save()
    return jobs()


def test_triangles_job_count_tripwire(spark, sf_dir):
    """graph_triangles leaves ``ordered`` lazy and relies on AQE runtime
    exchange reuse to read it twice without a second build. Static plan
    dumps cannot show that reuse, so count the jobs one materialization
    runs: a reuse miss, or an eager checkpoint of ``ordered`` (19 jobs),
    fails here."""
    jobs = _query_jobs(spark, sf_dir, "graph_triangles")
    assert jobs <= 16, f"graph_triangles ran {jobs} jobs"


def test_khop_job_count_tripwire(spark, sf_dir):
    """Each k_hop round broadcasts its frontier and visited set, sized
    from the counts their checkpoints observed, instead of shuffling the
    edge table every hop: 13 jobs, 17 without the size guard (one job
    of slack for AQE scheduling)."""
    jobs = _query_jobs(spark, sf_dir, "graph_khop")
    assert jobs <= 14, f"graph_khop ran {jobs} jobs"


def test_shortest_path_job_count_tripwire(spark, sf_dir):
    """shortest_path plans each hop from its observed frontier size, and
    its seed checkpoint doubles as the visited set: 12 jobs, 14 without
    the size guard (one job of slack for AQE scheduling)."""
    jobs = _query_jobs(spark, sf_dir, "graph_shortest_path")
    assert jobs <= 13, f"graph_shortest_path ran {jobs} jobs"
