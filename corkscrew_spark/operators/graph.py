"""Graph traversal over an edge DataFrame — iterative Catalyst joins.

The reference leans on its embedded engine's recursive CTEs for path
finding and k-hop neighborhoods (internal/db/graph_loader.go:402-464) and
does topological sorting with an in-memory DFS
(plugins/aws-provider/discovery/resource_graph.go:580-626). On Spark the
same semantics are expressed as a bounded driver loop of DataFrame joins:

* each BFS/level iteration is ONE distributed hash join frontier ⋈ edges.
  A checkpoint reports an unknown size to Catalyst, so each round state
  comes back from ``session.ckpt_observe`` hinted for broadcast when the
  row count its checkpoint observed fits the broadcast threshold: a small
  frontier is the build side from the round's first plan and the edge
  table streams unshuffled; a large one keeps the shuffle plan. Frames
  that are only a join's probe side (an edge relation joined to the
  frontier) keep a plain checkpoint, so the hint never picks them;
* ``localCheckpoint`` after each iteration truncates the lineage so plans
  stay O(1) deep regardless of traversal depth (an unbounded chained plan
  would re-execute every prior hop and blow up the optimizer at depth 10+);
* max-depth bounds match the reference (depth < 10 default).

Edge DataFrame contract: columns ``src`` and ``dst`` (string node ids).
Extra columns are ignored.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from corkscrew_spark.session import broadcast_if_small, ckpt_observe


def _prep(edges: DataFrame, directed: bool) -> DataFrame:
    e = edges.select(F.col("src").cast("string"), F.col("dst").cast("string"))
    if not directed:
        # Bidirectional expansion — the reference's k-hop steps across
        # `from_id = n.id OR to_id = n.id` (graph_loader.go:435-464).
        e = e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    return e


def k_hop(edges: DataFrame, seeds: list[str], max_depth: int = 3,
          directed: bool = False) -> DataFrame:
    """Min-distance BFS: returns (node, distance) for every node within
    ``max_depth`` hops of any seed (seeds at distance 0).

    Parity: recursive CTE k-hop with DISTINCT (graph_loader.go:435-464),
    except distances are exact minima (BFS visits each node once, so no
    cycle bookkeeping is needed — a revisit is always ≥ the first visit).

    One checkpointed round per hop. The frontier and the visited set are
    sized from their observed row counts (``session.ckpt_observe``), so
    while they fit the broadcast threshold each hop broadcasts them and
    streams the edge table, with no shuffle of the edges at all.
    """
    spark = edges.sparkSession
    e = _prep(edges, directed)
    seed_df, _ = ckpt_observe(spark.createDataFrame(
        [(s, 0) for s in seeds], "node string, distance int"))
    # visited = union of per-hop checkpointed frontiers; unioning live
    # (instead of re-checkpointing the growing set every hop) avoids
    # re-materializing all prior hops each iteration. The union drops
    # its pieces' broadcast hints, so it goes back through the size
    # guard with their summed observed counts.
    visited, n_visited = seed_df, len(seeds)
    frontier = seed_df
    for depth in range(1, max_depth + 1):
        nxt, m = ckpt_observe(
            frontier.join(e, frontier["node"] == e["src"])
            .select(e["dst"].alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("distance", F.lit(depth)),
            F.count(F.lit(1)).alias("n"),
        )
        # Emptiness read from the checkpoint's own job — no second
        # probe action per hop (session.ckpt_observe).
        if m["n"] == 0:
            break
        n_visited += m["n"]
        visited = broadcast_if_small(visited.unionByName(nxt), n_visited)
        frontier = nxt
    return visited


def shortest_path(edges: DataFrame, src: str, dst: str, max_depth: int = 10,
                  directed: bool = False) -> DataFrame:
    """Single shortest path src→dst with the hop sequence.

    Returns a 1-row DataFrame (depth INT, path ARRAY<STRING>) — the
    minimum-depth path, ties broken by lexicographically smallest path so
    the result is deterministic. Empty DataFrame when unreachable within
    ``max_depth``.

    Parity: recursive path CTE with array accumulation + cycle guard +
    ORDER BY depth LIMIT 1 (graph_loader.go:402-433). BFS dedup per node
    subsumes the cycle check (a cycle always revisits a node).
    """
    spark = edges.sparkSession
    if src == dst:
        return spark.createDataFrame([(0, [src])], "depth int, path array<string>")
    e = _prep(edges, directed)
    # (node, path) — one row per reached node, carrying the lexicographically
    # smallest min-depth path to it.
    frontier, _ = ckpt_observe(spark.createDataFrame(
        [(src, [src])], "node string, path array<string>"))
    visited, n_visited = frontier.select("node"), 1
    for depth in range(1, max_depth + 1):
        # One action per hop: frontier size AND target-hit flag ride the
        # checkpoint job as observed aggregates (previously 3 actions —
        # checkpoint, hit probe, emptiness probe).
        expanded, m = ckpt_observe(
            frontier.join(e, frontier["node"] == e["src"])
            .select(
                e["dst"].alias("node"),
                F.concat(F.col("path"), F.array(e["dst"])).alias("path"),
            )
            .join(visited, "node", "left_anti")
            .groupBy("node")
            .agg(F.min("path").alias("path")),
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("node") == dst, 1)).alias("hit"),
        )
        if m["hit"]:
            return expanded.filter(F.col("node") == dst).select(
                F.lit(depth).alias("depth"), "path")
        if m["n"] == 0:
            break
        n_visited += m["n"]
        visited = broadcast_if_small(
            visited.unionByName(expanded.select("node")), n_visited)
        frontier = expanded
    return spark.createDataFrame([], "depth int, path array<string>")


def topo_levels(edges: DataFrame, max_depth: int = 100) -> DataFrame:
    """Longest-path topological levels over a directed DAG.

    Returns (node, level): sources (no incoming edge) at level 0, every
    other node at 1 + max(level of predecessors) — Kahn layering, the
    distributed equivalent of the reference's DFS dependency ordering
    (discovery/resource_graph.go:580-626).

    Raises ValueError on a cycle (some nodes never settle), matching the
    reference's temp-mark cycle detection.
    """
    # The edge relation is the probe side of every hop: it stays
    # unhinted, so the hinted frontier is the one Spark broadcasts.
    e = _prep(edges, directed=True).localCheckpoint(eager=True)
    # |V| observed on the node-set checkpoint's own job: the final
    # unreachable-node check below reduces to a count comparison, so no
    # extra action is ever spent on it.
    nodes, mn = ckpt_observe(
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct(),
        F.count(F.lit(1)).alias("n"),
    )
    n_nodes = mn["n"]
    sources = nodes.join(e.select(F.col("dst").alias("node")).distinct(), "node", "left_anti")
    frontier, _ = ckpt_observe(sources.withColumn("level", F.lit(0)))
    # Accumulate per-depth frontiers (each already checkpointed) and union
    # once at the end — re-checkpointing the growing union every iteration
    # would re-materialize all prior levels each hop (O(depth²) work).
    parts = [frontier]
    for depth in range(1, max_depth + 1):
        # Propagate max level forward; a node's level settles once all its
        # predecessors have emitted (max aggregation makes later, larger
        # levels override earlier ones via the final groupBy below).
        # Emptiness reads off the checkpoint job (session.ckpt_observe) —
        # one action per hop instead of two.
        nxt, m = ckpt_observe(
            frontier.join(e, frontier["node"] == e["src"])
            .select(e["dst"].alias("node"), (F.col("level") + 1).alias("level"))
            .distinct(),
            F.count(F.lit(1)).alias("n"),
        )
        if m["n"] == 0:
            break
        parts.append(nxt)
        frontier = nxt
    else:
        raise ValueError(f"cycle detected: levels did not settle within {max_depth} iterations")
    levels = parts[0]
    for p in parts[1:]:
        levels = levels.unionByName(p)
    # Materialize the settled levels ONCE, observing |result| in the same
    # job. Nodes unreachable from any source sit on (or behind) a cycle —
    # result nodes are distinct and a subset of `nodes`, so the old
    # anti-join membership probe (which executed the full aggregation a
    # second time, before the caller's action ran it a third) is exactly
    # the count comparison |result| == |V|.
    result, mr = ckpt_observe(
        levels.groupBy("node").agg(F.max("level").alias("level")),
        F.count(F.lit(1)).alias("n"),
    )
    if mr["n"] != n_nodes:
        raise ValueError("cycle detected: some nodes are unreachable from any source")
    return result


def pagerank(edges: DataFrame, src_col: str = "src", dst_col: str = "dst",
             damping: float = 0.85, iters: int = 10,
             reset_nodes: list[str] | None = None,
             reset_df: DataFrame | None = None) -> DataFrame:
    """PageRank by power iteration as DataFrame joins — beyond-reference
    graph analytics (the reference walks paths; ranking needs no new
    engine machinery here, just the same join-per-iteration shape as BFS).

    Per iteration: contribution = rank/out_degree shipped along edges
    (one shuffle on dst), dangling mass (sinks with no out-edges)
    redistributed so total rank stays 1, then
    rank = (1-d)·reset + d·(contrib + dangling·reset).

    ``reset_nodes=None`` is classic PageRank (uniform reset 1/N).
    A seed list gives PERSONALIZED PageRank: teleport (and dangling)
    mass returns only to the seeds, so rank measures proximity to the
    seed set — "which resources sit closest to the changed set", the
    ranking companion to the blast-radius expansion. Seeds ride along
    as a 0/1 column; nothing about the plan shape changes.

    ``reset_df`` is the collect-free personalized form: a 1-column
    DataFrame of seed node ids (deduplicated in-plan; must be
    non-empty — an empty frame is a caller error and fails in the
    in-plan 1/count weight, not with a ValueError) joins
    in as a broadcast instead of a driver round-trip — the seed subtree
    then schedules INSIDE the ranks-build job, overlapped with the node
    aggregation, rather than blocking the driver before any graph work
    starts. The per-seed weight is 1/count(seeds) computed in-plan
    (IEEE-identical to the literal 1.0/len(seeds) of the list form).
    Mutually exclusive with ``reset_nodes``.

    One Spark job per iteration: the static out-degree is carried in the
    ranks frame (folded into the node set's build aggregation, not
    recomputed per iteration), and the
    dangling sum rides along as a broadcast 1-row aggregate instead of a
    driver collect — the eager localCheckpoint is the only action, and it
    keeps the plan O(1) across iterations like the other graph operators.

    Returns (node, rank) with sum(rank) == 1 up to float error.
    """
    # No repartition before the checkpoint: localCheckpoint drops
    # outputPartitioning metadata under AQE (measured this round —
    # downstream plans are identical either way), so a pre-checkpoint
    # hash layout is a full edge shuffle that buys nothing.
    e, _ = ckpt_observe(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .distinct()
    )
    # (node, deg, rank) in ONE aggregation: union src rows (counting 1
    # per out-edge) with dst rows (counting 0) and sum — the node set
    # and the out-degree fall out of the same groupBy, replacing the
    # previous distinct + count + left-join (3 exchanges → 1, guide
    # §2.4). deg is null for sinks (cnt 0), exactly as the join gave.
    ranks = (
        e.select(F.col("src").alias("node"), F.lit(1).alias("c"))
        .unionByName(e.select(F.col("dst").alias("node"), F.lit(0).alias("c")))
        .groupBy("node")
        .agg(F.sum("c").alias("cnt"))
        .select("node", F.when(F.col("cnt") > 0, F.col("cnt")).alias("deg"))
    )
    if reset_nodes is not None and reset_df is not None:
        raise ValueError("pass reset_nodes or reset_df, not both")
    if reset_df is None:
        # reset_nodes/classic: the reset column is a cheap literal
        # projection, so checkpoint the bare (node, deg) frame here. The
        # reset_df branch instead folds its seed join INTO this same
        # checkpoint (one materialization carries node+deg+reset —
        # checkpointing first and joining after would leave the seed
        # subtree in the early iteration plans, re-running it until the
        # first in-loop checkpoint; measured slower). |V| rides the
        # checkpoint job as an observed count — the classic branch no
        # longer pays a separate count action for it.
        ranks, mv = ckpt_observe(ranks, F.count(F.lit(1)).alias("n"))
    if reset_nodes is None and reset_df is None:
        n_total = mv["n"]
        # classic path: keep the exact original expression shape —
        # (1-d)/N precomputed, dangling/N in-engine — so the unrolled
        # DuckDB oracle stays bit-compatible (x·(1/N) ≠ x/N in IEEE)
        ranks = ranks.withColumn("rank", F.lit(1.0 / n_total))
        new_rank = (
            F.lit((1.0 - damping) / n_total)
            + F.lit(damping)
            * (F.coalesce("contrib", F.lit(0.0))
               + F.col("dangling") / n_total)
        )
        carry = ["node", "deg"]
    else:
        if reset_df is not None:
            # Collect-free personalized reset: broadcast-join the seed
            # frame and weight each seed 1/count(seeds) computed in-plan
            # (1.0 / BIGINT is the same IEEE double division the literal
            # form performs on len(reset_nodes)). The seed subtree now
            # schedules inside the ranks job instead of blocking the
            # driver on a collect before any graph work starts.
            # Seeds are deduplicated in-plan (free for a broadcast-sized
            # frame): duplicate seed rows would otherwise fan the ranks
            # join out to duplicate (node, rank) rows AND skew the
            # per-seed weight. An EMPTY seed frame is a caller error
            # like reset_nodes=[] — it surfaces as a null/failed
            # division in the reset weight rather than a ValueError
            # (the count lives in-plan, unknowable at build time).
            if len(reset_df.columns) != 1:
                raise ValueError(
                    "reset_df must have exactly one column of seed node "
                    f"ids, got {reset_df.columns!r}")
            seed_col = reset_df.columns[0]
            distinct_seeds = reset_df.select(
                F.col(seed_col).alias("node")).distinct()
            seeds = distinct_seeds.withColumn("__is_seed", F.lit(True))
            seed_w = distinct_seeds.agg(
                (F.lit(1.0) / F.count(F.lit(1))).alias("__seed_w"))
            ranks, mv = ckpt_observe(
                ranks.join(F.broadcast(seeds), "node", "left")
                .crossJoin(F.broadcast(seed_w))
                .withColumn(
                    "reset",
                    F.when(F.col("__is_seed"), F.col("__seed_w"))
                    .otherwise(0.0),
                )
                .drop("__is_seed", "__seed_w")
                .withColumn("rank", F.col("reset")),
                F.count(F.lit(1)).alias("n"),
            )
        else:
            if not reset_nodes:
                raise ValueError("reset_nodes must be None or non-empty")
            seed_arr = F.array(*[F.lit(s) for s in reset_nodes])
            reset = F.when(F.array_contains(seed_arr, F.col("node")),
                           F.lit(1.0 / len(reset_nodes))).otherwise(0.0)
            ranks = (
                ranks.withColumn("reset", reset)
                .withColumn("rank", F.col("reset"))
            )
        new_rank = (
            F.lit(1.0 - damping) * F.col("reset")
            + F.lit(damping)
            * (F.coalesce("contrib", F.lit(0.0))
               + F.col("dangling") * F.col("reset"))
        )
        carry = ["node", "deg", "reset"]
    # |V| bounds contrib (one row per reached dst): sized by it, contrib
    # joins as the broadcast side from the first plan, and ranks is
    # never shuffled for the update join.
    n_nodes = mv["n"]
    for it in range(iters):
        # Sinks (deg null) have no out-edges, so the inner join drops them
        # from the contribution shuffle naturally.
        contrib = (
            ranks.join(e, ranks["node"] == e["src"])
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("deg")).alias("contrib"))
        )
        dangling = (
            ranks.filter(F.col("deg").isNull())
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dangling"))
        )
        ranks = (
            ranks.drop("rank")
            .join(broadcast_if_small(contrib, n_nodes),
                  ranks["node"] == contrib["dst"], "left")
            .crossJoin(F.broadcast(dangling))
            .select(*carry, new_rank.alias("rank"))
        )
        # Checkpoint every 2nd iteration, except the last: the caller's
        # one action materializes the final 1-2 iterations itself, so a
        # trailing eager checkpoint would pay one extra job + a second
        # materialization of the final frame (measured ~0.1-0.3 s/query;
        # lineage stays bounded at two iterations either way).
        if it % 2 == 1 and it != iters - 1:
            ranks, _ = ckpt_observe(ranks)
    return ranks.select("node", "rank")


def triangle_count(edges: DataFrame, src_col: str = "src",
                   dst_col: str = "dst") -> DataFrame:
    """Per-node triangle counts over the undirected simple graph.

    Degree-ordering trick (Cohen's MapReduce formulation): direct every
    undirected edge from the lower-(degree, id) endpoint to the higher
    one, so each triangle is enumerated exactly once from its smallest
    vertex and the wedge-join fan-out is bounded by the max out-degree
    after ordering — O(sqrt(|E|)) even on power-law graphs, which is what
    makes this survive a hub node with millions of neighbors.

    Plan: degree agg -> ordered edge list -> wedge self-join on the
    common endpoint -> closing-edge semi join -> count per corner.
    Returns (node, triangles) for every node of the graph (0 for
    triangle-free nodes).
    """
    # materialize the deduped symmetric edge list ONCE: degrees, the
    # ordered orientation, and the closing-edge probe all reuse it (the
    # closing set IS `und` — recomputing it as ordered ∪ reversed +
    # distinct would pay a third dedup shuffle for an identical relation)
    und, _ = ckpt_observe(
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .unionByName(
            edges.select(F.col(dst_col).alias("a"), F.col(src_col).alias("b"))
        )
        .distinct()
    )
    deg = und.groupBy(F.col("a").alias("node")).agg(F.count("*").alias("deg"))
    nodes = deg.select("node")
    # order each edge by (deg, id): keep only the low -> high direction
    d1 = deg.withColumnRenamed("node", "a").withColumnRenamed("deg", "da")
    d2 = deg.withColumnRenamed("node", "b").withColumnRenamed("deg", "db")
    # `ordered` stays LAZY: its two wedge reads (e1/e2) resolve through
    # exchange reuse over the checkpointed `und` scan, so materializing
    # it bought nothing — interleaved A/B (r13, 2 passes × 3-4 reps,
    # exact-equal): lazy ≤ eager in every rep (min 4.92 vs 5.30 s) with
    # 16 vs 19 jobs, and the |E|-sized intermediate is no longer pinned.
    ordered = (
        und.join(d1, "a").join(d2, "b")
        .filter(
            (F.col("da") < F.col("db"))
            | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
        )
        .select("a", "b")
    )
    # wedges centered at the ordered edges' source: (u -> v), (u -> w), v < w
    e1 = ordered.select(F.col("a").alias("u"), F.col("b").alias("v"))
    e2 = ordered.select(F.col("a").alias("u"), F.col("b").alias("w"))
    wedges = e1.join(e2, "u").filter(F.col("v") < F.col("w"))
    closing = und.select(F.col("a").alias("v"), F.col("b").alias("w"))
    tris = wedges.join(closing, ["v", "w"])  # one row per triangle corner set
    per_node = (
        tris.select(F.col("u").alias("node"))
        .unionByName(tris.select(F.col("v").alias("node")))
        .unionByName(tris.select(F.col("w").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("triangles"))
    )
    return (
        nodes.join(per_node, "node", "left")
        .select("node", F.coalesce("triangles", F.lit(0)).cast("long")
                .alias("triangles"))
    )


def weighted_shortest_paths(edges: DataFrame, source: str,
                            src_col: str = "src", dst_col: str = "dst",
                            weight_col: str = "weight",
                            max_rounds: int = 30,
                            directed: bool = True) -> DataFrame:
    """Single-source shortest path distances under non-negative edge
    weights — Bellman-Ford by synchronous rounds as DataFrame joins
    (the SSSP every Pregel-style system ships; Dijkstra's priority queue
    is inherently sequential and does not distribute).

    Per round: tentative distances join out-edges (one shuffle on the
    edge key), candidate = dist + weight, new dist = min(old, best
    candidate). Each round chains that relaxation twice (the first step
    min-merged per node before the second expansion, so candidate volume
    stays <= |V| between steps): the iteration count — and with it the
    number of synchronization barriers and driver round-trips, the real
    cost of Pregel loops on a cluster — drops to ceil(diameter / 2) for
    the same total edge-join work. Rounds stop early at fixpoint;
    localCheckpoint after every round keeps the plan O(1). Negative
    weights raise (Bellman-Ford would need |V|-1 forced rounds and a
    negative-cycle check — out of scope for path costs, which are
    non-negative).

    Returns (node, dist DOUBLE, hops BIGINT) for every reachable node;
    ``hops`` is the hop count of the minimal-cost path (min-dist ties
    broken by fewer hops, then it is stable because candidates merge
    through a commutative min over (dist, hops)).
    """
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst"),
        F.col(weight_col).cast("double").alias("w"),
    )
    if not directed:
        e = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
        )
    # The non-negativity guard rides the edge checkpoint as an observed
    # aggregate instead of a dedicated full-scan action: any negative
    # input weight survives the per-(src,dst) min, so min(w) < 0 on the
    # grouped relation ⟺ some input weight < 0.
    e, _mw = ckpt_observe(
        e.groupBy("src", "dst").agg(F.min("w").alias("w"))  # parallel edges
        # No repartition before the checkpoint (see pagerank: the
        # partitioning metadata does not survive localCheckpoint, so the
        # extra edge shuffle buys nothing downstream).
        ,
        F.count(F.when(F.col("w") < 0, 1)).alias("neg"),
    )
    if _mw["neg"]:
        raise ValueError("weighted_shortest_paths requires non-negative weights")
    spark = edges.sparkSession
    dists, _ = ckpt_observe(spark.createDataFrame(
        [(source, 0.0, 0)], "node string, dist double, hops long"))

    def _min_merge(df: DataFrame) -> DataFrame:
        return (
            df.groupBy("node")
            .agg(F.min(F.struct("dist", "hops")).alias("s"))
            .select("node", F.col("s.dist").alias("dist"),
                    F.col("s.hops").alias("hops"))
        )

    for _ in range(max_rounds):
        acc = dists
        for _h in range(2):
            cand = (
                acc.join(e, acc["node"] == e["src"])
                .select(
                    F.col("dst").alias("node"),
                    (F.col("dist") + F.col("w")).alias("dist"),
                    (F.col("hops") + 1).alias("hops"),
                )
            )
            acc = _min_merge(acc.unionByName(cand))
        # Fixpoint when nothing changed: a row is "new" iff no previous
        # (node, dist, hops) tuple matches — the same predicate the old
        # left-anti probe action tested, now computed as a left join
        # against the previous round's (checkpointed, cheap-to-scan)
        # frame INSIDE the round's materialization and read off it as an
        # observed count. Newly-reached nodes match nothing, so they
        # count as changed exactly as before. One action per round
        # instead of two.
        prev = dists.select("node", "dist", "hops").withColumn(
            "__old", F.lit(1))
        merged, m = ckpt_observe(
            acc.join(prev, ["node", "dist", "hops"], "left"),
            F.count(F.when(F.col("__old").isNull(), 1)).alias("changed"),
        )
        dists = merged.drop("__old")
        if m["changed"] == 0:
            break
    else:
        raise ValueError(
            f"weighted_shortest_paths did not converge in {max_rounds} rounds"
        )
    return dists


def connected_components_star(edges: DataFrame, src_col: str = "src",
                              dst_col: str = "dst",
                              max_rounds: int = 50) -> DataFrame:
    """Connected components in O(log n) rounds via alternating
    large-star / small-star contraction (Kiveris, Lattanzi, Mirrokni,
    Rastogi, Vassilvitskii, "Connected Components in MapReduce and
    Beyond", SoCC 2014 — public algorithm).

    The min-label propagation behind dedup.dup_clusters needs
    O(diameter) rounds — right for shallow near-dup clusters, wrong for
    chain-shaped graphs (a 1M-hop lineage path would take 1M barriers).
    Star contraction instead repoints every node at its neighborhood
    minimum, so component trees halve in height every other round:

    * large-star(u): every neighbor v > u re-attaches to
      m = min(neighborhood(u) + {u});
    * small-star(u): every neighbor v < u, and u itself, re-attach to m.

    Each half-round is one windowed min per node plus the dedupe — two
    shuffles over the CURRENT edge set, which only shrinks (edges
    canonicalize + dedupe every round). Fixpoint when the canonical edge
    set stops changing; at that point edges form stars centered at
    component minima.

    Returns (node, component) for every node incident to an input edge
    (self-loop-only nodes map to themselves).
    """
    # Only ever the preserved side of the final left join: no hint.
    nodes = (
        edges.select(F.col(src_col).alias("node"))
        .unionByName(edges.select(F.col(dst_col).alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    cur, _mc = ckpt_observe(
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct(),
        F.count(F.lit(1)).alias("n"),
    )
    cur_n = _mc["n"]

    def star(e: DataFrame, large: bool) -> DataFrame:
        sym = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
            e.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        # m(u) as a window over u's neighbor rows: one shuffle of `sym`
        # instead of a groupBy shuffle plus a second shuffle of `sym` to
        # join the minima back (interleaved A/B on the perfbench graph,
        # local[2] on a 4-CPU guest: 34 vs 54 jobs, 2.4-2.6 vs 3.6 s
        # median).
        j = sym.withColumn(
            "m", F.least(F.min("v").over(Window.partitionBy("u")), F.col("u")))
        if large:
            out = j.filter(F.col("v") > F.col("u")).select(
                F.col("v").alias("a"), F.col("m").alias("b"))
        else:
            out = j.filter(F.col("v") < F.col("u")).select(
                F.col("v").alias("a"), F.col("m").alias("b")
            ).unionByName(
                # one (u, m) row per neighbor row; the distinct below
                # keeps one
                j.select(F.col("u").alias("a"), F.col("m").alias("b"))
            )
        return (
            out.filter(F.col("a") != F.col("b"))
            .select(F.least("a", "b").alias("a"),
                    F.greatest("a", "b").alias("b"))
            .distinct()
        )

    for _ in range(max_rounds):
        # Both edge sets are distinct, so set equality ⟺ equal counts AND
        # one-direction containment. The count is observed on the round's
        # checkpoint job; the anti-join probe only runs at all on rounds
        # where the count held still (normally just the final round) —
        # 3 actions per round down to ~1.
        nxt, m = ckpt_observe(star(star(cur, large=True), large=False),
                              F.count(F.lit(1)).alias("n"))
        stable = (
            m["n"] == cur_n
            and cur.join(nxt, ["a", "b"], "left_anti").isEmpty()
        )
        cur, cur_n = nxt, m["n"]
        if stable:
            break
    else:
        raise ValueError(
            f"connected_components_star did not converge in {max_rounds} rounds")

    comp = (
        cur.select(F.col("b").alias("node"), F.col("a").alias("component"))
        .groupBy("node")
        .agg(F.min("component").alias("component"))
    )
    return (
        nodes.join(comp, "node", "left")
        .select("node", F.coalesce("component", F.col("node")).alias("component"))
    )


class Graph:
    """Unified graph facade bundling an edge DataFrame with the iterative
    operators — the ergonomic surface the reference exposes through its
    graph loader (pkg/graph/graph_loader.go builds one graph object and
    hangs path/neighborhood queries off it). Each method delegates to
    exactly one module-level operator, so plans and guarantees are
    identical; the class only fixes the column-name contract once.

    >>> g = Graph(edges)                  # (src, dst[, weight]) columns
    >>> g.k_hop(["C1"], 3)
    >>> g.pagerank().orderBy(F.desc("rank"))
    >>> g.triangle_count()
    >>> g.shortest_path("C1", "R0")
    >>> g.connected_components()
    """

    def __init__(self, edges: DataFrame, src_col: str = "src",
                 dst_col: str = "dst", weight_col: str | None = None):
        for col in (src_col, dst_col):
            if col not in edges.columns:
                raise ValueError(f"edge frame is missing column {col!r}")
        self.edges = edges
        self.src_col = src_col
        self.dst_col = dst_col
        self.weight_col = weight_col

    def _e(self) -> DataFrame:
        return self.edges.select(
            F.col(self.src_col).alias("src"), F.col(self.dst_col).alias("dst")
        )

    def vertices(self) -> DataFrame:
        e = self._e()
        return (
            e.select(F.col("src").alias("node"))
            .unionByName(e.select(F.col("dst").alias("node")))
            .distinct()
        )

    def degrees(self) -> DataFrame:
        e = self._e()
        both = e.unionByName(e.select(F.col("dst").alias("src"),
                                      F.col("src").alias("dst")))
        return both.groupBy(F.col("src").alias("node")).agg(
            F.count("*").alias("degree"))

    def k_hop(self, sources: list[str], max_depth: int,
              directed: bool = False) -> DataFrame:
        return k_hop(self._e(), sources, max_depth=max_depth, directed=directed)

    def shortest_path(self, src: str, dst: str, max_depth: int = 10,
                      directed: bool = False) -> DataFrame:
        return shortest_path(self._e(), src, dst, max_depth=max_depth,
                             directed=directed)

    def topo_levels(self, max_depth: int = 100) -> DataFrame:
        return topo_levels(self._e(), max_depth=max_depth)

    def pagerank(self, damping: float = 0.85, iters: int = 10,
                 reset_nodes: list[str] | None = None) -> DataFrame:
        """Classic (uniform reset) or, with ``reset_nodes``, personalized
        PageRank — rank as proximity to the seed set."""
        return pagerank(self._e(), damping=damping, iters=iters,
                        reset_nodes=reset_nodes)

    def hits(self, iters: int = 8) -> DataFrame:
        return hits(self._e(), iters=iters)

    def triangle_count(self) -> DataFrame:
        return triangle_count(self._e())

    def weighted_shortest_paths(self, source: str, max_rounds: int = 30,
                                directed: bool = True) -> DataFrame:
        if self.weight_col is None:
            raise ValueError("Graph was built without a weight column")
        return weighted_shortest_paths(
            self.edges.select(
                F.col(self.src_col).alias("src"),
                F.col(self.dst_col).alias("dst"),
                F.col(self.weight_col).alias("weight"),
            ),
            source, max_rounds=max_rounds, directed=directed,
        )

    def find(self, pattern: str) -> DataFrame:
        """GraphFrames-style motif search over the edge relation."""
        return find_motifs(self._e(), pattern)

    def k_core(self, k: int) -> DataFrame:
        """(node, degree) of the maximal subgraph with min degree >= k."""
        return k_core(self._e(), k)

    def communities(self, iters: int = 5) -> DataFrame:
        """(node, community) via deterministic label propagation — the
        sparse-cut community view (vs connected_components' reachability
        view)."""
        return label_propagation(self._e(), iters=iters)

    def connected_components(self) -> DataFrame:
        """(node, component) under min-reachable-id labels, via
        ``dedup.dup_clusters``: min-label propagation for shallow
        components, switching to star contraction by itself when its
        rounds run out on deep ones."""
        from corkscrew_spark.operators.dedup import dup_clusters

        labels = dup_clusters(
            self._e().withColumnRenamed("src", "doc_a")
            .withColumnRenamed("dst", "doc_b")
        )
        return labels.select("doc_id", "cluster_id").withColumnsRenamed(
            {"doc_id": "node", "cluster_id": "component"})


def hits(edges: DataFrame, src_col: str = "src", dst_col: str = "dst",
         iters: int = 8) -> DataFrame:
    """HITS hubs-and-authorities scores (Kleinberg, JACM 1999 — public
    algorithm): authority(v) = sum of hub scores pointing at v, hub(u) =
    sum of authority scores u points at, L2-normalized each iteration.

    Same iterative discipline as pagerank: edges checkpoint once; each
    iteration is two edge-joins (auth from hubs, hubs from fresh auth)
    with groupBy sums and ONE action (the checkpoint). Normalization is
    deferred to the very end — HITS directions are scale-invariant, so
    per-iteration L2 norms only buy numerical headroom, and a constant
    1/|E| rescale each iteration provides that without the two extra
    aggregation barriers a data-dependent norm would cost per round.

    Returns (node, hub, authority), both scores L2-normalized.
    """
    e, _me = ckpt_observe(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct(),
        F.count(F.lit(1)).alias("n"),
    )
    # |E| observed on the edge checkpoint's own job (no separate count).
    n_edges = max(_me["n"], 1)
    nodes, _ = ckpt_observe(
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    # The loop keeps SPARSE frames: a node missing from `hubs`/`auth`
    # has score 0 and contributes nothing to the next sums, so the full
    # node set only re-attaches once at the end — two fewer shuffles per
    # iteration than materializing dense score frames each round.
    hubs = nodes.select("node", F.lit(1.0).alias("hub"))
    auth = None
    for it in range(iters):
        auth = (
            e.join(hubs.select(F.col("node").alias("src"), "hub"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg((F.sum("hub") / F.lit(float(n_edges))).alias("authority"))
        )
        hubs = (
            e.join(auth.select(F.col("node").alias("dst"), "authority"),
                   "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("authority").alias("hub"))
        )
        # Checkpoint every 2nd iteration, except the last (see pagerank:
        # the caller's action materializes the tail iterations itself).
        if it % 2 == 1 and it != iters - 1:
            hubs, _ = ckpt_observe(hubs)
    # Materialize once, with both L2 norms observed by the same job: the
    # tail iterations run once, and no second aggregate job reads the
    # scores back for the norms.
    scores, norms = ckpt_observe(
        nodes.join(hubs, "node", "left")
        .join(auth, "node", "left")
        .select(
            "node",
            F.coalesce("hub", F.lit(0.0)).alias("hub"),
            F.coalesce("authority", F.lit(0.0)).alias("authority"),
        ),
        F.sqrt(F.sum(F.col("hub") * F.col("hub"))).alias("hn"),
        F.sqrt(F.sum(F.col("authority") * F.col("authority"))).alias("an"),
    )

    def unit(col: str, norm: float | None):
        return F.col(col) / F.lit(norm) if norm else F.lit(0.0)

    return scores.select("node", unit("hub", norms["hn"]).alias("hub"),
                         unit("authority", norms["an"]).alias("authority"))


def label_propagation(edges: DataFrame, src_col: str = "src",
                      dst_col: str = "dst", iters: int = 5) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan et
    al. 2007, public algorithm), made fully deterministic: every round a
    node adopts the most frequent label among its neighbors PLUS its own
    current label (the self-vote damps the 2-cycle oscillation plain
    synchronous LPA suffers on bipartite-ish graphs), ties broken toward
    the smallest label. Deterministic given ``iters`` — no RNG, so the
    same communities come out on every run and every engine.

    Unlike connected components (one label per connected subgraph), LPA
    splits a connected graph at sparse cuts — the community view of a
    resource graph.

    Plan shape per round: labels ⋈ edges (shuffle on the edge key) →
    vote count groupBy → deterministic argmax via ``min_by`` over
    (-count, label) → label update join. Checkpoint every second round
    keeps lineage O(1). Cost is O(|E|) per round, ``iters`` rounds.

    Returns (node, community).
    """
    # No repartition before the checkpoint (see pagerank: the
    # partitioning metadata does not survive localCheckpoint, so the
    # extra edge shuffle buys nothing downstream — measured 0.79×
    # on graph_communities with it removed).
    und, _ = ckpt_observe(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .unionByName(
            edges.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst"))
        )
        .distinct()
    )
    labels, _ = ckpt_observe(
        und.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("community"))
    )
    for it in range(iters):
        neighbor_votes = (
            und.join(labels.select(F.col("node").alias("src"), "community"), "src")
            .select(F.col("dst").alias("node"), "community")
        )
        votes = neighbor_votes.unionByName(labels)  # self-vote
        # ONE exchange per round instead of two: hash-partitioning on
        # `node` (a subset of the first aggregation's keys) satisfies
        # the clustering requirement of BOTH the (node, community) vote
        # count and the per-node argmax, so the explicit repartition
        # replaces the two agg-induced exchanges (guide §2.4 — two
        # operations keyed the same way share one exchange). Trade-off
        # made explicit: votes shuffle raw instead of map-side-reduced
        # — on degree-bounded label votes the reduction was ~nil, and
        # the interleaved A/B wins at 32 cores (4.90 vs 5.98 s, 17 vs
        # 23 jobs), 8 cores (0.90×) AND 10× data (20.8 vs 25.2 s at
        # sf1), exact-equal outputs everywhere.
        counts = (votes.repartition("node")
                  .groupBy("node", "community").agg(F.count("*").alias("cnt")))
        new_labels = counts.groupBy("node").agg(
            F.min_by(
                "community",
                F.struct((-F.col("cnt")).alias("nc"), F.col("community")),
            ).alias("community")
        )
        labels = new_labels
        # Every 2nd round, except the last (see pagerank).
        if it % 2 == 1 and it != iters - 1:
            labels, _ = ckpt_observe(labels)
    return labels


def k_core(edges: DataFrame, k: int, src_col: str = "src",
           dst_col: str = "dst", max_iter: int = 100) -> DataFrame:
    """The k-core of the undirected simple graph: the maximal subgraph
    in which every node has degree ≥ k (Seidman 1983, public
    algorithm) — the density filter that strips pendant chains and
    sparse fringe before community/centrality analysis.

    Iterative peeling: drop all nodes with degree < k, recompute,
    repeat to fixpoint. Each round is one degree aggregation plus two
    anti joins on the edge relation — all on natural keys; rounds
    needed equals the peeling depth (bounded by graph degeneracy, small
    for real resource graphs). Checkpoint per round keeps the plan
    O(1). Returns (node, degree) of the surviving subgraph; empty when
    the graph has no k-core.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    cur, _ = ckpt_observe(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .unionByName(
            edges.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst"))
        )
        .distinct()
    )
    for _ in range(max_iter):
        deg = cur.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
        # Emptiness of both the peel set and the surviving edge set reads
        # off their checkpoint jobs (session.ckpt_observe) — 4 actions
        # per peeling round down to 2.
        low, ml = ckpt_observe(deg.filter(F.col("degree") < k).select("src"),
                               F.count(F.lit(1)).alias("n"))
        if ml["n"] == 0:
            return deg.select(F.col("src").alias("node"), "degree")
        cur, mc = ckpt_observe(
            cur.join(low, "src", "left_anti")
            .join(low.select(F.col("src").alias("dst")), "dst", "left_anti"),
            F.count(F.lit(1)).alias("n"),
        )
        if mc["n"] == 0:
            return cur.sparkSession.createDataFrame([], "node string, degree long")
    raise RuntimeError(f"k_core did not converge within {max_iter} rounds")


def find_motifs(edges: DataFrame, pattern: str, src_col: str = "src",
                dst_col: str = "dst") -> DataFrame:
    """Structural motif search à la GraphFrames ``find()`` (public API
    shape): a pattern is ';'-separated edge terms ``(a)-[]->(b)``, where
    repeated node names mean THE SAME node — ``(a)-[]->(b); (b)-[]->(c)``
    matches directed 2-paths, adding ``(a)-[]->(c)`` closes it into a
    transitive triangle. Anonymous endpoints ``()`` match any node
    without binding. A term prefixed with ``!`` is a negation:
    ``!(a)-[]->(c)`` keeps only matches where that edge is ABSENT.

    Compilation: one aliased scan of the (deduped) edge relation per
    positive term, equi-joined on shared node variables — Catalyst
    orders the join chain; negations become left-anti joins at the end.
    Distinct node variables are NOT required to differ (GraphFrames
    semantics); filter afterwards if needed.

    Returns one row per match with a column per named node variable.
    """
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .distinct()
    )
    terms = [t.strip() for t in pattern.split(";") if t.strip()]
    import re as _re

    parsed = []
    for t in terms:
        m = _re.fullmatch(
            r"(!?)\s*\(\s*(\w*)\s*\)\s*-\s*\[\s*\w*\s*\]\s*->\s*\(\s*(\w*)\s*\)", t)
        if not m:
            raise ValueError(f"unparseable motif term: {t!r}")
        parsed.append((m.group(1) == "!", m.group(2), m.group(3)))
    positives = [(a, b) for neg, a, b in parsed if not neg]
    negatives = [(a, b) for neg, a, b in parsed if neg]
    if not positives:
        raise ValueError("motif needs at least one positive edge term")
    for a, b in negatives:
        if not a or not b:
            raise ValueError("negated terms must use named endpoints")

    out = None
    bound: set[str] = set()
    for i, (a, b) in enumerate(positives):
        sa = a or f"__anon{i}a"
        sb = b or f"__anon{i}b"
        if sa == sb:
            # Self-loop term "(a)-[]->(a)": aliasing src AND dst to the
            # same name would produce an ambiguous duplicate column, so
            # filter to loops and bind the single variable once.
            step = (e.filter(F.col("src") == F.col("dst"))
                    .select(F.col("src").alias(sa)))
        else:
            step = e.select(F.col("src").alias(sa), F.col("dst").alias(sb))
        if out is None:
            out = step
        else:
            on = list(dict.fromkeys(v for v in (sa, sb) if v in bound))
            if on:
                out = out.join(step, on)
            else:
                out = out.crossJoin(step)  # disconnected pattern component
        bound.update((sa, sb))
    for a, b in negatives:
        if a not in bound or b not in bound:
            raise ValueError(f"negated term references unbound variable: ({a})->({b})")
        if a == b:
            # "!(a)-[]->(a)": exclude matches whose node has a self-loop
            neg = e.filter(F.col("src") == F.col("dst")).select(
                F.col("src").alias(a))
            out = out.join(neg, [a], "left_anti")
        else:
            out = out.join(
                e.select(F.col("src").alias(a), F.col("dst").alias(b)),
                [a, b], "left_anti")
    named = [v for v in bound if not v.startswith("__anon")]
    return out.select(*sorted(named)).distinct()
