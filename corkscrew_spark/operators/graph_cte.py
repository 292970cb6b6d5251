"""Recursive-CTE k-hop (Spark 4 ``WITH RECURSIVE``).

The reference's k-hop neighborhood query is literally a recursive SQL
CTE over the edge table with DISTINCT
(internal/db/graph_loader.go:435-464). Spark 4.0 added ``WITH
RECURSIVE``, so the same declarative formulation runs on Catalyst
directly: ``k_hop_cte`` hands the whole recursion to the engine in ONE
plan, with no driver-side loop. It backs the registered
``graph_khop_cte`` query; every other caller, including the ``Graph``
facade, uses the frontier BFS in ``operators/graph.py``.

The CTE enumerates (node, distance) rows per recursion level, so it
fits the reference's bounded-depth neighborhood queries rather than
unbounded traversals. Recursion is capped by the engine's
``spark.sql.cteRecursionLevelLimit`` (default 100) plus an explicit
depth predicate, so cyclic inputs terminate by construction. Schema and
values match ``graph.k_hop``; parity is pinned by
tests/test_graph.py::TestCteBackend.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame

from corkscrew_spark.operators.graph import _prep


def k_hop_cte(edges: DataFrame, seeds: list[str], max_depth: int = 3,
              directed: bool = False) -> DataFrame:
    """Min-distance BFS as ONE recursive CTE: (node, distance) for every
    node within ``max_depth`` hops of any seed (seeds at distance 0).

    Mirrors graph_loader.go:435-464's ``WITH RECURSIVE``: the recursive
    member joins the previous level onto the edge relation. Spark's
    recursive CTE only supports UNION ALL (UNION_NOT_SUPPORTED_IN_
    RECURSIVE_CTE), so each level dedupes through a DISTINCT subquery on
    the recursive member instead; the final MIN collapses each node to
    its first (= minimum) distance. Same schema/values as graph.k_hop.
    """
    spark = edges.sparkSession
    tag = uuid.uuid4().hex
    view, seeds_name = f"__graph_cte_edges_{tag}", f"__graph_cte_seeds_{tag}"
    _prep(edges, directed).createOrReplaceTempView(view)
    spark.createDataFrame([(s,) for s in seeds], "node string") \
        .createOrReplaceTempView(seeds_name)
    try:
        return spark.sql(f"""
            WITH RECURSIVE reach(node, distance) AS (
                SELECT node, 0 FROM {seeds_name}
                UNION ALL
                SELECT DISTINCT e.dst, r.distance + 1
                FROM reach r JOIN {view} e ON e.src = r.node
                WHERE r.distance < {int(max_depth)}
            )
            SELECT node, CAST(MIN(distance) AS INT) AS distance
            FROM reach GROUP BY node
        """)
    finally:
        spark.catalog.dropTempView(view)
        spark.catalog.dropTempView(seeds_name)

