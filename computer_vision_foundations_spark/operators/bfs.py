"""Multi-source k-hop BFS over an edge list — shortest hop distances.

Reachability questions show up all over a curation stack: "how far is
this page from a trusted seed set" is a standard quality prior
(TrustRank's propagation step is exactly seeded BFS), and bounded-hop
neighborhoods feed graph features for dedup-cluster triage. This is
level-synchronous breadth-first search from a literal seed set,
capped at ``n_hops``:

    dist(v) = min hops from any seed to v   (NULL → unreachable/cut)

Spark-first shape (per level): ``frontier ⋈ edges`` on ``src`` — one
shuffle carrying (node) keys only — then a distinct, then a LEFT ANTI
join against the visited set so the frontier never re-expands a node
(at scale the anti-join is what keeps level k from degenerating into
the k-step transitive closure: on a graph with a giant component the
closure is |V|² rows, the BFS frontier is ≤ |V|). The visited set and
each frontier are ``localCheckpoint``'d like every other iterative
operator here (components/pagerank discipline): the recurrence reads
each level twice (expand + visited-union), so a lazy unroll would
recompute exponentially.

The oracle replays the textbook min-over-levels formulation — level
CTEs l0..lk, each the distinct successors of the previous, then
``min(dist) GROUP BY node`` — which is equivalent to the
anti-join formulation (a node's first-seen level IS its min level)
while staying pure unrolled SQL. A hash match therefore also proves
the visited-set pruning drops no node and shifts no distance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from computer_vision_foundations_spark.operators._iterative import Rounds

__all__ = ["bfs_distances", "bfs_oracle_sql"]


def bfs_distances(
    edges: DataFrame,
    seeds: list[int],
    src: str = "src",
    dst: str = "dst",
    n_hops: int = 4,
) -> DataFrame:
    """``(node, dist)`` — min hop count from any seed, ``dist <= n_hops``.

    ``edges`` is directed; seeds are literal node ids (they get level
    0 whether or not they appear in the graph — matching the oracle's
    l0 CTE). Nodes not reached within ``n_hops`` are absent.
    """
    spark = edges.sparkSession
    with Rounds() as rounds:
        e = rounds.checkpoint(
            edges.select(
                F.col(src).cast("bigint").alias("src"),
                F.col(dst).cast("bigint").alias("dst"),
            ).distinct()
        )
        frontier = rounds.checkpoint(
            spark.createDataFrame(
                [(int(s),) for s in seeds], "node bigint"
            ).distinct()
        )
        visited = rounds.checkpoint(frontier.withColumn("dist", F.lit(0)))
        for level in range(1, n_hops + 1):
            frontier = rounds.advance(
                frontier,
                frontier.join(e, frontier["node"] == e["src"])
                .select(F.col("dst").alias("node"))
                .distinct()
                .join(visited.select("node"), "node", "left_anti"),
            )
            if not frontier.take(1):  # frontier exhausted — diameter reached
                break
            visited = rounds.advance(
                visited,
                visited.unionByName(frontier.withColumn("dist", F.lit(level))),
            )
        return rounds.result(visited)


def bfs_oracle_sql(
    edges_sql: str, seeds: list[int], n_hops: int = 4
) -> str:
    """Unrolled level CTEs + min-over-levels — DuckDB twin of
    :func:`bfs_distances` (see module docstring for why the two
    formulations agree)."""
    seed_rows = ", ".join(f"({int(s)})" for s in seeds)
    ctes = [
        f"edges AS (SELECT DISTINCT CAST(src AS BIGINT) AS src,"
        f" CAST(dst AS BIGINT) AS dst FROM ({edges_sql}) _e)",
        f"l0 AS (SELECT CAST(v.node AS BIGINT) AS node, 0 AS dist"
        f" FROM (VALUES {seed_rows}) v(node))",
    ]
    unions = ["SELECT node, dist FROM l0"]
    for i in range(1, n_hops + 1):
        ctes.append(
            f"l{i} AS (SELECT DISTINCT e.dst AS node, {i} AS dist"
            f" FROM l{i - 1} p JOIN edges e ON e.src = p.node)"
        )
        unions.append(f"SELECT node, dist FROM l{i}")
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        "SELECT node, MIN(dist) AS dist FROM ("
        + " UNION ALL ".join(unions)
        + ") levels GROUP BY node"
    )
