"""Fixed-iteration PageRank as a declarative DataFrame pipeline.

A web-scale training corpus wants link-graph quality signals (page
authority is a standard pretraining quality feature), and PageRank is
the canonical one. This is power iteration with damping and dangling-
mass redistribution:

    r_{i+1}(v) = (1-d)/N + d * ( Σ_{(u,v)∈E} r_i(u)/outdeg(u) + D_i/N )

where ``D_i`` is the total rank held by dangling nodes (no out-edges).

Spark-first shape (per iteration):
- contributions: edges ⋈ ranks on ``src``, out-degree joined in the
  same node-sized layout (degree table is |V|-sized but only (src,
  deg) — small relative to edges), then one hash aggregate on ``dst``
  — shuffles carry (node, double) pairs only.
- dangling mass: a LEFT ANTI join + global agg → a 1-row DataFrame
  crossJoin'd back (broadcast) — never a driver collect.
- each round's rank table is ``localCheckpoint``'d, exactly like
  ``components.py``: the recurrence consumes ranks TWICE (contrib +
  dangling), so a lazy unroll doubles the plan per round — 2^n
  recompute by round n. Checkpointing makes every round read the
  previous round's materialized (node, double) blocks once, and the
  previous round's blocks are explicitly released as soon as the new
  round is materialized (no storage accumulation across many graphs).
- edges and nodes are checkpointed once up front; the node count
  ``N`` is the only driver scalar.

Arithmetic is structured IDENTICALLY to the unrolled-SQL oracle
(``queries.py`` generates r0..r{n} CTEs): same literals cast to
double, same operation order, so double results agree bit-for-bit
modulo summation order — the registry query rounds a mean-1-scaled
rank to 6 digits for the cross-engine hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from computer_vision_foundations_spark.operators._iterative import Rounds

__all__ = ["pagerank"]


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    n_iter: int = 5,
) -> DataFrame:
    """``(node, rank)`` after ``n_iter`` damped power iterations.

    ``edges`` is a directed edge list; duplicates are collapsed.
    Ranks sum to 1 across all nodes appearing in ``edges``. The
    (src, out_deg) table, the per-round (node, double) rank table and
    the aggregated contribution table are all node-sized; they join
    the edge list (laid out on ``src`` when co-partitioned) in the
    layout ``operators/_iterative`` works out from the edge count, so
    no round re-shuffles or re-sorts the edge list.

    Eager: each round materializes via ``localCheckpoint`` (see
    module docstring); the returned DataFrame is the checkpointed
    final round.
    """
    with Rounds() as rounds:
        e = rounds.edges(
            edges.select(
                F.col(src).alias("src"), F.col(dst).alias("dst")
            ).distinct(),
            "src",
            nodes_per_row=2,
        )
        nodes = rounds.checkpoint(
            e.select(F.col("src").alias("node"))
            .unionByName(e.select(F.col("dst").alias("node")))
            .distinct()
        )
        # co-partitioned, deg derives from the src layout: hash-build
        # it per partition instead of sorting the edges
        deg = rounds.side(e.groupBy("src").agg(F.count("*").alias("out_deg")))
        n_total = nodes.count()  # scalar; node table already materialized
        n_lit = F.lit(float(n_total))
        base = (F.lit(1.0) - F.lit(damping)) / n_lit
        ranks = nodes.select("node", (F.lit(1.0) / n_lit).alias("r"))
        for _ in range(n_iter):
            contrib = (
                e.join(deg, "src")
                .join(rounds.side(ranks.withColumnRenamed("node", "src")), "src")
                .groupBy(F.col("dst").alias("node"))
                .agg(F.sum(F.col("r") / F.col("out_deg")).alias("contrib"))
            )
            dangling = (
                ranks.join(deg, ranks["node"] == deg["src"], "left_anti")
                .agg(F.coalesce(F.sum("r"), F.lit(0.0)).alias("dm"))
            )
            ranks = rounds.advance(
                ranks,
                nodes.join(rounds.side(contrib), "node", "left")
                .crossJoin(F.broadcast(dangling))
                .select(
                    "node",
                    (
                        base
                        + F.lit(damping)
                        * (
                            F.coalesce(F.col("contrib"), F.lit(0.0))
                            + F.col("dm") / n_lit
                        )
                    ).alias("r"),
                ),
            )
        return rounds.result(ranks.select("node", F.col("r").alias("rank")))


def pagerank_oracle_sql(
    edges_sql: str,
    damping: float = 0.85,
    n_iter: int = 5,
    round_digits: int | None = None,
) -> str:
    """Unrolled-CTE DuckDB oracle with the SAME arithmetic structure
    as :func:`pagerank` (damping cast to double; dangling mass
    redistributed each round). ``edges_sql`` must yield (src, dst)."""
    d = f"CAST({damping} AS DOUBLE)"
    # every CTE is MATERIALIZED: each round references the previous
    # round TWICE (contributions + dangling mass), so a plain CTE
    # would re-INLINE the whole chain exponentially — 2^n_iter
    # re-expansions of the edge pipeline (the oracle-engine analogue
    # of the Spark lazy-unroll blowup; the LPA oracle has the same
    # guard). Found by the round-9 graph density sweep: the inlined
    # form blew DuckDB's 100 GiB budget on the 25x hub-skew graph.
    parts = [
        # DISTINCT mirrors the operator's edge collapse — without it a
        # caller-supplied edge query that yields the same (src, dst)
        # twice (e.g. node-id collisions across keyspaces) would
        # double-count degrees/contributions only on the oracle side.
        f"WITH edges AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({edges_sql}))",
        "nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        "deg AS MATERIALIZED (SELECT src, count(*) AS out_deg FROM edges GROUP BY src)",
        "nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes)",
        "r0 AS MATERIALIZED (SELECT node, 1.0 / nn.n AS r FROM nodes, nn)",
    ]
    for i in range(n_iter):
        prev, cur = f"r{i}", f"r{i + 1}"
        parts.append(
            f"""{cur} AS MATERIALIZED (
    SELECT nds.node,
           (1.0 - {d}) / nn.n
           + {d} * (coalesce(c.contrib, 0.0) + dg.dm / nn.n) AS r
    FROM nodes nds
    LEFT JOIN (
        SELECT e.dst AS node, sum(p.r / deg.out_deg) AS contrib
        FROM edges e
        JOIN deg ON deg.src = e.src
        JOIN {prev} p ON p.node = e.src
        GROUP BY e.dst
    ) c ON c.node = nds.node
    CROSS JOIN (
        SELECT coalesce(sum(p.r), 0.0) AS dm
        FROM {prev} p LEFT JOIN deg ON deg.src = p.node
        WHERE deg.src IS NULL
    ) dg
    CROSS JOIN nn
)"""
        )
    body = parts[0] + ",\n" + ",\n".join(parts[1:])
    rank = "r" if round_digits is None else f"round(r, {round_digits})"
    return f"{body}\nSELECT node, {rank} AS rank FROM r{n_iter}"
