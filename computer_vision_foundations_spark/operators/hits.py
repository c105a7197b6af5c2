"""HITS (hubs & authorities) — the second link-graph quality signal.

Kleinberg's HITS complements PageRank (`operators/pagerank.py`) for
corpus curation: authority scores surface canonical pages, hub scores
surface link farms / navigation boilerplate worth down-weighting. The
power iteration is

    a_{i+1}(v) = Σ_{(u,v)∈E} h_i(u)        then L2-normalize
    h_{i+1}(u) = Σ_{(u,v)∈E} a_{i+1}(v)    then L2-normalize

Spark-first shape per round — same discipline as PageRank:
- two edge⋈score joins + hash aggregates; shuffles carry
  (node, double) rows only;
- the L2 norm is a broadcast 1-row aggregate crossJoin'd back, never
  a driver collect;
- each half-step's RAW sums are ``localCheckpoint``'d with explicit
  block release (a lazy unroll doubles the logical plan per consumer
  per round — the measured 2^n blowup of SCALE.md "Measured
  decisions" 10), while the normalization stays lazy on top of the
  checkpoint: normalizing BEFORE the checkpoint evaluated each edge
  join twice per round (norm agg + value side — measured, round 5).

The oracle twin (:func:`hits_oracle_sql`) unrolls the same recurrence
as a0/h0..a{n}/h{n} CTEs with identical double arithmetic, so the
fixed-iteration result differential-checks bit-for-bit modulo
summation order (ranks rounded by the registry query).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from computer_vision_foundations_spark.operators._iterative import Rounds

__all__ = ["hits", "hits_oracle_sql"]


def _l2_normalize(scores: DataFrame, col: str) -> DataFrame:
    """Divide by the global L2 norm via a broadcast 1-row aggregate."""
    norm = scores.agg(
        F.sqrt(F.sum(F.col(col) * F.col(col))).alias("_norm")
    )
    return scores.crossJoin(F.broadcast(norm)).select(
        "node", (F.col(col) / F.col("_norm")).alias(col)
    )


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 5,
) -> DataFrame:
    """``(node, hub, authority)`` after ``n_iter`` HITS iterations.

    Scores start at 1 for every node and are L2-normalized after each
    half-step; nodes missing from a side (no in- or out-edges) carry 0
    for that score, matching the unrolled-SQL oracle.

    The per-half-step (node, double) score table joins the edge list,
    and the aggregated sums join the node table, in the layout
    ``operators/_iterative`` works out from the edge count. HITS
    alternates join keys between half-steps, so one co-partitioned
    layout cannot serve both: co-partitioned, the edge list is laid
    out TWICE, hash-partitioned on ``src`` and on ``dst`` (r13), for a
    one-time 2× edge storage cost (16-byte rows).
    """
    with Rounds() as rounds:
        e_src = rounds.edges(
            edges.select(
                F.col(src).alias("src"), F.col(dst).alias("dst")
            ).distinct(),
            "src",
            nodes_per_row=2,
        )
        # the second layout derives from the first one's blocks — the
        # upstream edge pipeline is not replayed
        e_dst = e_src if rounds.broadcast else rounds.checkpoint(e_src, "dst")
        nodes = rounds.checkpoint(
            e_src.select(F.col("src").alias("node"))
            .unionByName(e_src.select(F.col("dst").alias("node")))
            .distinct()
        )

        hubs = nodes.select("node", F.lit(1.0).alias("h"))
        a_raw = h_raw = auths = None
        # Checkpoint the RAW half-step sums and leave normalization
        # lazy: `_l2_normalize` reads its input twice (norm agg + value
        # side), so checkpointing AFTER it evaluated each edge join
        # twice per materialization. With the checkpoint on the raw
        # sums, every edge join runs exactly once per half-step and the
        # norm is a cheap node-sized agg over the checkpoint (measured
        # on za51: 16.8 s → see SCALE.md — the edge join dominated, the
        # norm agg is noise).
        for _ in range(n_iter):
            a_raw = rounds.advance(
                a_raw,
                nodes.join(
                    rounds.side(
                        e_src.join(
                            rounds.side(hubs.withColumnRenamed("node", "src")),
                            "src",
                        )
                        .groupBy(F.col("dst").alias("node"))
                        .agg(F.sum("h").alias("a"))
                    ),
                    "node",
                    "left",
                ).select("node", F.coalesce("a", F.lit(0.0)).alias("a")),
            )
            auths = _l2_normalize(a_raw, "a")
            h_raw = rounds.advance(
                h_raw,
                nodes.join(
                    rounds.side(
                        e_dst.join(
                            rounds.side(auths.withColumnRenamed("node", "dst")),
                            "dst",
                        )
                        .groupBy(F.col("src").alias("node"))
                        .agg(F.sum("a").alias("h"))
                    ),
                    "node",
                    "left",
                ).select("node", F.coalesce("h", F.lit(0.0)).alias("h")),
            )
            hubs = _l2_normalize(h_raw, "h")

        return rounds.result(
            rounds.checkpoint(
                nodes.join(rounds.side(hubs), "node", "left")
                .join(rounds.side(auths), "node", "left")
                .select(
                    "node",
                    F.coalesce("h", F.lit(0.0)).alias("hub"),
                    F.coalesce("a", F.lit(0.0)).alias("authority"),
                )
            )
        )


def hits_oracle_sql(edges_sql: str, n_iter: int = 5, round_digits: int | None = None) -> str:
    """Unrolled-CTE DuckDB oracle with the same arithmetic structure
    (L2 normalization after every half-step; absent sides are 0).
    ``edges_sql`` must yield (src, dst); duplicates are collapsed like
    the operator does."""
    parts = [
        f"WITH edges AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({edges_sql}))",
        "nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        "h0 AS MATERIALIZED (SELECT node, 1.0 AS h FROM nodes)",
    ]
    prev_h = "h0"
    for i in range(n_iter):
        a_raw, a_cte = f"a{i + 1}_raw", f"a{i + 1}"
        h_raw, h_cte = f"h{i + 1}_raw", f"h{i + 1}"
        parts.append(
            f"""{a_raw} AS MATERIALIZED (
    SELECT nds.node, coalesce(c.a, 0.0) AS a
    FROM nodes nds LEFT JOIN (
        SELECT e.dst AS node, sum(p.h) AS a
        FROM edges e JOIN {prev_h} p ON p.node = e.src
        GROUP BY e.dst
    ) c ON c.node = nds.node
)"""
        )
        parts.append(
            f"{a_cte} AS MATERIALIZED (SELECT node, a / (SELECT sqrt(sum(a * a)) "
            f"FROM {a_raw}) AS a FROM {a_raw})"
        )
        parts.append(
            f"""{h_raw} AS MATERIALIZED (
    SELECT nds.node, coalesce(c.h, 0.0) AS h
    FROM nodes nds LEFT JOIN (
        SELECT e.src AS node, sum(p.a) AS h
        FROM edges e JOIN {a_cte} p ON p.node = e.dst
        GROUP BY e.src
    ) c ON c.node = nds.node
)"""
        )
        parts.append(
            f"{h_cte} AS MATERIALIZED (SELECT node, h / (SELECT sqrt(sum(h * h)) "
            f"FROM {h_raw}) AS h FROM {h_raw})"
        )
        prev_h = h_cte
    body = parts[0] + ",\n" + ",\n".join(parts[1:])
    fmt = (
        ("round(h.h, %d)" % round_digits, "round(a.a, %d)" % round_digits)
        if round_digits is not None
        else ("h.h", "a.a")
    )
    return (
        f"{body}\n"
        f"SELECT n.node, {fmt[0]} AS hub, {fmt[1]} AS authority\n"
        f"FROM nodes n JOIN h{n_iter} h ON h.node = n.node "
        f"JOIN a{n_iter} a ON a.node = n.node"
    )
