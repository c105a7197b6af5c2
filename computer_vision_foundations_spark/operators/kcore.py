"""k-core extraction over pair graphs — iterative degree peeling.

The third member of the graph-cohesion toolkit (triangles measure
local density, LPA finds majority communities, k-core finds the
maximal subgraph where EVERY node keeps ≥ k neighbors). On
near-duplicate pair graphs the k-core is the "hard kernel" of a
duplicate family — members that survive even after every weakly-
attached straggler is peeled; on web/link graphs core number is the
classic spam-farm / crawl-frontier prioritization signal (Batagelj &
Zaveršnik 2003's peeling algorithm is what this distributes).

Peeling is inherently iterative but each round is pure relational
algebra: drop nodes with current degree < k, induce the subgraph,
recompute degrees. Spark-first shape, per round:
- one hash aggregate over the symmetric edge list for degrees;
- one broadcast-threshold filter → survivor node table ((node) rows);
- two left-semi joins inducing the subgraph (edge list vs survivors);
- the edge list is ``localCheckpoint``'d with explicit release (the
  components.py discipline — each round has two consumers of the
  previous edge table: the degree aggregate and the induction join).

Convergence: monotone — the edge set only shrinks, and equals the
true k-core at fixpoint. ``n_rounds`` is fixed (oracle-unroll
convention, like PageRank/HITS/LPA); the returned frame also carries
the round's degree so an unconverged run is visible (some node
< k means one more round was needed). Candidate-pair graphs peel in
a handful of rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from computer_vision_foundations_spark.operators._iterative import Rounds, mirror

__all__ = ["k_core", "k_core_collapsed", "kcore_oracle_sql"]


def _sym(edges: DataFrame, src: str, dst: str) -> DataFrame:
    # filter self-loops BEFORE mirroring: the reversed half must not
    # reintroduce them (quotient edge lists genuinely contain
    # same-class rows)
    return mirror(edges.where(F.col(src) != F.col(dst)), src, dst).distinct()


def k_core(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    k: int = 3,
    n_rounds: int = 8,
) -> DataFrame:
    """``(node, degree)`` of the subgraph left after ``n_rounds`` of
    degree-< k peeling — the k-core once the peel has converged
    (monotone, so extra rounds are no-ops).

    The per-round survivor node table joins the two induction
    semi-joins in the layout ``operators/_iterative`` works out from
    the edge count. Co-partitioned, each round's edge table is
    checkpointed hash-partitioned on ``u``: the degree aggregate and
    the u-side induction semi-join consume the layout exchange-free,
    leaving the v-side induction and the layout restore as the
    per-round edge-sized exchanges, both over the peeled stream.
    Semi-join output is pure set membership: join-strategy
    independent."""
    with Rounds() as rounds:
        sym = rounds.edges(_sym(edges, src, dst), "u")
        # the peel is MONOTONE (edges only leave), so an unchanged edge
        # count IS the fixpoint: stop early with an output identical to
        # the fixed-round unroll (the oracle's 8 rounds are no-ops past
        # convergence). The first count rode the edge checkpoint.
        prev_cnt = rounds.edge_rows
        for _ in range(n_rounds):
            keep = (
                sym.groupBy("u")
                .agg(F.count(F.lit(1)).alias("_d"))
                .where(F.col("_d") >= k)
                .select("u")
            )
            nxt = sym.join(rounds.side(keep), "u", "left_semi").join(
                rounds.side(keep.select(F.col("u").alias("v"))),
                "v",
                "left_semi",
            )
            sym = rounds.advance(sym, nxt, "u")
            cnt = sym.count()
            if cnt == prev_cnt:
                break
            prev_cnt = cnt
        return rounds.result(
            sym.groupBy(F.col("u").alias("node"))
            .agg(F.count(F.lit(1)).alias("degree"))
            .orderBy("node")
        )


def k_core_collapsed(
    pairs: DataFrame,
    classes: DataFrame,
    node_col: str = "node",
    cls_col: str = "cls",
    src: str = "id_a",
    dst: str = "id_b",
    k: int = 3,
    n_rounds: int = 8,
) -> DataFrame:
    """``k_core`` for graphs whose adjacency is a pure function of a
    class key — same output, quotient-sized rounds. The per-round
    alive-class/weight tables (quotient-sized, strictly smaller than
    the node table) take the ``k_core`` layout, decided from the class
    map's row count, which bounds the class count. Co-partitioned, the
    static quotient edge table is checkpointed hash-partitioned on
    ``u`` (r13): the u-side alive semi-join and the final degree
    aggregates consume the layout exchange-free, leaving the v-side
    weight join as the one quotient-edge-sized exchange per round.

    Same structural-equivalence contract as
    ``triangles.triangle_stats_collapsed`` (identical neighborhoods;
    mutual adjacency when the class has ≥ 2 members). Because
    same-class nodes always have IDENTICAL degrees, peeling kills or
    keeps whole classes per round, so the peel runs on the weighted
    quotient: ``deg_i = (w_i − 1) + Σ_{j~i, j alive} w_j``. Rounds
    stop early at the fixpoint (the peel is monotone, so the
    fixed-round naive result is identical). Each round touches
    quotient-sized tables only — on dedup graphs that's the distinct-
    fingerprint count, not the clique-expanded edge count.
    """
    with Rounds() as rounds:
        cmap = rounds.edges(
            classes.select(
                F.col(node_col).alias("node"), F.col(cls_col).alias("cls")
            )
        )
        w = cmap.groupBy("cls").agg(F.count(F.lit(1)).alias("w"))
        ca = cmap.select(F.col("node").alias(src), F.col("cls").alias("_ca"))
        cb = cmap.select(F.col("node").alias(dst), F.col("cls").alias("_cb"))
        qsym = rounds.checkpoint(
            _sym(pairs.join(ca, src).join(cb, dst), "_ca", "_cb"), "u"
        )

        def degrees(alive: DataFrame) -> DataFrame:
            wj = alive.select(F.col("cls").alias("v"), F.col("w").alias("wj"))
            nbr_sum = (
                qsym.join(
                    rounds.side(alive.select(F.col("cls").alias("u"))),
                    "u",
                    "left_semi",
                )
                .join(rounds.side(wj), "v")
                .groupBy("u")
                .agg(F.sum("wj").alias("s"))
            )
            return alive.join(
                rounds.side(nbr_sum.select(F.col("u").alias("cls"), "s")),
                "cls",
                "left",
            ).select(
                "cls",
                "w",
                (F.col("w") - 1 + F.coalesce(F.col("s"), F.lit(0))).alias("deg"),
            )

        # alive classes: participate in the graph at all
        in_graph = qsym.select(F.col("u").alias("cls")).distinct()
        alive = rounds.checkpoint(
            w.join(in_graph, "cls", "left_semi")
            .unionByName(w.where(F.col("w") >= 2))
            .distinct()
        )
        n_alive = alive.count()
        for _ in range(n_rounds):
            alive = rounds.advance(
                alive, degrees(alive).where(F.col("deg") >= k).select("cls", "w")
            )
            n_next = alive.count()
            if n_next == n_alive:
                break  # fixpoint: further rounds are no-ops
            n_alive = n_next
        # final degrees over the surviving quotient; the returned lazy
        # frame reads the cmap, qsym and last alive checkpoints
        final = degrees(alive).select("cls", F.col("deg").alias("degree"))
        return rounds.result(
            cmap.join(rounds.side(final), "cls")
            .select("node", "degree")
            .orderBy("node")
        )


def kcore_oracle_sql(
    pairs_sql: str,
    a: str = "id_a",
    b: str = "id_b",
    k: int = 3,
    n_rounds: int = 8,
) -> str:
    """DuckDB twin: the identical peel unrolled one CTE per round.

    Every round CTE is MATERIALIZED — DuckDB inlines plain CTEs, and
    each round references its predecessor three times (degree
    subquery ×2 + induction), so a lazy unroll re-expands the pair
    generator 3^n times: the exact 2^n blowup SCALE.md decision 10
    measured on the Spark side, reproduced in the oracle engine."""
    rounds = []
    for r in range(1, n_rounds + 1):
        rounds.append(
            f"""k{r} AS MATERIALIZED (
        SELECT u FROM e{r - 1} GROUP BY u HAVING count(*) >= {k}
    ),
    e{r} AS MATERIALIZED (
        SELECT e.u, e.v FROM e{r - 1} e
        WHERE e.u IN (SELECT u FROM k{r})
          AND e.v IN (SELECT u FROM k{r})
    )"""
        )
    return f"""
    WITH pairs AS MATERIALIZED ({pairs_sql}),
    e0 AS MATERIALIZED (
        SELECT DISTINCT u, v FROM (
            SELECT {a} AS u, {b} AS v FROM pairs WHERE {a} <> {b}
            UNION ALL
            SELECT {b} AS u, {a} AS v FROM pairs WHERE {a} <> {b}
        )
    ),
    {", ".join(rounds)}
    SELECT u AS node, count(*) AS degree
    FROM e{n_rounds} GROUP BY u ORDER BY node
    """
