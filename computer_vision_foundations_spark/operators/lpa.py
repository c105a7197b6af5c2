"""Label-propagation communities over candidate-pair graphs.

Connected components (`operators/components.py`) answers "what is
transitively reachable"; label propagation (Raghavan, Albert &
Kumara 2007 — the LPA in GraphX/GraphFrames) answers the finer
question curation actually has: a giant component stitched together
by a handful of borderline near-dup edges is NOT one duplicate
family. LPA converges to densely-connected communities because each
node adopts the label the *majority* of its neighbors carry — a
single bridge edge can't recolor a whole cluster the way min-label
propagation does.

Determinism (the differential-oracle requirement): the synchronous
variant — all nodes update from the round-r labels simultaneously —
with argmax tie-broken by the SMALLEST label. Async/randomized LPA
converges faster but is run-order dependent; synchronous fixed-round
LPA is a pure function of the edge list, so the oracle unrolls the
identical recurrence as one CTE per round.

Spark-first shape, per round:
- one shuffle of the symmetric edge list joined to the label table
  (rows: (src, neighbor-label) pairs — ids and longs only);
- one hash aggregate counting labels per node + one per-node window
  (|labels per node| rows) for the deterministic argmax;
- the label table is ``localCheckpoint``'d with explicit release —
  the recurrence consumes each round's table once per join but the
  lazy unroll would still re-analyze the whole history every round
  (SCALE.md "Measured decisions" 2/10).

Fixed ``n_rounds`` (default 4): candidate-pair graphs are
small-diameter, and fixed rounds keep the oracle's unroll bounded —
the same convention as PageRank/HITS.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from computer_vision_foundations_spark.operators._iterative import Rounds, mirror

__all__ = [
    "label_propagation",
    "label_propagation_quotient",
    "lpa_oracle_sql",
]


def label_propagation(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    n_rounds: int = 4,
    edges_distinct: bool = False,
) -> DataFrame:
    """``(node, community)`` after ``n_rounds`` synchronous LPA
    rounds; labels start as node ids, each round every node takes the
    most frequent neighbor label (ties → smallest).

    The per-round (node, community) table joins the edge list on ``v``
    in the layout ``operators/_iterative`` works out from the edge
    count; the mode aggregate's map-side partials are the only other
    per-round exchange. Votes are integer counts, so the result is
    join-strategy independent."""
    sym = mirror(edges.where(F.col(src) != F.col(dst)), src, dst)
    if not edges_distinct:
        # duplicate edges would double-count votes; skip the shuffle
        # only when the caller ATTESTS unique unordered pairs (every
        # pair generator here emits each pair once) — the mirror of a
        # unique pair set is unique
        sym = sym.distinct()
    with Rounds() as rounds:
        sym = rounds.edges(sym, "v")
        # Round 1 fused into initialization (r13 — the components.py
        # "round 0 fused" trick, LPA never had it): labels start as node
        # ids, so round 1's "most frequent neighbor LABEL" is just the
        # most frequent neighbor ID — ONE aggregate over the edge list,
        # no identity-label table to build/checkpoint and no round-1 join.
        # Same deterministic mode (ties → smallest); node set = distinct u
        # = exactly the old init's label keys (sym is mirrored, so every
        # node appears as u).
        if n_rounds >= 1:
            labels = (
                sym.groupBy("u")
                .agg(F.mode("v", True).alias("community"))
                .select(F.col("u").alias("node"), "community")
            )
        else:
            labels = sym.select(F.col("u").alias("node")).distinct().select(
                "node", F.col("node").alias("community")
            )
        labels = ckpt = rounds.checkpoint(labels)
        for i in range(1, n_rounds):
            # deterministic argmax as ONE aggregate: mode(community,
            # deterministic=true) = the most frequent neighbor label,
            # ties to the SMALLEST — the exact LPA rule (verified:
            # round 1 is all-ties, so the gate exercises the
            # tie-break on every node). One groupBy(u) with map-side
            # partial mode maps replaces the previous two-stage
            # (u, community)-count + argmax shuffle pair (round-9
            # verdict #7's fuse suggestion)
            nxt = (
                sym.join(rounds.side(labels), sym["v"] == labels["node"])
                .groupBy("u")
                .agg(F.mode("community", True).alias("community"))
                .select(F.col("u").alias("node"), "community")
            )
            # checkpoint every OTHER round: the per-round
            # materialization was q41's dominant gate-SF cost
            # (round-8 SCALE.md); letting the plan run two
            # join+aggregate rounds deep before cutting lineage
            # halves the checkpoint jobs with identical labels —
            # sym is itself checkpointed, so the deeper plan rescans
            # cached blocks, never the upstream pair pipeline. The
            # LAST round always checkpoints, so the returned plan
            # reads the final labels only and sym's blocks are
            # released on return
            if i % 2 == 1 or i == n_rounds - 1:
                labels = ckpt = rounds.advance(ckpt, nxt)
            else:
                labels = nxt
        return rounds.result(labels.orderBy("node"))


def label_propagation_quotient(
    edges: DataFrame,
    classes: DataFrame,
    node_col: str = "node",
    cls_col: str = "cls",
    src: str = "id_a",
    dst: str = "id_b",
    n_rounds: int = 4,
) -> DataFrame:
    """LPA over the structural-equivalence QUOTIENT graph — the
    dedup-then-propagate scale path (SCALE.md round-9 graph sweep:
    raw LPA pays |sym| = 1.69 B rows PER ROUND at 25×; the quotient
    stays at the distinct-class count, like the collapsed k-core /
    triangle operators).

    Each class collapses to its MIN-id representative, plain LPA runs
    on the distinct representative edge list, and every member
    inherits its class's community. This is NOT a re-expression of
    per-node `label_propagation` (labels start as node ids there, so
    same-class members are label-DISTINCT and the naive recurrence is
    not quotient-invariant — the documented reason q41 runs raw); it
    is the operator a 100 TB pipeline actually wants: communities of
    duplicate FAMILIES, immune to within-family label churn. Oracled
    by replaying the identical quotient construction + recurrence in
    SQL (za89).

    Scale shape: two broadcast-sized class-map joins to quotient the
    edges, one distinct on class pairs, then LPA rounds on
    quotient-sized tables only; the member fan-back is one join at
    the end."""
    cmap = classes.select(
        F.col(node_col).alias("_n"), F.col(cls_col).alias("_c")
    )
    rep = cmap.groupBy("_c").agg(F.min("_n").alias("_rep"))
    crep = cmap.join(rep, "_c").select("_n", "_rep")
    ra = crep.select(
        F.col("_n").alias(src), F.col("_rep").alias("_rep_a")
    )
    rb = crep.select(
        F.col("_n").alias(dst), F.col("_rep").alias("_rep_b")
    )
    qedges = (
        edges.join(ra, src)
        .join(rb, dst)
        .where(F.col("_rep_a") != F.col("_rep_b"))
        .select(F.col("_rep_a").alias("id_a"), F.col("_rep_b").alias("id_b"))
        .distinct()
    )
    labels = label_propagation(
        qedges, "id_a", "id_b", n_rounds=n_rounds, edges_distinct=False
    )
    return (
        crep.join(labels, crep["_rep"] == labels["node"])
        .select(F.col("_n").alias("node"), "community")
        .orderBy("node")
    )


def lpa_oracle_sql(
    pairs_sql: str,
    a: str = "id_a",
    b: str = "id_b",
    n_rounds: int = 4,
) -> str:
    """DuckDB twin: the identical synchronous recurrence unrolled as
    one CTE per round (the PageRank/HITS oracle convention)."""
    rounds = []
    for r in range(1, n_rounds + 1):
        rounds.append(
            f"""l{r} AS MATERIALIZED (
        SELECT u AS node, community FROM (
            SELECT e.u, l.community, count(*) AS n,
                   row_number() OVER (
                       PARTITION BY e.u
                       ORDER BY count(*) DESC, l.community ASC
                   ) AS rn
            FROM sym e JOIN l{r - 1} l ON l.node = e.v
            GROUP BY e.u, l.community
        ) WHERE rn = 1
    )"""
        )
    # sym and every round are MATERIALIZED: DuckDB inlines plain CTEs,
    # so the pair generator would otherwise re-expand once per round —
    # the oracle-engine analogue of the Spark lazy-unroll blowup
    # (SCALE.md decision 10).
    return f"""
    WITH pairs AS MATERIALIZED ({pairs_sql}),
    sym AS MATERIALIZED (
        SELECT DISTINCT u, v FROM (
            SELECT {a} AS u, {b} AS v FROM pairs WHERE {a} <> {b}
            UNION ALL
            SELECT {b} AS u, {a} AS v FROM pairs WHERE {a} <> {b}
        )
    ),
    l0 AS MATERIALIZED (
        SELECT DISTINCT u AS node, u AS community FROM sym
    ),
    {", ".join(rounds)}
    SELECT node, community FROM l{n_rounds} ORDER BY node
    """
