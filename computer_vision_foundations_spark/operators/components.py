"""Connected components over candidate-pair graphs.

The missing last step of every near-duplicate pipeline: LSH/Jaccard/
cosine stages emit PAIRS, but "keep one copy per duplicate group"
needs the transitive closure — A~B and B~C must collapse A,B,C into
one cluster even though (A,C) was never a candidate pair.

Iterative min-label propagation with pointer jumping, all DataFrame
ops:

- each round every vertex takes the min label among itself and its
  neighbors (one join + one hash-agg on the edge list), then
  short-circuits through its current label's label (pointer jumping —
  the union-find path-halving step, one self-join on the small label
  table). Propagation alone needs O(diameter) rounds; jumping
  compresses chains so long paths converge in ~O(log n).
- convergence is detected by the SUM of labels, which strictly
  decreases until fixpoint. The sum rides the checkpoint
  materialization as an ``observe`` metric — zero extra jobs.
- BOTH the edge list and the per-round label table are
  ``localCheckpoint``ed. For labels this is the classic lineage
  truncation (without it each round re-plans the whole history and
  the planner OOMs long before data is a problem). For edges it
  matters just as much but for a subtler reason: ``persist`` caches
  partitions, not the plan — every round's joins still embed and
  re-ANALYZE the edge list's full upstream logical plan (for LSH
  input, the entire shingle→minhash→banding pipeline), which measured
  3-5 s of driver time per round at sf0.1; with the flat
  ExistingRDD plan, a round is ~0.8 s.

Per round: one shuffle of the edge list + two small shuffles of the
label table (|V| rows). Candidate-pair graphs are overwhelmingly tiny
clusters (diameter 2-4), so expect 3-5 rounds. Labels are min node
ids, so each component's id IS its canonical (smallest) member.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from computer_vision_foundations_spark.operators._iterative import Rounds, mirror

__all__ = ["connected_components", "dedup_clusters"]


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """``(node, component)`` for every node appearing in ``edges``;
    component = smallest node id reachable. Raises if not converged
    within ``max_iter`` rounds (pathological diameter — pre-split the
    graph or raise the cap).

    The per-round label table joins the edge list on ``u``, and the
    node-sized min/jump tables join the labels, in the layout
    ``operators/_iterative`` works out from the edge count. Every
    aggregate here is ``min`` over longs: join-strategy independent."""
    with Rounds() as rounds:
        # materialize ONCE with a flat plan (see module docstring:
        # persist alone leaves the upstream logical plan to be
        # re-analyzed every round)
        sym = rounds.edges(mirror(edges, src, dst).distinct(), "u")
        # round 0 fused into initialization: comp = min(node, neighbors)
        # directly from the edge list — saves one full loop iteration
        labels = rounds.checkpoint(
            sym.groupBy(F.col("v").alias("node"))
            .agg(F.min("u").alias("_mn"))
            .select(
                "node", F.least(F.col("node"), F.col("_mn")).alias("comp")
            )
        )
        prev_sum = labels.agg(F.sum("comp")).collect()[0][0]
        for i in range(max_iter):
            nbr_min = (
                sym.join(rounds.side(labels), sym["u"] == labels["node"])
                .groupBy("v")
                .agg(F.min("comp").alias("nbr_comp"))
            )
            new = (
                labels.join(
                    rounds.side(nbr_min), labels["node"] == nbr_min["v"], "left"
                )
                .select(
                    "node",
                    F.least(
                        F.col("comp"),
                        F.coalesce(F.col("nbr_comp"), F.col("comp")),
                    ).alias("comp"),
                )
            )
            # pointer jumping: comp <- comp's comp (labels only shrink,
            # so the looked-up value is always <= the current one)
            jump = new.select(
                F.col("node").alias("comp"), F.col("comp").alias("comp2")
            )
            obs = Observation(f"cc_round_{i}")
            labels = rounds.advance(
                labels,
                new.join(rounds.side(jump), "comp", "left")
                .select("node", F.coalesce("comp2", "comp").alias("comp"))
                .observe(obs, F.sum("comp").alias("s")),
            )
            # the eager checkpoint IS the action; observe rode along
            cur_sum = obs.get["s"]
            if cur_sum == prev_sum:
                return rounds.result(
                    labels.select("node", F.col("comp").alias("component"))
                )
            prev_sum = cur_sum
        raise RuntimeError(
            f"connected_components: no fixpoint in {max_iter} rounds"
        )


def dedup_clusters(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Cluster assignment for near-duplicate pairs: ``(doc_id,
    component, is_canonical)`` — keep rows with ``is_canonical`` and
    you have deduplicated the corpus (the canonical copy is the
    smallest id, matching exact_duplicates' keep-min-id policy)."""
    cc = connected_components(pairs, src=src, dst=dst)
    return cc.select(
        F.col("node").alias("doc_id"),
        "component",
        (F.col("node") == F.col("component")).alias("is_canonical"),
    )
