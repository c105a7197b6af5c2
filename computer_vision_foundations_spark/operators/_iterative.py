"""Shared round machinery of the iterative graph operators.

components, lpa, pagerank, hits, kcore, bfs, bpe and attribution each
run a loop of rounds that ``localCheckpoint`` a table, read it in the
next round, and drop it once that round has materialized. This module
owns the parts they share; each operator keeps its own recurrence, its
convergence test and its checkpoint cadence.

- :class:`Rounds` is a context-managed set of checkpoints. ``advance``
  materializes a round and then releases the round it supersedes. On
  every exit (convergence, an iteration-cap error, an exception
  mid-round) it releases every checkpoint the returned frame does not
  read. A local checkpoint truncates lineage, so its blocks are the
  only copy: they are released strictly after their last consumer
  materialized, and a plan shape this module cannot read leaks the
  blocks rather than failing the query.
- :func:`mirror` is the one ``(u, v)`` explode-mirror of an edge list.
- The edge layout is worked out from the input. ``Rounds.edges``
  checkpoints the edge list once, its row count riding the checkpoint
  job as an ``observe`` metric (no extra job). The count bounds the
  node count. While that bound is within :data:`BROADCAST_MAX_NODES`,
  the node-sized per-round sides (labels, ranks, scores, survivors:
  (node, long/double) rows of at most 16 bytes, so 10^8 rows are about
  1.6 GB of executor memory) are broadcast, and each round scans the
  checkpointed edge list without re-shuffling it. A checkpointed frame
  is a stats-less LogicalRDD, so the planner never picks the broadcast
  on its own. Above the bound, the edge list is re-laid out from its
  own blocks hash-partitioned on the round join key
  (:func:`_ckpt_partitioned`), and the node-sized sides carry a
  ``shuffle_hash`` hint: each round shuffles only node-sized tables
  into the edge layout and hash-probes the edge stream instead of
  re-sorting it. Every per-round combine is a min, a count, a mode or
  a sum, so results do not depend on the layout (float sums up to
  summation order).
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

# Node-count bound of the broadcast layout (see the module docstring).
BROADCAST_MAX_NODES = 10**8

# Serializes the AQE read-set-restore in `_ckpt_partitioned`: two
# threads interleaving it would each restore what the other set, and
# leave AQE off for the whole session.
_AQE_TOGGLE_LOCK = threading.Lock()


def _ckpt_partitioned(df: DataFrame, *keys: str) -> DataFrame:
    """``repartition(keys) + localCheckpoint`` that PRESERVES the hash
    partitioning on the checkpointed LogicalRDD.

    The co-partitioned round shape wants the edge list laid out by its
    per-round join key ONCE so no round re-shuffles it.
    ``Dataset.checkpoint`` captures ``physicalPlan.outputPartitioning``
    — but under AQE the physical plan is an un-executed
    ``AdaptiveSparkPlanExec`` whose partitioning is still
    ``UnknownPartitioning`` (measured: the checkpointed scan reports
    UnknownPartitioning(0) with AQE on, hashpartitioning(key) with it
    off). AQE is disabled ONLY while this checkpoint plan is
    constructed+run, under ``_AQE_TOGGLE_LOCK`` so concurrent callers
    restore the value read before any of them toggled it. It is a
    perf-only toggle, so an unrelated job planned in the window at most
    loses adaptive coalescing for that one plan."""
    spark = df.sparkSession
    key = "spark.sql.adaptive.enabled"
    with _AQE_TOGGLE_LOCK:
        old = spark.conf.get(key)
        spark.conf.set(key, "false")
        try:
            return df.repartition(*[F.col(k) for k in keys]).localCheckpoint()
        finally:
            spark.conf.set(key, old)


def _ckpt_rdd(df: DataFrame):
    """JVM RDD backing a ``localCheckpoint``'d DataFrame (its analyzed
    plan is a ``LogicalRDD``). Returns ``None`` (leak-don't-crash) if
    the plan shape ever changes."""
    try:
        return df._jdf.queryExecution().analyzed().rdd()
    except Exception:
        return None


def _release(jrdd) -> None:
    if jrdd is not None:
        try:
            jrdd.unpersist(False)
        except Exception:
            pass


def _read_rdd_ids(df: DataFrame) -> set[int] | None:
    """Ids of the checkpoint RDDs ``df``'s plan scans; ``None`` if the
    plan cannot be read."""
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        return {
            leaf.rdd().id()
            for leaf in (leaves.apply(i) for i in range(leaves.size()))
            if leaf.getClass().getSimpleName() == "LogicalRDD"
        }
    except Exception:
        return None


def mirror(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """``(u, v)`` with both directions of every edge. One explode over
    a two-struct array, so the upstream plan appears once: a union of
    two selects of the same frame ran the pair pipeline twice before
    the checkpoint (round-8 measured: ~2.5 s of q41's fixed cost at
    sf0.1). Self-loops are kept; filter them first if unwanted."""
    return edges.select(
        F.explode(
            F.array(
                F.struct(F.col(src).alias("u"), F.col(dst).alias("v")),
                F.struct(F.col(dst).alias("u"), F.col(src).alias("v")),
            )
        ).alias("_e")
    ).select("_e.u", "_e.v")


class Rounds:
    """The checkpoints of one iterative operator call, and its edge
    layout. Use as a context manager and return through
    :meth:`result`."""

    def __init__(self) -> None:
        self._held: dict[int, tuple[DataFrame, object]] = {}
        self._kept: set[int] | None = set()
        self.broadcast = True
        self.edge_rows = 0

    def __enter__(self) -> Rounds:
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        kept = self._kept if exc_type is None else set()
        if kept is None:
            return  # unreadable result plan: leak, don't crash
        for _, jrdd in self._held.values():
            try:
                if jrdd.id() in kept:
                    continue
            except Exception:
                continue
            _release(jrdd)
        self._held.clear()

    def checkpoint(self, df: DataFrame, key: str | None = None) -> DataFrame:
        """Materialize ``df`` (hash-partitioned on ``key`` when the
        layout is co-partitioned and a key is given)."""
        if key is not None and not self.broadcast:
            out = _ckpt_partitioned(df, key)
        else:
            out = df.localCheckpoint()
        jrdd = _ckpt_rdd(out)
        if jrdd is not None:
            self._held[id(out)] = (out, jrdd)
        return out

    def advance(
        self, old: DataFrame | None, new: DataFrame, key: str | None = None
    ) -> DataFrame:
        """Materialize ``new``, then release ``old`` (if it is one of
        these checkpoints), whose last reader was that
        materialization."""
        out = self.checkpoint(new, key)
        if old is not None and id(old) in self._held:
            _release(self._held.pop(id(old))[1])
        return out

    def edges(
        self, df: DataFrame, key: str | None = None, nodes_per_row: int = 1
    ) -> DataFrame:
        """Checkpoint an edge list and decide the layout from its row
        count: ``rows * nodes_per_row`` bounds the node count (1 for a
        mirrored list, whose every node appears as ``u``; 2 for a
        directed one). Co-partitioned, the list is re-laid out on
        ``key`` from its own blocks."""
        obs = Observation()
        out = self.checkpoint(df.observe(obs, F.count(F.lit(1)).alias("n")))
        self.edge_rows = obs.get["n"]
        self.broadcast = self.edge_rows * nodes_per_row <= BROADCAST_MAX_NODES
        if key is None or self.broadcast:
            return out
        return self.advance(out, out, key)

    def side(self, df: DataFrame) -> DataFrame:
        """A node-sized join side in the chosen layout."""
        return F.broadcast(df) if self.broadcast else df.hint("shuffle_hash")

    def result(self, df: DataFrame) -> DataFrame:
        """Mark ``df`` as the returned frame: the checkpoints its plan
        reads outlive the call (Spark's ContextCleaner frees them once
        the frame is unreachable)."""
        self._kept = _read_rdd_ids(df)
        return df
