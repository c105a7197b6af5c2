"""Broadcast-off (co-partitioned edge) fallback of the iterative graph
operators — r13.

Two properties, per operator:

1. RESULT IDENTITY: with the broadcast bound forced below the graph
   (``_iterative.BROADCAST_MAX_NODES = 0``) the output equals the
   broadcast default. Integer-valued operators (LPA votes, component
   mins, k-core degrees) must match exactly; the float power iterations
   (pagerank/HITS) must match at the registry queries' rounding (they
   differ only in double summation order, like any partitioning change).
2. ROUND SHAPE: the per-round join plan reads the checkpointed edge
   layout directly — no Exchange (and no Sort) between the edge-list
   ``Scan ExistingRDD`` and the per-round join. This is the contract
   that makes the fallback scale: only node-sized tables shuffle per
   round.
"""

from itertools import combinations

import pyspark.sql.classic.dataframe as cdf
import pytest
from pyspark.sql import functions as F

from computer_vision_foundations_spark.operators import _iterative
from computer_vision_foundations_spark.operators.components import (
    connected_components,
)
from computer_vision_foundations_spark.operators.hits import hits
from computer_vision_foundations_spark.operators.kcore import k_core
from computer_vision_foundations_spark.operators.lpa import label_propagation
from computer_vision_foundations_spark.operators.pagerank import pagerank


def _edges(spark):
    # two cliques + a chain + a hub: exercises ties, danglers, peeling
    pairs = (
        list(combinations(range(1, 6), 2))
        + list(combinations(range(11, 16), 2))
        + [(5, 11), (16, 17), (17, 18), (1, 100), (2, 100), (3, 100)]
    )
    return spark.createDataFrame(pairs, "id_a long, id_b long")


@pytest.fixture
def copartitioned(monkeypatch):
    """Run the operators as on a graph beyond the broadcast bound."""
    return lambda: monkeypatch.setattr(_iterative, "BROADCAST_MAX_NODES", 0)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_lpa_off_equals_on(spark, copartitioned):
    e = _edges(spark)
    on = _rows(label_propagation(e))
    copartitioned()
    off = _rows(label_propagation(e))
    assert on == off


def test_components_off_equals_on(spark, copartitioned):
    e = _edges(spark)
    on = _rows(connected_components(e))
    copartitioned()
    off = _rows(connected_components(e))
    assert on == off


def test_kcore_off_equals_on(spark, copartitioned):
    e = _edges(spark)
    on = _rows(k_core(e, k=3))
    copartitioned()
    off = _rows(k_core(e, k=3))
    assert on == off


def _rounded(df, digits=9):
    num = [
        F.round(c, digits).alias(c) if t in ("double", "float") else F.col(c)
        for c, t in df.dtypes
    ]
    return _rows(df.select(*num))


def test_pagerank_off_equals_on_rounded(spark, copartitioned):
    e = _edges(spark).selectExpr("id_a as src", "id_b as dst")
    on = _rounded(pagerank(e))
    copartitioned()
    off = _rounded(pagerank(e))
    assert on == off


def test_hits_off_equals_on_rounded(spark, copartitioned):
    e = _edges(spark).selectExpr("id_a as src", "id_b as dst")
    on = _rounded(hits(e), digits=6)
    copartitioned()
    off = _rounded(hits(e), digits=6)
    assert on == off


def test_off_round_plan_reads_edges_without_exchange(spark, copartitioned):
    """The co-partitioned LPA round join must consume the
    v-partitioned edge checkpoint directly: its plan contains a
    ShuffledHashJoin whose streamed side is the bare edge scan — no
    Exchange, no Sort on the edge side (the label side still shuffles:
    it is node-sized)."""
    e = _edges(spark)
    captured = []
    orig = cdf.DataFrame.localCheckpoint

    def patched(self, eager=True):
        captured.append(
            self._sc._jvm.PythonSQLUtils.explainString(
                self._jdf.queryExecution(), "formatted"
            )
        )
        return orig(self, eager)

    copartitioned()
    cdf.DataFrame.localCheckpoint = patched
    try:
        label_propagation(e)
    finally:
        cdf.DataFrame.localCheckpoint = orig
    # captured[0:2] are the edge checkpoint and its re-layout; rounds
    # follow
    round_plans = [p for p in captured[1:] if "ShuffledHashJoin" in p]
    assert round_plans, "no round plan captured"
    for plan in round_plans:
        lines = plan.splitlines()
        # tree section: the streamed side of each SHJ over the edge
        # scan must be the scan itself (pattern ":- Scan ExistingRDD"
        # directly under the join, not ":- Exchange"/":- Sort")
        joins = [
            i
            for i, ln in enumerate(lines)
            if "ShuffledHashJoin" in ln and "BuildRight" in ln
        ]
        assert joins
        for i in joins:
            # walk the streamed branch down to its leaf scan: only
            # narrow per-row nodes (Filter/Project) may sit between the
            # join and the edge checkpoint — never Exchange or Sort
            for ln in lines[i + 1 :]:
                if "Scan ExistingRDD" in ln or "HashAggregate" in ln:
                    break
                assert "Exchange" not in ln and "+- Sort" not in ln, (
                    f"edge side not exchange-free:\n{lines[i]}\n{ln}"
                )
