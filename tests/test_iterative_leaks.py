"""Every iterative graph loop leaves behind only the checkpoints its
returned frame reads: none when a round raises, and exactly the ones
the result's plan scans when it returns."""

from datetime import datetime, timedelta
from itertools import combinations

import pyspark.sql.classic.dataframe as cdf
import pytest

from computer_vision_foundations_spark.operators import _iterative
from computer_vision_foundations_spark.operators.attribution import (
    markov_attribution,
)
from computer_vision_foundations_spark.operators.bfs import bfs_distances
from computer_vision_foundations_spark.operators.bpe import bpe_train
from computer_vision_foundations_spark.operators.components import (
    connected_components,
)
from computer_vision_foundations_spark.operators.hits import hits
from computer_vision_foundations_spark.operators.kcore import (
    k_core,
    k_core_collapsed,
)
from computer_vision_foundations_spark.operators.lpa import label_propagation
from computer_vision_foundations_spark.operators.pagerank import pagerank


def _pairs(spark):
    # two cliques + a chain + a hub
    pairs = (
        list(combinations(range(1, 6), 2))
        + list(combinations(range(11, 16), 2))
        + [(5, 11), (16, 17), (17, 18), (1, 100), (2, 100), (3, 100)]
    )
    return spark.createDataFrame(pairs, "id_a long, id_b long")


def _directed(spark):
    return _pairs(spark).selectExpr("id_a as src", "id_b as dst")


def _classes(spark):
    nodes = [1, 2, 3, 4, 5, 11, 12, 13, 14, 15, 16, 17, 18, 100]
    return spark.createDataFrame([(n, n) for n in nodes], "node long, cls long")


def _docs(spark):
    texts = ["low lower lowest newer newest", "low lowest wider widest newest"]
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts * 2)], "doc_id long, text string"
    )


def _events(spark):
    journeys = [["click", "purchase"], ["view", "click"], ["view"], ["mail", "purchase"]]
    base = datetime(2024, 1, 1)
    rows = [
        (u, base + timedelta(minutes=i), ch, 10 * u + i)
        for u, seq in enumerate(journeys)
        for i, ch in enumerate(seq)
    ]
    return spark.createDataFrame(
        rows, "user_id long, ts timestamp_ntz, event_type string, event_id long"
    )


# name -> (call, checkpoints the returned frame reads)
CASES = {
    "components": (lambda s: connected_components(_pairs(s)), 1),
    "lpa": (lambda s: label_propagation(_pairs(s)), 1),
    "pagerank": (lambda s: pagerank(_directed(s)), 1),
    "hits": (lambda s: hits(_directed(s)), 1),
    "k_core": (lambda s: k_core(_pairs(s), k=3), 1),
    "k_core_collapsed": (
        lambda s: k_core_collapsed(_pairs(s), _classes(s), k=3),
        3,
    ),
    "bfs": (lambda s: bfs_distances(_directed(s), seeds=[1]), 1),
    "bpe": (lambda s: bpe_train(_docs(s), n_merges=9), 0),
    "attribution": (lambda s: markov_attribution(_events(s), n_rounds=3), 1),
    "hits_copartitioned": (lambda s: hits(_directed(s)), 1),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_iterative_loop_releases_checkpoints(spark, monkeypatch, name):
    if name.endswith("_copartitioned"):
        monkeypatch.setattr(_iterative, "BROADCAST_MAX_NODES", 0)
    call, reads = CASES[name]
    jsc = spark.sparkContext._jsc

    def _ids():
        return {int(i) for i in jsc.getPersistentRDDs().keySet().toArray()}

    orig = cdf.DataFrame.localCheckpoint
    calls = []

    def counting(self, eager=True):
        calls.append(1)
        return orig(self, eager)

    monkeypatch.setattr(cdf.DataFrame, "localCheckpoint", counting)
    before = _ids()
    out = call(spark)
    # id-set compare, not counts: an unrelated test's block may be
    # ContextCleaner-GC'd between the two snapshots in a full-suite run
    assert len(_ids() - before) == reads
    del out
    assert len(calls) >= 2

    fail_at, seen = len(calls) - 1, []

    def failing(self, eager=True):
        seen.append(1)
        if len(seen) == fail_at:
            raise RuntimeError("injected checkpoint failure")
        return orig(self, eager)

    monkeypatch.setattr(cdf.DataFrame, "localCheckpoint", failing)
    before = _ids()
    with pytest.raises(RuntimeError, match="injected"):
        call(spark)
    assert _ids() - before == set()
