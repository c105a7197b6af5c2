"""PageRank operator: exact agreement with a dense numpy power
iteration (same recurrence, dangling-mass redistribution) and basic
invariants."""

import numpy as np
import pytest

from pyspark.sql import functions as F

from computer_vision_foundations_spark.operators import _iterative
from computer_vision_foundations_spark.operators.pagerank import (
    pagerank,
    pagerank_oracle_sql,
)


def _numpy_pagerank(edges, damping=0.85, n_iter=5):
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    out = np.zeros(n)
    for u, _ in set(edges):
        out[idx[u]] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(n_iter):
        contrib = np.zeros(n)
        for u, v in set(edges):
            contrib[idx[v]] += r[idx[u]] / out[idx[u]]
        dm = r[out == 0].sum()
        r = (1 - damping) / n + damping * (contrib + dm / n)
    return {nodes[i]: r[i] for i in range(n)}


EDGES = [
    (1, 2), (2, 1), (2, 3), (3, 1), (4, 1), (1, 2),  # dup collapses
    (5, 3),  # 3 -> only out-edge to 1; 6 is dangling
    (3, 6),
]


def test_pagerank_matches_numpy(spark):
    df = spark.createDataFrame(EDGES, "src long, dst long")
    got = {r.node: r["rank"] for r in pagerank(df, n_iter=5).collect()}
    exp = _numpy_pagerank(EDGES, n_iter=5)
    assert set(got) == set(exp)
    for n in exp:
        assert got[n] == pytest.approx(exp[n], abs=1e-12)


def test_pagerank_sums_to_one_and_dangling_handled(spark):
    df = spark.createDataFrame(EDGES, "src long, dst long")
    rows = pagerank(df, n_iter=3).collect()
    assert sum(r["rank"] for r in rows) == pytest.approx(1.0, abs=1e-9)
    # node 6 is dangling (no out-edges) but still holds rank > teleport
    got = {r.node: r["rank"] for r in rows}
    assert got[6] > 0


def test_pagerank_no_broadcast_path(spark, monkeypatch):
    df = spark.createDataFrame(EDGES, "src long, dst long")
    with monkeypatch.context() as m:
        m.setattr(_iterative, "BROADCAST_MAX_NODES", 0)
        a = {r.node: r["rank"] for r in pagerank(df).collect()}
    b = {r.node: r["rank"] for r in pagerank(df).collect()}
    assert a == b


def test_oracle_sql_matches_spark(spark):
    import duckdb

    df = spark.createDataFrame(EDGES, "src long, dst long")
    got = {r.node: r["rank"] for r in pagerank(df, n_iter=4).collect()}
    con = duckdb.connect()
    vals = ", ".join(f"({u}, {v})" for u, v in EDGES)
    sql = pagerank_oracle_sql(
        f"SELECT DISTINCT * FROM (VALUES {vals}) t(src, dst)", n_iter=4
    )
    for node, rank in con.execute(sql).fetchall():
        assert got[node] == pytest.approx(rank, abs=1e-12)
