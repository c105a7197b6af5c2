"""Similarity-search operators (SURVEY §2.10)."""

from computer_vision_foundations_spark.operators.similarity import (
    brute_force_knn,
    lsh_bucketed_knn,
)


def _corpus(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.0, 1.0, 0.0]),
        (4, [1.0, 0.0, 0.0, 0.001]),
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_brute_force_knn_ranks(spark):
    corpus = _corpus(spark)
    probes = corpus.filter("vec_id = 0")
    out = brute_force_knn(corpus, probes, k=2).collect()
    assert [r.neighbor_id for r in out] == [4, 1]
    assert out[0].rank == 1 and out[0].cos_sim > 0.999


def test_brute_force_excludes_self(spark):
    corpus = _corpus(spark)
    out = brute_force_knn(corpus, corpus, k=10).collect()
    assert all(r.probe_id != r.neighbor_id for r in out)


def test_lsh_bucketed_finds_near_identical(spark):
    corpus = _corpus(spark)
    probes = corpus.filter("vec_id = 0")
    out = lsh_bucketed_knn(corpus, probes, dim=4, k=2, n_planes=4, n_tables=3)
    neighbors = [r.neighbor_id for r in out.collect()]
    # vector 4 is near-identical to the probe: same side of every
    # hyperplane with overwhelming probability across 3 tables
    assert 4 in neighbors


def test_ivf_flat_knn_recall_and_shape(spark):
    from computer_vision_foundations_spark.operators.similarity import (
        ivf_flat_knn,
    )

    corpus = _corpus(spark)
    probes = corpus.filter("vec_id = 0")
    # One probe cell out of two: the near-identical vector 4 lands in
    # the probe's own cell (same direction ⇒ same nearest centroid).
    out = ivf_flat_knn(
        corpus, probes, dim=4, k=3, n_cells=2, n_probe_cells=1, seed=7
    ).collect()
    assert all(r.probe_id == 0 and r.neighbor_id != 0 for r in out)
    assert 4 in [r.neighbor_id for r in out]
    ranks = [r.rank for r in out]
    assert ranks == sorted(ranks) and ranks[0] == 1


def test_ivf_probe_all_cells_matches_brute_force(spark):
    from computer_vision_foundations_spark.operators.similarity import (
        ivf_flat_knn,
    )

    corpus = _corpus(spark)
    probes = corpus.filter("vec_id <= 1")
    exact = {
        (r.probe_id, r.rank): r.neighbor_id
        for r in brute_force_knn(corpus, probes, k=3).collect()
    }
    # n_probe_cells == n_cells ⇒ every candidate scored ⇒ exact result.
    approx = {
        (r.probe_id, r.rank): r.neighbor_id
        for r in ivf_flat_knn(
            corpus, probes, dim=4, k=3, n_cells=3, n_probe_cells=3, seed=7
        ).collect()
    }
    assert approx == exact


def test_multiprobe_recall_at_least_single_probe(spark):
    import numpy as np

    from computer_vision_foundations_spark.operators.evaluation import ann_recall
    from computer_vision_foundations_spark.operators.similarity import (
        brute_force_knn,
        lsh_bucketed_knn,
        multiprobe_lsh_knn,
    )

    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    probes = df.filter("vec_id < 8")
    kw = dict(dim=16, k=5, n_planes=6, n_tables=2, seed=7)
    exact = brute_force_knn(df, probes, k=5)
    single = lsh_bucketed_knn(df, probes, **kw)
    multi = multiprobe_lsh_knn(df, probes, n_flip=2, **kw)

    def mean_recall(approx):
        rows = ann_recall(approx, exact, k=5).collect()
        return sum(r.recall for r in rows) / len(rows)

    r1, r2 = mean_recall(single), mean_recall(multi)
    assert r2 >= r1  # flipping tight margins can only add candidates
    assert r2 > 0


def test_multiprobe_candidates_superset_of_single(spark):
    import numpy as np

    from computer_vision_foundations_spark.operators.similarity import (
        lsh_bucketed_knn,
        multiprobe_lsh_knn,
    )

    rng = np.random.default_rng(11)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(120)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    probes = df.filter("vec_id < 4")
    kw = dict(dim=8, k=100, n_planes=5, n_tables=1, seed=5)
    single = {(r.probe_id, r.neighbor_id)
              for r in lsh_bucketed_knn(df, probes, **kw).collect()}
    multi = {(r.probe_id, r.neighbor_id)
             for r in multiprobe_lsh_knn(df, probes, n_flip=2, **kw).collect()}
    assert single <= multi


def test_mmr_select_diversity_and_determinism(spark):
    import numpy as np

    from computer_vision_foundations_spark.operators.mmr import mmr_select

    # two tight clusters + one outlier; high relevance inside cluster A
    rows = []
    rng = np.random.default_rng(0)
    a = rng.normal(size=8)
    b = -a  # opposite direction
    for i in range(5):  # cluster A: near-duplicates, high relevance
        rows.append((i, [float(x) for x in (a + rng.normal(scale=0.01, size=8))], 1.0 - i * 0.01))
    for i in range(5, 8):  # cluster B: diverse, lower relevance
        rows.append((i, [float(x) for x in (b + rng.normal(scale=0.01, size=8))], 0.6))
    df = spark.createDataFrame(rows, "doc_id long, embedding array<float>, relevance double")

    plain_top3 = {0, 1, 2}  # pure relevance would take cluster A only
    out = mmr_select(df, k=3, lam=0.5).collect()
    picked = [r.doc_id for r in sorted(out, key=lambda r: r.rank)]
    assert picked[0] == 0  # round 1 = highest relevance
    assert set(picked) != plain_top3  # diversity kicked in
    assert any(p >= 5 for p in picked)  # something from cluster B

    again = [r.doc_id for r in sorted(mmr_select(df, k=3, lam=0.5).collect(),
                                      key=lambda r: r.rank)]
    assert picked == again  # deterministic


def test_mmr_lambda_one_is_pure_relevance(spark):
    from computer_vision_foundations_spark.operators.mmr import mmr_select

    rows = [(i, [float(i), 1.0], float(10 - i)) for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, embedding array<float>, relevance double")
    out = sorted(mmr_select(df, k=3, lam=1.0).collect(), key=lambda r: r.rank)
    assert [r.doc_id for r in out] == [0, 1, 2]


def test_mmr_rejects_bad_lambda(spark):
    import pytest

    from computer_vision_foundations_spark.operators.mmr import mmr_select

    df = spark.createDataFrame([(1, [1.0], 1.0)],
                               "doc_id long, embedding array<float>, relevance double")
    with pytest.raises(ValueError):
        mmr_select(df, k=1, lam=1.5)


def test_mmr_preserves_string_id_type(spark):
    from computer_vision_foundations_spark.operators.mmr import mmr_select

    df = spark.createDataFrame(
        [("a1", [1.0, 0.0], 0.9), ("b2", [0.0, 1.0], 0.8)],
        "doc_id string, embedding array<float>, relevance double",
    )
    out = mmr_select(df, k=2, lam=0.6).collect()
    assert {r.doc_id for r in out} == {"a1", "b2"}


def test_mmr_prefilter_matches_full_pool(spark):
    """The one-scan top-M prefilter must be provably exact: a tiny
    prefilter_m forces the bound check to grow the pool and the final
    selection must equal the full-pool greedy sequence."""
    import numpy as np

    from computer_vision_foundations_spark.operators.mmr import mmr_select

    rng = np.random.default_rng(7)
    rows = [
        (i, [float(x) for x in rng.normal(size=6)], float(rng.uniform(0, 1)))
        for i in range(60)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, embedding array<float>, relevance double"
    )
    full = [
        (r.rank, r.doc_id, r.mmr_score)
        for r in sorted(
            mmr_select(df, k=5, lam=0.7, prefilter_m=60).collect(),
            key=lambda r: r.rank,
        )
    ]
    small = [
        (r.rank, r.doc_id, r.mmr_score)
        for r in sorted(
            mmr_select(df, k=5, lam=0.7, prefilter_m=6).collect(),
            key=lambda r: r.rank,
        )
    ]
    assert full == small


def test_knn_join_blocked_matches_numpy(spark):
    """Every row's blocked top-k equals numpy's within-block exact
    ranking, and cross-block pairs never appear."""
    import numpy as np

    from computer_vision_foundations_spark.operators.similarity import (
        knn_join_blocked,
    )

    rng = np.random.RandomState(9)
    vecs = rng.normal(size=(30, 8))
    labels = [i % 3 for i in range(30)]
    rows = [
        (i, labels[i], [float(x) for x in vecs[i]]) for i in range(30)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    )
    got = {}
    for r in knn_join_blocked(df, k=2).collect():
        got.setdefault(r.qid, []).append((r.rank, r.nid, r.cos_sim))
        assert labels[r.qid] == labels[r.nid]  # block respected
    v32 = vecs.astype(np.float32).astype(np.float64)
    norms = np.linalg.norm(v32, axis=1)
    for q in range(30):
        cands = [
            (round(float(v32[q] @ v32[j] / (norms[q] * norms[j])), 6), j)
            for j in range(30)
            if j != q and labels[j] == labels[q]
        ]
        cands.sort(key=lambda t: (-t[0], t[1]))
        want = [(r + 1, j, c) for r, (c, j) in enumerate(cands[:2])]
        assert sorted(got[q]) == want, q


def test_mutual_knn_pairs_reciprocity(spark):
    from computer_vision_foundations_spark.operators.similarity import (
        knn_join_blocked,
        mutual_knn_pairs,
    )

    # 1-d layout in one block: 0 at x=0, 1 at x=1, 2 at x=10, 3 at x=11
    # with k=1: 0↔1 mutual, 2↔3 mutual; nothing else
    rows = [
        (0, [1.0, 0.00], "g"),
        (1, [1.0, 0.02], "g"),
        (2, [1.0, 0.50], "g"),
        (3, [1.0, 0.52], "g"),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label string")
    got = {
        (r["id_a"], r["id_b"])
        for r in mutual_knn_pairs(df, k=1, block_col="label").collect()
    }
    assert got == {(0, 1), (2, 3)}
    # every mutual pair is a subset of the one-directional edges
    knn = {
        (r["qid"], r["nid"])
        for r in knn_join_blocked(df, 1, "label").collect()
    }
    for a, b in got:
        assert (a, b) in knn and (b, a) in knn


def _fold_cosines(v):
    """All-pairs cosine with the kNN task's arithmetic: ascending-dim
    f64 folds for dots and norms, 0 where a norm product is not > 0."""
    import numpy as np

    n, d = v.shape
    acc = np.zeros(n)
    num = np.zeros((n, n))
    with np.errstate(invalid="ignore", divide="ignore"):
        for i in range(d):
            acc += v[:, i] * v[:, i]
            num += v[:, i : i + 1] * v[:, i]
        den = np.sqrt(acc)[:, None] * np.sqrt(acc)[None, :]
        return np.where(den > 0.0, num / den, 0.0)


def test_knn_join_blocked_pruning_matches_unpruned(spark):
    """The task emits only pairs near each row's k-th best; results
    must equal the unpruned pair set (every within-block pair, Spark
    round, then the shared top-k window) bit for bit."""
    import math

    import numpy as np

    from pyspark.sql import functions as F

    from computer_vision_foundations_spark.operators.similarity import (
        _topk_per_query,
        knn_join_blocked,
    )

    blocks = {}
    # cosines < 1e-6 apart around rank k: after rounding the order is
    # decided by nid, so the 3rd/4th best unrounded rows can win
    cs = [0.9000004, 0.90000045, 0.9000003, 0.8999996, 0.899998, 0.8999984]
    blocks["straddle"] = [(10, [1.0, 0.0])] + [
        (nid, [c, math.sqrt(1 - c * c)])
        for nid, c in zip([15, 19, 11, 12, 13, 14], cs)
    ]
    # exact ties at rank k: identical vectors
    blocks["ties"] = [(20 + i, [1.0, 2.0, 3.0]) for i in range(5)] + [
        (25, [3.0, 2.0, 1.0])
    ]
    # NaN / inf components (NaN scores, null after the Arrow crossing,
    # rank last) and a zero vector
    blocks["nonfinite"] = [
        (30, [float("nan"), 1.0]), (31, [float("inf"), 1.0]),
        (32, [1.0, 1.0]), (33, [1.0, 0.5]), (34, [2.0, 1.0]),
        (35, [1.0, -1.0]), (36, [0.0, 0.0]), (37, [float("-inf"), 0.0]),
    ]
    blocks["small"] = [(40, [1.0, 0.0]), (41, [0.5, 0.5])]
    blocks["single"] = [(50, [1.0, 2.0])]
    # a duplicate id inside one block: its rows never pair with each
    # other and their candidate lists merge under one qid
    rng = np.random.RandomState(3)
    blocks["dup_id"] = [
        (60 + min(i, 3), [float(x) for x in rng.normal(size=4)])
        for i in range(7)
    ]
    base = rng.normal(size=5)
    blocks["random"] = [
        (70 + i, [float(x) for x in base + rng.normal(scale=0.05, size=5)])
        for i in range(12)
    ]

    rows, pairs = [], []
    for blk, members in blocks.items():
        ids = [i for i, _ in members]
        rows += [(i, blk, vec) for i, vec in members]
        cos = _fold_cosines(np.array([vec for _, vec in members]))
        # the pandas→Arrow crossing turns a NaN score into null
        pairs += [
            (ids[a], ids[b], None if np.isnan(cos[a, b]) else float(cos[a, b]))
            for a in range(len(ids))
            for b in range(len(ids))
            if ids[a] != ids[b]
        ]
    df = spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<double>"
    )
    full = spark.createDataFrame(pairs, "qid long, nid long, cos_sim double")

    def key(r):
        return (r.qid, r.nid, -2.0 if r.cos_sim is None else r.cos_sim, r.rank)

    for k, digits in [(1, 6), (2, 6), (3, 6), (2, 2), (2, 9)]:
        want = _topk_per_query(
            full.withColumn("cos_sim", F.round("cos_sim", digits)),
            k, "qid", "nid",
        )
        got = knn_join_blocked(df, k=k, block_col="label", round_digits=digits)
        assert sorted(map(key, got.collect())) == sorted(
            map(key, want.collect())
        ), (k, digits)
