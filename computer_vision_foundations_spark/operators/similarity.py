"""Approximate-nearest-neighbor / similarity search over embeddings.

North-star extension (SURVEY §2.10). Three tiers:

- ``brute_force_knn``: exact top-k cosine between a (small) probe set
  and the full corpus. The probe side is broadcast — the corpus is
  scanned once, map-side, with JVM vector math; the only shuffle is the
  per-probe top-k (window over probe_id, k rows each). This is the
  correctness baseline and is already the right plan when probes ≪
  corpus (the common "query a handful of vectors against 100 TB" case).
- ``lsh_bucketed_knn``: random-hyperplane LSH (sign of dot with seeded
  random vectors → bucket id). Probes and corpus join on bucket id so
  only same-bucket candidates are scored — the scale path when the
  probe set is itself huge. Recall is tunable via n_planes/n_tables.
- ``ivf_flat_knn``: inverted-file index (FAISS IndexIVFFlat shape) —
  corpus bucketed by nearest centroid, probes scan their n nearest
  cells only. Recall tunes with n_probe_cells; at scale the cell
  assignment is the partitioning you persist.

Index math (bucket signs, centroid distances) runs as Arrow-batched
numpy matmuls — dense matrix products are the Pandas-UDF case; the
candidate scoring (one dot per surviving pair) stays in JVM codegen.
Seeded throughout; no driver-side collect of data rows.
"""

from __future__ import annotations

import math
import random

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf

from computer_vision_foundations_spark.functions.vectors import (
    cosine_from_norms,
    l2_norm,
)


def _stack_f64(v: pd.Series) -> "np.ndarray":
    """(batch, dim) float64 matrix from a Series of array values."""
    return np.vstack(v.to_numpy()).astype(np.float64)


def _topk_per_query(
    scored: DataFrame, k: int, query_col: str, neighbor_col: str,
    score_col: str = "cos_sim",
) -> DataFrame:
    """Shared top-k tail for every kNN entry point: rank by rounded
    score desc then neighbor id asc (the total-order tie-break the
    differential oracles replay) — ONE place, so tie-break/rounding
    semantics can never desynchronize between entry points."""
    w = Window.partitionBy(query_col).orderBy(
        F.col(score_col).desc(), F.col(neighbor_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_col, neighbor_col, score_col, "rank")
    )


def brute_force_knn(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 6,
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors per probe (excluding self-matches).

    Returns ``(probe_id, neighbor_id, cos_sim, rank)``. Ties break on
    neighbor_id after rounding, so results are total-order
    deterministic (required by the differential oracle). ``dim`` is
    accepted for the unrolled expression form but the default HOF fold
    measures 5-6× faster — see functions/vectors.dot_product.

    Norms are computed per SIDE before the join (n + m sqrts), so the
    per-pair work is one dot product — not a full cosine per pair.
    """
    p = probes.select(
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).alias("_pv"),
        l2_norm(vec_col).alias("_pn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        l2_norm(vec_col).alias("_cn"),
    )
    scored = (
        c.crossJoin(F.broadcast(p))
        .filter(F.col("probe_id") != F.col("neighbor_id"))
        .withColumn(
            "cos_sim",
            F.round(
                cosine_from_norms("_pv", "_cv", "_pn", "_cn"),
                round_digits,
            ),
        )
    )
    return _topk_per_query(scored, k, "probe_id", "neighbor_id")


def knn_join_blocked(
    df: DataFrame,
    k: int = 3,
    block_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 6,
) -> DataFrame:
    """Self kNN JOIN: for EVERY row, its ``k`` nearest cosine
    neighbors among rows sharing ``block_col`` — the batch companion
    to the probe-set ANN family (``brute_force_knn`` answers "nearest
    to these probes"; this answers "nearest for everyone", the shape
    dedup canonicalization, recommendation candidates and hard-negative
    mining need).

    Returns ``(qid, nid, cos_sim, rank)``; ties break on neighbor id
    after rounding (total-order deterministic for the differential
    oracle).

    Scale shape: the block grouping means pairs form only WITHIN
    blocks — cross-block pairs never exist, so cost is Σ|block|², not
    n². Pick the blocking from the data (labels/domains here; LSH
    buckets or IVF cells via ``hyperplane_bucket``/``ivf_flat_knn``
    when no natural key exists — same join shape). One shuffle groups
    each block's vectors into a task, where the pair dot products run
    as chunked numpy outer-accumulations (round-12, guide §4.2: dense
    all-pairs math is the vectorized-native case — the previous
    self-equi-join evaluated one interpreted HOF fold per pair, the
    dominant cost of every blocked-kNN query). The accumulation loops
    dims in ascending order over f64, so every dot/norm is
    BIT-IDENTICAL to the cosine_from_norms fold; rounding and the
    top-k window stay in Spark, unchanged. Pairs leave the task as
    (qid, nid, cos_sim) scalars — vectors never ride the pair stream.
    Each block's vectors must fit one task (same bound the join form's
    per-block window sort already imposed); the pair matrix itself is
    chunked to ~32 MB.

    The task prunes before it emits (filter-then-verify): per query
    row it keeps only the candidates whose unrounded cosine is within
    ``2·10^-round_digits`` of the row's k-th best, plus every NaN
    score (null after the Arrow crossing). Rounding moves a score by
    at most half a step, so that is a superset of every pair that can
    reach rank ≤ k; Spark's round and the top-k window then verify it,
    so results are bit-identical to the unpruned pair set. The pair
    stream leaving the task is about n·k rows (ties within the margin
    add more), not Σ|block|²; the quadratic cost left is the in-task
    matmul."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    id_type = df.schema[id_col].dataType
    out_schema = StructType(
        [
            StructField("qid", id_type),
            StructField("nid", id_type),
            StructField("cos_sim", DoubleType()),
        ]
    )

    # two rounding steps (see above) plus eps for the decimal round-trip
    # inside Spark's round at steps near double precision
    margin = 2.0 * 10.0 ** -round_digits + 8 * np.finfo(np.float64).eps

    def _kth_floor(cos: np.ndarray, cand: np.ndarray) -> np.ndarray:
        """Per row: its k-th largest candidate cosine minus ``margin``,
        as a column; -inf where the row has fewer than k non-NaN
        candidates (keep them all). NaN scores stay out of the bound
        and are always emitted (they cross Arrow as nulls, which the
        window ranks last)."""
        if not 0 < k < cos.shape[1]:
            return np.full((cos.shape[0], 1), -np.inf)
        c = np.where(cand & ~np.isnan(cos), cos, -np.inf)
        kth = np.partition(c, c.shape[1] - k, axis=1)[:, c.shape[1] - k]
        return (kth - margin)[:, None]

    def _score_block(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["_id"].to_numpy()
        v = np.vstack(pdf["_v"].to_numpy()).astype(np.float64)
        n, d = v.shape
        # ascending-dim fold (0 + x1*y1) + x2*y2 + … — the exact
        # summation order of functions/vectors.l2_norm / dot_product
        acc = np.zeros(n)
        for i in range(d):
            acc += v[:, i] * v[:, i]
        norms = np.sqrt(acc)
        chunk = max(1, 4_000_000 // max(n, 1))
        qs, ns, ss = [], [], []
        for s in range(0, n, chunk):
            q = v[s : s + chunk]
            num = np.zeros((q.shape[0], n))
            for i in range(d):
                num += q[:, i : i + 1] * v[:, i]
            den = norms[s : s + chunk, None] * norms[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.where(den > 0.0, num / den, 0.0)
            cand = ids[s : s + chunk, None] != ids[None, :]  # qid != nid
            qi, ni = np.nonzero(
                cand & ((cos >= _kth_floor(cos, cand)) | np.isnan(cos))
            )
            qs.append(ids[s + qi])
            ns.append(ids[ni])
            ss.append(cos[qi, ni])
        return pd.DataFrame(
            {
                "qid": np.concatenate(qs) if qs else [],
                "nid": np.concatenate(ns) if ns else [],
                "cos_sim": np.concatenate(ss) if ss else [],
            }
        )

    pairs = (
        df.where(F.col(block_col).isNotNull())  # join dropped null blocks
        .select(
            F.col(block_col).alias("_blk"),
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("_v"),
        )
        .groupBy("_blk")
        .applyInPandas(_score_block, out_schema)
    )
    scored = pairs.withColumn(
        "cos_sim", F.round(F.col("cos_sim"), round_digits)
    )
    return _topk_per_query(scored, k, "qid", "nid")


def _random_planes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)
    ]


def hyperplane_bucket(vec_col, planes: list[list[float]]):
    """Bucket id = bit vector of sign(v · r_i), as a long column.

    The plane coefficients are literals, so each dot product unrolls
    into a flat codegen'd ``Σ element_at(v, i) · c_i`` — no interpreted
    higher-order functions. Summation order is ascending index (matches
    the DuckDB oracle's ``list_dot_product``). Elements are cast to
    double individually — an array-level cast would be re-inlined at
    every element_at and blow the 64 KB codegen method limit (see
    functions/vectors.dot_product).
    """
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        terms = [
            F.element_at(v, j + 1).cast("double") * F.lit(float(x))
            for j, x in enumerate(plane)
        ]
        dot = terms[0]
        for t in terms[1:]:
            dot = dot + t
        bucket = bucket + F.when(dot >= 0, F.lit(2**i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return bucket


def lsh_bucketed_knn(
    corpus: DataFrame,
    probes: DataFrame,
    dim: int,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 8,
    n_tables: int = 2,
    seed: int = 42,
    round_digits: int = 6,
) -> DataFrame:
    """Approximate top-k: score only same-LSH-bucket candidates.

    Each of ``n_tables`` independent plane sets hashes every vector to
    a bucket; probe×corpus join on (table, bucket) generates candidates,
    deduped across tables, then exact cosine + per-probe top-k. Plan:
    two narrow projections + one equi-join shuffle on (table, bucket) +
    one window shuffle on probe_id — no cross product anywhere.

    Bucket assignment is ONE Arrow-batched numpy matmul per row batch
    (sign bits of ``V·Pᵀ`` across all tables at once). The pure-Catalyst
    alternative (``hyperplane_bucket``, kept for composition in SQL-only
    contexts) unrolls n_tables × n_planes × dim literal terms — a plan
    tree so large that driver-side analysis/codegen dominates wall-clock;
    dense matrix math against a plane set is exactly the Pandas-UDF case.
    Sign parity with the expression form holds unless a dot product sits
    within float-summation-order noise of 0 (measure-zero for gaussian
    planes).
    """
    all_planes = [
        _random_planes(dim, n_planes, seed + t * 7919)
        for t in range(n_tables)
    ]
    flat = np.asarray(
        [p for planes in all_planes for p in planes], dtype=np.float64
    )  # (n_tables·n_planes, dim)
    weights = 2 ** np.arange(n_planes, dtype=np.int64)

    @pandas_udf("array<bigint>")
    def buckets_udf(v: pd.Series) -> pd.Series:
        s = (_stack_f64(v) @ flat.T) >= 0.0
        s = s.reshape(len(s), n_tables, n_planes)
        b = (s * weights).sum(axis=2).astype(np.int64)
        return pd.Series(list(b))

    def with_buckets(df: DataFrame, side_id: str) -> DataFrame:
        # Norm once per vector; one UDF call fans out to all tables.
        return df.select(
            F.col(id_col).alias(side_id),
            F.col(vec_col).alias(f"_{side_id}_v"),
            l2_norm(vec_col).alias(f"_{side_id}_n"),
            F.posexplode(buckets_udf(F.col(vec_col))).alias(
                "_table", "_bucket"
            ),
        )

    pb = with_buckets(probes, "probe_id")
    cb = with_buckets(corpus, "neighbor_id")
    # Dedup across tables on the ID PAIR (grouping keys are 16 bytes,
    # not two 64-float arrays); vectors/norms are functions of the ids,
    # carried through as first(). Map-side partial agg collapses most
    # duplicates before the shuffle.
    cands = (
        pb.join(cb, on=["_table", "_bucket"])
        .filter(F.col("probe_id") != F.col("neighbor_id"))
        .groupBy("probe_id", "neighbor_id")
        .agg(
            F.first("_probe_id_v").alias("_probe_id_v"),
            F.first("_probe_id_n").alias("_probe_id_n"),
            F.first("_neighbor_id_v").alias("_neighbor_id_v"),
            F.first("_neighbor_id_n").alias("_neighbor_id_n"),
        )
    )
    scored = cands.withColumn(
        "cos_sim",
        F.round(
            cosine_from_norms(
                "_probe_id_v", "_neighbor_id_v",
                "_probe_id_n", "_neighbor_id_n",
            ),
            round_digits,
        ),
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "cos_sim", "rank")
    )


def random_centroids(dim: int, n_cells: int, seed: int) -> list[list[float]]:
    """Seeded gaussian cell centroids (a stand-in for trained k-means
    centers — at scale you'd fit them with ``pyspark.ml`` KMeans on a
    sample and pass them in here; the index structure is identical)."""
    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_cells)
    ]


def _centroid_distances(vec_col, centroids: list[list[float]]):
    """array<double> of squared L2 distances to each centroid, up to the
    per-vector constant: ``||c||² − 2·v·c`` (``||v||²`` is the same for
    every cell, so argmin/ordering are unaffected). Centroids are
    literals → every dot unrolls into flat codegen'd arithmetic."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    dists = []
    for c in centroids:
        c_norm_sq = sum(x * x for x in c)
        terms = [
            F.element_at(v, j + 1).cast("double") * F.lit(float(x))
            for j, x in enumerate(c)
        ]
        dot = terms[0]
        for t in terms[1:]:
            dot = dot + t
        dists.append(F.lit(float(c_norm_sq)) - F.lit(2.0) * dot)
    return F.array(*dists)


def ivf_assign_cell(vec_col, centroids: list[list[float]]):
    """IVF cell id = index of the nearest centroid (first index on
    ties — ``array_position`` of the min, matching the DuckDB oracle's
    ``list_position(l, list_min(l))``)."""
    d = _centroid_distances(vec_col, centroids)
    return (F.array_position(d, F.array_min(d)) - 1).cast("int")


def ivf_flat_knn(
    corpus: DataFrame,
    probes: DataFrame,
    dim: int,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 16,
    n_probe_cells: int = 4,
    seed: int = 42,
    round_digits: int = 6,
    centroids: list[list[float]] | None = None,
    broadcast_probes: bool = True,
) -> DataFrame:
    """IVF-Flat approximate top-k cosine (the classic inverted-file ANN
    index, e.g. FAISS IndexIVFFlat, as pure DataFrame ops).

    Every corpus vector is assigned to its nearest of ``n_cells``
    centroids (one narrow map-side projection — at 100 TB this is the
    partitioning you'd PERSIST, bucketed by cell). Each probe scans the
    ``n_probe_cells`` nearest cells only, so the equi-join on cell id
    touches ``n_probe_cells / n_cells`` of the corpus instead of all of
    it. Exact cosine + per-probe top-k over the candidates. No cross
    product, no driver-side data movement; recall tunes with
    ``n_probe_cells``.

    ``broadcast_probes`` (default): hash-join with the probe side
    broadcast — with only ``n_cells`` distinct join keys a shuffle join
    collapses to ≤ n_cells partitions regardless of cluster size (and
    the UDF hides the size estimate from AQE). Set False only when the
    probe set is itself huge; then pre-bucket both sides by ``_cell``.
    """
    cents = centroids if centroids is not None else random_centroids(
        dim, n_cells, seed
    )
    # One Arrow-batched matmul computes every centroid distance
    # (``||c||² − 2·V·Cᵀ``; ``||v||²`` is constant per row, so argmin
    # is unaffected). The pure-Catalyst form (``ivf_assign_cell``,
    # kept for SQL-only composition) unrolls n_cells × dim literal
    # terms and driver-side plan handling dominates — see
    # lsh_bucketed_knn. argmin takes the FIRST minimal cell and the
    # probe fan-out sorts stably over ascending cell id, matching the
    # oracle's ``ORDER BY dist ASC, cell ASC``.
    cmat = np.asarray(cents, dtype=np.float64)  # (n_cells, dim)
    cnorm = (cmat * cmat).sum(axis=1)

    @pandas_udf("int")
    def cell_udf(v: pd.Series) -> pd.Series:
        d = cnorm[None, :] - 2.0 * (_stack_f64(v) @ cmat.T)
        return pd.Series(d.argmin(axis=1).astype(np.int32))

    @pandas_udf("array<int>")
    def probe_cells_udf(v: pd.Series) -> pd.Series:
        d = cnorm[None, :] - 2.0 * (_stack_f64(v) @ cmat.T)
        idx = np.argsort(d, axis=1, kind="stable")[:, :n_probe_cells]
        return pd.Series(list(idx.astype(np.int32)))

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        l2_norm(vec_col).alias("_cn"),
        cell_udf(F.col(vec_col)).alias("_cell"),
    )
    p = probes.select(
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).alias("_pv"),
        l2_norm(vec_col).alias("_pn"),
        F.explode(probe_cells_udf(F.col(vec_col))).alias("_cell"),
    )
    scored = (
        c.join(F.broadcast(p) if broadcast_probes else p, on="_cell")
        .filter(F.col("probe_id") != F.col("neighbor_id"))
        .withColumn(
            "cos_sim",
            F.round(
                cosine_from_norms("_pv", "_cv", "_pn", "_cn"),
                round_digits,
            ),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "cos_sim", "rank")
    )


def multiprobe_lsh_knn(
    corpus: DataFrame,
    probes: DataFrame,
    dim: int,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 8,
    n_tables: int = 2,
    n_flip: int = 2,
    seed: int = 42,
    round_digits: int = 6,
) -> DataFrame:
    """Multi-probe LSH (Lv et al. 2007 shape): recall of more tables at
    the index cost of fewer.

    Identical to ``lsh_bucketed_knn`` except the PROBE side also visits
    the ``n_flip`` neighboring buckets most likely to hold misses — the
    buckets reached by flipping the sign bits with the smallest
    hyperplane margin |v·p| (a near-zero dot means the true neighbor
    plausibly landed on the other side). The corpus index is unchanged
    — one bucket per vector per table — so storage and the build scan
    stay the same; only the probe stream fans out ×(1+n_flip), which is
    the cheap side by assumption. Flip order is deterministic (stable
    sort on (|margin|, plane index)), so a SQL oracle can replay the
    probe set exactly.

    Candidate generation stays a (table, bucket) equi-join; everything
    after (pair dedup, exact cosine, top-k window) is shared with the
    single-probe form.
    """
    all_planes = [
        _random_planes(dim, n_planes, seed + t * 7919)
        for t in range(n_tables)
    ]
    flat = np.asarray(
        [p for planes in all_planes for p in planes], dtype=np.float64
    )
    weights = 2 ** np.arange(n_planes, dtype=np.int64)
    fan = 1 + n_flip

    @pandas_udf("array<bigint>")
    def corpus_buckets_udf(v: pd.Series) -> pd.Series:
        s = (_stack_f64(v) @ flat.T) >= 0.0
        s = s.reshape(len(s), n_tables, n_planes)
        b = (s * weights).sum(axis=2).astype(np.int64)
        return pd.Series(list(b))

    @pandas_udf("array<bigint>")
    def probe_buckets_udf(v: pd.Series) -> pd.Series:
        d = _stack_f64(v) @ flat.T  # (n, T*P) margins
        d = d.reshape(len(d), n_tables, n_planes)
        base = ((d >= 0.0) * weights).sum(axis=2).astype(np.int64)
        # stable argsort on |margin| -> flip the tightest planes first
        order = np.argsort(np.abs(d), axis=2, kind="stable")
        out = np.empty((len(d), n_tables, fan), dtype=np.int64)
        out[:, :, 0] = base
        for j in range(n_flip):
            flip_bit = np.take_along_axis(
                order, np.full(order.shape[:2] + (1,), j), axis=2
            )[:, :, 0]
            out[:, :, j + 1] = base ^ (1 << flip_bit.astype(np.int64))
        return pd.Series(list(out.reshape(len(d), n_tables * fan)))

    pb = probes.select(
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).alias("_probe_id_v"),
        l2_norm(vec_col).alias("_probe_id_n"),
        F.posexplode(probe_buckets_udf(F.col(vec_col))).alias(
            "_pos", "_bucket"
        ),
    ).select(
        "probe_id", "_probe_id_v", "_probe_id_n",
        (F.col("_pos") / fan).cast("int").alias("_table"), "_bucket",
    )
    cb = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_neighbor_id_v"),
        l2_norm(vec_col).alias("_neighbor_id_n"),
        F.posexplode(corpus_buckets_udf(F.col(vec_col))).alias(
            "_table", "_bucket"
        ),
    )
    cands = (
        pb.join(cb, on=["_table", "_bucket"])
        .filter(F.col("probe_id") != F.col("neighbor_id"))
        .groupBy("probe_id", "neighbor_id")
        .agg(
            F.first("_probe_id_v").alias("_probe_id_v"),
            F.first("_probe_id_n").alias("_probe_id_n"),
            F.first("_neighbor_id_v").alias("_neighbor_id_v"),
            F.first("_neighbor_id_n").alias("_neighbor_id_n"),
        )
    )
    scored = cands.withColumn(
        "cos_sim",
        F.round(
            cosine_from_norms(
                "_probe_id_v", "_neighbor_id_v",
                "_probe_id_n", "_neighbor_id_n",
            ),
            round_digits,
        ),
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "cos_sim", "rank")
    )


def mutual_knn_pairs(
    df: DataFrame,
    k: int = 3,
    block_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Reciprocal-kNN pairs: ``(id_a, id_b, cos_sim)`` with id_a <
    id_b where EACH is in the other's blocked top-k — the symmetric
    trust filter on top of :func:`knn_join_blocked` (one-directional
    neighbors include hubness artifacts; mutual pairs are the standard
    high-precision edge set for dedup canonicalization and
    de-noised nearest-neighbor graphs, e.g. reciprocal-rank matching
    in image retrieval).

    Scale shape: the kNN join's budget — an in-task Σ|block|² matmul
    whose pruned pair stream is about n·k rows — plus one
    self-equi-join of the n·k (qid, nid) edge list on the reversed
    key; edges are id pairs, never vectors."""
    knn = knn_join_blocked(df, k, block_col, vec_col, id_col)
    e = knn.select("qid", "nid", "cos_sim")
    rev = e.select(
        F.col("nid").alias("qid"), F.col("qid").alias("nid")
    )
    return (
        e.join(rev, ["qid", "nid"], "left_semi")
        .where(F.col("qid") < F.col("nid"))
        .select(
            F.col("qid").alias("id_a"),
            F.col("nid").alias("id_b"),
            "cos_sim",
        )
        .orderBy("id_a", "id_b")
    )
