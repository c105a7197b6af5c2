"""Prefix-filtered set-similarity join (PPJoin-style) — exact Jaccard
pairs WITHOUT a quadratic candidate step and WITHOUT a frequency cap.

The scale path for exact-threshold near-dup mining (Chaudhuri et al.
2006 "A primitive operator for similarity joins"; Xiao et al. 2008
PPJoin). Order every document's shingles by GLOBAL rarity
(document-frequency ascending, shingle ascending as the total-order
tiebreak) and keep only each document's PREFIX — the first

    p(x) = |x| − ⌈t·|x|⌉ + 1

shingles. Theorem: J(A,B) ≥ t implies |A∩B| ≥ ⌈t·max(|A|,|B|)⌉, and
two sets whose intersection is that large MUST share an element
inside both prefixes under any common total order — so the prefix
equi-join loses no qualifying pair. The payoff over the
``max_shingle_freq`` cap in :func:`~computer_vision_foundations_spark.
operators.dedup.ngram_jaccard_pairs`: stop-shingles ("in the of…")
are the MOST frequent, so rarest-first ordering pushes them out of
every prefix — the quadratic fan-out of hot shingles disappears by
construction rather than by an approximation knob, and the result is
still exact (candidates are re-scored against the full shingle sets).

Spark-first shape: one explode + hash aggregate for document
frequencies, one (shingle)-keyed join to annotate the exploded stream,
one per-document window (partitioned by doc — never global) to rank
rarest-first and cut the prefix, one prefix self-equi-join with the
PPJoin length filter (t·|A| ≤ |B| ∧ t·|B| ≤ |A|), then an exact
verify: two (id)-keyed joins back to the full distinct-shingle arrays
and a codegen ``array_intersect`` count. Shuffles carry (shingle, id,
int) rows; document bodies never move.

The oracle is the REFERENCE quadratic join (all shingles, no cap, no
prefix): a hash match proves the prefix + length filters are lossless.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from computer_vision_foundations_spark.operators.dedup import (
    _bucket_pairs,
    _with_shingles,
)

__all__ = ["prefix_jaccard_pairs", "prefix_jaccard_oracle_sql"]


def prefix_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    repartition_to: int | None = None,
) -> DataFrame:
    """``(id_a, id_b, jaccard)`` with id_a < id_b and jaccard ≥
    threshold, rounded 6 — exact, via prefix filtering."""
    t = float(threshold)
    # Three consumers (freq agg, prefix stream, verify arrays): one
    # eager checkpoint job runs tokenize+shingle once (the
    # ``_capped_buckets`` discipline).
    shingled = (
        _with_shingles(df, text_col, id_col, "_id", k, repartition_to)
        .withColumn("_size", F.size("_shingles"))
        .localCheckpoint()
    )

    exploded = shingled.select(
        "_id", "_size", F.explode("_shingles").alias("_shingle")
    )
    freq = exploded.groupBy("_shingle").agg(
        F.count(F.lit(1)).alias("_df")
    )
    # Required overlap o = ceil(t*size); the round(…, 9) kills the
    # ~1e-16 float noise of t*size (e.g. 0.8*35 → 28.000000000000004)
    # that would otherwise ceil one too high and cut the prefix one
    # SHORT — which breaks the losslessness theorem, not just speed.
    o = F.ceil(F.round(F.lit(t) * F.col("_size"), 9))
    rn = F.row_number().over(
        Window.partitionBy("_id").orderBy(
            F.asc("_df"), F.asc("_shingle")
        )
    )
    prefix = (
        exploded.join(freq, "_shingle")
        .withColumn("_rn", rn)
        .filter(F.col("_rn") <= F.col("_size") - o + 1)
        .select("_id", "_size", "_shingle")
    )

    cands = (
        _bucket_pairs(prefix, ["_shingle"], "_id", ("_size",))
        .filter(
            # PPJoin length filter: J ≥ t ⇒ t·|A| ≤ |B| (and symm.)
            (F.col("_size_b") >= F.lit(t) * F.col("_size_a"))
            & (F.col("_size_a") >= F.lit(t) * F.col("_size_b"))
        )
        .select("id_a", "id_b")
        .distinct()
    )

    sets_a = shingled.select(
        F.col("_id").alias("id_a"),
        F.col("_shingles").alias("_sha"),
        F.col("_size").alias("sa"),
    )
    sets_b = shingled.select(
        F.col("_id").alias("id_b"),
        F.col("_shingles").alias("_shb"),
        F.col("_size").alias("sb"),
    )
    common = F.size(F.array_intersect("_sha", "_shb"))
    return (
        cands.join(sets_a, "id_a")
        .join(sets_b, "id_b")
        .withColumn(
            "jaccard",
            common.cast("double")
            / (F.col("sa") + F.col("sb") - common).cast("double"),
        )
        .filter(F.col("jaccard") >= F.lit(t))
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def prefix_jaccard_oracle_sql(
    shingles_sql: str, threshold: float = 0.5
) -> str:
    """The REFERENCE quadratic join: all shingles, no cap, no prefix —
    a hash match proves the operator's pruning lossless.
    ``shingles_sql`` must yield ``(doc_id, shingles)`` with distinct
    shingle lists."""
    t = repr(float(threshold))
    return f"""
    WITH sh AS ({shingles_sql}),
    ex AS (SELECT doc_id, len(shingles) AS sz, unnest(shingles) AS shingle
           FROM sh)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(count(*) / CAST(a.sz + b.sz - count(*) AS DOUBLE), 6)
             AS jaccard
    FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id, a.sz, b.sz
    HAVING count(*) / CAST(a.sz + b.sz - count(*) AS DOUBLE) >= {t}
    """
