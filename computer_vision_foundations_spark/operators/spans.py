"""Exact substring-span deduplication (token-level), Spark-first.

The suffix-array substring dedup of "Deduplicating Training Data Makes
Language Models Better" (Lee et al., 2021) marks every ≥n-token span
that occurs elsewhere in the corpus. A distributed suffix array is the
wrong shape for Spark; the equivalent fixed-n formulation is: a token
position is *duplicated* iff some n-gram window covering it occurs in
≥ `min_doc_freq` distinct documents. That is a pure bucketed equi-join
pipeline — the same family as `operators/dedup.py`'s shingle ops:

1. map-side: tokenize, hash every n-token window (pos, md5) — text
   never leaves this projection;
2. one hash-aggregate over span hashes for distinct-document counts
   (16-byte keys, map-side partial agg);
3. semi-join span occurrences against the frequent spans — LINEAR:
   no pair formation, so no quadratic blowup on hot spans (unlike
   near-dup candidate generation, which must cap);
4. per-document gaps-and-islands merge of overlapping/adjacent
   windows (window function over doc-sized partitions) → covered
   token intervals and a duplicated-token fraction.

At 100 TB: shuffles carry (doc_id, pos, hash16); the only wide agg is
on span hashes (AQE handles skew); the islands window partitions by
document. Beyond the fraction, `duplicated_span_islands` returns the
concrete intervals so a downstream pass can cut them out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["duplicated_span_islands", "duplicated_span_stats"]


def _span_occurrences(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, pos, span_hash) for every n-token window; pos is 0-based.
    Documents shorter than n tokens contribute no rows."""
    toks = F.split(F.col(text_col), " ")
    spans = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.struct(
            i.alias("pos"),
            F.md5(F.array_join(F.slice(toks, i + 1, n), " ").cast("binary")).alias(
                "h"
            ),
        ),
    )
    return (
        df.filter(F.size(toks) >= n)
        .select(F.col(id_col), F.explode(spans).alias("s"))
        .select(id_col, F.col("s.pos").alias("pos"), F.col("s.h").alias("h"))
    )


def duplicated_span_islands(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_doc_freq: int = 2,
    broadcast_frequent: bool = True,
) -> DataFrame:
    """Merged duplicated-token intervals per document.

    Returns (id, island_start, island_end) with token positions,
    end exclusive — every n-gram window starting inside
    [island_start, island_end - n] occurs in ≥ min_doc_freq distinct
    documents, and islands are maximal (overlapping or touching
    windows merged).

    ``broadcast_frequent`` broadcasts the ≥ min_doc_freq span-hash set
    into the occurrence probe (r13, guide §3.2): the frequent set is
    bounded by the DISTINCT duplicated-span count (16-byte rows — a
    corpus property that does not grow with replication), while the
    probe side is every n-gram window of the corpus; without the
    broadcast the semi-join re-shuffles and re-sorts the full
    occurrence stream by hash. Flip off if a corpus's duplicated-span
    vocabulary outgrows executor memory (~5·10^7 hashes ≈ 1.6 GB) —
    the semi-join then falls back to the shuffle, results unchanged
    (set membership is join-strategy independent).
    """
    # the occurrence stream feeds two consumers (the doc-frequency
    # aggregate and the semi-join probe); unpersisted, both replayed
    # the tokenize + per-window md5 pipeline — the operator's dominant
    # cost. Materialize once with one eager localCheckpoint job; the
    # ContextCleaner frees its blocks once the result is unreachable.
    occ = _span_occurrences(df, id_col, text_col, n).localCheckpoint()
    frequent = (
        occ.groupBy("h")
        .agg(F.count_distinct(id_col).alias("df"))
        .filter(F.col("df") >= min_doc_freq)
        .select("h")
    )
    if broadcast_frequent:
        frequent = F.broadcast(frequent)
    dup = occ.join(frequent, "h", "left_semi")

    w = Window.partitionBy(id_col).orderBy("pos")
    covered_end = F.max(F.col("pos") + n).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = dup.withColumn(
        "new_island",
        F.when(covered_end.isNull() | (F.col("pos") > covered_end), 1).otherwise(0),
    ).withColumn("island", F.sum("new_island").over(w))
    return flagged.groupBy(id_col, "island").agg(
        F.min("pos").alias("island_start"),
        (F.max("pos") + n).alias("island_end"),
    ).drop("island")


def duplicated_span_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_doc_freq: int = 2,
    broadcast_frequent: bool = True,
) -> DataFrame:
    """Per-document duplication profile: (id, n_tokens, dup_islands,
    dup_tokens, dup_fraction). Documents with no duplicated span (or
    shorter than n tokens) report zeros. ``broadcast_frequent``: see
    :func:`duplicated_span_islands`."""
    islands = duplicated_span_islands(
        df, id_col, text_col, n, min_doc_freq, broadcast_frequent
    )
    per_doc = islands.groupBy(id_col).agg(
        F.count("*").alias("dup_islands"),
        F.sum(F.col("island_end") - F.col("island_start")).alias("dup_tokens"),
    )
    base = df.select(
        id_col, F.size(F.split(F.col(text_col), " ")).alias("n_tokens")
    )
    return (
        base.join(per_doc, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.coalesce("dup_islands", F.lit(0)).cast("long").alias("dup_islands"),
            F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
            F.round(
                F.coalesce("dup_tokens", F.lit(0)) / F.col("n_tokens"), 6
            ).alias("dup_fraction"),
        )
    )
