"""Skew diagnostics: which keys are heavy enough to need mitigation.

AQE's skew-join splitting (on by default in session.py) handles most
skew by splitting oversized partitions at runtime, but it only works
for sort-merge joins and after a shuffle has already materialized the
skew. :func:`skew_profile` finds the hot keys before the join, for
deciding whether to restructure it with the deterministic salted join
(:func:`~computer_vision_foundations_spark.operators.skewjoin.salted_join`).
"""

from __future__ import annotations


def skew_profile(
    df, key_col: str, top_n: int = 10, salt_target: int | None = None
):
    """``(key, n_rows, share, suggested_salt)`` for the ``top_n``
    heaviest keys — the diagnostic you run BEFORE a big join/agg to
    decide whether ``skewjoin.salted_join`` (or AQE skew handling)
    is needed. ``share`` is the key's fraction of all rows;
    ``suggested_salt`` is ``ceil(n_rows / salt_target)`` (1 when the
    key already fits the target, ``salt_target`` defaulting to the
    mean rows-per-key). One hash aggregate + a TakeOrdered top-n;
    nothing data-sized leaves the executors."""
    from pyspark.sql import functions as F

    counts = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    totals = counts.agg(
        F.sum("n_rows").cast("double").alias("_total"),
        F.avg("n_rows").alias("_mean"),
    )
    tgt = (
        F.lit(float(salt_target))
        if salt_target is not None
        else F.greatest(F.col("_mean"), F.lit(1.0))
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "key",
            "n_rows",
            F.round(F.col("n_rows") / F.col("_total"), 6).alias("share"),
            F.greatest(
                F.lit(1), F.ceil(F.col("n_rows") / tgt)
            ).cast("long").alias("suggested_salt"),
        )
        .orderBy(F.col("n_rows").desc(), F.col("key"))
        .limit(top_n)
    )
