"""Item-item collaborative filtering: cosine similarity over baskets.

Binary co-occurrence model: a "basket" (order, user-session, document)
contains a set of items; item similarity is the cosine of the two
items' basket-incidence vectors,

    sim(i, j) = |B_i ∩ B_j| / sqrt(|B_i| · |B_j|)

computed without materializing any vector: the intersection count is
a self-equi-join of the distinct (basket, item) relation on basket,
and the norms are per-item basket counts joined back in.

Scale shape: the ONLY fan-out is the within-basket pair generation,
quadratic in basket SIZE, not corpus size — so the operator takes a
``max_basket_size`` cap (default 100) and drops pathological baskets
(a power-user session with 50 000 items would otherwise emit 1.25e9
pairs). The cap is part of the contract and must be mirrored in the
oracle. Item norms are an aggregate of the same relation (no extra
scan shape); both joins are equi-joins; payload columns never enter
the shuffle — only (basket_id, item_id) pairs.

Reference parity: recommendation-style co-occurrence scoring is a
canonical training-data curation signal (e.g. picking correlated
label sets); the reference has no CF operator — this is part of the
beyond-reference LLM-pipeline surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from computer_vision_foundations_spark.operators.dedup import (
    _bucket_pairs,
    _capped_buckets,
)

__all__ = ["item_cosine_pairs", "item_cosine_oracle_sql"]


def item_cosine_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    *,
    min_cooc: int = 2,
    max_basket_size: int | None = 100,
    round_digits: int = 6,
    broadcast_norms: bool = True,
) -> DataFrame:
    """``(item_a, item_b, cooc, cosine)`` for unordered item pairs
    with ``cooc >= min_cooc``; ``item_a < item_b``. Baskets larger
    than ``max_basket_size`` distinct items are dropped entirely
    (cap ON by default — pass ``None`` only when the basket-size
    distribution is known bounded).

    Shape: the distinct (basket, item) relation is built once and
    shared with the near-dup family's candidate step
    (``dedup._capped_buckets``: one eager ``localCheckpoint`` job, then
    baskets above the cap leave through a broadcast anti-join), so the
    upstream join+distinct pipeline does not re-run for the norms and
    both self-join sides; the within-basket pairs come from the same
    bucket self-join (``dedup._bucket_pairs``).
    ``broadcast_norms`` broadcasts the per-item basket-count table
    into the two final joins (16-byte rows, the graph operators'
    ~1e8-item contract; flip off beyond): the cooc pair stream is
    joined map-side instead of being re-shuffled twice by item id
    (guide §3.1). Counts are integers — join-strategy independent.
    """
    b = df.select(
        F.col(basket_col).alias("_bk"), F.col(item_col).alias("_it")
    ).distinct()
    b = _capped_buckets(b, ["_bk"], max_basket_size)
    norms = b.groupBy("_it").agg(F.count("*").alias("_n"))
    if broadcast_norms:
        norms = F.broadcast(norms)
    pairs = (
        _bucket_pairs(b, ["_bk"], "_it")
        .groupBy(F.col("id_a").alias("item_a"), F.col("id_b").alias("item_b"))
        .agg(F.count("*").alias("cooc"))
        .filter(F.col("cooc") >= min_cooc)
    )
    na = norms.select(F.col("_it").alias("item_a"), F.col("_n").alias("_na"))
    nb = norms.select(F.col("_it").alias("item_b"), F.col("_n").alias("_nb"))
    return (
        pairs.join(na, "item_a")
        .join(nb, "item_b")
        .select(
            "item_a",
            "item_b",
            "cooc",
            F.round(
                F.col("cooc") / F.sqrt(F.col("_na") * F.col("_nb")),
                round_digits,
            ).alias("cosine"),
        )
    )


def item_cosine_oracle_sql(
    source_sql: str,
    *,
    min_cooc: int = 2,
    max_basket_size: int | None = 100,
    round_digits: int = 6,
) -> str:
    """DuckDB mirror over ``source_sql`` yielding ``(bk, it)``."""
    cap = (
        f""", kept AS (
        SELECT bk FROM b GROUP BY bk HAVING count(*) <= {max_basket_size}
    ), bb AS (SELECT b.* FROM b JOIN kept USING (bk))"""
        if max_basket_size is not None
        else ", bb AS (SELECT * FROM b)"
    )
    return f"""
    WITH src AS ({source_sql}),
    b AS (SELECT DISTINCT bk, it FROM src){cap},
    norms AS (SELECT it, count(*) AS n FROM bb GROUP BY it),
    pairs AS (
        SELECT x.it AS item_a, y.it AS item_b, count(*) AS cooc
        FROM bb x JOIN bb y ON x.bk = y.bk AND x.it < y.it
        GROUP BY 1, 2
        HAVING count(*) >= {min_cooc}
    )
    SELECT item_a, item_b, CAST(cooc AS BIGINT) AS cooc,
           round(cooc / sqrt(na.n * nb.n), {round_digits}) AS cosine
    FROM pairs
    JOIN norms na ON pairs.item_a = na.it
    JOIN norms nb ON pairs.item_b = nb.it
    """
