"""Market-basket co-occurrence: support, confidence, lift.

The association-rule core of retail/recommendation analytics (Agrawal
1993's Apriori output shape, without the multi-level candidate walk:
at pair granularity the "algorithm" is one self-join and three
aggregates — which is exactly how engines compute it at scale). For
every unordered item pair inside the same basket:

- ``support = n_both / n_baskets``
- ``confidence(a→b) = n_both / n_a`` (reported for the a→b direction
  with a < b; the mirror is symmetric algebra)
- ``lift = support / (supp_a · supp_b)`` — >1 means genuinely
  associated, not just popular.

Spark-first shape: the basket-item table deduplicates to (basket,
item), self-joins ON THE BASKET KEY (pairs only form within a
basket — baskets are small by nature, the join is output-bound, the
classic skew defense is a per-basket item cap), then three hash
aggregates (pair counts, item counts, basket count — the last two
broadcast back). Items shuffle as ids; no UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["basket_pair_rules", "basket_oracle_sql"]


def basket_pair_rules(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_pair_count: int = 2,
    max_basket_items: int | None = 200,
) -> DataFrame:
    """``(item_a, item_b, n_both, support, confidence, lift)`` for
    pairs co-occurring in ≥ ``min_pair_count`` baskets (item_a <
    item_b; confidence is P(b|a)); floats rounded 6.

    ``max_basket_items`` drops degenerate mega-baskets before the
    self-join (the |basket|² guard every pair generator here has)."""
    bi = df.select(
        F.col(basket_col).alias("bk"), F.col(item_col).alias("it")
    ).distinct()
    if max_basket_items is not None:
        big = (
            bi.groupBy("bk")
            .agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") > max_basket_items)
            .select("bk")
        )
        bi = bi.join(F.broadcast(big), "bk", "left_anti")
    # (bk, it) feeds FIVE consumers (the basket count below, item
    # counts, both self-join sides, and the cap's anti-join probe);
    # unpersisted, each replayed the distinct over the fact table
    # (round-12 plan audit: 46 Exchanges). Materialize once with an
    # eager localCheckpoint; the ContextCleaner frees its blocks once
    # the result is unreachable.
    bi = bi.localCheckpoint()
    n_baskets = bi.select("bk").distinct().count()
    item_counts = bi.groupBy(F.col("it")).agg(
        F.count(F.lit(1)).alias("n_item")
    )
    a = bi.select("bk", F.col("it").alias("item_a"))
    b = bi.select("bk", F.col("it").alias("item_b"))
    pairs = (
        a.join(b, "bk")
        .where(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
        .where(F.col("n_both") >= min_pair_count)
    )
    ca = item_counts.select(
        F.col("it").alias("item_a"), F.col("n_item").alias("n_a")
    )
    cb = item_counts.select(
        F.col("it").alias("item_b"), F.col("n_item").alias("n_b")
    )
    nb = float(n_baskets)
    supp = F.col("n_both") / F.lit(nb)
    return (
        pairs.join(F.broadcast(ca), "item_a")
        .join(F.broadcast(cb), "item_b")
        .select(
            "item_a",
            "item_b",
            "n_both",
            F.round(supp, 6).alias("support"),
            F.round(
                F.col("n_both") / F.col("n_a").cast("double"), 6
            ).alias("confidence"),
            F.round(
                supp
                / (
                    (F.col("n_a") / F.lit(nb))
                    * (F.col("n_b") / F.lit(nb))
                ),
                6,
            ).alias("lift"),
        )
        .orderBy("item_a", "item_b")
    )


def basket_oracle_sql(
    table: str,
    basket_col: str,
    item_col: str,
    min_pair_count: int = 2,
    max_basket_items: int | None = 200,
) -> str:
    """DuckDB twin — identical dedup, cap, join, and rule algebra."""
    cap = (
        f"""
    , capped AS (
        SELECT bk, it FROM bi
        WHERE bk NOT IN (
            SELECT bk FROM bi GROUP BY bk
            HAVING count(*) > {max_basket_items})
    )"""
        if max_basket_items is not None
        else ", capped AS (SELECT * FROM bi)"
    )
    return f"""
    WITH bi AS (
        SELECT DISTINCT {basket_col} AS bk, {item_col} AS it
        FROM {table}
    ){cap},
    nb AS (SELECT CAST(count(DISTINCT bk) AS DOUBLE) AS n FROM capped),
    ic AS (SELECT it, count(*) AS n_item FROM capped GROUP BY it),
    pairs AS (
        SELECT a.it AS item_a, b.it AS item_b, count(*) AS n_both
        FROM capped a JOIN capped b
          ON a.bk = b.bk AND a.it < b.it
        GROUP BY 1, 2
        HAVING count(*) >= {min_pair_count}
    )
    SELECT item_a, item_b, n_both,
           round(n_both / nb.n, 6) AS support,
           round(n_both / CAST(ca.n_item AS DOUBLE), 6) AS confidence,
           round((n_both / nb.n)
                 / ((ca.n_item / nb.n) * (cb.n_item / nb.n)),
                 6) AS lift
    FROM pairs
    CROSS JOIN nb
    JOIN ic ca ON ca.it = pairs.item_a
    JOIN ic cb ON cb.it = pairs.item_b
    ORDER BY item_a, item_b
    """
