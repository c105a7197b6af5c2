"""Event-time disorder audit — the measurement behind a watermark.

Structured Streaming's `withWatermark(delay)` (streaming/windows.py)
trades completeness against state: events later than ``delay`` behind
the max-seen event time are dropped. The right delay is an EMPIRICAL
property of the feed — this operator measures it from a replayable
log: for each event, its LATENESS = how far its event time lags the
maximum event time among earlier-ARRIVING events of the same ingest
key (arrival order = the monotonic ingest id; event time = ts), then
the distribution (out-of-order fraction, p50/p95 via explicit
ceil-rank selection, max). Read "p95_late" as "a watermark of that
delay keeps 95% of late events".

Per-KEY disorder, deliberately: a global arrival order is a
single-sequence notion that does not exist on a 1000-executor ingest
— real feeds measure disorder per shard/partition key and take the
max over keys (the watermark must cover the worst shard). The
per-key running max is one partitioned window.

Quantile selection is EXACT (value at rank ceil(q·n)) but computed
WITHOUT a global sort window: a mergeable fixed-bin histogram (the
operators/quantile_sketch.py shape — map-side combinable bin counts,
≤ ``n_bins`` rows of state) locates the bin containing each target
rank, then a second pass ranks only the DISTINCT lateness values
INSIDE the (≤ len(qs)) target bins, with the cumulative window
partitioned BY BIN. Nothing data-sized ever passes through a single
task: the two data-sized stages are map-side-combinable aggregates,
and the within-bin window sees at most (bin value-domain width)
distinct integer values per target bin. Because bins partition the
value order, ``min{v : count(late_us <= v) >= r}`` restricted to the
target bin equals the global order statistic — the histogram narrows
the search, it never approximates.

All arithmetic is exact integer microseconds; the quantiles are ORDER
STATISTICS (value at rank ceil(q·n), ties broken by value order), not
interpolated — replayable bit-for-bit in SQL (the oracle keeps the
direct global-rank form, which is exactly equivalent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["event_disorder_stats", "disorder_oracle_sql"]


def event_disorder_stats(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    arrival_col: str,
    tiebreak_col: str | None = None,
    qs: tuple[float, ...] = (0.5, 0.95),
    n_bins: int = 4096,
) -> DataFrame:
    """One row: ``n_events, n_late, frac_late`` + one ``p{q}_late_us``
    column per requested quantile (over LATE events only — NULL when
    the feed has no late events, matching the oracle's empty
    subselects) + ``max_late_us``.

    ``tiebreak_col`` resolves equal arrival values deterministically
    (pass the unique ingest id); the quantile VALUE is tie-stable
    regardless (equal lateness values are adjacent in rank order).

    The lateness projection is checkpointed internally (MEMORY_AND_DISK)
    — the audit's phases re-scan it, never the source."""
    order = [F.col(arrival_col)] + (
        [F.col(tiebreak_col)] if tiebreak_col else []
    )
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = (
        Window.partitionBy(key_col)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # The lateness projection (the key-partitioned running-max window —
    # the audit's only corpus-sized pass) feeds FOUR independent
    # consumers (total, extremes, the histogram, the within-bin scan)
    # plus every broadcast branch re-using the extremes; unpersisted,
    # each consumer replayed the full window (round-12 plan audit: 176
    # Exchanges, ~5 window passes). Materialize it once with one eager
    # localCheckpoint job (its blocks are freed with the result), and
    # checkpoint the 1-row extremes so its many broadcast branches are
    # free.
    late = df.select(
        (F.max(us).over(w) - us).alias("late_us")
    ).localCheckpoint()
    lates = late.where(F.col("late_us") > 0)
    total = late.agg(F.count(F.lit(1)).alias("n_events"))
    ext = lates.agg(
        F.count(F.lit(1)).alias("n_late"),
        F.min("late_us").alias("_lo"),
        F.max("late_us").alias("max_late_us"),
    ).localCheckpoint()
    # --- phase 1: mergeable histogram over lateness values -----------
    # bin(v) = min(floor((v - lo) / w), B-1): monotone nondecreasing in
    # v, so bins partition the value order and cumulative bin counts
    # bracket every rank. groupBy(bin) is map-side combinable;
    # everything after it is <= n_bins rows.
    v = F.col("late_us").cast("double")
    lo_d = F.col("_lo").cast("double")
    binw = (
        F.col("max_late_us").cast("double") - lo_d
    ) / F.lit(float(n_bins))
    bin_expr = (
        F.when(F.col("max_late_us") == F.col("_lo"), F.lit(0))
        .otherwise(F.least(F.floor((v - lo_d) / binw), F.lit(n_bins - 1)))
        .cast("int")
        .alias("bin")
    )
    binned = (
        lates.join(F.broadcast(ext))
        .select(bin_expr)
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wcum = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cdf = binned.select(
        "bin",
        (F.sum("c").over(wcum) - F.col("c")).alias("cum_before"),
        F.sum("c").over(wcum).alias("cum"),
    )
    # target bin per quantile: first bin whose cumulative count reaches
    # rank r = ceil(q * n_late) — runs on <= n_bins rows
    qrows = (
        cdf.join(F.broadcast(ext.select("n_late")))
        .select(
            F.explode(F.array(*[F.lit(float(q)) for q in qs])).alias("q"),
            "bin",
            "cum",
            "n_late",
        )
        .where(F.col("cum") >= F.ceil(F.col("q") * F.col("n_late")))
        .groupBy("q", "n_late")
        .agg(F.min("bin").alias("bin"))
    )
    tsel = qrows.join(cdf.select("bin", "cum_before"), "bin").select(
        "q",
        "bin",
        "cum_before",
        F.ceil(F.col("q") * F.col("n_late")).alias("_rank"),
    )
    # --- phase 2: exact order statistic inside the target bins -------
    # scan only rows landing in the <= len(qs) target bins (left-semi
    # on a broadcast bin list), reduce to DISTINCT (bin, value) counts
    # (map-side combinable), rank per bin: the window is partitioned by
    # bin over distinct integer values — bounded by the bin's value
    # domain, never by n.
    within = (
        lates.join(F.broadcast(ext))
        .select(bin_expr, "late_us")
        .join(F.broadcast(tsel.select("bin").distinct()), "bin", "left_semi")
        .groupBy("bin", "late_us")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wv = (
        Window.partitionBy("bin")
        .orderBy("late_us")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    picks = (
        within.select("bin", "late_us", F.sum("c").over(wv).alias("cw"))
        .join(F.broadcast(tsel), "bin")
        .where(F.col("cum_before") + F.col("cw") >= F.col("_rank"))
        .groupBy("q")
        .agg(F.min("late_us").alias("p"))
    )
    out = total.join(F.broadcast(ext.select("n_late", "max_late_us")))
    for q in qs:
        # agg(max) over the <=1 matching row: empty input still yields
        # ONE row (NULL), so a disorder-free feed reports NULL
        # percentiles instead of annihilating the cross join
        pick = (
            picks.where(F.col("q") == F.lit(float(q)))
            .agg(F.max("p").alias(f"p{int(q * 100)}_late_us"))
        )
        out = out.join(F.broadcast(pick))
    return out.select(
        "n_events",
        "n_late",
        F.round(
            F.col("n_late").cast("double") / F.col("n_events").cast("double"),
            6,
        ).alias("frac_late"),
        *[f"p{int(q * 100)}_late_us" for q in qs],
        "max_late_us",
    )


def disorder_oracle_sql(
    table: str = "events",
    key_col: str = "user_id",
    ts_col: str = "ts",
    arrival_col: str = "event_id",
    tiebreak_col: str | None = None,
    qs: tuple[float, ...] = (0.5, 0.95),
) -> str:
    """DuckDB twin — identical per-key running max; the quantile is
    the SAME ceil-rank order statistic, written in its direct
    global-rank form (fine at oracle SF; the engine's histogram-
    narrowed selection returns the identical value)."""
    pcols = ", ".join(
        f"""(SELECT max(late_us) FROM (
               SELECT late_us, row_number() OVER (ORDER BY late_us) AS _r
               FROM lates)
             WHERE _r = ceil({q!r} * (SELECT count(*) FROM lates)))
            AS p{int(q * 100)}_late_us"""
        for q in qs
    )
    tb = f", {tiebreak_col}" if tiebreak_col else ""
    return f"""
    WITH l AS (
        SELECT max(epoch_us({ts_col})) OVER (
                   PARTITION BY {key_col} ORDER BY {arrival_col}{tb}
                   ROWS UNBOUNDED PRECEDING)
               - epoch_us({ts_col}) AS late_us
        FROM {table}
    ), lates AS (
        SELECT late_us FROM l WHERE late_us > 0
    )
    SELECT (SELECT count(*) FROM l) AS n_events,
           (SELECT count(*) FROM lates) AS n_late,
           round(CAST((SELECT count(*) FROM lates) AS DOUBLE)
                 / CAST((SELECT count(*) FROM l) AS DOUBLE), 6) AS frac_late,
           {pcols},
           (SELECT max(late_us) FROM lates) AS max_late_us
    """
