"""Markov removal-effect attribution over user event journeys.

The data-driven alternative to first/last-touch attribution (Anderl
et al. 2014, the model behind most marketing-attribution products):
model journeys as a first-order Markov chain over channels with
absorbing CONV/NULL states, and credit each channel by its REMOVAL
EFFECT — how much the start→CONV reach probability drops when every
transition into the channel is redirected to NULL (paths through it
fail). Shares normalize the effects.

Everything is relational and fixed-iteration, so the whole model —
journey truncation, transition estimation, K rounds of value
iteration over every removal scenario at once — replays in the SQL
oracle (the PageRank/HITS unroll convention, with scenarios as a
dimension instead of per-channel query copies):

- journeys: per-user event sequence ordered by (ts, id), truncated at
  the first conversion event (inclusive); START prepended, NULL
  appended to non-converting journeys;
- transitions: per from-state empirical probabilities;
- scenarios: '__base' plus one per channel; removing channel c keeps
  the transition table intact except rows from c are dropped and
  rows into c retarget NULL;
- reach: v_0 = [CONV → 1], v_k(s) = Σ_t P(s,t)·v_{k−1}(t) for
  transient s — K fixed rounds (absorbing chains contract, so the
  fixed-round value is the oracle-checkable stand-in for the limit).

Spark-first shape: ONE corpus-scale stage (the journey window pass +
transition count aggregate); the chain, the scenario grid and all K
iteration rounds are |channels|²-sized — model-sized joins Catalyst
plans as broadcasts. No driver state, no UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from computer_vision_foundations_spark.operators._iterative import Rounds

__all__ = ["markov_attribution", "attribution_oracle_sql"]

_START, _CONV, _NULL = "__start", "__conv", "__null"


def _journey_edges(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    channel_col: str,
    convert_value: str,
    tiebreak_col: str,
) -> DataFrame:
    """(from, to) journey transitions with START/CONV/NULL states."""
    w = Window.partitionBy(user_col).orderBy(ts_col, tiebreak_col)
    seq = events.select(
        F.col(user_col).alias("u"),
        F.col(channel_col).alias("ch"),
        F.row_number().over(w).alias("rn"),
    )
    conv_rn = seq.where(F.col("ch") == convert_value).groupBy("u").agg(
        F.min("rn").alias("_crn")
    )
    trunc = (
        seq.join(conv_rn, "u", "left")
        .where(F.col("_crn").isNull() | (F.col("rn") <= F.col("_crn")))
    )
    w2 = Window.partitionBy("u").orderBy("rn")
    state = F.when(
        F.col("ch") == convert_value, F.lit(_CONV)
    ).otherwise(F.col("ch"))
    steps = trunc.select(
        "u",
        "rn",
        state.alias("s"),
        F.lag(
            F.when(F.col("ch") == convert_value, F.lit(_CONV)).otherwise(
                F.col("ch")
            )
        )
        .over(w2)
        .alias("prev"),
        F.lead(F.lit(1)).over(w2).alias("_has_next"),
    )
    inner = steps.select(
        F.coalesce(F.col("prev"), F.lit(_START)).alias("src"),
        F.col("s").alias("dst"),
    )
    tail = (
        steps.where(
            F.col("_has_next").isNull() & (F.col("s") != _CONV)
        )
        .select(F.col("s").alias("src"), F.lit(_NULL).alias("dst"))
    )
    return inner.unionByName(tail)


def markov_attribution(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    channel_col: str = "event_type",
    convert_value: str = "purchase",
    tiebreak_col: str = "event_id",
    n_rounds: int = 12,
) -> DataFrame:
    """``(channel, reach_without, removal_effect, attribution)`` —
    base reach is carried on every row as ``base_reach``. Floats
    rounded 6."""
    with Rounds() as rounds:
        edges = _journey_edges(
            events, user_col, ts_col, channel_col, convert_value, tiebreak_col
        )
        trans = rounds.checkpoint(
            edges.groupBy("src", "dst")
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn(
                "p",
                F.col("n")
                / F.sum("n").over(Window.partitionBy("src")).cast("double"),
            )
            .select("src", "dst", "p")
        )
        channels = (
            trans.select(F.col("src").alias("ch"))
            .where(~F.col("ch").isin(_START, _CONV, _NULL))
            .distinct()
        )
        scenarios = channels.select(
            F.col("ch").alias("scenario")
        ).unionByName(
            channels.sparkSession.createDataFrame(
                [("__base",)], "scenario string"
            )
        )
        # scenario-adjusted transitions: drop rows FROM the removed
        # channel; retarget rows INTO it to NULL (then re-merge p mass)
        st = rounds.checkpoint(
            scenarios.crossJoin(trans)
            .where(
                (F.col("scenario") == "__base")
                | (F.col("src") != F.col("scenario"))
            )
            .select(
                "scenario",
                "src",
                F.when(
                    (F.col("scenario") != "__base")
                    & (F.col("dst") == F.col("scenario")),
                    F.lit(_NULL),
                )
                .otherwise(F.col("dst"))
                .alias("dst"),
                "p",
            )
            .groupBy("scenario", "src", "dst")
            .agg(F.sum("p").alias("p"))
        )
        # value iteration over (scenario, state); only CONV carries value
        v = st.select("scenario", F.col("src").alias("state")).distinct().select(
            "scenario", "state", F.lit(0.0).alias("v")
        )
        conv_v = F.when(F.col("dst") == _CONV, F.lit(1.0))
        # NOTE (round-12, measured): checkpointing every k-th round
        # instead of every round — the LPA discipline — was tried here and
        # REGRESSED 4.3 s → 56.7 s at sf0.1: a lazy
        # aggregate→join→aggregate chain over the scenario grid re-plans
        # super-linearly under AQE, unlike LPA's single join+mode round.
        # The per-round localCheckpoint stays.
        for _i in range(n_rounds):
            nxt = (
                st.join(
                    v.select(
                        "scenario",
                        F.col("state").alias("dst"),
                        F.col("v").alias("_vd"),
                    ),
                    ["scenario", "dst"],
                    "left",
                )
                .select(
                    "scenario",
                    "src",
                    (
                        F.col("p")
                        * F.coalesce(conv_v, F.col("_vd"), F.lit(0.0))
                    ).alias("_t"),
                )
                .groupBy("scenario", F.col("src").alias("state"))
                .agg(F.sum("_t").alias("v"))
            )
            v = rounds.advance(v, nxt)
        reach = v.where(F.col("state") == _START).select(
            "scenario", F.col("v").alias("reach")
        )
        base = reach.where(F.col("scenario") == "__base").select(
            F.col("reach").alias("base_reach")
        )
        out = (
            reach.where(F.col("scenario") != "__base")
            .crossJoin(F.broadcast(base))
            .select(
                F.col("scenario").alias("channel"),
                F.round("reach", 6).alias("reach_without"),
                F.round("base_reach", 6).alias("base_reach"),
                F.when(
                    F.col("base_reach") > 0,
                    (F.col("base_reach") - F.col("reach"))
                    / F.col("base_reach"),
                ).alias("_eff"),
            )
        )
        tot = out.agg(F.sum("_eff").alias("_tot"))
        return rounds.result(
            out.crossJoin(F.broadcast(tot))
            .select(
                "channel",
                "reach_without",
                "base_reach",
                F.round("_eff", 6).alias("removal_effect"),
                F.round(
                    F.when(
                        F.col("_tot") > 0, F.col("_eff") / F.col("_tot")
                    ),
                    6,
                ).alias("attribution"),
            )
            .orderBy("channel")
        )


def attribution_oracle_sql(
    table: str = "events",
    user_col: str = "user_id",
    ts_col: str = "ts",
    channel_col: str = "event_type",
    convert_value: str = "purchase",
    tiebreak_col: str = "event_id",
    n_rounds: int = 12,
) -> str:
    """DuckDB twin — journeys, scenario grid, and the K iteration
    rounds unrolled as MATERIALIZED CTEs."""
    rounds = []
    for r in range(1, n_rounds + 1):
        rounds.append(
            f"""v{r} AS MATERIALIZED (
        SELECT st.scenario, st.src AS state,
               sum(st.p * CASE WHEN st.dst = '{_CONV}' THEN 1.0
                               ELSE COALESCE(v.v, 0.0) END) AS v
        FROM st LEFT JOIN v{r - 1} v
          ON v.scenario = st.scenario AND v.state = st.dst
        GROUP BY 1, 2
    )"""
        )
    joined = ",\n    ".join(rounds)
    return f"""
    WITH seq AS MATERIALIZED (
        SELECT {user_col} AS u, {channel_col} AS ch,
               row_number() OVER (
                   PARTITION BY {user_col}
                   ORDER BY {ts_col}, {tiebreak_col}) AS rn
        FROM {table}
    ), conv_rn AS (
        SELECT u, min(rn) AS crn FROM seq
        WHERE ch = '{convert_value}' GROUP BY u
    ), trunc AS (
        SELECT seq.u, seq.rn,
               CASE WHEN seq.ch = '{convert_value}'
                    THEN '{_CONV}' ELSE seq.ch END AS s
        FROM seq LEFT JOIN conv_rn ON conv_rn.u = seq.u
        WHERE conv_rn.crn IS NULL OR seq.rn <= conv_rn.crn
    ), steps AS (
        SELECT u, s,
               lag(s) OVER w AS prev,
               lead(1) OVER w AS has_next
        FROM trunc
        WINDOW w AS (PARTITION BY u ORDER BY rn)
    ), edges AS MATERIALIZED (
        SELECT COALESCE(prev, '{_START}') AS src, s AS dst FROM steps
        UNION ALL
        SELECT s AS src, '{_NULL}' AS dst FROM steps
        WHERE has_next IS NULL AND s <> '{_CONV}'
    ), trans AS MATERIALIZED (
        SELECT src, dst,
               count(*) / CAST(sum(count(*)) OVER (PARTITION BY src)
                               AS DOUBLE) AS p
        FROM edges GROUP BY src, dst
    ), channels AS (
        SELECT DISTINCT src AS ch FROM trans
        WHERE src NOT IN ('{_START}', '{_CONV}', '{_NULL}')
    ), scenarios AS (
        SELECT ch AS scenario FROM channels
        UNION ALL SELECT '__base'
    ), st AS MATERIALIZED (
        SELECT scenario, src,
               CASE WHEN scenario <> '__base' AND dst = scenario
                    THEN '{_NULL}' ELSE dst END AS dst,
               sum(p) AS p
        FROM scenarios CROSS JOIN trans
        WHERE scenario = '__base' OR src <> scenario
        GROUP BY 1, 2, 3
    ), v0 AS (
        SELECT DISTINCT scenario, src AS state, 0.0 AS v FROM st
    ),
    {joined},
    reach AS (
        SELECT scenario, v AS reach FROM v{n_rounds}
        WHERE state = '{_START}'
    ), base AS (
        SELECT reach AS base_reach FROM reach WHERE scenario = '__base'
    ), eff AS (
        SELECT scenario AS channel, reach, base_reach,
               CASE WHEN base_reach > 0
                    THEN (base_reach - reach) / base_reach END AS e
        FROM reach CROSS JOIN base WHERE scenario <> '__base'
    ), tot AS (SELECT sum(e) AS t FROM eff)
    SELECT channel,
           round(reach, 6) AS reach_without,
           round(base_reach, 6) AS base_reach,
           round(e, 6) AS removal_effect,
           round(CASE WHEN tot.t > 0 THEN e / tot.t END, 6)
               AS attribution
    FROM eff CROSS JOIN tot ORDER BY channel
    """
