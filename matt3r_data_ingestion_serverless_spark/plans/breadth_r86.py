"""Round-4 batch 14: streamed Wasserstein drift, Markov absorption
probabilities, and IPW causal estimation.

Three operator families: the 12th streamed gate (drift monitoring as an
incrementally-maintained support histogram + a batch CDF sweep),
bounded-horizon absorption probabilities over the event Markov chain
(the data-driven conversion-propensity read), and
inverse-propensity-weighted ATE with stratified propensities (the
observational-causal estimator that adjusts for self-selection).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.functions.rounding import round6, round6_sql
from matt3r_data_ingestion_serverless_spark.plans.breadth_r84 import (
    _W1_A,
    _W1_B,
    _W1_SQL,
)
from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table
from matt3r_data_ingestion_serverless_spark.streaming.pipeline import collect_stream

_CENTS = "CAST(floor(value * 100 + 0.5) AS BIGINT)"


# ---------------------------------------------------------------------------
# streamed Wasserstein drift (12th streamed gate)
# ---------------------------------------------------------------------------


@register("streamed_drift_wasserstein", sql=_W1_SQL)
def streamed_drift_wasserstein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift monitoring as a stream: the support-grid histogram (per-
    cent counts for both distributions) is the streaming state — a
    plain grouped aggregation the state store maintains incrementally
    in complete mode — and the W₁ CDF sweep runs as a tiny batch query
    over the (support-sized) sink after each trigger. This is the
    production drift-monitor shape: the only thing the stream must
    carry is the bounded histogram, never raw rows, and ANY
    CDF-functional (W₁, KS, PSI) reads off the same state. Graded
    against the identical batch oracle as drift_wasserstein_1d."""
    from matt3r_data_ingestion_serverless_spark.plans.telemetry import events_stream

    s = events_stream(spark, sf_dir).filter(
        F.col("event_type").isin(_W1_A, _W1_B) & F.col("value").isNotNull()
    )
    g = (
        s.select(
            F.floor(F.col("value") * 100 + 0.5).cast("long").alias("c"),
            F.when(F.col("event_type") == _W1_A, 1).otherwise(0).alias("ia"),
            F.when(F.col("event_type") == _W1_B, 1).otherwise(0).alias("ib"),
        )
        .groupBy("c")
        .agg(F.sum("ia").alias("na_c"), F.sum("ib").alias("nb_c"))
    )
    hist = collect_stream(g, "complete")
    tot = hist.agg(
        F.sum("na_c").alias("na"),
        F.sum("nb_c").alias("nb"),
        F.count(F.lit(1)).alias("n_support"),
    )
    wo = Window.orderBy("c")
    run = hist.select(
        "c",
        F.sum("na_c").over(wo).alias("cum_a"),
        F.sum("nb_c").over(wo).alias("cum_b"),
        F.lead("c").over(wo).alias("next_c"),
    ).filter(F.col("next_c").isNotNull())
    return (
        run.join(F.broadcast(tot))
        .groupBy("na", "nb", "n_support")
        .agg(
            round6(
                F.sum(
                    F.abs(
                        F.col("cum_a").cast("double") / F.col("na")
                        - F.col("cum_b").cast("double") / F.col("nb")
                    )
                    * (F.col("next_c") - F.col("c"))
                )
                / 100
            ).alias("w1_r")
        )
        .select("na", "nb", "n_support", "w1_r")
    )


# ---------------------------------------------------------------------------
# Markov absorption probabilities (bounded horizon)
# ---------------------------------------------------------------------------

_ABS_STATE = "purchase"
_ABS_STEPS = 8


def _absorption_sql() -> str:
    ctes = [
        """tr AS MATERIALIZED (
  SELECT prev_type AS s, event_type AS t, count(*) AS n FROM (
    SELECT event_type,
           lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS prev_type
    FROM events
  ) WHERE prev_type IS NOT NULL GROUP BY 1, 2
)""",
        """edges AS MATERIALIZED (
  SELECT s, t, CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY s) AS p
  FROM tr
)""",
        "p0 AS MATERIALIZED (SELECT DISTINCT s AS t, 0.0 AS p FROM edges)",
    ]
    for k in range(1, _ABS_STEPS + 1):
        ctes.append(
            f"""p{k} AS MATERIALIZED (
  SELECT e.s AS t,
         sum(e.p * CASE WHEN e.t = '{_ABS_STATE}' THEN 1.0
                        ELSE coalesce(pp.p, 0.0) END) AS p
  FROM edges e LEFT JOIN p{k - 1} pp ON pp.t = e.t
  GROUP BY e.s
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT t AS state, {round6_sql('p')} AS p_convert_r
FROM p{_ABS_STEPS} WHERE t != '{_ABS_STATE}'
"""
    )


@register("markov_absorption_conversion", sql=_absorption_sql())
def markov_absorption_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Absorption probability into the 'purchase' state within 8 steps,
    from each non-purchase state of the first-order event Markov chain
    (transition probabilities = event_transition_matrix row-normalized)
    — the conversion-propensity read behind Markov attribution's
    removal effects: p_k(s) = P(s,absorb) + Σ_t P(s,t)·p_{k−1}(t).

    Scale: the chain is estimated with one window + one groupBy (the
    data-sized work); the 8 fixed-point rounds then run on the
    |states|²-row edge table — constant-size joins, the iterative
    relational linear algebra shape (same contract as
    markov_stationary_dist's power iteration). The oracle unrolls the
    identical 8 rounds as MATERIALIZED CTEs."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = (
        e.select(
            F.lag("event_type").over(w).alias("s"),
            F.col("event_type").alias("t"),
        )
        .filter(F.col("s").isNotNull())
        .groupBy("s", "t")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ws = Window.partitionBy("s")
    edges = tr.select(
        "s", "t", (F.col("n").cast("double") / F.sum("n").over(ws)).alias("p")
    ).localCheckpoint(eager=True)
    pk = edges.select(F.col("s").alias("t")).distinct().select(
        "t", F.lit(0.0).alias("p")
    )
    for _ in range(_ABS_STEPS):
        pp = pk.select(F.col("t").alias("pt"), F.col("p").alias("pprev"))
        pk = (
            edges.join(pp, edges.t == pp.pt, "left")
            .select(
                F.col("s").alias("t"),
                (
                    F.col("p")
                    * F.when(F.col("t") == _ABS_STATE, 1.0).otherwise(
                        F.coalesce(F.col("pprev"), F.lit(0.0))
                    )
                ).alias("term"),
            )
            .groupBy("t")
            .agg(F.sum("term").alias("p"))
        )
    return pk.filter(F.col("t") != _ABS_STATE).select(
        F.col("t").alias("state"), round6(F.col("p")).alias("p_convert_r")
    )


# ---------------------------------------------------------------------------
# inverse-propensity-weighted ATE
# ---------------------------------------------------------------------------

_IPW_SPLIT = "2024-01-16 00:00:00"
# treatment must VARY within strata: "signed up in the pre-period"
# saturates (~every user) and every stratum is positivity-trimmed;
# "hit an error on day one" has ~35-40% incidence and is confounded
# with activity level — exactly what IPW is for
_IPW_DAY1 = "2024-01-02 00:00:00"
_IPW_CUTS = (0.2, 0.4, 0.6, 0.8)

_IPW_SQL = f"""
WITH per_user AS (
  SELECT user_id,
         sum(CASE WHEN ts < TIMESTAMP '{_IPW_SPLIT}' THEN {_CENTS} ELSE 0 END) AS pre,
         sum(CASE WHEN ts >= TIMESTAMP '{_IPW_SPLIT}' THEN {_CENTS} ELSE 0 END) AS y,
         max(CASE WHEN event_type = 'error'
                   AND ts < TIMESTAMP '{_IPW_DAY1}' THEN 1 ELSE 0 END) AS treated
  FROM events GROUP BY 1
),
cuts AS (
  SELECT unnest(quantile_cont(pre, [{", ".join(str(c) for c in _IPW_CUTS)}])) AS cut
  FROM per_user
),
strat AS (
  SELECT u.*,
         (SELECT 1 + count(*) FROM cuts WHERE u.pre > cuts.cut) AS stratum
  FROM per_user u
),
prop AS (
  SELECT stratum, count(*) AS n_s, sum(treated) AS n_t,
         CAST(sum(treated) AS DOUBLE) / count(*) AS ps
  FROM strat GROUP BY 1
),
wtd AS (
  SELECT s.*, p.ps FROM strat s JOIN prop p USING (stratum)
  WHERE p.ps > 0 AND p.ps < 1
)
SELECT count(*) AS n_used,
       sum(treated) AS n_treated,
       {round6_sql(
           "(sum(CASE WHEN treated = 1 THEN y / ps ELSE 0 END)"
           " - sum(CASE WHEN treated = 0 THEN y / (1 - ps) ELSE 0 END))"
           " / count(*) / 100"
       )} AS ate_ipw_r,
       {round6_sql(
           "(sum(CASE WHEN treated = 1 THEN CAST(y AS DOUBLE) ELSE 0 END) / sum(treated)"
           " - sum(CASE WHEN treated = 0 THEN CAST(y AS DOUBLE) ELSE 0 END)"
           "   / sum(1 - treated)) / 100"
       )} AS ate_naive_r
FROM wtd
"""


@register("causal_ipw_ate", sql=_IPW_SQL)
def causal_ipw_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-propensity-weighted average treatment effect of a
    SELF-SELECTED treatment (hit an error on day one) on post-period
    spend: propensity = treated share within pre-spend-quintile strata,
    ATE = Horvitz-Thompson weighted mean difference. The estimator that
    de-biases what the naive treated-vs-untreated gap (also reported)
    confounds with activity level. Strata where the propensity is
    degenerate (0 or 1) are excluded from both estimates — the standard
    positivity-violation trim, identical in the oracle.

    Scale: one groupBy(user) builds (pre, y, treated) in exact cents;
    the quintile cuts are one exact interpolated percentile (4 values,
    broadcast back); propensities are one groupBy(stratum) over 5 rows;
    the final estimate is a single aggregate of identical-expression
    doubles over exact integers."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    split = F.lit(_IPW_SPLIT).cast("timestamp")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < split, cents).otherwise(0)).alias("pre"),
        F.sum(F.when(F.col("ts") >= split, cents).otherwise(0)).alias("y"),
        F.max(
            F.when(
                (F.col("event_type") == "error")
                & (F.col("ts") < F.lit(_IPW_DAY1).cast("timestamp")),
                1,
            ).otherwise(0)
        ).alias("treated"),
    )
    cuts = per_user.agg(
        F.percentile("pre", F.array(*[F.lit(c) for c in _IPW_CUTS])).alias("cuts")
    )
    strat = per_user.join(F.broadcast(cuts)).select(
        "*",
        (
            1
            + F.aggregate(
                F.col("cuts"),
                F.lit(0),
                lambda acc, c: acc + F.when(F.col("pre") > c, 1).otherwise(0),
            )
        ).alias("stratum"),
    )
    prop = strat.groupBy("stratum").agg(
        (F.sum("treated").cast("double") / F.count(F.lit(1))).alias("ps")
    )
    wtd = strat.join(F.broadcast(prop), "stratum").filter(
        (F.col("ps") > 0) & (F.col("ps") < 1)
    )
    return wtd.agg(
        F.count(F.lit(1)).alias("n_used"),
        F.sum("treated").alias("n_treated"),
        round6(
            (
                F.sum(F.when(F.col("treated") == 1, F.col("y") / F.col("ps")).otherwise(0.0))
                - F.sum(
                    F.when(
                        F.col("treated") == 0, F.col("y") / (1 - F.col("ps"))
                    ).otherwise(0.0)
                )
            )
            / F.count(F.lit(1))
            / 100
        ).alias("ate_ipw_r"),
        round6(
            (
                F.sum(
                    F.when(F.col("treated") == 1, F.col("y").cast("double")).otherwise(
                        0.0
                    )
                )
                / F.sum("treated")
                - F.sum(
                    F.when(F.col("treated") == 0, F.col("y").cast("double")).otherwise(
                        0.0
                    )
                )
                / F.sum(1 - F.col("treated"))
            )
            / 100
        ).alias("ate_naive_r"),
    )
