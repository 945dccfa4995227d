"""Round-4 batch 13: quantile treatment effects and the gap-constrained
followed-by matrix.

Two operator families: per-decile treatment effects on
the experiment from ab_cuped_adjustment's assignment (distributional
effects that a mean hides), and the "A followed by B within Δt"
co-occurrence matrix (sequence mining beyond adjacent transitions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.functions.rounding import round6, round6_sql
from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# quantile treatment effects
# ---------------------------------------------------------------------------

_QTE_PS = tuple(round(0.1 * i, 1) for i in range(1, 10))
_CENTS = "CAST(floor(value * 100 + 0.5) AS BIGINT)"


def _qte_sql() -> str:
    ps = ", ".join(str(p) for p in _QTE_PS)
    return f"""
WITH per_user AS (
  SELECT user_id, user_id % 2 AS variant, sum({_CENTS}) AS spend
  FROM events GROUP BY 1, 2
),
q AS (
  SELECT variant,
         unnest([{ps}]) AS p,
         unnest(quantile_cont(spend, [{ps}])) AS q
  FROM per_user GROUP BY variant
)
SELECT a.p,
       {round6_sql('a.q / 100')} AS q_control_r,
       {round6_sql('b.q / 100')} AS q_treat_r,
       {round6_sql('(b.q - a.q) / 100')} AS qte_r
FROM q a JOIN q b ON a.p = b.p AND a.variant = 0 AND b.variant = 1
"""


@register("ab_quantile_treatment_effect", sql=_qte_sql())
def ab_quantile_treatment_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effects: the per-decile difference between
    the treatment and control distributions of per-user spend (same
    deterministic user_id%2 assignment as ab_cuped_adjustment) — the
    distributional read that a mean lift hides (an effect concentrated
    in heavy spenders shows up only in the upper deciles).

    Scale: one groupBy(user) to per-user spend (exact cents), then one
    exact interpolated percentile per variant (Spark `percentile` =
    DuckDB `quantile_cont` on integers — exact rational interpolation,
    no cross-engine float drift) and a 9-row join."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    per_user = ev.groupBy("user_id", (F.col("user_id") % 2).alias("variant")).agg(
        F.sum(cents).alias("spend")
    )
    ps = F.array(*[F.lit(p) for p in _QTE_PS])
    q = (
        per_user.groupBy("variant")
        .agg(F.percentile("spend", ps).alias("qs"))
        .select(
            "variant",
            F.explode(
                F.arrays_zip(ps.alias("p"), F.col("qs").alias("q"))
            ).alias("z"),
        )
        .select("variant", F.col("z.p").alias("p"), F.col("z.q").alias("q"))
    )
    a = q.filter(F.col("variant") == 0).select("p", F.col("q").alias("qa"))
    b = q.filter(F.col("variant") == 1).select("p", F.col("q").alias("qb"))
    return a.join(b, "p").select(
        "p",
        round6(F.col("qa") / 100).alias("q_control_r"),
        round6(F.col("qb") / 100).alias("q_treat_r"),
        round6((F.col("qb") - F.col("qa")) / 100).alias("qte_r"),
    )


# ---------------------------------------------------------------------------
# gap-constrained followed-by matrix
# ---------------------------------------------------------------------------

_FOLLOW_GAP_US = 3_600_000_000  # 1 hour


_FOLLOW_SQL = f"""
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       count(*) AS n_pairs,
       count(DISTINCT a.user_id) AS n_users
FROM e a JOIN e b
  ON a.user_id = b.user_id
 AND b.us > a.us AND b.us <= a.us + {_FOLLOW_GAP_US}
GROUP BY 1, 2
"""


@register("seq_followed_by_matrix", sql=_FOLLOW_SQL)
def seq_followed_by_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The "A followed by B within 1 hour" matrix: pair counts and
    distinct-user reach for every ordered event-type pair, with the
    follower anywhere in the window (NOT just adjacent — the
    skip-gram generalization of event_transition_matrix).

    Scale: the oracle brute-forces the per-user self-join; the Spark
    plan BANDS it — both sides key by (user, hour-bucket) and the left
    side probes only buckets h and h+1 (a 1-hour window can't span
    further), so the join is a plain equi-join whose per-key width is
    one user-hour of events, never a user's whole history. The exact
    window predicate filters inside the banded candidates."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    hb = (F.col("us") - F.pmod("us", F.lit(_FOLLOW_GAP_US))) / _FOLLOW_GAP_US
    a = e.select(
        "user_id",
        F.col("event_type").alias("type_a"),
        F.col("us").alias("us_a"),
        F.explode(
            F.array(
                hb.cast("long"), (hb.cast("long") + 1)
            )
        ).alias("hb"),
    )
    b = e.select(
        "user_id",
        F.col("event_type").alias("type_b"),
        F.col("us").alias("us_b"),
        hb.cast("long").alias("hb"),
    )
    return (
        a.join(b, ["user_id", "hb"])
        .filter(
            (F.col("us_b") > F.col("us_a"))
            & (F.col("us_b") <= F.col("us_a") + _FOLLOW_GAP_US)
        )
        .groupBy("type_a", "type_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )
