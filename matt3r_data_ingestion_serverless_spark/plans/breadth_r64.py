"""Round-2 batch 39 (this run): proper scoring rules (Brier + log
loss) and hour-of-day entropy per event type.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.functions.rounding import round6, round6_sql
from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# Brier score and log loss of the deterministic logistic scorer
# ---------------------------------------------------------------------------

_SCORING_SQL = f"""
WITH s AS (
  SELECT CAST(floor(1.0 / (1.0 + exp(-(value - 50.0) / 25.0)) * 1e6 + 0.5) AS BIGINT)
           AS p_micro,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events
),
t AS (
  SELECT p_micro, y,
         (p_micro - y * 1000000) * (p_micro - y * 1000000) AS sq,
         CAST(floor(abs(ln(CASE WHEN y = 1 THEN CAST(p_micro AS DOUBLE) / 1e6
                               ELSE 1.0 - CAST(p_micro AS DOUBLE) / 1e6 END))
                    * 1e6 + 0.5) AS BIGINT) AS nll_micro
  FROM s WHERE p_micro > 0 AND p_micro < 1000000
)
SELECT CAST(count(*) AS BIGINT) AS n,
       CAST(sum(y) AS BIGINT) AS n_pos,
       CAST(sum(sq) AS BIGINT) AS brier_sq_sum,
       CAST(sum(nll_micro) AS BIGINT) AS nll_micro_sum,
       {round6_sql("CAST(sum(sq) AS DOUBLE) / count(*) / 1e12")} AS brier,
       {round6_sql("CAST(sum(nll_micro) AS DOUBLE) / count(*) / 1e6")} AS log_loss
FROM t
"""


@register("ml_proper_scoring_rules", _SCORING_SQL)
def ml_proper_scoring_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score and log loss of the deterministic logistic scorer —
    the two proper scoring rules that complete the probability-eval
    suite (calibration bins + ECE measure reliability, AUC/AP measure
    ranking; these measure the probabilities themselves). The squared
    error is PURE int64 ((p_micro − y·10⁶)² ≤ 10¹²); the negative
    log-likelihood quantizes per row to micro-nats (rows at exactly
    p∈{0,1} are excluded in both dialects — none exist with this
    scorer, asserted in tests). One conditional scan, one 1-row agg."""
    ev = load_table(spark, sf_dir, "events")
    p = F.floor(1.0 / (1.0 + F.exp(-(F.col("value") - 50.0) / 25.0)) * 1e6 + 0.5).cast(
        "long"
    )
    s = ev.select(
        p.alias("p_micro"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    ).filter((F.col("p_micro") > 0) & (F.col("p_micro") < 1000000))
    sq = (F.col("p_micro") - F.col("y") * 1000000) * (
        F.col("p_micro") - F.col("y") * 1000000
    )
    prob = F.when(
        F.col("y") == 1, F.col("p_micro").cast("double") / 1e6
    ).otherwise(1.0 - F.col("p_micro").cast("double") / 1e6)
    nll = F.floor(F.abs(F.log(prob)) * 1e6 + 0.5).cast("long")
    t = s.select("y", sq.alias("sq"), nll.alias("nll_micro"))
    return t.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("n_pos"),
        F.sum("sq").cast("long").alias("brier_sq_sum"),
        F.sum("nll_micro").cast("long").alias("nll_micro_sum"),
        round6(F.sum("sq").cast("double") / F.count("*") / 1e12).alias("brier"),
        round6(F.sum("nll_micro").cast("double") / F.count("*") / 1e6).alias("log_loss"),
    )


# ---------------------------------------------------------------------------
# hour-of-day entropy per event type
# ---------------------------------------------------------------------------

_HOUR_ENTROPY_SQL = f"""
WITH c AS (
  SELECT event_type, hour(ts) AS hr, count(*) AS k FROM events
  GROUP BY event_type, hour(ts)
),
t AS (SELECT event_type, sum(k) AS n FROM c GROUP BY event_type),
e AS (
  SELECT c.event_type, t.n,
         c.k * CAST(floor(abs(ln(CAST(c.k AS DOUBLE) / t.n)) * 1e6 + 0.5) AS BIGINT)
           AS num
  FROM c JOIN t USING (event_type)
)
SELECT event_type,
       CAST(max(n) AS BIGINT) AS n,
       CAST(count(*) AS BIGINT) AS n_active_hours,
       CAST(sum(num) // max(n) AS BIGINT) AS entropy_micro,
       {round6_sql("CAST(sum(num) // max(n) AS DOUBLE)"
                   " / CAST(floor(ln(24.0) * 1e6 + 0.5) AS BIGINT)")}
         AS entropy_vs_uniform
FROM e GROUP BY event_type
"""


@register("events_hour_entropy_by_type", _HOUR_ENTROPY_SQL)
def events_hour_entropy_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each event type's hour-of-day distribution,
    normalized against uniform ln(24) — how time-concentrated is each
    behavior (errors around deploys ⇒ low entropy; organic clicks ⇒
    high), the time-of-day member of the entropy family beside
    transition (user_transition_entropy), character (ns_char_entropy),
    and language-mix (ns_lang_mix_kl) entropies. Per-cell k·⌊|ln p|⌉
    quantization → int64 sum → ONE integer division by n; the uniform
    baseline ln(24) enters as the same quantized integer in both
    dialects."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("event_type", F.hour("ts").alias("hr")).agg(F.count("*").alias("k"))
    t = c.groupBy("event_type").agg(F.sum("k").alias("n"))
    e = c.join(F.broadcast(t), "event_type").select(
        "event_type",
        "n",
        (
            F.col("k")
            * F.floor(
                F.abs(F.log(F.col("k").cast("double") / F.col("n"))) * 1e6 + 0.5
            ).cast("long")
        ).alias("num"),
    )
    agg = e.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"),
        F.count("*").cast("long").alias("n_active_hours"),
        F.expr("sum(num) div max(n)").cast("long").alias("entropy_micro"),
    )
    ln24_micro = F.floor(F.log(F.lit(24.0)) * 1e6 + 0.5).cast("long")
    return agg.select(
        "event_type",
        "n",
        "n_active_hours",
        "entropy_micro",
        round6(F.col("entropy_micro").cast("double") / ln24_micro).alias(
            "entropy_vs_uniform"
        ),
    )
