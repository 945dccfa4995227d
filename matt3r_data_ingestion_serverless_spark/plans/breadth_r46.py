"""Round-2 batch 21 (this run): position-based (U-shaped) attribution
and expected calibration error.

Attribution shares use integer micro-division with the remainder
assigned to the first touch; ECE is a single double expression over
exact int64 sums (SCALE.md §13).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.functions.rounding import round6, round6_sql
from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# position-based (40/20/40) attribution of purchase value
# ---------------------------------------------------------------------------

_PBA_SQL = """
WITH seq AS (
  SELECT user_id, event_id, event_type, ts,
         row_number() OVER w AS rn,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
conv AS (
  SELECT user_id, sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS conv_micro
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
),
shares AS (
  SELECT s.event_type,
         CASE WHEN s.n = 1 THEN c.conv_micro * 1000
              WHEN s.n = 2 THEN c.conv_micro * 500
              WHEN s.rn = 1 OR s.rn = s.n THEN c.conv_micro * 400
              ELSE (c.conv_micro * 200) // (s.n - 2)
                   + CASE WHEN s.rn = 2
                          THEN (c.conv_micro * 200) % (s.n - 2) ELSE 0 END
         END AS share_milli
  FROM seq s JOIN conv c USING (user_id)
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_touches,
       CAST(sum(share_milli) AS BIGINT) AS credit_millicents
FROM shares GROUP BY event_type
"""


@register("position_based_attribution", _PBA_SQL)
def position_based_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped 40/20/40) multi-touch attribution:
    each user's purchase value credits 40% to the first touch, 40% to
    the last, and 20% split across the middles — the standard
    compromise between first- and last-touch (last_touch_attribution).
    Credit is distributed in integer MILLI-cents by true integer
    division, with the division remainder assigned to the first middle
    touch — so Σcredit = 1000 × Σconversions EXACTLY (conservation
    asserted in tests) and no float rounding can leak value. One
    sequence window + one broadcast of per-user conversion totals."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("user_id")).alias("n"),
    )
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long")).alias("conv_micro"))
    )
    j = seq.join(conv, "user_id")
    mid_base = F.expr("(conv_micro * 200) div (n - 2)")
    mid_rem = F.expr("(conv_micro * 200) % (n - 2)")
    share = (
        F.when(F.col("n") == 1, F.col("conv_micro") * 1000)
        .when(F.col("n") == 2, F.col("conv_micro") * 500)
        .when((F.col("rn") == 1) | (F.col("rn") == F.col("n")), F.col("conv_micro") * 400)
        .otherwise(mid_base + F.when(F.col("rn") == 2, mid_rem).otherwise(0))
    )
    return (
        j.select("event_type", share.alias("share_milli"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_touches"),
            F.sum("share_milli").cast("long").alias("credit_millicents"),
        )
    )


# ---------------------------------------------------------------------------
# expected calibration error over the reliability bins
# ---------------------------------------------------------------------------

_ECE_SQL = f"""
WITH scored AS (
  SELECT CAST(floor(1.0 / (1.0 + exp(-(value - 50.0) / 25.0)) * 1e6 + 0.5) AS BIGINT)
           AS score_micro,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
  FROM events
),
b AS (
  SELECT least(score_micro // 100000, 9) AS bin,
         count(*) AS n, sum(pos) AS n_pos, sum(score_micro) AS sm
  FROM scored GROUP BY 1
),
g AS (
  SELECT bin, n,
         abs(sm - n_pos * 1000000) // n AS gap_micro
  FROM b
),
tot AS (SELECT sum(n) AS total FROM g)
SELECT CAST(max(tot.total) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_bins,
       CAST(sum(g.n * g.gap_micro) AS BIGINT) AS weighted_gap_micro,
       {round6_sql(
           "CAST(sum(g.n * g.gap_micro) AS DOUBLE) / max(tot.total) / 1e6"
       )} AS ece
FROM g CROSS JOIN tot
"""


@register("ml_expected_calibration_error", _ECE_SQL)
def ml_expected_calibration_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected calibration error — the single-number summary of
    ml_calibration_bins' reliability diagram: ECE = Σ_b (n_b/N)·
    |mean_pred_b − frac_pos_b|. The per-bin gap is computed as ONE
    integer division of |Σscore_micro − n_pos·10⁶| by n_b (micro-unit
    floor — never a float subtraction of two means), so the weighted
    sum is exact int64 and ECE divides once. Same micro-quantized
    scorer and integer bin edges as the reliability diagram."""
    ev = load_table(spark, sf_dir, "events")
    score = 1.0 / (1.0 + F.exp(-(F.col("value") - 50.0) / 25.0))
    scored = ev.select(
        F.floor(score * 1e6 + 0.5).cast("long").alias("score_micro"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("pos"),
    )
    b = scored.groupBy(
        F.least(F.floor(F.col("score_micro") / 100000).cast("long"), F.lit(9)).alias("bin")
    ).agg(
        F.count("*").alias("n"),
        F.sum("pos").alias("n_pos"),
        F.sum("score_micro").alias("sm"),
    )
    g = b.select(
        "bin",
        "n",
        F.expr("abs(sm - n_pos * 1000000) div n").alias("gap_micro"),
    )
    tot = g.agg(F.sum("n").alias("total"))
    agg = g.crossJoin(F.broadcast(tot)).groupBy("total").agg(
        F.count("*").alias("n_bins"),
        F.sum(F.col("n") * F.col("gap_micro")).alias("wg"),
    )
    return agg.select(
        F.col("total").cast("long").alias("n_rows"),
        F.col("n_bins").cast("long").alias("n_bins"),
        F.col("wg").cast("long").alias("weighted_gap_micro"),
        round6(F.col("wg").cast("double") / F.col("total") / 1e6).alias("ece"),
    )
