"""Round-2 batch 13 (this run): the Hodges–Lehmann shift estimator and
the cumulative unique-user curve.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.functions.rounding import round6, round6_sql
from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# Hodges–Lehmann shift estimator between two daily series
# ---------------------------------------------------------------------------

_HL_SQL = """
WITH daily AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
         sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS cents
  FROM events WHERE event_type IN ('purchase', 'click')
  GROUP BY event_type, strftime(ts, '%Y-%m-%d')
),
diffs AS (
  SELECT p.cents - c.cents AS d
  FROM (SELECT cents FROM daily WHERE event_type = 'purchase') p
  CROSS JOIN (SELECT cents FROM daily WHERE event_type = 'click') c
),
r AS (
  SELECT d, row_number() OVER (ORDER BY d) AS rn, count(*) OVER () AS n
  FROM diffs
)
SELECT CAST(max(n) AS BIGINT) AS n_pairs,
       CAST(max(CASE WHEN rn = (n + 1) // 2 THEN d END) AS BIGINT) AS hl_lo_cents,
       CAST(max(CASE WHEN rn = n // 2 + 1 THEN d END) AS BIGINT) AS hl_hi_cents,
       CAST(min(d) AS BIGINT) AS min_diff,
       CAST(max(d) AS BIGINT) AS max_diff
FROM r
"""


@register("hodges_lehmann_shift", _HL_SQL)
def hodges_lehmann_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges–Lehmann estimator of the location shift between the
    purchase and click daily-value distributions — the median of ALL
    pairwise differences, the robust effect-size companion to the
    rank tests (Mann-Whitney's point estimate). Aggregate-first: the
    O(n₁·n₂) pair grid is built from ~365-row daily rollups, never raw
    events (the only sound way at 100 TB); differences are exact
    integer cents and both middle order statistics are reported
    (median = their average for even N, left to the reader to avoid a
    fractional cent)."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type").isin("purchase", "click"))
        .groupBy("event_type", F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long")).alias("cents"))
    )
    p = daily.filter(F.col("event_type") == "purchase").select(
        F.col("cents").alias("pc")
    )
    c = daily.filter(F.col("event_type") == "click").select(F.col("cents").alias("cc"))
    diffs = p.crossJoin(c).select((F.col("pc") - F.col("cc")).alias("d"))
    r = diffs.select(
        "d",
        F.row_number().over(Window.orderBy("d")).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    return r.agg(
        F.max("n").cast("long").alias("n_pairs"),
        F.max(F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("d")))
        .cast("long")
        .alias("hl_lo_cents"),
        F.max(F.when(F.col("rn") == F.expr("n div 2 + 1"), F.col("d")))
        .cast("long")
        .alias("hl_hi_cents"),
        F.min("d").cast("long").alias("min_diff"),
        F.max("d").cast("long").alias("max_diff"),
    )


# ---------------------------------------------------------------------------
# cumulative unique-user acquisition curve
# ---------------------------------------------------------------------------

_CUM_SQL = """
WITH first_day AS (
  SELECT user_id, min(strftime(ts, '%Y-%m-%d')) AS day FROM events GROUP BY user_id
),
new_users AS (SELECT day, count(*) AS new_users FROM first_day GROUP BY day)
SELECT day,
       CAST(new_users AS BIGINT) AS new_users,
       CAST(sum(new_users) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
FROM new_users
"""


@register("cumulative_unique_users", _CUM_SQL)
def cumulative_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct-user acquisition curve — the growth chart's
    data: per day, how many users appear for the FIRST time and the
    running total. The classic trap is COUNT(DISTINCT) per expanding
    window (quadratic rescans); the scalable identity is first-touch
    attribution — one min-day per user, then a day-grain rollup and a
    ~365-row cumulative window. Complements rolling_7d_distinct_users
    (trailing distinct) with the expanding variant."""
    ev = load_table(spark, sf_dir, "events")
    first_day = ev.groupBy("user_id").agg(
        F.min(F.date_format("ts", "yyyy-MM-dd")).alias("day")
    )
    new_users = first_day.groupBy("day").agg(F.count("*").alias("new_users"))
    cum = F.sum("new_users").over(
        Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return new_users.select(
        "day",
        F.col("new_users").cast("long").alias("new_users"),
        cum.cast("long").alias("cum_users"),
    )
