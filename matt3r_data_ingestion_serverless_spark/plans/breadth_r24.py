"""Round-4 batch 20: exact weighted quantiles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# exact weighted median (quantity-weighted price per flag)
# ---------------------------------------------------------------------------

_WMED_SQL = f"""
WITH v AS (
  SELECT l_returnflag AS flag,
         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents,
         CAST(l_quantity AS BIGINT) AS w
  FROM lineitem
),
vc AS (SELECT flag, cents, sum(w) AS w FROM v GROUP BY 1, 2),
cum AS (
  SELECT flag, cents, w,
         sum(w) OVER (PARTITION BY flag ORDER BY cents
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
         sum(w) OVER (PARTITION BY flag) AS tw
  FROM vc
)
SELECT flag,
       CAST(max(tw) AS BIGINT) AS total_weight,
       CAST(min(CASE WHEN 2 * cw >= tw THEN cents END) AS BIGINT)
         AS weighted_median_cents,
       CAST(min(CASE WHEN 10 * cw >= 9 * tw THEN cents END) AS BIGINT)
         AS weighted_p90_cents
FROM cum GROUP BY flag
"""


@register("weighted_median_price", _WMED_SQL)
def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT weighted quantiles: the price at which half (p50) / 90%
    (p90) of the shipped QUANTITY sits at or below — "the median unit
    moved at this price", which is what pricing/mix analysis means by
    median, not the median line item. Thresholds are integer
    cross-multiplied (2·cw ≥ tw, 10·cw ≥ 9·tw) so no float share can
    flip the cutoff.

    Same value-histogram discipline as exact_global_quantiles, with the
    cumulative window running over WEIGHT mass instead of row counts —
    the weighted generalization neither engine has as a built-in
    (DuckDB's quantile ignores weights; Spark has no weighted
    percentile at all)."""
    li = load_table(spark, sf_dir, "lineitem")
    v = li.select(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("cents"),
        F.col("l_quantity").cast("long").alias("w"),
    )
    vc = v.groupBy("flag", "cents").agg(F.sum("w").alias("w"))
    cum = vc.select(
        "flag",
        "cents",
        F.sum("w")
        .over(
            Window.partitionBy("flag")
            .orderBy("cents")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .alias("cw"),
        F.sum("w").over(Window.partitionBy("flag")).alias("tw"),
    )
    return cum.groupBy("flag").agg(
        F.max("tw").cast("long").alias("total_weight"),
        F.min(F.when(2 * F.col("cw") >= F.col("tw"), F.col("cents")))
        .cast("long")
        .alias("weighted_median_cents"),
        F.min(F.when(10 * F.col("cw") >= 9 * F.col("tw"), F.col("cents")))
        .cast("long")
        .alias("weighted_p90_cents"),
    )
