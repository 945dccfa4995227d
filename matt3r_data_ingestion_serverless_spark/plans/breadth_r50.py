"""Round-2 batch 25 (this run): a weekday seasonal index.

Index shares use cross-multiplied true integer division, so they are
engine-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.functions.rounding import round6, round6_sql
from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# weekday seasonal index of order revenue
# ---------------------------------------------------------------------------

_WSI_SQL = f"""
WITH d AS (
  SELECT dayofweek(o_orderdate) AS dow,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
),
w AS (SELECT dow, count(*) AS n_w, sum(cents) AS s_w FROM d GROUP BY dow),
t AS (SELECT sum(n_w) AS n_tot, sum(s_w) AS s_tot FROM w)
SELECT w.dow,
       CAST(w.n_w AS BIGINT) AS n_orders,
       CAST(w.s_w AS BIGINT) AS revenue_cents,
       CAST((((w.s_w * 1000) // w.n_w) * 1000000)
            // ((t.s_tot * 1000) // t.n_tot) AS BIGINT) AS index_micro,
       {round6_sql(
           "(CAST(w.s_w AS DOUBLE) / w.n_w) / (CAST(t.s_tot AS DOUBLE) / t.n_tot)"
       )} AS seasonal_index
FROM w CROSS JOIN t
"""


@register("weekday_seasonal_index", _WSI_SQL)
def weekday_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday seasonal index of average order value — each weekday's
    mean vs the overall mean, the ratio-of-ratios that drives staffing
    and promotion calendars (the weekly twin of ts_seasonal_baseline's
    diurnal profile). The index is computed TWICE: as a two-stage
    BIGINT division over milli-cent means (the single-rational DECIMAL
    form is NOT portable — DuckDB routes DECIMAL // through DOUBLE and
    loses exactness past 2⁵³; quantize the means first, then divide)
    and as the conventional double ratio (round6) — the pair
    demonstrates the repo's exactness discipline. One 7-row agg + a 1-row
    broadcast. Spark's dayofweek (1=Sunday) is shifted by −1 so both
    dialects key the row on the same 0=Sunday..6 convention."""
    orders = load_table(spark, sf_dir, "orders")
    d = orders.select(
        (F.dayofweek("o_orderdate") - 1).alias("dow"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents"),
    )
    w = d.groupBy("dow").agg(F.count("*").alias("n_w"), F.sum("cents").alias("s_w"))
    t = w.agg(F.sum("n_w").alias("n_tot"), F.sum("s_w").alias("s_tot"))
    j = w.crossJoin(F.broadcast(t))
    idx_int = F.expr(
        "cast((((s_w * 1000) div n_w) * 1000000)"
        " div ((s_tot * 1000) div n_tot) as bigint)"
    )
    idx_dbl = (F.col("s_w").cast("double") / F.col("n_w")) / (
        F.col("s_tot").cast("double") / F.col("n_tot")
    )
    return j.select(
        "dow",
        F.col("n_w").cast("long").alias("n_orders"),
        F.col("s_w").cast("long").alias("revenue_cents"),
        idx_int.alias("index_micro"),
        round6(idx_dbl).alias("seasonal_index"),
    )
