"""Round-2 batch 15 (this run): a daily periodogram.

The periodogram's trig factors are quantized to micro-units per term
(identical pi literal in both dialects) so the only cross-row sums are
int64.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.functions.rounding import round6, round6_sql
from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# periodogram of the daily event-count series
# ---------------------------------------------------------------------------

_PGRAM_FREQS = 10
_PI = 3.141592653589793


def _pgram_sql() -> str:
    return f"""
WITH daily AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS cnt FROM events
  GROUP BY strftime(ts, '%Y-%m-%d')
),
r AS (
  SELECT cnt, row_number() OVER (ORDER BY day) - 1 AS t,
         count(*) OVER () AS n
  FROM daily
),
terms AS (
  SELECT k.k, r.n,
         r.cnt * CAST(floor(cos(2 * {_PI} * k.k * r.t / r.n) * 1e6 + 0.5) AS BIGINT)
           AS c_micro,
         r.cnt * CAST(floor(sin(2 * {_PI} * k.k * r.t / r.n) * 1e6 + 0.5) AS BIGINT)
           AS s_micro
  FROM r CROSS JOIN (SELECT unnest(range(1, {_PGRAM_FREQS + 1})) AS k) k
),
s AS (
  SELECT k, max(n) AS n, sum(c_micro) AS cs, sum(s_micro) AS ss
  FROM terms GROUP BY k
)
SELECT k AS freq_k,
       CAST(n AS BIGINT) AS n_days,
       CAST(cs AS BIGINT) AS cos_sum_micro,
       CAST(ss AS BIGINT) AS sin_sum_micro,
       {round6_sql(
           "(CAST(cs AS DOUBLE) * cs + CAST(ss AS DOUBLE) * ss) / 1e12 / n"
       )} AS power
FROM s
"""


@register("ts_periodogram_daily", _pgram_sql())
def ts_periodogram_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Periodogram (discrete Fourier power) of the daily event-count
    series at frequencies k = 1..10 cycles/span — the spectral
    seasonality detector beside ts_autocorr_hourly's fixed lags. Trig
    factors cos/sin(2πkt/n) are quantized to micro-units PER TERM (the
    π literal is shared by both dialects), so the Fourier sums are
    exact int64 over integer daily counts and the power is one closed
    form. Aggregate-first: the DFT runs on ~365 day rows × 10
    frequencies, never raw events — the only sound way to take a
    spectrum at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day")).agg(
        F.count("*").alias("cnt")
    )
    from pyspark.sql import Window

    r = daily.select(
        "cnt",
        (F.row_number().over(Window.orderBy("day")) - 1).alias("t"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    ks = F.explode(F.sequence(F.lit(1), F.lit(_PGRAM_FREQS))).alias("k")
    theta = 2 * _PI * F.col("k") * F.col("t") / F.col("n")
    terms = r.select("cnt", "t", "n", ks).select(
        "k",
        "n",
        (F.col("cnt") * F.floor(F.cos(theta) * 1e6 + 0.5).cast("long")).alias("c_micro"),
        (F.col("cnt") * F.floor(F.sin(theta) * 1e6 + 0.5).cast("long")).alias("s_micro"),
    )
    s = terms.groupBy("k").agg(
        F.max("n").alias("n"), F.sum("c_micro").alias("cs"), F.sum("s_micro").alias("ss")
    )
    power = (
        F.col("cs").cast("double") * F.col("cs") + F.col("ss").cast("double") * F.col("ss")
    ) / 1e12 / F.col("n")
    return s.select(
        F.col("k").alias("freq_k"),
        F.col("n").cast("long").alias("n_days"),
        F.col("cs").cast("long").alias("cos_sum_micro"),
        F.col("ss").cast("long").alias("sin_sum_micro"),
        round6(power).alias("power"),
    )
