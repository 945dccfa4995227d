"""Round-4 batch 12: the Arrow-optimized scalar Python UDF path, pinball-loss
forecast evaluation and a generated date dimension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.functions.rounding import round6, round6_sql
from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table, spread


# ---------------------------------------------------------------------------
# Arrow-optimized scalar Python UDF (the useArrow=True path)
# ---------------------------------------------------------------------------

_ARROW_UDF_SQL = """
SELECT doc_id,
       md5(regexp_replace(lower(trim(text)), ' +', ' ', 'g')) AS norm_hash,
       CAST(len(regexp_replace(lower(trim(text)), ' +', ' ', 'g')) AS INT)
         AS norm_len
FROM documents WHERE doc_id <= 200
"""


@register("udf_arrow_normalize", _ARROW_UDF_SQL)
def udf_arrow_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text canonicalization through an ARROW-OPTIMIZED scalar Python
    UDF (`useArrow=True`, Spark 3.5) — the remaining execution path in
    the UDF matrix (scalar pandas_udf, mapInPandas, applyInPandas,
    applyInPandasWithState, UDTF, grouped-agg UDAF are covered
    elsewhere). Arrow-serialized scalar UDFs batch rows columnar
    across the Python boundary (~2-5× over pickled row-at-a-time) while
    keeping plain per-value Python semantics — the right tool when the
    logic is genuinely scalar but the default UDF tax is too high.

    The normalization (trim → lower → collapse runs of spaces) is
    reimplemented in the oracle as pure SQL regexp — the UDF must agree
    byte-for-byte, md5-hashed so the compare carries no long text."""
    import re

    from pyspark.sql.functions import udf

    ws = re.compile(r" +")

    @udf("string", useArrow=True)
    def normalize(s: str) -> str:
        return ws.sub(" ", s.strip().lower())

    docs = spread(load_table(spark, sf_dir, "documents")).filter(
        F.col("doc_id") <= 200
    )
    return docs.select(
        "doc_id",
        F.md5(normalize(F.col("text"))).alias("norm_hash"),
        F.length(normalize(F.col("text"))).cast("int").alias("norm_len"),
    )


# ---------------------------------------------------------------------------
# forecast evaluation: naive seasonal predictor vs pinball/MAE metrics
# ---------------------------------------------------------------------------

_PINBALL_Q10 = 9  # q = 0.9 → losses kept ×10 so everything stays int64

_FC_SQL = f"""
WITH h AS (
  SELECT event_type,
         epoch_us(date_trunc('hour', ts)) // 3600000000 AS hi,
         sum(CAST(round(value, 0) AS BIGINT)) AS v
  FROM events GROUP BY 1, 2
),
p AS (
  -- naive seasonal forecast: same hour yesterday (hi - 24)
  SELECT a.event_type, a.v AS actual, b.v AS fc
  FROM h a JOIN h b ON a.event_type = b.event_type AND b.hi = a.hi - 24
)
SELECT event_type,
       count(*) AS n_forecasts,
       CAST(sum(abs(actual - fc)) AS BIGINT) AS mae_num,
       CAST(sum(actual - fc) AS BIGINT) AS bias_num,
       CAST(sum(CASE WHEN actual >= fc
                     THEN {_PINBALL_Q10} * (actual - fc)
                     ELSE (fc - actual) END) AS BIGINT) AS pinball90_x10,
       {round6_sql("CAST(sum(abs(actual - fc)) AS DOUBLE) / count(*)")} AS mae
FROM p GROUP BY event_type
"""


@register("forecast_pinball_eval", _FC_SQL)
def forecast_pinball_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast evaluation: the naive seasonal predictor (same hour
    yesterday) scored per channel with MAE, bias, and the q=0.9
    PINBALL (quantile) loss — the metric that grades probabilistic
    forecasts (and the yardstick any Holt/seasonal model must beat;
    cf. ts_holt_linear, ts_seasonal_baseline). Pinball is kept ×10 —
    max(9(y−ŷ), (ŷ−y)) — so every loss sum is exact int64; MAE's
    single division is the only rounded double.

    Shape: one hourly agg (the only data-sized shuffle), a self-join on
    the integer hour index shifted by 24, one summary agg."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type",
        F.expr("unix_micros(date_trunc('hour', ts)) div 3600000000").alias("hi"),
    ).agg(F.sum(F.round(F.col("value"), 0).cast("long")).alias("v"))
    a = h.select("event_type", "hi", F.col("v").alias("actual"))
    b = h.select("event_type", (F.col("hi") + 24).alias("hi"), F.col("v").alias("fc"))
    p = a.join(b, ["event_type", "hi"])
    err = F.col("actual") - F.col("fc")
    pin = F.when(err >= 0, _PINBALL_Q10 * err).otherwise(-err)
    return p.groupBy("event_type").agg(
        F.count("*").alias("n_forecasts"),
        F.sum(F.abs(err)).cast("long").alias("mae_num"),
        F.sum(err).cast("long").alias("bias_num"),
        F.sum(pin).cast("long").alias("pinball90_x10"),
        round6(F.sum(F.abs(err)).cast("double") / F.count("*")).alias("mae"),
    )


# ---------------------------------------------------------------------------
# date-dimension generation (the warehouse calendar table)
# ---------------------------------------------------------------------------

_DD_START, _DD_END = "2024-01-01", "2024-12-31"

_DD_SQL = f"""
SELECT strftime(d, '%Y-%m-%d') AS date_key,
       CAST(year(d) AS INT) AS year,
       CAST(quarter(d) AS INT) AS quarter,
       CAST(month(d) AS INT) AS month,
       CAST(day(d) AS INT) AS day_of_month,
       CAST(isodow(d) AS INT) AS iso_dow,
       isodow(d) >= 6 AS is_weekend,
       d = last_day(d) AS is_month_end,
       CAST(date_diff('day', DATE '{_DD_START}', d) AS INT) AS day_index
FROM (SELECT unnest(generate_series(DATE '{_DD_START}', DATE '{_DD_END}',
                                    INTERVAL 1 DAY)) AS d)
"""


@register("date_dimension_generate", _DD_SQL)
def date_dimension_generate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-dimension generation — the calendar table every warehouse
    keys its facts to, produced by a distributed sequence explode (no
    source table at all): ISO weekday, weekend/month-end flags,
    quarter, day index. Joins against it replace per-query date math
    and give the optimizer a broadcastable dimension; at scale the
    generator is O(days), trivially parallel, and deterministic by
    construction. (ISO weekday and month boundaries agree across
    engines; week-of-year deliberately omitted — Spark and DuckDB
    disagree on the week-1 rule for some years.)"""
    days = spark.sql(
        f"""SELECT explode(sequence(date'{_DD_START}', date'{_DD_END}',
                                    interval 1 day)) AS d"""
    )
    iso_dow = F.weekday(F.col("d")) + 1
    return days.select(
        F.date_format("d", "yyyy-MM-dd").alias("date_key"),
        F.year("d").cast("int").alias("year"),
        F.quarter("d").cast("int").alias("quarter"),
        F.month("d").cast("int").alias("month"),
        F.dayofmonth("d").cast("int").alias("day_of_month"),
        iso_dow.cast("int").alias("iso_dow"),
        (iso_dow >= 6).alias("is_weekend"),
        (F.col("d") == F.last_day("d")).alias("is_month_end"),
        F.datediff("d", F.lit(_DD_START).cast("date")).cast("int").alias("day_index"),
    )
