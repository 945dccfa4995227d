"""Round-4 batch 9: numerical differentiation of irregular telemetry,
peak-over-threshold tail analysis and the SPC control chart.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.functions.rounding import round6, round6_sql
from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# central-difference derivative of an irregular series
# ---------------------------------------------------------------------------

_DERIV_SQL = f"""
WITH s AS (
  SELECT user_id, event_id, epoch_us(ts) AS t_us,
         CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events WHERE event_type = 'view'
),
w AS (
  SELECT user_id, event_id, t_us, cents,
         lag(cents)  OVER win AS c_prev, lag(t_us)  OVER win AS t_prev,
         lead(cents) OVER win AS c_next, lead(t_us) OVER win AS t_next
  FROM s
  WINDOW win AS (PARTITION BY user_id ORDER BY t_us, event_id)
)
SELECT user_id, event_id, CAST(t_us AS BIGINT) AS t_us,
       {round6_sql(
           "CAST(c_next - c_prev AS DOUBLE) * 864.0 "
           "/ (CAST(t_next - t_prev AS DOUBLE) / 100000000.0)"
       )} AS deriv_per_day
FROM w
WHERE c_prev IS NOT NULL AND c_next IS NOT NULL AND t_next > t_prev
"""


@register("ts_numerical_derivative", _DERIV_SQL)
def ts_numerical_derivative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Central-difference derivative over an IRREGULARLY sampled series:
    d/dt at each interior sample = (v₊ − v₋)/(t₊ − t₋), per device —
    how a telemetry stack derives acceleration from the reference's
    speed channel (parse_canserver_filtered_log.py:167-169) or power
    from an energy meter, without resampling first.

    One window (lag + lead share the same sort) per device hash; the
    quotient derives from exact int64 cents and µs with one fixed
    double formula (scaled to per-day units), so results match the
    oracle bit-for-bit. Endpoint samples have no central difference and
    drop — forward/backward one-sided stencils are the same lag/lead
    columns if a consumer needs them."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "view")
    s = ev.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("t_us"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    win = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    w = s.select(
        "user_id",
        "event_id",
        "t_us",
        F.lag("cents").over(win).alias("c_prev"),
        F.lag("t_us").over(win).alias("t_prev"),
        F.lead("cents").over(win).alias("c_next"),
        F.lead("t_us").over(win).alias("t_next"),
    )
    deriv = (
        (F.col("c_next") - F.col("c_prev")).cast("double")
        * 864.0
        / ((F.col("t_next") - F.col("t_prev")).cast("double") / 100000000.0)
    )
    return w.filter(
        F.col("c_prev").isNotNull()
        & F.col("c_next").isNotNull()
        & (F.col("t_next") > F.col("t_prev"))
    ).select("user_id", "event_id", "t_us", round6(deriv).alias("deriv_per_day"))


# ---------------------------------------------------------------------------
# peak-over-threshold tail analysis (EVT-style exceedance summary)
# ---------------------------------------------------------------------------

_POT_SQL = """
WITH v AS (
  SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events
),
vc AS (SELECT event_type, cents, count(*) AS c FROM v GROUP BY 1, 2),
cum AS (
  SELECT event_type, cents, c,
         sum(c) OVER (PARTITION BY event_type ORDER BY cents
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(c) OVER (PARTITION BY event_type) AS n
  FROM vc
),
thr AS (
  SELECT event_type, min(cents) AS u
  FROM cum WHERE cum >= ceil(0.99 * n)
  GROUP BY event_type
)
SELECT v.event_type,
       CAST(max(thr.u) AS BIGINT) AS threshold_cents,
       count(*) AS n_exceed,
       CAST(sum(v.cents - thr.u) AS BIGINT) AS total_excess_cents,
       CAST(max(v.cents) AS BIGINT) AS max_cents,
       {mean_excess} AS mean_excess_cents
FROM v JOIN thr ON v.event_type = thr.event_type
WHERE v.cents > thr.u
GROUP BY v.event_type
""".replace(
    "{mean_excess}",
    round6_sql("CAST(sum(v.cents - thr.u) AS DOUBLE) / count(*)"),
)


@register("ts_pot_tail_analysis", _POT_SQL)
def ts_pot_tail_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak-over-threshold tail analysis (the EVT first step): per
    channel, set the threshold at the exact p99 (value-histogram
    quantile, the exact_global_quantiles pattern per group), then
    summarize the exceedances — count, total and mean excess, max — the
    numbers a GPD tail fit consumes and capacity planning reads as
    "how bad is bad".

    All exact-int until the single rounded mean-excess division; the
    per-group histogram window replaces any raw-row sort, and the
    threshold table broadcasts back onto the scan."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type", F.round(F.col("value") * 100, 0).cast("long").alias("cents")
    )
    vc = v.groupBy("event_type", "cents").agg(F.count("*").alias("c"))
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = vc.select(
        "event_type",
        "cents",
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(Window.partitionBy("event_type")).alias("n"),
    )
    thr = (
        cum.filter(F.col("cum") >= F.ceil(0.99 * F.col("n")))
        .groupBy("event_type")
        .agg(F.min("cents").alias("u"))
    )
    j = v.join(F.broadcast(thr), "event_type").filter(F.col("cents") > F.col("u"))
    excess = F.col("cents") - F.col("u")
    return j.groupBy("event_type").agg(
        F.max("u").cast("long").alias("threshold_cents"),
        F.count("*").alias("n_exceed"),
        F.sum(excess).cast("long").alias("total_excess_cents"),
        F.max("cents").cast("long").alias("max_cents"),
        round6(F.sum(excess).cast("double") / F.count("*")).alias(
            "mean_excess_cents"
        ),
    )


# ---------------------------------------------------------------------------
# SPC individuals control chart (XmR)
# ---------------------------------------------------------------------------

_SPC_SQL = """
WITH d AS (
  SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         sum(CAST(round(value, 0) AS BIGINT)) AS v
  FROM events GROUP BY 1, 2
),
mr AS (
  SELECT event_type, day, v,
         abs(v - lag(v) OVER (PARTITION BY event_type ORDER BY day)) AS moving_range
  FROM d
),
lim AS (
  SELECT event_type,
         CAST(sum(v) AS DOUBLE) / count(*) AS center,
         CAST(sum(moving_range) AS DOUBLE) / count(moving_range) AS mr_bar
  FROM mr GROUP BY event_type
)
SELECT mr.event_type, mr.day, CAST(mr.v AS BIGINT) AS v,
       {center} AS center,
       {ucl} AS ucl,
       {lcl} AS lcl,
       (mr.v > lim.center + 2.66 * lim.mr_bar
        OR mr.v < lim.center - 2.66 * lim.mr_bar) AS out_of_control
FROM mr JOIN lim ON mr.event_type = lim.event_type
""".replace("{center}", round6_sql("lim.center")).replace(
    "{ucl}", round6_sql("lim.center + 2.66 * lim.mr_bar")
).replace("{lcl}", round6_sql("lim.center - 2.66 * lim.mr_bar"))


@register("ts_spc_control_chart", _SPC_SQL)
def ts_spc_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPC individuals chart (XmR, Shewhart): daily channel totals
    against center ± 2.66·mR̄ control limits (mR̄ = mean absolute
    successive difference) — the classic "is the process stable"
    monitor, a third alarm philosophy beside the rolling z-score
    (parametric) and rolling IQR (robust): SPC limits freeze on the
    WHOLE baseline and flag instability rather than outliers.

    The center/limits derive from exact int sums with fixed double
    formulas; the out-of-control comparison runs on UNROUNDED limits
    (rounding only reported columns). One day-grain agg, one lag
    window, one tiny per-channel limit table broadcast back."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type",
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day"),
    ).agg(F.sum(F.round(F.col("value"), 0).cast("long")).alias("v"))
    mr = d.select(
        "event_type",
        "day",
        "v",
        F.abs(
            F.col("v")
            - F.lag("v").over(Window.partitionBy("event_type").orderBy("day"))
        ).alias("moving_range"),
    )
    lim = mr.groupBy("event_type").agg(
        (F.sum("v").cast("double") / F.count("*")).alias("center"),
        (F.sum("moving_range").cast("double") / F.count("moving_range")).alias(
            "mr_bar"
        ),
    )
    j = mr.join(F.broadcast(lim), "event_type")
    ucl = F.col("center") + 2.66 * F.col("mr_bar")
    lcl = F.col("center") - 2.66 * F.col("mr_bar")
    return j.select(
        "event_type",
        "day",
        F.col("v").cast("long").alias("v"),
        round6(F.col("center")).alias("center"),
        round6(ucl).alias("ucl"),
        round6(lcl).alias("lcl"),
        ((F.col("v") > ucl) | (F.col("v") < lcl)).alias("out_of_control"),
    )
