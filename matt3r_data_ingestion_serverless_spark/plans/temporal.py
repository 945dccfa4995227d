"""Time-series join queries: as-of join, range (interval containment)
join, and interval coalescing over the events table.

The reference has no relational joins at all (SURVEY §2.6); these are
the time-series join surface every telemetry/training-data engine
needs. DuckDB's native ASOF JOIN / inequality joins are the oracles —
the Spark side uses the scalable union+window composition
(operators/temporal.py), so parity here proves the composition
implements textbook as-of semantics exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.operators.temporal import (
    asof_join,
    coalesce_intervals,
)
from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table


@register(
    "asof_join_purchase_view",
    sql="""
WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
v AS (SELECT user_id, ts, value FROM events WHERE event_type = 'view')
SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
       epoch_us(v.ts) AS view_ts_us,
       round(v.value, 6) AS view_value
FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts
""",
)
def asof_join_purchase_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase picks up the user's latest prior (or
    simultaneous) view. Spark side = union + last(ignorenulls) window —
    one shuffle on user_id, no inequality join, no per-row scan; the
    oracle is DuckDB's native ASOF JOIN."""
    events = load_table(spark, sf_dir, "events")
    p = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    v = events.filter(F.col("event_type") == "view").select("user_id", "ts", "value")
    joined = asof_join(
        p, v, key="user_id", left_ts="ts", right_ts="ts", right_cols=["value"]
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.unix_micros("asof_ts").alias("view_ts_us"),
        F.round("value", 6).alias("view_value"),
    )


@register(
    "range_interval_join",
    sql="""
WITH s AS (SELECT event_id AS signup_id, user_id, ts AS start_ts,
                  ts + INTERVAL 1 HOUR AS end_ts
           FROM events WHERE event_type = 'signup'),
c AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click')
SELECT signup_id, s.user_id, count(*) AS n_clicks,
       round(sum(c.value), 6) AS click_value
FROM s JOIN c ON s.user_id = c.user_id
             AND c.ts >= s.start_ts AND c.ts < s.end_ts
GROUP BY signup_id, s.user_id
""",
)
def range_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: clicks landing inside the hour after each signup.
    The equi-key (user_id) carries the shuffle; the range predicate is a
    post-join filter, so this plans as a hash join, not a
    nested-loop. A keyless band join would instead bucket both sides by
    time (join on overlapping buckets, then filter) — same pattern as
    the LSH candidate joins."""
    events = load_table(spark, sf_dir, "events")
    s = events.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        "user_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("end_ts"),
    )
    c = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"), "value"
    )
    return (
        s.join(
            c,
            (F.col("user_id") == F.col("c_user"))
            & (F.col("c_ts") >= F.col("start_ts"))
            & (F.col("c_ts") < F.col("end_ts")),
        )
        .groupBy("signup_id", "user_id")
        .agg(
            F.count("*").alias("n_clicks"),
            F.round(F.sum("value"), 6).alias("click_value"),
        )
    )


@register(
    "j2_interval_coalesce",
    sql="""
WITH iv AS (SELECT user_id, ts AS start_ts, ts + INTERVAL 15 MINUTE AS end_ts
            FROM events WHERE event_type = 'purchase'),
flagged AS (
  SELECT user_id, start_ts, end_ts,
         CASE WHEN max(end_ts) OVER (PARTITION BY user_id ORDER BY start_ts, end_ts
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL THEN 1
              WHEN start_ts > max(end_ts) OVER (PARTITION BY user_id ORDER BY start_ts, end_ts
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) THEN 1
              ELSE 0 END AS new_grp
  FROM iv),
grouped AS (
  SELECT user_id, start_ts, end_ts,
         sum(new_grp) OVER (PARTITION BY user_id ORDER BY start_ts, end_ts
           ROWS UNBOUNDED PRECEDING) AS grp
  FROM flagged)
SELECT user_id, epoch_us(min(start_ts)) AS start_us,
       epoch_us(max(end_ts)) AS end_us, count(*) AS n_merged
FROM grouped GROUP BY user_id, grp
""",
)
def j2_interval_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 generalized (infer_stationary_states.py:117-133): merge
    overlapping 15-minute activity intervals per user via running-max
    grouping — the set-based form of the reference's prepend/append/
    skip interval-list merge. One shuffle; running max, group id, and
    final agg all reuse the user_id partitioning."""
    events = load_table(spark, sf_dir, "events")
    iv = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 15 MINUTE")).alias("end_ts"),
    )
    merged = coalesce_intervals(iv, key="user_id", start="start_ts", end="end_ts")
    return merged.select(
        "user_id",
        F.unix_micros("start_ts").alias("start_us"),
        F.unix_micros("end_ts").alias("end_us"),
        "n_merged",
    )


@register(
    "trailing_range_window",
    sql="""
SELECT event_id, user_id, epoch_us(ts) AS ts_us,
       count(*) OVER w AS n_15m,
       round(sum(value) OVER w, 6) AS sum_15m
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 15 MINUTES PRECEDING AND CURRENT ROW)
""",
)
def trailing_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame: per event, the count and sum of the
    same user's activity in the trailing 15 minutes — a value-based
    frame (rangeBetween), not a row-count frame, so sparse and dense
    periods get the same time horizon. Complements the hopping-window
    aggregate (sliding_window_rates): this is the per-event continuous
    variant a feature pipeline feeds to a model.

    Spark-first: one shuffle on user_id; the frame is evaluated in a
    single sorted pass per partition with a sliding accumulator (Spark
    adds/removes rows at the frame edges — no per-row rescan of the 15
    minute span). Ordering key is unix_micros so frame bounds are exact
    integer µs; RANGE peers (equal timestamps) enter the frame together
    in both engines."""
    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-15 * 60 * 1_000_000, 0)
    )
    return events.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.count("*").over(w).alias("n_15m"),
        F.round(F.sum("value").over(w), 6).alias("sum_15m"),
    )


@register(
    "median_mad_by_type",
    sql="""
WITH med AS (
  SELECT event_type, median(value) AS med FROM events GROUP BY event_type
),
dev AS (
  SELECT e.event_type, abs(e.value - m.med) AS ad, m.med
  FROM events e JOIN med m ON e.event_type = m.event_type
)
SELECT event_type,
       round(max(med), 6) AS median_value,
       round(median(ad), 6) AS mad,
       count(*) AS n
FROM dev GROUP BY event_type
""",
)
def median_mad_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust location/scale per event type: median + MAD (median
    absolute deviation) — the outlier-resistant alternative to
    mean/stddev for telemetry channels with fat tails; MAD needs a
    second pass over deviations from the first-pass median.

    Scale: two chained aggregations on the same key (the median join
    broadcasts — one row per type); exact medians sort within groups,
    so at extreme group sizes swap in approx_percentile(0.5) — same
    shape, bounded memory (the approx twin of quantiles_by_flag)."""
    e = load_table(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(F.median("value").alias("med"))
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("value") - F.col("med")).alias("ad"), "med"
    )
    return dev.groupBy("event_type").agg(
        F.round(F.max("med"), 6).alias("median_value"),
        F.round(F.median("ad"), 6).alias("mad"),
        F.count("*").alias("n"),
    )


@register(
    "peak_concurrency_sweep",
    sql="""
WITH iv AS (
  SELECT ts AS start_ts, ts + INTERVAL 15 MINUTE AS end_ts
  FROM events WHERE event_type = 'purchase'
),
pts AS (
  SELECT epoch_us(start_ts) AS t, 1 AS delta FROM iv
  UNION ALL
  SELECT epoch_us(end_ts) AS t, -1 AS delta FROM iv
),
sweep AS (
  SELECT t, delta,
         sum(delta) OVER (ORDER BY t, delta ROWS UNBOUNDED PRECEDING)
           AS concurrency
  FROM pts
)
SELECT max(concurrency) AS peak_concurrency,
       min(t) FILTER (WHERE concurrency =
         (SELECT max(concurrency) FROM sweep)) AS first_peak_us,
       CAST(count(*) AS BIGINT) AS n_boundary_events
FROM sweep
""",
)
def peak_concurrency_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line concurrency: max simultaneously-open activity
    intervals fleet-wide — the capacity-planning number (how many
    vehicles upload at once). Interval edges become ±1 deltas; the
    running sum over one time ordering IS the concurrency curve.
    Half-open [start, end): at equal timestamps the −1 sorts first
    (delta asc), so touching intervals don't double-count. Pure
    integer math.

    Scale: a global-ordering running sum — the same single-ordering
    trade as ns_sequence_packing; at 100 TB sweep per shard (day/
    region) first, then merge shard curves at their boundaries."""
    e = load_table(spark, sf_dir, "events")
    iv = e.filter(F.col("event_type") == "purchase").select(
        F.unix_micros("ts").alias("s"),
        F.unix_micros(F.col("ts") + F.expr("INTERVAL 15 MINUTE")).alias("t_end"),
    )
    pts = iv.select(F.col("s").alias("t"), F.lit(1).alias("delta")).unionByName(
        iv.select(F.col("t_end").alias("t"), F.lit(-1).alias("delta"))
    )
    w = Window.orderBy("t", "delta").rowsBetween(Window.unboundedPreceding, 0)
    sweep = pts.select("t", "delta", F.sum("delta").over(w).alias("concurrency"))
    peak = sweep.agg(F.max("concurrency").alias("pk"))
    return (
        sweep.crossJoin(F.broadcast(peak))
        .agg(
            F.max("concurrency").alias("peak_concurrency"),
            F.min(F.when(F.col("concurrency") == F.col("pk"), F.col("t"))).alias(
                "first_peak_us"
            ),
            F.count("*").alias("n_boundary_events"),
        )
    )
