"""The time-series query domain: smoothing, trend and change-point
tests, spectra, autocorrelation, resampling and alarm rules over the
events table read as one series per channel (event_type), per user or
per calendar bucket. Each query is graded against a DuckDB oracle.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.functions.rounding import (
    CENTS_SQL,
    cents,
    round6,
    round6_sql,
)
from matt3r_data_ingestion_serverless_spark.operators.temporal import asof_join
from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.plans.telemetry import events_stream
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table
from matt3r_data_ingestion_serverless_spark.streaming.pipeline import collect_stream


# ---------------------------------------------------------------------------
# the shared series: each is built once here and read by every query
# that needs it. Catalyst prunes the aggregates a query does not read,
# so a wide frame costs its narrow consumers nothing.
# ---------------------------------------------------------------------------


def event_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(event_type, day, di, n, units, cents)``: each channel's daily
    series. ``di`` is the day number of ``to_date(ts)`` since 2024-01-01
    and ``day`` the same date as ``yyyy-MM-dd``; ``n`` is the event
    count, ``units`` the sum of round(value, 0) and ``cents`` the sum of
    floor(value * 100 + 0.5). The frame is grouped on ``di``, so a
    consumer that groups or joins on (event_type, di) reuses the
    aggregate's partitioning."""
    epoch = F.lit("2024-01-01").cast("date")
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.datediff(F.to_date("ts"), epoch).cast("long").alias("di"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value"), 0).cast("long")).alias("units"),
            F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long")).alias("cents"),
        )
        .select(
            "event_type",
            F.date_format(F.date_add(epoch, F.col("di").cast("int")), "yyyy-MM-dd").alias("day"),
            "di",
            "n",
            "units",
            "cents",
        )
    )


def event_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(event_type, hr, n, units)``: each channel's hourly series.
    ``hr`` is the hour's start timestamp, ``n`` the event count and
    ``units`` the sum of round(value, 0)."""
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("hr"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value"), 0).cast("long")).alias("units"),
        )
    )


def view_click_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(hi, x, y)``: per hour number ``hi`` (epoch hours), the view
    (``x``) and click (``y``) sums of round(value, 0), 0 when the hour
    has none of that channel."""
    as_int = F.round(F.col("value"), 0).cast("long")
    return (
        load_table(spark, sf_dir, "events")
        .groupBy(F.expr("unix_micros(date_trunc('hour', ts)) div 3600000000").alias("hi"))
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("event_type") == "view", as_int)), F.lit(0)
            ).alias("x"),
            F.coalesce(
                F.sum(F.when(F.col("event_type") == "click", as_int)), F.lit(0)
            ).alias("y"),
        )
    )


_DFT_FREQS = 10  # frequencies k = 1..10 cycles per span
_PI = 3.141592653589793

# the quantized DFT terms of a daily count series daily(day, cnt), shared
# by the periodogram and spectral-entropy oracles
_DFT_TERMS_SQL = f"""r AS (
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
  FROM r CROSS JOIN (SELECT unnest(range(1, {_DFT_FREQS + 1})) AS k) k
)"""


def daily_dft(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(k, n, cs, ss)``: the Fourier sums of the daily event-count
    series over its ``n`` days at k = 1.._DFT_FREQS cycles per span.
    Each trig factor cos/sin(2πkt/n) is quantized to micro-units per
    term (the π literal is shared with the oracles), so ``cs``/``ss``
    are exact int64 sums. The DFT runs on the day rows, never on raw
    events."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(F.count("*").alias("cnt"))
    )
    r = daily.select(
        "cnt",
        (F.row_number().over(Window.orderBy("day")) - 1).alias("t"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    ks = F.explode(F.sequence(F.lit(1), F.lit(_DFT_FREQS))).alias("k")
    theta = 2 * _PI * F.col("k") * F.col("t") / F.col("n")
    terms = r.select("cnt", "t", "n", ks).select(
        "k",
        "n",
        (F.col("cnt") * F.floor(F.cos(theta) * 1e6 + 0.5).cast("long")).alias("c_micro"),
        (F.col("cnt") * F.floor(F.sin(theta) * 1e6 + 0.5).cast("long")).alias("s_micro"),
    )
    return terms.groupBy("k").agg(
        F.max("n").alias("n"), F.sum("c_micro").alias("cs"), F.sum("s_micro").alias("ss")
    )


def sorted_user_values():
    """A user's values in (ts, event_id) order, as an array aggregate for
    ``groupBy("user_id").agg(...)``: the operand order of the per-user
    folds (EWMA, Holt, Kalman)."""
    return F.transform(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.unix_micros("ts").alias("ts_us"),
                    F.col("event_id").alias("event_id"),
                    F.col("value").alias("v"),
                )
            )
        ),
        lambda s: s["v"],
    )


# ---------------------------------------------------------------------------
# sequential statistics over the events stream
# ---------------------------------------------------------------------------


@register(
    "ts_cusum_changepoint",
    sql=f"""
WITH txn AS (
  SELECT user_id, ts, event_id, {CENTS_SQL} AS cents,
         row_number() OVER w AS k,
         sum({CENTS_SQL}) OVER
           (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prefix_cents,
         count(*) OVER (PARTITION BY user_id) AS n,
         sum({CENTS_SQL})
           OVER (PARTITION BY user_id) AS total_cents
  FROM events WHERE event_type = 'purchase'
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
d AS (
  SELECT user_id, k, n, epoch_us(ts) AS ts_us,
         abs(n * prefix_cents - k * total_cents) AS absd,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY abs(n * prefix_cents - k * total_cents) DESC,
                                     k) AS rn
  FROM txn
)
SELECT user_id, CAST(n AS BIGINT) AS n_txns, CAST(k AS BIGINT) AS cp_index,
       CAST(absd AS BIGINT) AS max_abs_d, CAST(ts_us AS BIGINT) AS cp_epoch_us
FROM d WHERE rn = 1 AND n >= 20
""",
)
def ts_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection per user over the purchase stream:
    the index k maximizing |n·S_k − k·S_n| (the cumulative-sum deviation
    statistic, kept in cross-multiplied integer cents so no division and
    no float drift enters the argmax) — where a user's mean spend most
    likely shifted. The reference's stationary-run scan (W2) is the same
    shape: a sequential statistic over a per-key time order.

    Scale: everything runs in TWO window passes over one hash partition
    by user_id (the same shuffle), then a 1-row-per-user filter; exact
    BIGINT arithmetic end to end. Users with < 20 purchases are noise
    and dropped."""
    e = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    c = cents()
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wu = Window.partitionBy("user_id")
    txn = e.select(
        "user_id",
        "ts",
        "event_id",
        F.row_number().over(w).alias("k"),
        F.sum(c).over(w.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "prefix_cents"
        ),
        F.count("*").over(wu).alias("n"),
        F.sum(c).over(wu).alias("total_cents"),
    )
    absd = F.abs(F.col("n") * F.col("prefix_cents") - F.col("k") * F.col("total_cents"))
    ranked = txn.select(
        "user_id",
        "k",
        "n",
        F.unix_micros("ts").alias("ts_us"),
        absd.alias("absd"),
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy(absd.desc(), F.asc("k")))
        .alias("rn"),
    )
    return ranked.filter((F.col("rn") == 1) & (F.col("n") >= 20)).select(
        "user_id",
        F.col("n").cast("long").alias("n_txns"),
        F.col("k").cast("long").alias("cp_index"),
        F.col("absd").cast("long").alias("max_abs_d"),
        F.col("ts_us").cast("long").alias("cp_epoch_us"),
    )


@register(
    "ts_autocorr_hourly",
    sql="""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h, CAST(count(*) AS DOUBLE) AS cnt
  FROM events GROUP BY 1
),
lagged AS (
  SELECT cnt,
         lag(cnt, 1) OVER (ORDER BY h) AS lag1,
         lag(cnt, 24) OVER (ORDER BY h) AS lag24
  FROM hourly
)
SELECT 1 AS lag_hours, count(lag1) AS n_pairs, round(corr(cnt, lag1), 6) AS autocorr
FROM lagged
UNION ALL
SELECT 24 AS lag_hours, count(lag24) AS n_pairs, round(corr(cnt, lag24), 6) AS autocorr
FROM lagged
""",
)
def ts_autocorr_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Series autocorrelation of the hourly event-count signal at lag 1
    (persistence) and lag 24 (diurnal seasonality) — the two numbers a
    capacity model checks before fitting anything fancier. Composes a
    tumbling-window count (W5's shape) with lag windows and the corr
    aggregate.

    Scale note: the global ORDER BY h window runs single-partition —
    acceptable because it operates on the AGGREGATED series (rows =
    hours, ~10⁴/year regardless of raw volume), the standard
    reduce-then-sequence pattern for series statistics over big data."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count("*").cast("double").alias("cnt")
    )
    w = Window.orderBy("h")
    lagged = hourly.select(
        "cnt",
        F.lag("cnt", 1).over(w).alias("lag1"),
        F.lag("cnt", 24).over(w).alias("lag24"),
    )
    out1 = lagged.agg(
        F.lit(1).alias("lag_hours"),
        F.count("lag1").alias("n_pairs"),
        F.round(F.corr("cnt", "lag1"), 6).alias("autocorr"),
    )
    out24 = lagged.agg(
        F.lit(24).alias("lag_hours"),
        F.count("lag24").alias("n_pairs"),
        F.round(F.corr("cnt", "lag24"), 6).alias("autocorr"),
    )
    return out1.unionByName(out24)


# ---------------------------------------------------------------------------
# Holt linear trend: a two-state smoothing fold
# ---------------------------------------------------------------------------


@register(
    "ts_holt_linear",
    # NOTE the oracle is a recursive CTE, not a list_reduce struct fold:
    # DuckDB's list_reduce evaluates the result-struct fields
    # SEQUENTIALLY against an in-place accumulator (the 'b' expression
    # observes the already-updated 'l'), so a two-state fold cannot be
    # expressed there with simultaneous-assignment semantics. The
    # recursive CTE updates both states in one SELECT — standard SQL
    # simultaneous binding — with the exact IEEE op sequence of the
    # Spark lambda.
    sql="""
WITH RECURSIVE
r AS (
  SELECT user_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS k
  FROM events
),
nn AS (SELECT user_id, max(k) AS n FROM r GROUP BY user_id),
rec AS (
  SELECT a.user_id, 2 AS k, b.value AS l, b.value - a.value AS bb
  FROM r a JOIN r b ON a.user_id = b.user_id AND a.k = 1 AND b.k = 2
  UNION ALL
  SELECT s.user_id, s.k + 1,
         0.5 * r.value + 0.5 * (s.l + s.bb),
         0.25 * ((0.5 * r.value + 0.5 * (s.l + s.bb)) - s.l) + 0.75 * s.bb
  FROM rec s JOIN r ON r.user_id = s.user_id AND r.k = s.k + 1
)
SELECT rec.user_id, CAST(n AS BIGINT) AS n_events,
       round(l, 6) AS holt_level, round(bb, 6) AS holt_trend
FROM rec JOIN nn ON rec.user_id = nn.user_id
WHERE k = n AND n >= 3
""",
)
def ts_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (alpha = 0.5, beta = 0.25):
    the TWO-state recursive fold — level and trend update jointly, each
    step reading both previous states — that no window frame and no
    single-value fold expresses. State is a struct threaded through the
    aggregate() higher-order function over the time-sorted value list;
    initialization is the standard l₀ = x₂, b₀ = x₂ − x₁.

    Determinism: operand order pinned by the sorted collect; 0.5/0.25/
    0.75 are binary-exact; both engines execute the identical IEEE
    sequence (the level expression is deliberately repeated inside the
    trend update rather than bound to a local, keeping the op order
    textual in both dialects) → bit-equal before the final round. The
    oracle is a recursive CTE rather than a list_reduce struct fold —
    see the SQL-side note on DuckDB's sequential field evaluation.
    Scale: one shuffle; per-key state is two doubles. Million-row keys
    move to the incremental applyInPandasWithState fold, same as EWMA."""
    ev = load_table(spark, sf_dir, "events")
    vals = sorted_user_values()
    x1, x2 = F.element_at(vals, 1), F.element_at(vals, 2)
    init = F.struct(x2.alias("l"), (x2 - x1).alias("b"))
    tail = F.slice(vals, 3, F.greatest(F.size(vals) - 2, F.lit(0)))

    def step(acc, x):
        new_l = F.lit(0.5) * x + F.lit(0.5) * (acc["l"] + acc["b"])
        new_b = (
            F.lit(0.25)
            * ((F.lit(0.5) * x + F.lit(0.5) * (acc["l"] + acc["b"])) - acc["l"])
            + F.lit(0.75) * acc["b"]
        )
        return F.struct(new_l.alias("l"), new_b.alias("b"))

    st = F.aggregate(tail, init, step)
    return (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("n_events"), st.alias("st"))
        .filter(F.col("n_events") >= 3)
        .select(
            "user_id",
            "n_events",
            F.round(F.col("st.l"), 6).alias("holt_level"),
            F.round(F.col("st.b"), 6).alias("holt_trend"),
        )
    )


# ---------------------------------------------------------------------------
# Bollinger breach detection (integer-exact)
# ---------------------------------------------------------------------------

_BOLL_N = 20  # trailing window length

_BOLL_SQL = f"""
WITH c AS (
  SELECT user_id, ts, event_id, {CENTS_SQL} AS cents
  FROM events WHERE event_type = 'purchase'
),
w AS (
  SELECT user_id, ts, event_id, cents,
         count(*) OVER win AS n,
         sum(cents) OVER win AS s1,
         sum(cents * cents) OVER win AS s2
  FROM c
  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN {_BOLL_N} PRECEDING AND 1 PRECEDING)
)
SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us, cents,
       round(s1 / CAST(n AS DOUBLE) / 100.0, 6) AS band_mean,
       round(sqrt((n * s2 - s1 * s1) / (CAST(n AS DOUBLE) * (n - 1))) / 100.0, 6)
         AS band_sigma,
       ((n * cents - s1) * (n * cents - s1) * (n - 1) > 4 * n * (n * s2 - s1 * s1))
         AS breach
FROM w WHERE n >= {_BOLL_N}
"""


@register("ts_bollinger_breach", sql=_BOLL_SQL)
def ts_bollinger_breach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger-band monitoring over each user's purchase stream: the
    trailing-{n} mean ± 2σ envelope, with the breach decision made in
    EXACT INTEGER arithmetic — |x−μ| > 2σ cross-multiplies to
    (n·x−s1)²·(n−1) > 4·n·(n·s2−s1²) over bigint power sums, so the
    boolean can never flip on an engine's last-ulp sqrt difference
    (the displayed band edges are rounded floats; the decision never
    touches them). The window excludes the current row (1 PRECEDING) so
    a spike can't mask itself.

    Scale: one shuffle on user_id; the frame is a bounded ROWS window —
    state per key is {n} rows regardless of history length, the same
    bound the streaming variant would keep in its state store."""
    e = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    win = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(_BOLL_N - 1) - 1, -1)
    )
    c = e.select("user_id", "ts", "event_id", cents().alias("cents"))
    w = c.select(
        "user_id",
        "ts",
        "event_id",
        "cents",
        F.count("*").over(win).alias("n"),
        F.sum("cents").over(win).alias("s1"),
        F.sum(F.col("cents") * F.col("cents")).over(win).alias("s2"),
    ).filter(F.col("n") >= _BOLL_N)
    n, s1, s2, x = F.col("n"), F.col("s1"), F.col("s2"), F.col("cents")
    dev = n * x - s1
    return w.select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "cents",
        F.round(s1 / n.cast("double") / 100.0, 6).alias("band_mean"),
        F.round(
            F.sqrt((n * s2 - s1 * s1) / (n.cast("double") * (n - 1))) / 100.0, 6
        ).alias("band_sigma"),
        (dev * dev * (n - 1) > 4 * n * (n * s2 - s1 * s1)).alias("breach"),
    )


# ---------------------------------------------------------------------------
# 1-D Kalman filtering
# ---------------------------------------------------------------------------

_KAL_Q, _KAL_R = 0.25, 1.0  # process / measurement noise (binary-exact)


@register(
    "ts_kalman_1d",
    # recursive-CTE oracle for the same reason as ts_holt_linear:
    # DuckDB's list_reduce cannot thread a two-field struct state with
    # simultaneous-assignment semantics.
    sql=f"""
WITH RECURSIVE
r AS (
  SELECT user_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS k
  FROM events
),
nn AS (SELECT user_id, max(k) AS n FROM r GROUP BY user_id),
rec AS (
  SELECT user_id, 1 AS k, value AS x, CAST(1.0 AS DOUBLE) AS p FROM r WHERE k = 1
  UNION ALL
  SELECT s.user_id, s.k + 1,
         s.x + ((s.p + {_KAL_Q}) / ((s.p + {_KAL_Q}) + {_KAL_R}))
               * (r.value - s.x),
         (1.0 - ((s.p + {_KAL_Q}) / ((s.p + {_KAL_Q}) + {_KAL_R})))
               * (s.p + {_KAL_Q})
  FROM rec s JOIN r ON r.user_id = s.user_id AND r.k = s.k + 1
)
SELECT rec.user_id, CAST(n AS BIGINT) AS n_obs,
       round(x, 6) AS kalman_estimate, round(p, 6) AS kalman_variance
FROM rec JOIN nn ON rec.user_id = nn.user_id
WHERE k = n AND n >= 2
""",
)
def ts_kalman_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Kalman filter (constant-state model, q = 0.25, r = 1.0) over
    each user's value stream: the optimal recursive estimator — per
    step the gain K = (P+q)/(P+q+r) blends prediction and measurement,
    and the error variance P contracts toward its steady state. Like
    Holt this is a TWO-state fold (estimate, variance) with the extra
    wrinkle of a per-step DIVISION, done as a struct-accumulator
    aggregate() over the time-sorted values.

    Determinism: the gain expression is repeated textually instead of
    bound to a local (identical IEEE op sequence in both dialects —
    division included, IEEE-exact given identical operands); noise
    constants are binary-exact. Scale: one shuffle on user_id, state is
    two doubles; unbounded keys move to the incremental stateful-stream
    fold like EWMA/Holt."""
    ev = load_table(spark, sf_dir, "events")
    vals = sorted_user_values()
    init = F.struct(
        F.element_at(vals, 1).alias("x"), F.lit(1.0).alias("p")
    )
    tail = F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0)))

    def step(acc, z):
        pp = acc["p"] + F.lit(_KAL_Q)
        gain = pp / (pp + F.lit(_KAL_R))
        return F.struct(
            (acc["x"] + gain * (z - acc["x"])).alias("x"),
            ((F.lit(1.0) - gain) * pp).alias("p"),
        )

    st = F.aggregate(tail, init, step)
    return (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("n_obs"), st.alias("st"))
        .filter(F.col("n_obs") >= 2)
        .select(
            "user_id",
            F.col("n_obs").cast("long").alias("n_obs"),
            F.round(F.col("st.x"), 6).alias("kalman_estimate"),
            F.round(F.col("st.p"), 6).alias("kalman_variance"),
        )
    )


# ---------------------------------------------------------------------------
# OHLC bars — min_by/max_by with a total (ts, event_id) key
# ---------------------------------------------------------------------------

_OHLC_SQL = f"""
SELECT event_type,
       strftime(date_trunc('day', ts), '%Y-%m-%d') AS bar_date,
       -- composite key in HUGEINT: epoch µs ≈ 1.7e15, ×1e5 + id needs int128
       arg_min(value, epoch_us(ts)::HUGEINT * 100000 + event_id) AS open,
       max(value) AS high,
       min(value) AS low,
       arg_max(value, epoch_us(ts)::HUGEINT * 100000 + event_id) AS close,
       count(*) AS n_ticks,
       CAST(sum({CENTS_SQL}) AS BIGINT) AS volume_cents
FROM events
GROUP BY 1, 2
"""


@register("ts_ohlc_bars", _OHLC_SQL)
def ts_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC bars per event type — the downsampling primitive every
    market-data / telemetry store exposes (candlesticks, signal bars).

    Spark-first: `min_by`/`max_by` with a struct key is a single
    hash-aggregate — partial min_by runs map-side, so the shuffle
    carries one row per (type, day) per mapper, never the ticks. The
    (ts, event_id) struct makes the ordering total (µs ties broken by
    the unique id), so open/close are deterministic on any partitioning.
    At 100 TB this is the canonical "first rollup" materialization; no
    window sort, no per-group collect.

    Reference parity: the pandas stages' `df.iloc[0]`/`df.iloc[-1]`
    after a sort (infer_stationary_states.py:70-78) is this exact
    first/last-of-group semantics, minus the distributed total order.
    """
    ev = load_table(spark, sf_dir, "events")
    key = F.struct("ts", "event_id")
    return ev.groupBy(
        "event_type",
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("bar_date"),
    ).agg(
        F.min_by("value", key).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", key).alias("close"),
        F.count("*").alias("n_ticks"),
        F.sum(cents()).alias("volume_cents"),
    )


# ---------------------------------------------------------------------------
# linear-interpolation resampling to a regular grid
# ---------------------------------------------------------------------------

_RESAMPLE_SQL = """
WITH grid AS (
  SELECT t.event_type, g.gts
  FROM (SELECT DISTINCT event_type FROM events) t,
       (SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
                                      TIMESTAMP '2024-01-31 18:00:00',
                                      INTERVAL 6 HOUR)) AS gts) g
),
u AS (
  SELECT event_type, epoch_us(ts) AS t_us, value, 0 AS is_grid, event_id
  FROM events
  UNION ALL
  SELECT event_type, epoch_us(gts), NULL, 1, NULL FROM grid
),
m AS (
  SELECT event_type, t_us, is_grid,
    last_value(value IGNORE NULLS) OVER w_prev AS v0,
    last_value(CASE WHEN value IS NOT NULL THEN t_us END IGNORE NULLS)
      OVER w_prev AS t0,
    first_value(value IGNORE NULLS) OVER w_next AS v1,
    first_value(CASE WHEN value IS NOT NULL THEN t_us END IGNORE NULLS)
      OVER w_next AS t1
  FROM u
  WINDOW
    w_prev AS (PARTITION BY event_type ORDER BY t_us, is_grid, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    w_next AS (PARTITION BY event_type ORDER BY t_us, is_grid, event_id
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_type, CAST(t_us AS BIGINT) AS grid_us,
       CASE WHEN v0 IS NULL OR v1 IS NULL THEN NULL
            WHEN t1 = t0 THEN {v0_round}
            ELSE {interp_round} END AS v_interp
FROM m WHERE is_grid = 1
""".replace("{v0_round}", round6_sql("v0")).replace(
    "{interp_round}",
    round6_sql(
        "v0 + (v1 - v0) * CAST(t_us - t0 AS DOUBLE) / CAST(t1 - t0 AS DOUBLE)"
    ),
)


@register("ts_resample_linear", _RESAMPLE_SQL)
def ts_resample_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample each event type's irregular series onto a regular 6-hour
    grid by linear interpolation between the bracketing samples — the
    feature-alignment step before any multi-channel model join (the
    continuous twin of ts_gap_fill_locf's step interpolation).

    Spark-first: no as-of join pair — UNION the grid into the sample
    stream and take `last(value, ignorenulls)` looking back, plus the
    same running frame over the REVERSED sort for the forward
    neighbour (Spark's UNBOUNDED FOLLOWING frames re-aggregate per row,
    O(n²) — see the w_next comment). One shuffle, two in-partition
    sorts. The ordering key (t_us, is_grid, event_id) is a total order (grid
    points are unique per type; sample µs ties break on the unique id,
    and a sample landing exactly on a grid instant sorts before it, so
    the grid row sees it as its backward neighbour → interpolation
    degenerates to the sample value exactly).

    At scale: grid rows are O(span/step) per key — negligible next to
    the data; the plan stays one shuffle regardless of channel count,
    where per-channel as-of joins would be 2 shuffles per channel.
    """
    ev = load_table(spark, sf_dir, "events")
    types = ev.select("event_type").distinct()
    grid = types.crossJoin(
        spark.sql(
            """SELECT explode(sequence(timestamp'2024-01-01 00:00:00',
                                       timestamp'2024-01-31 18:00:00',
                                       interval 6 hours)) AS gts"""
        )
    ).select(
        "event_type",
        F.unix_micros("gts").alias("t_us"),
        F.lit(None).cast("double").alias("value"),
        F.lit(1).alias("is_grid"),
        F.lit(None).cast("long").alias("event_id"),
    )
    samples = ev.select(
        "event_type",
        F.unix_micros("ts").alias("t_us"),
        "value",
        F.lit(0).alias("is_grid"),
        "event_id",
    )
    u = samples.unionByName(grid)
    w_prev = (
        Window.partitionBy("event_type")
        .orderBy("t_us", "is_grid", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # the forward neighbour via a REVERSE-sorted running frame: Spark
    # executes (CURRENT ROW, UNBOUNDED FOLLOWING) frames by recomputing
    # the aggregate from each row to the partition end — O(n²) per
    # partition (measured: 37 s at sf0.1 vs 0.6 s this way). A running
    # last(ignorenulls) over the reversed total order is the same value
    # in O(n); the keys are unique, so reversal is exact.
    w_next = (
        Window.partitionBy("event_type")
        .orderBy(F.desc("t_us"), F.desc("is_grid"), F.desc("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    t_if_sample = F.when(F.col("value").isNotNull(), F.col("t_us"))
    m = u.select(
        "event_type",
        "t_us",
        "is_grid",
        F.last("value", ignorenulls=True).over(w_prev).alias("v0"),
        F.last(t_if_sample, ignorenulls=True).over(w_prev).alias("t0"),
        F.last("value", ignorenulls=True).over(w_next).alias("v1"),
        F.last(t_if_sample, ignorenulls=True).over(w_next).alias("t1"),
    ).filter(F.col("is_grid") == 1)
    frac = (F.col("t_us") - F.col("t0")).cast("double") / (
        F.col("t1") - F.col("t0")
    ).cast("double")
    interp = (
        F.when(F.col("v0").isNull() | F.col("v1").isNull(), F.lit(None).cast("double"))
        .when(F.col("t1") == F.col("t0"), round6(F.col("v0")))
        .otherwise(round6(F.col("v0") + (F.col("v1") - F.col("v0")) * frac))
    )
    return m.select(
        "event_type",
        F.col("t_us").cast("long").alias("grid_us"),
        interp.alias("v_interp"),
    )


# ---------------------------------------------------------------------------
# rolling 24-hour correlation between two channels
# ---------------------------------------------------------------------------

_RCORR_SQL = f"""
WITH h AS (
  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hr,
         coalesce(sum(CASE WHEN event_type = 'view'
                           THEN CAST(round(value, 0) AS BIGINT) END), 0) AS x,
         coalesce(sum(CASE WHEN event_type = 'click'
                           THEN CAST(round(value, 0) AS BIGINT) END), 0) AS y
  FROM events GROUP BY 1
),
w AS (
  SELECT hr, x, y,
         count(*)   OVER f AS n,
         sum(x)     OVER f AS sx,
         sum(y)     OVER f AS sy,
         sum(x * y) OVER f AS sxy,
         sum(x * x) OVER f AS sxx,
         sum(y * y) OVER f AS syy
  FROM h
  WINDOW f AS (ORDER BY hr ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
)
SELECT hr, CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
       CASE WHEN n = 24
             AND n * sxx - sx * sx > 0
             AND n * syy - sy * sy > 0
            THEN {round6_sql(
                "CAST(n * sxy - sx * sy AS DOUBLE) / "
                "(sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) * "
                "sqrt(CAST(n * syy - sy * sy AS DOUBLE)))"
            )}
       END AS corr24
FROM w
"""


@register("ts_rolling_corr", _RCORR_SQL)
def ts_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-24-hour rolling correlation between two channels' hourly
    totals (view vs click) — the cross-channel co-movement monitor a
    telemetry stack runs over every signal pair.

    Determinism contract (the ts_bollinger_breach idiom): the window
    carries EXACT int64 power sums (Σx, Σy, Σxy, Σx², Σy²) of rounded
    integer hourly totals; Pearson r derives from those ints with one
    fixed double formula, so the result is identical on any partitioning
    or engine — windowed SUM of doubles would drift in the last ulp.
    Zero-variance windows and the first 23 rows are NULL by rule.

    Scale: the hourly pre-aggregation shuffles once (map-side partial
    sums); the window then runs over hours — thousands of rows per
    device-month, not events. A global ORDER BY window is fine for one
    pair; per-device it partitions by device_id and parallelizes.
    """
    h = view_click_hours(spark, sf_dir).select(
        F.date_format(F.timestamp_seconds(F.col("hi") * 3600), "yyyy-MM-dd HH").alias("hr"),
        "x",
        "y",
    )
    f = Window.orderBy("hr").rowsBetween(-23, 0)
    x, y = F.col("x"), F.col("y")
    w = h.select(
        "hr",
        "x",
        "y",
        F.count("*").over(f).alias("n"),
        F.sum(x).over(f).alias("sx"),
        F.sum(y).over(f).alias("sy"),
        F.sum(x * y).over(f).alias("sxy"),
        F.sum(x * x).over(f).alias("sxx"),
        F.sum(y * y).over(f).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    var_x = n * F.col("sxx") - sx * sx
    var_y = n * F.col("syy") - sy * sy
    r = (n * F.col("sxy") - sx * sy).cast("double") / (
        F.sqrt(var_x.cast("double")) * F.sqrt(var_y.cast("double"))
    )
    return w.select(
        "hr",
        "x",
        "y",
        F.when((n == 24) & (var_x > 0) & (var_y > 0), round6(r)).alias("corr24"),
    )


# ---------------------------------------------------------------------------
# Mann–Kendall monotonic-trend test per channel
# ---------------------------------------------------------------------------

_MK_SQL = f"""
WITH dly AS (
  SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         sum(CAST(round(value, 0) AS BIGINT)) AS v
  FROM events GROUP BY 1, 2
),
pairs AS (
  SELECT a.event_type,
         sum(CASE WHEN b.v > a.v THEN 1 WHEN b.v < a.v THEN -1 ELSE 0 END) AS s
  FROM dly a JOIN dly b ON a.event_type = b.event_type AND a.day < b.day
  GROUP BY 1
),
ties AS (
  SELECT event_type, sum(t * (t - 1) * (2 * t + 5)) AS tie_term
  FROM (SELECT event_type, v, count(*) AS t FROM dly GROUP BY 1, 2)
  GROUP BY 1
),
n AS (SELECT event_type, count(*) AS nd FROM dly GROUP BY 1)
SELECT n.event_type, CAST(nd AS BIGINT) AS n_days, CAST(s AS BIGINT) AS s_stat,
       CAST(nd * (nd - 1) * (2 * nd + 5) - tie_term AS BIGINT) AS var18,
       CASE WHEN nd * (nd - 1) * (2 * nd + 5) - tie_term = 0 THEN NULL
            WHEN s > 0 THEN {round6_sql(
                "(s - 1) / sqrt(CAST(nd * (nd - 1) * (2 * nd + 5) - tie_term "
                "AS DOUBLE) / 18.0)"
            )}
            WHEN s < 0 THEN {round6_sql(
                "(s + 1) / sqrt(CAST(nd * (nd - 1) * (2 * nd + 5) - tie_term "
                "AS DOUBLE) / 18.0)"
            )}
            ELSE 0.0 END AS z_stat
FROM n JOIN pairs USING (event_type) JOIN ties USING (event_type)
"""


@register("ts_mann_kendall", _MK_SQL)
def ts_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall monotonic-trend test per channel over the daily
    series: S = Σ_{{i<j}} sign(x_j − x_i), tie-corrected variance
    (n(n−1)(2n+5) − Σ t(t−1)(2t+5))/18, continuity-corrected Z — the
    nonparametric "is this drifting?" monitor paired with
    ts_theilsen_trend's slope estimate (MK tests, Theil–Sen sizes).

    Scale: the O(d²) pair scan runs on the DAILY aggregate (d = days,
    not events) after one map-side-combining shuffle — 31 days → 465
    pairs per channel; a year is ~66k pairs, trivial. S and the tie
    term stay exact int64; Z is one fixed double formula at the end.
    """
    dly = event_days(spark, sf_dir).select("event_type", "day", F.col("units").alias("v"))
    a, b = dly.alias("a"), dly.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.day") < F.col("b.day")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(
            F.sum(
                F.when(F.col("b.v") > F.col("a.v"), 1)
                .when(F.col("b.v") < F.col("a.v"), -1)
                .otherwise(0)
            ).alias("s")
        )
    )
    ties = (
        dly.groupBy("event_type", "v")
        .agg(F.count("*").alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)).alias(
                "tie_term"
            )
        )
    )
    n = dly.groupBy("event_type").agg(F.count("*").alias("nd"))
    j = n.join(pairs, "event_type").join(ties, "event_type")
    nd, s = F.col("nd"), F.col("s")
    var18 = nd * (nd - 1) * (2 * nd + 5) - F.col("tie_term")
    sd = F.sqrt(var18.cast("double") / 18.0)
    z = (
        F.when(var18 == 0, F.lit(None).cast("double"))
        .when(s > 0, round6((s - 1) / sd))
        .when(s < 0, round6((s + 1) / sd))
        .otherwise(F.lit(0.0))
    )
    return j.select(
        "event_type",
        nd.cast("long").alias("n_days"),
        s.cast("long").alias("s_stat"),
        var18.cast("long").alias("var18"),
        z.alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# SAX symbolization of the daily series
# ---------------------------------------------------------------------------

_SAX_SEG_DAYS = 4  # PAA segment width in days
_SAX_SQL = f"""
WITH dly AS (
  SELECT event_type,
         CAST(date_diff('day', DATE '2024-01-01', date_trunc('day', ts)) AS BIGINT)
           AS di,
         sum(CAST(round(value, 0) AS BIGINT)) AS v
  FROM events GROUP BY 1, 2
),
g AS (
  SELECT event_type, count(*) AS n, sum(v) AS s,
         count(*) * sum(v * v) - sum(v) * sum(v) AS k
  FROM dly GROUP BY 1
),
seg AS (
  SELECT event_type, di // {_SAX_SEG_DAYS} AS seg, sum(v) AS s_seg,
         count(*) AS n_seg
  FROM dly GROUP BY 1, 2
),
z AS (
  SELECT s.event_type, s.seg,
         CAST(s.s_seg * g.n - g.s * s.n_seg AS DOUBLE)
           / (s.n_seg * sqrt(CAST(g.k AS DOUBLE))) AS zval
  FROM seg s JOIN g ON s.event_type = g.event_type
  WHERE g.k > 0
),
sym AS (
  SELECT event_type, seg,
         CASE WHEN zval < -0.6745 THEN 'a' WHEN zval < 0 THEN 'b'
              WHEN zval < 0.6745 THEN 'c' ELSE 'd' END AS sy
  FROM z
)
SELECT event_type,
       string_agg(sy, '' ORDER BY seg) AS sax_word,
       count(*) AS n_segments
FROM sym GROUP BY event_type
"""


@register("ts_sax_symbols", _SAX_SQL)
def ts_sax_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX (Symbolic Aggregate approXimation, Lin et al. 2003): z-score
    the channel's daily series, piecewise-aggregate into 4-day
    segments, quantize each segment mean against the 4-symbol Gaussian
    breakpoints (−0.6745, 0, 0.6745) and emit the SAX word — the
    symbolic index motif/anomaly miners build over telemetry.

    Determinism: the z-scored PAA mean is algebraically rearranged so
    every sum is exact int64 — z_seg = (s_seg·n − s·n_seg)/(n_seg·√k)
    with k = n·Σv² − (Σv)² — and the only doubles are one division and
    one sqrt of exact ints, so the breakpoint comparisons can't be
    flipped by summation order in either engine. The word assembles
    with an ordered string_agg / sorted-collect_list fold.

    Scale: daily agg (one shuffle) → per-channel scalars (tiny) →
    per-segment agg; everything after the first shuffle is
    channel-count sized.
    """
    dly = event_days(spark, sf_dir).select("event_type", "di", F.col("units").alias("v"))
    g = dly.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("v").alias("s"),
        (F.count("*") * F.sum(F.col("v") * F.col("v")) - F.sum("v") * F.sum("v")).alias(
            "k"
        ),
    )
    seg = dly.groupBy(
        "event_type", F.expr(f"di div {_SAX_SEG_DAYS}").alias("seg")
    ).agg(F.sum("v").alias("s_seg"), F.count("*").alias("n_seg"))
    z = (
        seg.join(g, "event_type")
        .filter(F.col("k") > 0)
        .select(
            "event_type",
            "seg",
            (
                (F.col("s_seg") * F.col("n") - F.col("s") * F.col("n_seg")).cast(
                    "double"
                )
                / (F.col("n_seg") * F.sqrt(F.col("k").cast("double")))
            ).alias("zval"),
        )
    )
    sym = z.select(
        "event_type",
        "seg",
        F.when(F.col("zval") < -0.6745, "a")
        .when(F.col("zval") < 0, "b")
        .when(F.col("zval") < 0.6745, "c")
        .otherwise("d")
        .alias("sy"),
    )
    word = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("seg", "sy"))), lambda x: x["sy"]
        ),
        "",
    )
    return sym.groupBy("event_type").agg(
        word.alias("sax_word"), F.count("*").alias("n_segments")
    )


# ---------------------------------------------------------------------------
# LTTB-style visual downsample (bucket-anchored, fully parallel)
# ---------------------------------------------------------------------------

_LTTB_SQL = """
WITH pts AS (
  SELECT event_type, event_id, epoch_us(ts) AS t_us,
         CAST(round(value, 0) AS BIGINT) AS v,
         strftime(date_trunc('day', ts), '%Y-%m-%d') AS day
  FROM events
),
bkt AS (
  SELECT event_type, day, sum(v) AS s, count(*) AS n FROM pts GROUP BY 1, 2
),
nb AS (
  SELECT event_type, day, n,
         lag(s)  OVER w AS s_prev, lag(n)  OVER w AS n_prev,
         lead(s) OVER w AS s_next, lead(n) OVER w AS n_next
  FROM bkt
  WINDOW w AS (PARTITION BY event_type ORDER BY day)
),
scored AS (
  SELECT p.event_type, p.day, p.event_id, p.t_us, p.v,
         abs(2 * p.v * nb.n_prev * nb.n_next
             - nb.s_prev * nb.n_next - nb.s_next * nb.n_prev) AS score,
         row_number() OVER (PARTITION BY p.event_type, p.day
                            ORDER BY abs(2 * p.v * nb.n_prev * nb.n_next
                                         - nb.s_prev * nb.n_next
                                         - nb.s_next * nb.n_prev) DESC,
                                     p.event_id) AS rn
  FROM pts p JOIN nb ON p.event_type = nb.event_type AND p.day = nb.day
  WHERE nb.s_prev IS NOT NULL AND nb.s_next IS NOT NULL
)
SELECT event_type, day, event_id, CAST(t_us AS BIGINT) AS t_us, v,
       CAST(score AS BIGINT) AS score
FROM scored WHERE rn = 1
"""


@register("ts_downsample_lttb", _LTTB_SQL)
def ts_downsample_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LTTB-flavored visual downsampling: one representative point per
    (channel, day) — the point deviating most from the straight line
    through its neighbour buckets' means. True LTTB anchors on the
    PREVIOUSLY SELECTED point, a sequential dependency no parallel
    engine should accept; anchoring on fixed bucket means (the
    standard parallel variant) keeps the selection embarrassingly
    parallel and cross-engine exact: score = |2·v·n₋·n₊ − s₋·n₊ −
    s₊·n₋| is the deviation |v − (m₋+m₊)/2| scaled by the positive
    constant 2n₋n₊ — same argmax, all int64, no division.

    Scale: bucket stats are one map-combining shuffle; neighbour means
    come from a lag/lead window over BUCKETS (days, not points); the
    scan-sized argmax per bucket reuses the same (type, day) hash. The
    first/last buckets have no neighbours and are kept whole by the
    real renderer; they are omitted here.
    """
    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        "event_type",
        "event_id",
        F.unix_micros("ts").alias("t_us"),
        F.round(F.col("value"), 0).cast("long").alias("v"),
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day"),
    )
    bkt = event_days(spark, sf_dir).select("event_type", "day", F.col("units").alias("s"), "n")
    w = Window.partitionBy("event_type").orderBy("day")
    nb = bkt.select(
        "event_type",
        "day",
        F.lag("s").over(w).alias("s_prev"),
        F.lag("n").over(w).alias("n_prev"),
        F.lead("s").over(w).alias("s_next"),
        F.lead("n").over(w).alias("n_next"),
    ).filter(F.col("s_prev").isNotNull() & F.col("s_next").isNotNull())
    j = pts.join(nb, ["event_type", "day"])
    score = F.abs(
        2 * F.col("v") * F.col("n_prev") * F.col("n_next")
        - F.col("s_prev") * F.col("n_next")
        - F.col("s_next") * F.col("n_prev")
    )
    scored = j.select(
        "event_type", "day", "event_id", "t_us", "v", score.alias("score")
    )
    best = scored.groupBy("event_type", "day").agg(
        F.max_by(
            F.struct("event_id", "t_us", "v", "score"),
            F.struct(F.col("score"), (-F.col("event_id")).alias("nid")),
        ).alias("p")
    )
    return best.select(
        "event_type",
        "day",
        F.col("p.event_id").alias("event_id"),
        F.col("p.t_us").alias("t_us"),
        F.col("p.v").alias("v"),
        F.col("p.score").alias("score"),
    )


# ---------------------------------------------------------------------------
# rolling-quantile outlier fence (windowed percentile frames)
# ---------------------------------------------------------------------------

_IQR_SQL = f"""
WITH h AS (
  SELECT event_type, strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hr,
         sum(CAST(round(value, 0) AS BIGINT)) AS v
  FROM events GROUP BY 1, 2
),
w AS (
  SELECT event_type, hr, v,
         count(*) OVER f AS n,
         quantile_cont(v, 0.25) OVER f AS q25,
         quantile_cont(v, 0.75) OVER f AS q75
  FROM h
  WINDOW f AS (PARTITION BY event_type ORDER BY hr
               ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
)
SELECT event_type, hr, CAST(v AS BIGINT) AS v,
       CASE WHEN n = 24 THEN {round6_sql("q25")} END AS q25,
       CASE WHEN n = 24 THEN {round6_sql("q75")} END AS q75,
       CASE WHEN n = 24
            THEN v < q25 - 1.5 * (q75 - q25) OR v > q75 + 1.5 * (q75 - q25)
       END AS is_outlier
FROM w
"""


@register("ts_rolling_iqr_outliers", _IQR_SQL)
def ts_rolling_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling Tukey-fence outlier detection: per channel, the trailing
    24-hour interquartile range flags hourly totals outside
    [q25 − 1.5·IQR, q75 + 1.5·IQR] — the robust anomaly monitor that,
    unlike ts_anomaly_zscore's mean/σ, a single spike cannot poison.

    This exercises EXACT PERCENTILES AS WINDOW FRAME AGGREGATES
    (percentile() OVER rolling rows — the one window/agg combination no
    other query covers). Determinism: frame inputs are exact int64
    hourly sums; both engines linearly interpolate the sorted frame at
    (n−1)·q with the same formula, so q25/q75 and the fence comparisons
    agree bit-for-bit. The fence itself compares UNROUNDED doubles
    (rounding only the reported quantiles) — rounding before comparing
    could flip a boundary verdict differently per engine.

    Scale: the window runs over hours (25 rows/channel-day), not
    events; per-frame interpolation cost is O(frame log frame)."""
    h = event_hours(spark, sf_dir).select(
        "event_type",
        F.date_format("hr", "yyyy-MM-dd HH").alias("hr"),
        F.col("units").alias("v"),
    )
    f = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(-23, 0)
    )
    w = h.select(
        "event_type",
        "hr",
        "v",
        F.count("*").over(f).alias("n"),
        F.expr("percentile(v, 0.25)").over(f).alias("q25"),
        F.expr("percentile(v, 0.75)").over(f).alias("q75"),
    )
    iqr = F.col("q75") - F.col("q25")
    full = F.col("n") == 24
    return w.select(
        "event_type",
        "hr",
        "v",
        F.when(full, round6(F.col("q25"))).alias("q25"),
        F.when(full, round6(F.col("q75"))).alias("q75"),
        F.when(
            full,
            (F.col("v") < F.col("q25") - 1.5 * iqr)
            | (F.col("v") > F.col("q75") + 1.5 * iqr),
        ).alias("is_outlier"),
    )


# ---------------------------------------------------------------------------
# central-difference derivative of an irregular series
# ---------------------------------------------------------------------------

_DERIV_SQL = f"""
WITH s AS (
  SELECT user_id, event_id, epoch_us(ts) AS t_us,
         {CENTS_SQL} AS cents
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
        cents().alias("cents"),
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
        "event_type", cents().alias("cents")
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
    d = event_days(spark, sf_dir).select("event_type", "day", F.col("units").alias("v"))
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


# ---------------------------------------------------------------------------
# lagged cross-correlation between two channels
# ---------------------------------------------------------------------------

_XC_MAX_LAG = 3

_XC_SQL = f"""
WITH h AS (
  SELECT epoch_us(date_trunc('hour', ts)) // 3600000000 AS hi,
         coalesce(sum(CASE WHEN event_type = 'view'
                           THEN CAST(round(value, 0) AS BIGINT) END), 0) AS x,
         coalesce(sum(CASE WHEN event_type = 'click'
                           THEN CAST(round(value, 0) AS BIGINT) END), 0) AS y
  FROM events GROUP BY 1
),
lags AS (SELECT unnest(range(-{_XC_MAX_LAG}, {_XC_MAX_LAG} + 1)) AS lag),
p AS (
  SELECT lags.lag, a.x, b.y
  FROM lags, h a JOIN h b ON b.hi = a.hi + lags.lag
),
m AS (
  SELECT lag, count(*) AS n,
         sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
         sum(x * x) AS sxx, sum(y * y) AS syy
  FROM p GROUP BY lag
)
SELECT CAST(lag AS INT) AS lag, CAST(n AS BIGINT) AS n,
       CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
            THEN {round6_sql(
                "CAST(n * sxy - sx * sy AS DOUBLE)"
                " / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))"
                " * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))"
            )} END AS xcorr
FROM m
"""


@register("ts_cross_correlation_lagged", _XC_SQL)
def ts_cross_correlation_lagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation between the view and click channels'
    hourly totals at lags −3…+3 hours — "does one channel LEAD the
    other?", the lead/lag screen run before any causal claim (the
    argmax lag is the candidate response delay). Pairs align by
    integer hour index join (b.hi = a.hi + lag), so gaps in either
    series drop pairs instead of misaligning them.

    The ts_rolling_corr idiom at a different shape: per lag, exact
    int64 power sums via one hash agg (the raw events aggregated to
    hours first — the expensive shuffle happens once, the 7-lag
    explosion touches only the hourly table), Pearson r as one fixed
    double formula, NULL on degenerate variance."""
    h = view_click_hours(spark, sf_dir)
    lags = spark.range(-_XC_MAX_LAG, _XC_MAX_LAG + 1).select(
        F.col("id").cast("long").alias("lag")
    )
    a = h.select(F.col("hi").alias("ha"), "x")
    b = h.select(F.col("hi").alias("hb"), "y")
    p = (
        F.broadcast(lags)
        .crossJoin(a)
        .join(b, F.col("hb") == F.col("ha") + F.col("lag"))
    )
    m = p.groupBy("lag").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    vx = n * F.col("sxx") - sx * sx
    vy = n * F.col("syy") - sy * sy
    r = (n * F.col("sxy") - sx * sy).cast("double") / (
        F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double"))
    )
    return m.select(
        F.col("lag").cast("int").alias("lag"),
        n.cast("long").alias("n"),
        F.when((vx > 0) & (vy > 0), round6(r)).alias("xcorr"),
    )


# ---------------------------------------------------------------------------
# matrix profile over the daily series (motif / discord discovery)
# ---------------------------------------------------------------------------

_MP_M = 7  # subsequence length (days)


def _matrix_profile_sql2() -> str:
    m = _MP_M
    num = f"(CAST({m} * dots.d - sa.s * sb.s AS DOUBLE))"
    va = f"(CAST({m} * sa.ss - sa.s * sa.s AS DOUBLE))"
    vb = f"(CAST({m} * sb.ss - sb.s * sb.s AS DOUBLE))"
    dist = (
        f"CAST(floor(2.0 * {m} * (1.0 - {num} / (sqrt({va}) * sqrt({vb})))"
        " * 1000000.0 + 0.5) AS BIGINT)"
    )
    return f"""
WITH dly AS (
  SELECT event_type,
         CAST(date_diff('day', DATE '2024-01-01', date_trunc('day', ts))
              AS BIGINT) AS di,
         sum(CAST(round(value, 0) AS BIGINT)) AS v
  FROM events GROUP BY 1, 2
),
win AS (
  SELECT a.event_type, a.di AS i,
         sum(b.v) AS s, sum(b.v * b.v) AS ss
  FROM dly a JOIN dly b
    ON a.event_type = b.event_type AND b.di BETWEEN a.di AND a.di + {m - 1}
  GROUP BY 1, 2
  HAVING count(*) = {m}
),
dots AS (
  SELECT wa.event_type, wa.i AS i, wb.i AS j,
         sum(da.v * db.v) AS d
  FROM win wa
  JOIN win wb ON wa.event_type = wb.event_type AND wa.i != wb.i
  JOIN dly da ON da.event_type = wa.event_type
             AND da.di BETWEEN wa.i AND wa.i + {m - 1}
  JOIN dly db ON db.event_type = wa.event_type
             AND db.di = wb.i + (da.di - wa.i)
  GROUP BY 1, 2, 3
  HAVING count(*) = {m}
),
scored AS (
  SELECT dots.event_type, dots.i, dots.j,
         {dist} AS dist_micro
  FROM dots
  JOIN win sa ON sa.event_type = dots.event_type AND sa.i = dots.i
  JOIN win sb ON sb.event_type = dots.event_type AND sb.i = dots.j
  WHERE {m} * sa.ss - sa.s * sa.s > 0 AND {m} * sb.ss - sb.s * sb.s > 0
),
best AS (
  SELECT event_type, i,
         arg_min(j, dist_micro * 1000 + j) AS nn_j,
         min(dist_micro) AS nn_dist_micro
  FROM scored GROUP BY 1, 2
)
SELECT event_type, CAST(i AS BIGINT) AS win_start,
       CAST(nn_j AS BIGINT) AS nn_start,
       CAST(nn_dist_micro AS BIGINT) AS dist_micro
FROM best
"""


@register("ts_matrix_profile", sql=_matrix_profile_sql2())
def ts_matrix_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matrix profile (Yeh et al., ICDM 2016) over each channel's daily
    series: for every 7-day window, the z-normalized distance to its
    NEAREST NEIGHBOR window — minima locate motifs (repeated weekly
    patterns), maxima locate discords (the strangest week). The
    time-series-mining primitive behind motif/anomaly/segmentation
    stacks, as one declarative plan.

    Exactness: window sums (S, ΣV²) and cross-dots D_ij are exact int64
    via offset-aligned joins on the day index; z-norm distance² =
    2m(1 − (mD − S_iS_j)/(√(mSS_i−S_i²)·√(mSS_j−S_j²))) is quantized
    to integer MICRO-UNITS before the argmin (composite key breaks
    ties toward the earlier neighbor), so the profile is engine-exact.
    Degenerate (zero-variance) windows drop.

    Scale: cross-dots are the O(w²m) part — at daily granularity w is
    tiny; for long series the same plan runs per segment with the STOMP
    recurrence replacing brute dots (D_{{i+1,j+1}} = D_{{ij}} −
    v_iv_j + v_{{i+m}}v_{{j+m}}), which is a window fold on this exact
    layout."""
    m = _MP_M
    dly = event_days(spark, sf_dir).select("event_type", "di", F.col("units").alias("v"))
    a, b = dly.alias("a"), dly.alias("b")
    win = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & F.col("b.di").between(F.col("a.di"), F.col("a.di") + m - 1),
        )
        .groupBy(F.col("a.event_type").alias("event_type"), F.col("a.di").alias("i"))
        .agg(
            F.sum("b.v").alias("s"),
            F.sum(F.col("b.v") * F.col("b.v")).alias("ss"),
            F.count("*").alias("cnt"),
        )
        .filter(F.col("cnt") == m)
        .drop("cnt")
    )
    wa = win.select(F.col("event_type"), F.col("i"))
    wb = win.select(F.col("event_type"), F.col("i").alias("j"))
    pairs = wa.join(wb, "event_type").filter(F.col("i") != F.col("j"))
    da = dly.select(
        F.col("event_type"), F.col("di").alias("dia"), F.col("v").alias("va")
    )
    db = dly.select(
        F.col("event_type"), F.col("di").alias("dib"), F.col("v").alias("vb")
    )
    dots = (
        pairs.join(
            da,
            ["event_type"],
        )
        .filter(F.col("dia").between(F.col("i"), F.col("i") + m - 1))
        .join(
            db,
            ["event_type"],
        )
        .filter(F.col("dib") == F.col("j") + (F.col("dia") - F.col("i")))
        .groupBy("event_type", "i", "j")
        .agg(F.sum(F.col("va") * F.col("vb")).alias("d"), F.count("*").alias("cnt"))
        .filter(F.col("cnt") == m)
    )
    sa = win.select(
        "event_type", F.col("i"), F.col("s").alias("s_a"), F.col("ss").alias("ss_a")
    )
    sb = win.select(
        "event_type",
        F.col("i").alias("j"),
        F.col("s").alias("s_b"),
        F.col("ss").alias("ss_b"),
    )
    scored = dots.join(sa, ["event_type", "i"]).join(sb, ["event_type", "j"])
    va = m * F.col("ss_a") - F.col("s_a") * F.col("s_a")
    vb_ = m * F.col("ss_b") - F.col("s_b") * F.col("s_b")
    num = (m * F.col("d") - F.col("s_a") * F.col("s_b")).cast("double")
    dist = 2.0 * m * (1.0 - num / (F.sqrt(va.cast("double")) * F.sqrt(vb_.cast("double"))))
    scored = scored.filter((va > 0) & (vb_ > 0)).select(
        "event_type",
        "i",
        "j",
        F.floor(dist * 1e6 + 0.5).cast("long").alias("dist_micro"),
    )
    best = scored.groupBy("event_type", "i").agg(
        F.min_by("j", F.col("dist_micro") * 1000 + F.col("j")).alias("nn_j"),
        F.min("dist_micro").alias("nn_dist_micro"),
    )
    return best.select(
        "event_type",
        F.col("i").cast("long").alias("win_start"),
        F.col("nn_j").cast("long").alias("nn_start"),
        F.col("nn_dist_micro").cast("long").alias("dist_micro"),
    )


# ---------------------------------------------------------------------------
# Fano factor (burstiness of the event arrival process)
# ---------------------------------------------------------------------------

_FANO_SQL = f"""
WITH h AS (
  SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS c
  FROM events GROUP BY 1, 2
)
SELECT event_type,
       count(*) AS n_hours,
       CAST(sum(c) AS BIGINT) AS n_events,
       {round6_sql(
           "(CAST(count(*) * sum(c * c) - sum(c) * sum(c) AS DOUBLE)"
           " / count(*) / (count(*) - 1))"
           " / (CAST(sum(c) AS DOUBLE) / count(*))"
       )} AS fano_factor
FROM h GROUP BY event_type
"""


@register("ts_fano_factor", _FANO_SQL)
def ts_fano_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor (index of dispersion) of hourly event counts per
    channel: sample-variance / mean. A Poisson arrival process has
    F = 1; F ≫ 1 = bursty (batched uploads, thundering herds — the
    reference's per-file Lambda fan-out produces exactly such bursts),
    F < 1 = regularized (rate-limited, heartbeat-like). The one-number
    arrival-process characterization read next to interarrival_stats.

    Hourly counts are exact ints; variance comes from the
    (n·Σc² − (Σc)²)/(n(n−1)) moment identity and the final ratio is
    one fixed double formula — the welch_ttest_events discipline. NOTE
    the missing-hour caveat: absent cells are not zero-filled here (the
    grid join in ts_gap_fill_locf adds them when that matters)."""
    h = event_hours(spark, sf_dir).select("event_type", "hr", F.col("n").alias("c"))
    agg = h.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    n, s, s2 = F.col("n"), F.col("s"), F.col("s2")
    var = (n * s2 - s * s).cast("double") / n / (n - 1)
    mean = s.cast("double") / n
    return agg.select(
        "event_type",
        n.cast("long").alias("n_hours"),
        s.cast("long").alias("n_events"),
        round6(var / mean).alias("fano_factor"),
    )


# ---------------------------------------------------------------------------
# Wald–Wolfowitz runs test (randomness of the daily series)
# ---------------------------------------------------------------------------

_RUNS_SQL = f"""
WITH dly AS (
  SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         sum(CAST(round(value, 0) AS BIGINT)) AS v
  FROM events GROUP BY 1, 2
),
med AS (
  -- exact median via the value histogram (⌈n/2⌉ threshold)
  SELECT event_type, min(v) AS m FROM (
    SELECT event_type, v,
           sum(c) OVER (PARTITION BY event_type ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           sum(c) OVER (PARTITION BY event_type) AS n
    FROM (SELECT event_type, v, count(*) AS c FROM dly GROUP BY 1, 2)
  ) WHERE 2 * cum >= n GROUP BY event_type
),
signed AS (
  -- days AT the median drop (standard runs-test practice)
  SELECT dly.event_type, day, CASE WHEN v > m THEN 1 ELSE 0 END AS s
  FROM dly JOIN med ON dly.event_type = med.event_type
  WHERE v != m
),
runs AS (
  SELECT event_type, s,
         CASE WHEN lag(s) OVER (PARTITION BY event_type ORDER BY day) IS NULL
               OR lag(s) OVER (PARTITION BY event_type ORDER BY day) != s
              THEN 1 ELSE 0 END AS new_run
  FROM signed
),
agg AS (
  SELECT event_type,
         sum(new_run) AS r,
         sum(s) AS n1,
         sum(1 - s) AS n2
  FROM runs GROUP BY event_type
)
SELECT event_type,
       CAST(r AS BIGINT) AS n_runs,
       CAST(n1 AS BIGINT) AS n_above, CAST(n2 AS BIGINT) AS n_below,
       {round6_sql(
           "(r - (2.0 * n1 * n2 / (n1 + n2) + 1))"
           " / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)"
           "        / ((CAST(n1 + n2 AS DOUBLE)) * (n1 + n2)"
           "           * (n1 + n2 - 1)))"
       )} AS z_stat
FROM agg WHERE n1 > 0 AND n2 > 0
"""


@register("ts_runs_test", _RUNS_SQL)
def ts_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test on each channel's daily series: dichotomize
    against the exact median (ties dropped, histogram-derived — no raw
    sort), count maximal above/below RUNS via the lag-transition scan
    (the reference's W1 machinery counting runs instead of emitting
    events), and standardize against the null E[R] = 2n₁n₂/(n₁+n₂)+1.
    |Z| large = the series is trending or oscillating, not random —
    the nonparametric randomness gate run before trusting any iid-based
    monitor (SPC, z-score) on the same data.

    Ints end to end (runs counted by exact lag comparisons; the median
    from the ⌈n/2⌉ histogram rule); Z is one fixed double formula on a
    channels-sized table."""
    dly = event_days(spark, sf_dir).select("event_type", "day", F.col("units").alias("v"))
    vc = dly.groupBy("event_type", "v").agg(F.count("*").alias("c"))
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    med = (
        vc.select(
            "event_type",
            "v",
            F.sum("c").over(wcum).alias("cum"),
            F.sum("c").over(Window.partitionBy("event_type")).alias("n"),
        )
        .filter(2 * F.col("cum") >= F.col("n"))
        .groupBy("event_type")
        .agg(F.min("v").alias("m"))
    )
    signed = (
        dly.join(F.broadcast(med), "event_type")
        .filter(F.col("v") != F.col("m"))
        .select("event_type", "day", (F.col("v") > F.col("m")).cast("int").alias("s"))
    )
    lag_s = F.lag("s").over(Window.partitionBy("event_type").orderBy("day"))
    runs = signed.select(
        "event_type",
        "s",
        F.when(lag_s.isNull() | (lag_s != F.col("s")), 1).otherwise(0).alias(
            "new_run"
        ),
    )
    agg = runs.groupBy("event_type").agg(
        F.sum("new_run").alias("r"),
        F.sum("s").alias("n1"),
        F.sum(1 - F.col("s")).alias("n2"),
    )
    n1, n2, r = F.col("n1"), F.col("n2"), F.col("r")
    mean_r = 2.0 * n1 * n2 / (n1 + n2) + 1
    var_r = (
        2.0
        * n1
        * n2
        * (2.0 * n1 * n2 - n1 - n2)
        / ((n1 + n2).cast("double") * (n1 + n2) * (n1 + n2 - 1))
    )
    return agg.filter((n1 > 0) & (n2 > 0)).select(
        "event_type",
        r.cast("long").alias("n_runs"),
        n1.cast("long").alias("n_above"),
        n2.cast("long").alias("n_below"),
        round6((r - mean_r) / F.sqrt(var_r)).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# maximum drawdown over per-user cumulative value (integer cents)
# ---------------------------------------------------------------------------

_DRAWDOWN_SQL = """
WITH s AS (
  SELECT user_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS equity
  FROM events
),
d AS (
  SELECT user_id, rn, equity,
         max(equity) OVER (PARTITION BY user_id ORDER BY rn
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
  FROM s
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(max(peak - equity) AS BIGINT) AS max_drawdown_cents,
       CAST(max(peak) AS BIGINT) AS peak_cents,
       CAST(arg_max(equity, rn) AS BIGINT) AS final_cents
FROM d
GROUP BY user_id
"""


@register("ts_max_drawdown", _DRAWDOWN_SQL)
def ts_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of each user's cumulative-value curve — the
    canonical risk statistic that needs TWO stacked prefix scans
    (running sum → running max) before the final aggregate; everything
    stays in integer cents so the result is exact at any scale. One
    hash-partition by user feeds all three steps (both windows and the
    groupBy share the user_id partitioning — Catalyst plans a single
    Exchange)."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    s = ev.select(
        "user_id",
        F.row_number().over(wo).alias("rn"),
        F.sum(cents).over(run).alias("equity"),
    ).withColumn(
        "peak",
        F.max("equity").over(
            Window.partitionBy("user_id")
            .orderBy("rn")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return s.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.max(F.col("peak") - F.col("equity")).cast("long").alias("max_drawdown_cents"),
        F.max("peak").cast("long").alias("peak_cents"),
        F.max_by("equity", "rn").cast("long").alias("final_cents"),
    )


# ---------------------------------------------------------------------------
# Kendall tau-b between daily event count and daily value mass
# ---------------------------------------------------------------------------

_KENDALL_SQL = f"""
WITH daily AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
         count(*) AS cnt,
         sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS cents
  FROM events GROUP BY event_type, strftime(ts, '%Y-%m-%d')
),
r AS (
  SELECT event_type, cnt, cents,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
  FROM daily
),
p AS (
  SELECT a.event_type,
         CASE WHEN (a.cnt < b.cnt AND a.cents < b.cents)
                OR (a.cnt > b.cnt AND a.cents > b.cents) THEN 1 ELSE 0 END AS conc,
         CASE WHEN (a.cnt < b.cnt AND a.cents > b.cents)
                OR (a.cnt > b.cnt AND a.cents < b.cents) THEN 1 ELSE 0 END AS disc,
         CASE WHEN a.cnt = b.cnt THEN 1 ELSE 0 END AS tx,
         CASE WHEN a.cents = b.cents THEN 1 ELSE 0 END AS ty
  FROM r a JOIN r b ON a.event_type = b.event_type AND a.rn < b.rn
),
s AS (
  SELECT event_type, count(*) AS n_pairs,
         sum(conc) AS concordant, sum(disc) AS discordant,
         sum(tx) AS ties_x, sum(ty) AS ties_y
  FROM p GROUP BY event_type
)
SELECT event_type,
       CAST(n_pairs AS BIGINT) AS n_pairs,
       CAST(concordant AS BIGINT) AS concordant,
       CAST(discordant AS BIGINT) AS discordant,
       CAST(ties_x AS BIGINT) AS ties_x,
       CAST(ties_y AS BIGINT) AS ties_y,
       {round6_sql(
           "CAST(concordant - discordant AS DOUBLE)"
           " / sqrt(CAST(n_pairs - ties_x AS DOUBLE) * CAST(n_pairs - ties_y AS DOUBLE))"
       )} AS tau_b
FROM s
"""


@register("ts_kendall_tau_daily", _KENDALL_SQL)
def ts_kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between each event type's daily count and daily
    value mass — the rank-association twin of spearman_rank_corr that
    is exact under heavy ties. Aggregate-first shrinks the stream to
    ~365 rows per type BEFORE the O(n²) pair scan (the only sound way
    to run Kendall at 100 TB: the quadratic part never touches raw
    data), then concordant / discordant / tie pair counts accumulate as
    exact int64 and tau-b is one final double. Complements
    ts_mann_kendall (trend vs time) by measuring cross-series
    association."""
    daily = event_days(spark, sf_dir).select("event_type", "day", F.col("n").alias("cnt"), "cents")
    r = daily.select(
        "event_type",
        "cnt",
        "cents",
        F.row_number().over(Window.partitionBy("event_type").orderBy("day")).alias("rn"),
    )
    a, b = r.alias("a"), r.alias("b")
    pairs = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type")) & (F.col("a.rn") < F.col("b.rn")),
    )
    up = (F.col("a.cnt") < F.col("b.cnt")) & (F.col("a.cents") < F.col("b.cents"))
    down = (F.col("a.cnt") > F.col("b.cnt")) & (F.col("a.cents") > F.col("b.cents"))
    xup = (F.col("a.cnt") < F.col("b.cnt")) & (F.col("a.cents") > F.col("b.cents"))
    xdown = (F.col("a.cnt") > F.col("b.cnt")) & (F.col("a.cents") < F.col("b.cents"))
    s = pairs.groupBy(F.col("a.event_type").alias("event_type")).agg(
        F.count("*").alias("n_pairs"),
        F.sum((up | down).cast("int")).alias("concordant"),
        F.sum((xup | xdown).cast("int")).alias("discordant"),
        F.sum((F.col("a.cnt") == F.col("b.cnt")).cast("int")).alias("ties_x"),
        F.sum((F.col("a.cents") == F.col("b.cents")).cast("int")).alias("ties_y"),
    )
    tau = (F.col("concordant") - F.col("discordant")).cast("double") / F.sqrt(
        (F.col("n_pairs") - F.col("ties_x")).cast("double")
        * (F.col("n_pairs") - F.col("ties_y")).cast("double")
    )
    return s.select(
        "event_type",
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.col("concordant").cast("long").alias("concordant"),
        F.col("discordant").cast("long").alias("discordant"),
        F.col("ties_x").cast("long").alias("ties_x"),
        F.col("ties_y").cast("long").alias("ties_y"),
        round6(tau).alias("tau_b"),
    )


# ---------------------------------------------------------------------------
# historical VaR / CVaR of day-over-day value changes
# ---------------------------------------------------------------------------

_VAR_SQL = f"""
WITH daily AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
         sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS cents
  FROM events GROUP BY event_type, strftime(ts, '%Y-%m-%d')
),
delta AS (
  SELECT event_type,
         cents - lag(cents) OVER (PARTITION BY event_type ORDER BY day) AS d
  FROM daily
),
ranked AS (
  SELECT event_type, d,
         row_number() OVER (PARTITION BY event_type ORDER BY d, event_type) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM delta WHERE d IS NOT NULL
)
SELECT event_type,
       CAST(max(n) AS BIGINT) AS n_days,
       CAST(max(CASE WHEN rn = CAST(ceil(0.05 * n) AS BIGINT) THEN d END) AS BIGINT)
         AS var5_cents,
       {round6_sql(
           "CAST(sum(CASE WHEN rn <= CAST(ceil(0.05 * n) AS BIGINT) THEN d ELSE 0 END)"
           " AS DOUBLE) / CAST(ceil(0.05 * max(n)) AS DOUBLE)"
       )} AS cvar5_cents,
       CAST(min(d) AS BIGINT) AS worst_cents
FROM ranked
GROUP BY event_type
"""


@register("ts_var_cvar_daily", _VAR_SQL)
def ts_var_cvar_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Historical Value-at-Risk and Conditional VaR (expected shortfall)
    of day-over-day changes in each event type's daily value mass — the
    risk-desk readout beyond plain quantiles: VaR5 is the 5th-percentile
    change (discrete, by rank k = ⌈0.05n⌉) and CVaR5 the exact mean of
    the k worst changes. Everything is integer cents — the tail mean is
    an int64 sum over exactly k rows divided once — so the statistic is
    bit-stable. Aggregate-first (day grain) then one window per type; at
    100 TB the quantile runs on ~365 rows per key, never the raw
    stream."""
    daily = event_days(spark, sf_dir).select("event_type", "day", "cents")
    wday = Window.partitionBy("event_type").orderBy("day")
    delta = daily.select(
        "event_type", (F.col("cents") - F.lag("cents").over(wday)).alias("d")
    ).filter(F.col("d").isNotNull())
    wrank = Window.partitionBy("event_type").orderBy("d", "event_type")
    ranked = delta.select(
        "event_type",
        "d",
        F.row_number().over(wrank).alias("rn"),
        F.count("*").over(Window.partitionBy("event_type")).alias("n"),
    )
    k = F.ceil(0.05 * F.col("n")).cast("long")
    agg = ranked.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_days"),
        F.max(F.when(F.col("rn") == k, F.col("d"))).cast("long").alias("var5_cents"),
        F.sum(F.when(F.col("rn") <= k, F.col("d")).otherwise(0)).alias("tail_sum"),
        F.ceil(0.05 * F.max("n")).cast("long").alias("k"),
        F.min("d").cast("long").alias("worst_cents"),
    )
    return agg.select(
        "event_type",
        "n_days",
        "var5_cents",
        round6(F.col("tail_sum").cast("double") / F.col("k").cast("double")).alias(
            "cvar5_cents"
        ),
        "worst_cents",
    )


# ---------------------------------------------------------------------------
# periodogram of the daily event-count series
# ---------------------------------------------------------------------------

def _pgram_sql() -> str:
    return f"""
WITH daily AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS cnt FROM events
  GROUP BY strftime(ts, '%Y-%m-%d')
),
{_DFT_TERMS_SQL},
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
    s = daily_dft(spark, sf_dir)
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


# ---------------------------------------------------------------------------
# maximum-sum contiguous run of daily deltas (Kadane via windows)
# ---------------------------------------------------------------------------

_KADANE_SQL = """
WITH daily AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
         sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS cents
  FROM events GROUP BY event_type, strftime(ts, '%Y-%m-%d')
),
delta AS (
  SELECT event_type, day,
         cents - lag(cents) OVER (PARTITION BY event_type ORDER BY day) AS d
  FROM daily
),
p AS (
  SELECT event_type, day,
         sum(d) OVER (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prefix
  FROM delta WHERE d IS NOT NULL
),
q AS (
  SELECT event_type, day, prefix,
         coalesce(min(prefix) OVER (PARTITION BY event_type ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS minp
  FROM p
),
best AS (
  SELECT event_type, day, prefix - least(minp, 0) AS run_sum
  FROM q
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_days,
       CAST(max(run_sum) AS BIGINT) AS best_run_cents,
       max(CASE WHEN run_sum = (SELECT max(b2.run_sum) FROM best b2
                                WHERE b2.event_type = best.event_type)
                THEN day END) AS best_end_day
FROM best GROUP BY event_type
"""


@register("ts_max_subarray_window", _KADANE_SQL)
def ts_max_subarray_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-sum contiguous run of day-over-day value changes per
    event type — the best winning streak, i.e. Kadane's max-subarray,
    computed WITHOUT a sequential fold: best run ending at day j =
    prefix_j − min(0, min prefix before j), so two stacked window
    passes (prefix sum → running min) solve it declaratively — the
    identity that keeps an inherently sequential-looking DP fully
    parallel at 100 TB. Everything is exact integer cents; the best
    end-day tie-breaks by max(day)."""
    daily = event_days(spark, sf_dir).select("event_type", "day", "cents")
    wd = Window.partitionBy("event_type").orderBy("day")
    delta = daily.select(
        "event_type", "day", (F.col("cents") - F.lag("cents").over(wd)).alias("d")
    ).filter(F.col("d").isNotNull())
    p = delta.select(
        "event_type",
        "day",
        F.sum("d")
        .over(wd.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("prefix"),
    )
    q = p.select(
        "event_type",
        "day",
        "prefix",
        F.coalesce(
            F.min("prefix").over(wd.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)
        ).alias("minp"),
    )
    best = q.select(
        "event_type",
        "day",
        (F.col("prefix") - F.least(F.col("minp"), F.lit(0))).alias("run_sum"),
    )
    mx = best.groupBy("event_type").agg(
        F.count("*").alias("n_days"), F.max("run_sum").alias("best")
    )
    j = best.join(F.broadcast(mx.withColumnRenamed("event_type", "et")),
                  (F.col("event_type") == F.col("et")) & (F.col("run_sum") == F.col("best")))
    return j.groupBy("event_type").agg(
        F.max("n_days").cast("long").alias("n_days"),
        F.max("best").cast("long").alias("best_run_cents"),
        F.max("day").alias("best_end_day"),
    )


# ---------------------------------------------------------------------------
# local peak detection on the daily count series
# ---------------------------------------------------------------------------

_PEAKS_SQL = """
WITH daily AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, count(*) AS cnt
  FROM events GROUP BY event_type, strftime(ts, '%Y-%m-%d')
),
w AS (
  SELECT event_type, day, cnt,
         lag(cnt) OVER win AS prev1, lead(cnt) OVER win AS next1,
         max(cnt) OVER (win ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS local_max
  FROM daily
  WINDOW win AS (PARTITION BY event_type ORDER BY day)
)
SELECT event_type, day, CAST(cnt AS BIGINT) AS cnt,
       CAST(prev1 AS BIGINT) AS prev_cnt, CAST(next1 AS BIGINT) AS next_cnt
FROM w
WHERE prev1 IS NOT NULL AND next1 IS NOT NULL
  AND cnt > prev1 AND cnt > next1 AND cnt = local_max
"""


@register("ts_local_peaks", _PEAKS_SQL)
def ts_local_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local peak detection on each type's daily count series: a day
    is a peak iff it strictly beats both neighbors AND is the maximum
    of its ±3-day neighborhood — the event-spike detector that feeds
    alerting/annotation (the discrete cousin of ts_anomaly_zscore's
    statistical gate). One window partition serves the lag, lead, and
    neighborhood-max frames (named WINDOW in the oracle, shared sort
    in Spark); all comparisons are exact integers."""
    daily = event_days(spark, sf_dir).select("event_type", "day", F.col("n").alias("cnt"))
    win = Window.partitionBy("event_type").orderBy("day")
    w = daily.select(
        "event_type",
        "day",
        "cnt",
        F.lag("cnt").over(win).alias("prev1"),
        F.lead("cnt").over(win).alias("next1"),
        F.max("cnt").over(win.rowsBetween(-3, 3)).alias("local_max"),
    )
    return w.filter(
        F.col("prev1").isNotNull()
        & F.col("next1").isNotNull()
        & (F.col("cnt") > F.col("prev1"))
        & (F.col("cnt") > F.col("next1"))
        & (F.col("cnt") == F.col("local_max"))
    ).select(
        "event_type",
        "day",
        F.col("cnt").cast("long").alias("cnt"),
        F.col("prev1").cast("long").alias("prev_cnt"),
        F.col("next1").cast("long").alias("next_cnt"),
    )


# ---------------------------------------------------------------------------
# ACF table: lags 1..14 of the global daily value-mass series
# ---------------------------------------------------------------------------

_ACF_MAX_LAG = 14

_ACF_SQL = f"""
WITH daily AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day,
         sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS x
  FROM events GROUP BY strftime(ts, '%Y-%m-%d')
),
r AS (SELECT x, row_number() OVER (ORDER BY day) AS rn FROM daily),
p AS (
  SELECT k.k, a.x AS xa, b.x AS xb
  FROM (SELECT unnest(range(1, {_ACF_MAX_LAG + 1})) AS k) k
  JOIN r a ON TRUE
  JOIN r b ON b.rn = a.rn + k.k
),
s AS (
  SELECT k, count(*) AS n,
         sum(xa) AS sa, sum(xb) AS sb,
         sum(CAST(xa AS DECIMAL(38,0)) * xb) AS sab,
         sum(CAST(xa AS DECIMAL(38,0)) * xa) AS saa,
         sum(CAST(xb AS DECIMAL(38,0)) * xb) AS sbb
  FROM p GROUP BY k
)
SELECT k AS lag,
       CAST(n AS BIGINT) AS n_pairs,
       {round6_sql(
           "(CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)"
           " - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))"
           " / (sqrt(CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)"
           "          - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))"
           "    * sqrt(CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)"
           "           - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)))"
       )} AS acf
FROM s
"""


@register("ts_acf_table", _ACF_SQL)
def ts_acf_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full autocorrelation function of the daily value-mass
    series at lags 1..14 — the table behind an ACF plot (weekly
    seasonality shows as a spike at 7), generalizing
    ts_autocorr_hourly's two fixed lags. Per lag, the lagged pairing
    is an rn-offset EQUI-join on the ~365-row daily rollup (the
    aggregate-first discipline), and all five moment sums accumulate
    exactly (DECIMAL(38,0) products — daily cents reach ~10⁹ at sf0.1,
    so Σx² exceeds int64); the Pearson closed form runs once per lag.
    14 lags × 365 rows — trivially broadcast-sized after the shrink."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day")).agg(
        F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long")).alias("x")
    )
    r = daily.select("x", F.row_number().over(Window.orderBy("day")).alias("rn"))
    ks = spark.range(1, _ACF_MAX_LAG + 1).select(F.col("id").cast("int").alias("k"))
    a = r.crossJoin(F.broadcast(ks)).select(
        "k", F.col("x").alias("xa"), (F.col("rn") + F.col("k")).alias("probe_rn")
    )
    b = r.select(F.col("x").alias("xb"), F.col("rn").alias("probe_rn"))
    p = a.join(b, "probe_rn")
    s = p.groupBy("k").agg(
        F.count("*").alias("n"),
        F.sum("xa").alias("sa"),
        F.sum("xb").alias("sb"),
        F.sum(F.col("xa").cast("decimal(38,0)") * F.col("xb")).alias("sab"),
        F.sum(F.col("xa").cast("decimal(38,0)") * F.col("xa")).alias("saa"),
        F.sum(F.col("xb").cast("decimal(38,0)") * F.col("xb")).alias("sbb"),
    )
    n = F.col("n").cast("double")
    sa, sb = F.col("sa").cast("double"), F.col("sb").cast("double")
    sab, saa, sbb = (
        F.col("sab").cast("double"),
        F.col("saa").cast("double"),
        F.col("sbb").cast("double"),
    )
    acf = (n * sab - sa * sb) / (F.sqrt(n * saa - sa * sa) * F.sqrt(n * sbb - sb * sb))
    return s.select(
        F.col("k").alias("lag"),
        F.col("n").cast("long").alias("n_pairs"),
        round6(acf).alias("acf"),
    )


# ---------------------------------------------------------------------------
# hysteresis (Schmitt-trigger) burst episodes over hourly counts
# ---------------------------------------------------------------------------

# enter burst when cnt > 1.5×mean, leave when cnt < 0.8×mean
_HYST_HI_NUM, _HYST_LO_NUM = 15, 8  # ×mean_milli/10 cross-multiplied

_HYST_SQL = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS cnt
  FROM events GROUP BY event_type, date_trunc('hour', ts)
),
m AS (
  SELECT event_type, count(*) AS n_hours, sum(cnt) AS s FROM hourly GROUP BY event_type
),
mk AS (
  SELECT h.event_type, h.hr, h.cnt, m.n_hours,
         CASE WHEN h.cnt * 10000 > {_HYST_HI_NUM} * ((m.s * 1000) // m.n_hours) THEN 1
              WHEN h.cnt * 10000 < {_HYST_LO_NUM} * ((m.s * 1000) // m.n_hours) THEN 0
              ELSE NULL END AS marker
  FROM hourly h JOIN m USING (event_type)
),
st AS (
  SELECT event_type, hr, n_hours,
         coalesce(last_value(marker IGNORE NULLS)
                  OVER (PARTITION BY event_type ORDER BY hr
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS state
  FROM mk
),
tr AS (
  SELECT event_type, n_hours, state,
         coalesce(lag(state) OVER (PARTITION BY event_type ORDER BY hr), 0) AS prev
  FROM st
)
SELECT event_type,
       CAST(max(n_hours) AS BIGINT) AS n_hours,
       CAST(sum(state) AS BIGINT) AS burst_hours,
       CAST(sum(CASE WHEN state = 1 AND prev = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bursts
FROM tr GROUP BY event_type
"""


@register("ts_hysteresis_bursts", _HYST_SQL)
def ts_hysteresis_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schmitt-trigger burst detection on hourly counts — enter a
    burst above 1.5× the mean rate, leave below 0.8× (the two-
    threshold hysteresis that kills the flapping a single threshold
    produces; the practical cousin of Kleinberg's burst automaton).
    The recurrence state_t = f(state_{t-1}, cnt_t) needs NO fold: the
    state equals the LAST boundary-crossing marker, so last_value
    IGNORE NULLS over the marker column runs the automaton as one
    declarative window — the LOCF identity that keeps stateful scans
    parallel (same family as ts_gap_fill_locf). Thresholds compare
    cross-multiplied integers against the milli-quantized mean; burst
    episodes count 0→1 transitions."""
    hourly = event_hours(spark, sf_dir).select("event_type", "hr", F.col("n").alias("cnt"))
    m = hourly.groupBy("event_type").agg(
        F.count("*").alias("n_hours"), F.sum("cnt").alias("s")
    )
    mk = hourly.join(F.broadcast(m), "event_type").select(
        "event_type",
        "hr",
        "n_hours",
        F.when(
            F.col("cnt") * 10000 > _HYST_HI_NUM * F.expr("(s * 1000) div n_hours"), 1
        )
        .when(F.col("cnt") * 10000 < _HYST_LO_NUM * F.expr("(s * 1000) div n_hours"), 0)
        .otherwise(F.lit(None))
        .alias("marker"),
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    st = mk.select(
        "event_type",
        "hr",
        "n_hours",
        F.coalesce(F.last("marker", ignorenulls=True).over(wcum), F.lit(0)).alias("state"),
    )
    tr = st.select(
        "event_type",
        "n_hours",
        "state",
        F.coalesce(
            F.lag("state").over(Window.partitionBy("event_type").orderBy("hr")), F.lit(0)
        ).alias("prev"),
    )
    return tr.groupBy("event_type").agg(
        F.max("n_hours").cast("long").alias("n_hours"),
        F.sum("state").cast("long").alias("burst_hours"),
        F.sum(F.when((F.col("state") == 1) & (F.col("prev") == 0), 1).otherwise(0))
        .cast("long")
        .alias("n_bursts"),
    )


# ---------------------------------------------------------------------------
# Haar wavelet details of the hourly event-count series
# ---------------------------------------------------------------------------

_HAAR_SLOTS = 512  # first 512 hours of the series (power of two)
_HAAR_LEVELS = 6  # block sizes 2..64

# dense hourly-count frame, shared with the Hurst R/S, AR(2) and binary
# segmentation queries:
# s(slot BIGINT in [0, 512), n BIGINT) anchored at the series' first hour
_SLOTS_CTE_SQL = f"""ev AS (
  SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h FROM events
),
t0 AS (SELECT min(h) AS h0 FROM ev),
c AS (
  SELECT ev.h - t0.h0 AS slot, count(*) AS n
  FROM ev, t0 WHERE ev.h - t0.h0 < {_HAAR_SLOTS} GROUP BY 1
),
s AS (
  SELECT r.range AS slot, coalesce(c.n, 0) AS n
  FROM range({_HAAR_SLOTS}) r LEFT JOIN c ON c.slot = r.range
)"""


def hourly_slots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense (slot, n) hourly event counts for the first 512 hours —
    the Spark twin of _SLOTS_CTE_SQL. Missing hours materialize as 0
    via a broadcast join against spark.range (at 100 TB the same frame
    is per-device: range ⨯ device dimension, still broadcast-sized)."""
    ev = load_table(spark, sf_dir, "events").select(
        F.floor(F.unix_seconds("ts") / 3600).cast("long").alias("h")
    )
    h0 = ev.agg(F.min("h").alias("h0"))
    c = (
        ev.join(F.broadcast(h0))
        .select((F.col("h") - F.col("h0")).alias("slot"))
        .filter(F.col("slot") < _HAAR_SLOTS)
        .groupBy("slot")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        spark.range(_HAAR_SLOTS)
        .select(F.col("id").alias("slot"))
        .join(c, "slot", "left")
        .select("slot", F.coalesce("n", F.lit(0)).alias("n"))
    )


_HAAR_SQL = f"""
WITH {_SLOTS_CTE_SQL},
lv AS (
  SELECT slot, n, l.level
  FROM s CROSS JOIN (SELECT unnest([{",".join(str(l) for l in range(1, _HAAR_LEVELS + 1))}]) AS level) l
)
SELECT level,
       CAST(slot // (1 << level) AS BIGINT) AS pos,
       sum(n) AS n_events,
       sum(CASE WHEN slot % (1 << level) < (1 << (level - 1)) THEN n ELSE -n END)
         AS detail
FROM lv GROUP BY 1, 2
"""


@register("ts_haar_coefficients", sql=_HAAR_SQL)
def ts_haar_coefficients(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unnormalised Haar wavelet details of the hourly event-count
    series (first 512 hours): at each dyadic level, detail =
    Σ(left half) − Σ(right half) of the block — the multi-resolution
    burst detector (a large |detail| at level L flags an activity shift
    at the 2^L-hour scale) and the transform behind wavelet-compressed
    series synopses. All-integer arithmetic end to end: counts sum
    exactly, so no cross-engine float risk anywhere.

    Scale: one scan → hour bucketing → one groupBy(level, pos) over an
    exploded 6-level array; the dense 512-slot frame is a broadcast
    range join. At 100 TB the same plan holds with the series keyed per
    device — the explode factor is the (constant) level count."""
    s = hourly_slots(spark, sf_dir)
    lv = s.select(
        "slot",
        "n",
        F.explode(
            F.array(*[F.lit(l) for l in range(1, _HAAR_LEVELS + 1)])
        ).alias("level"),
    )
    # F.shiftleft needs a literal shift; the SQL form takes a column
    blk = F.expr("shiftleft(1, level)")
    half = F.expr("shiftleft(1, level - 1)")
    return (
        lv.select(
            "level",
            F.floor(F.col("slot") / blk).cast("long").alias("pos"),
            "n",
            F.when(F.pmod("slot", blk) < half, F.col("n"))
            .otherwise(-F.col("n"))
            .alias("signed_n"),
        )
        .groupBy("level", "pos")
        .agg(F.sum("n").alias("n_events"), F.sum("signed_n").alias("detail"))
    )


# ---------------------------------------------------------------------------
# Hurst exponent via rescaled-range (R/S) analysis
# ---------------------------------------------------------------------------

_RS_WINDOWS = (8, 16, 32, 64)


def _rs_per_w_sql(w: int) -> str:
    # all chunk statistics derive from exact integer sums; the only
    # cross-engine float risk is the final chunk-average (summation
    # order), absorbed by round6
    return f"""
  SELECT {w} AS w, count(*) AS n_chunks,
         {round6_sql('sum(rs) / count(*)')} AS rs_avg
  FROM (
    SELECT chunk, (max(dev) - min(dev))
             / sqrt(s2 / {w}.0 - (s1 / {w}.0) * (s1 / {w}.0)) AS rs
    FROM (
      SELECT slot // {w} AS chunk,
             sum(n) OVER (PARTITION BY slot // {w} ORDER BY slot
                          ROWS UNBOUNDED PRECEDING)
               - (slot % {w} + 1) * (sum(n) OVER (PARTITION BY slot // {w}) / {w}.0)
               AS dev,
             sum(n) OVER (PARTITION BY slot // {w}) AS s1,
             sum(n * n) OVER (PARTITION BY slot // {w}) AS s2
      FROM s
    )
    GROUP BY chunk, s1, s2
    HAVING s2 * {w} > s1 * s1
  )
"""


def _hurst_sql() -> str:
    per_w = "\n  UNION ALL\n".join(_rs_per_w_sql(w) for w in _RS_WINDOWS)
    return f"""
WITH {_SLOTS_CTE_SQL},
rs AS ({per_w}),
pts AS (SELECT w, n_chunks, rs_avg, ln(w) AS x, ln(rs_avg) AS y FROM rs),
slope AS (
  SELECT (count(*) * sum(x * y) - sum(x) * sum(y))
           / (count(*) * sum(x * x) - sum(x) * sum(x)) AS h
  FROM pts
)
SELECT w, n_chunks, rs_avg AS rs_avg_r, {round6_sql('slope.h')} AS hurst_r
FROM pts, slope
"""


@register("ts_hurst_rs", sql=_hurst_sql())
def ts_hurst_rs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent by rescaled-range analysis of the hourly event
    arrival series: for window sizes 8..64 slots, each chunk's
    R (range of cumulative deviations from the chunk mean) over
    S (population σ) averages into one point; the log-log slope across
    window sizes is H (0.5 = memoryless arrivals, > 0.5 = long-range
    persistence) — the classic long-memory diagnostic (Mandelbrot &
    Wallis) that tells a capacity planner whether bursts aggregate
    away.

    Scale: chunk statistics come from ONE pass of window aggregates
    partitioned on chunk id (integer sums — exact), the per-w results
    are a 4-branch union over the same 512-slot dense frame, and the
    final slope is a 4-point regression folded as sums. Per-device at
    100 TB, every window re-keys by (device, chunk) — no stage holds
    more than a chunk."""
    s = hourly_slots(spark, sf_dir).localCheckpoint(eager=True)
    per_w = []
    for w in _RS_WINDOWS:
        chunk = (F.col("slot") - F.pmod("slot", F.lit(w))) / w
        wc = Window.partitionBy("chunk")
        wrun = Window.partitionBy("chunk").orderBy("slot").rowsBetween(
            Window.unboundedPreceding, 0
        )
        st = s.select(
            F.col("slot"),
            F.col("n"),
            chunk.cast("long").alias("chunk"),
        ).select(
            "chunk",
            "slot",
            (
                F.sum("n").over(wrun)
                - (F.pmod("slot", F.lit(w)) + 1) * (F.sum("n").over(wc) / float(w))
            ).alias("dev"),
            F.sum("n").over(wc).alias("s1"),
            F.sum(F.col("n") * F.col("n")).over(wc).alias("s2"),
        )
        rs = (
            st.groupBy("chunk", "s1", "s2")
            .agg((F.max("dev") - F.min("dev")).alias("r"))
            .filter(F.col("s2") * w > F.col("s1") * F.col("s1"))
            .select(
                (
                    F.col("r")
                    / F.sqrt(
                        F.col("s2") / float(w)
                        - (F.col("s1") / float(w)) * (F.col("s1") / float(w))
                    )
                ).alias("rs")
            )
        )
        per_w.append(
            rs.agg(
                F.lit(w).alias("w"),
                F.count(F.lit(1)).alias("n_chunks"),
                round6(F.sum("rs") / F.count(F.lit(1))).alias("rs_avg"),
            )
        )
    pts = per_w[0]
    for other in per_w[1:]:
        pts = pts.union(other)
    pts = pts.select(
        "*", F.log("w").alias("x"), F.log("rs_avg").alias("y")
    ).localCheckpoint(eager=True)
    slope = pts.agg(
        (
            (F.count(F.lit(1)) * F.sum(F.col("x") * F.col("y")) - F.sum("x") * F.sum("y"))
            / (F.count(F.lit(1)) * F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x"))
        ).alias("h")
    )
    return pts.join(F.broadcast(slope)).select(
        "w", "n_chunks", F.col("rs_avg").alias("rs_avg_r"), round6(F.col("h")).alias("hurst_r")
    )


# ---------------------------------------------------------------------------
# Tukey median polish of the dow × hour grid
# ---------------------------------------------------------------------------

_POLISH_SWEEPS = 2


def _polish_sql() -> str:
    # g, r{s}a and r{s} are MATERIALIZED: each is named twice by the next
    # step, so inlining would rescan events 4^sweeps times
    body = [
        """g AS MATERIALIZED (
  SELECT CAST(isodow(ts) AS INT) AS dow, CAST(hour(ts) AS INT) AS hr,
         CAST(count(*) AS DOUBLE) AS r
  FROM events GROUP BY 1, 2
)"""
    ]
    prev = "g"
    for s in range(1, _POLISH_SWEEPS + 1):
        body.append(
            f"""rm{s} AS (SELECT dow, quantile_cont(r, 0.5) AS med FROM {prev} GROUP BY dow),
r{s}a AS MATERIALIZED (
  SELECT t.dow, t.hr, t.r - m.med AS r FROM {prev} t JOIN rm{s} m USING (dow)
),
cm{s} AS (SELECT hr, quantile_cont(r, 0.5) AS med FROM r{s}a GROUP BY hr),
r{s} AS MATERIALIZED (
  SELECT t.dow, t.hr, t.r - m.med AS r FROM r{s}a t JOIN cm{s} m USING (hr)
)"""
        )
        prev = f"r{s}"
    return (
        "WITH "
        + ",\n".join(body)
        + f"\nSELECT dow, hr, {round6_sql('r')} AS resid_r FROM {prev}"
    )


@register("ts_median_polish_residuals", sql=_polish_sql())
def ts_median_polish_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey median polish of the day-of-week × hour event-count grid
    (2 sweeps): alternately subtract row and column medians, leaving
    residuals robust to outlier cells — the additive two-way
    decomposition (overall + dow effect + hour effect + residual) that
    exposes localized anomalies plain row/column means would smear.
    Counts enter as exact integers; medians of ≤ 24 values interpolate
    exactly (both engines' interpolated median), so every residual is
    an identical float expression.

    Scale: the grid materializes with ONE groupBy over the scan
    (168 cells at any data size); the polish sweeps are joins over the
    constant-size grid — per-device at 100 TB the same plan re-keys
    the grid and medians by device."""
    g = (
        load_table(spark, sf_dir, "events")
        # Spark dayofweek: Sunday=1..Saturday=7 → ISO Monday=1..Sunday=7
        .groupBy(
            (((F.dayofweek("ts") + 5) % 7) + 1).cast("int").alias("dow"),
            F.hour("ts").cast("int").alias("hr"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("r"))
        .localCheckpoint(eager=True)
    )
    cur = g
    for _ in range(_POLISH_SWEEPS):
        rm = cur.groupBy("dow").agg(F.percentile("r", F.lit(0.5)).alias("med"))
        cur = (
            cur.join(F.broadcast(rm), "dow")
            .select("dow", "hr", (F.col("r") - F.col("med")).alias("r"))
        )
        cm = cur.groupBy("hr").agg(F.percentile("r", F.lit(0.5)).alias("med"))
        cur = (
            cur.join(F.broadcast(cm), "hr")
            .select("dow", "hr", (F.col("r") - F.col("med")).alias("r"))
        )
    return cur.select("dow", "hr", round6(F.col("r")).alias("resid_r"))


# ---------------------------------------------------------------------------
# AR(2) via Yule-Walker
# ---------------------------------------------------------------------------


def _ar2_sql() -> str:
    n = _HAAR_SLOTS
    return f"""
WITH {_SLOTS_CTE_SQL},
lagged AS (
  SELECT slot, n,
         lag(n, 1) OVER (ORDER BY slot) AS n1,
         lag(n, 2) OVER (ORDER BY slot) AS n2
  FROM s
),
sums AS (
  SELECT sum(n) AS s1, sum(n * n) AS s11,
         sum(CASE WHEN n1 IS NOT NULL THEN n * n1 END) AS p1,
         sum(CASE WHEN n1 IS NOT NULL THEN n END) AS h1a,
         sum(CASE WHEN n1 IS NOT NULL THEN n1 END) AS h1b,
         sum(CASE WHEN n2 IS NOT NULL THEN n * n2 END) AS p2,
         sum(CASE WHEN n2 IS NOT NULL THEN n END) AS h2a,
         sum(CASE WHEN n2 IS NOT NULL THEN n2 END) AS h2b,
         max(CASE WHEN slot = {n - 1} THEN n END) AS x_last,
         max(CASE WHEN slot = {n - 2} THEN n END) AS x_prev
  FROM lagged
),
acv AS (
  SELECT CAST(s1 AS DOUBLE) / {n} AS mu,
         (s11 - 2.0 * (CAST(s1 AS DOUBLE) / {n}) * s1
              + {n} * pow(CAST(s1 AS DOUBLE) / {n}, 2)) / {n} AS c0,
         (p1 - (CAST(s1 AS DOUBLE) / {n}) * (h1a + h1b)
             + {n - 1} * pow(CAST(s1 AS DOUBLE) / {n}, 2)) / {n} AS c1,
         (p2 - (CAST(s1 AS DOUBLE) / {n}) * (h2a + h2b)
             + {n - 2} * pow(CAST(s1 AS DOUBLE) / {n}, 2)) / {n} AS c2,
         x_last, x_prev
  FROM sums
),
fit AS (
  SELECT mu, c0, c1 / c0 AS r1, c2 / c0 AS r2, x_last, x_prev FROM acv
)
SELECT {round6_sql('r1')} AS r1_r,
       {round6_sql('r2')} AS r2_r,
       {round6_sql('r1 * (1 - r2) / (1 - r1 * r1)')} AS phi1_r,
       {round6_sql('(r2 - r1 * r1) / (1 - r1 * r1)')} AS phi2_r,
       {round6_sql(
           "mu + (r1 * (1 - r2) / (1 - r1 * r1)) * (x_last - mu)"
           " + ((r2 - r1 * r1) / (1 - r1 * r1)) * (x_prev - mu)"
       )} AS forecast_r
FROM fit
"""


@register("ts_ar2_yule_walker", sql=_ar2_sql())
def ts_ar2_yule_walker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AR(2) fit of the hourly arrival series by the Yule-Walker
    equations: autocovariances c₀,c₁,c₂ from exact integer sums
    (Σxₜxₜ₊ₖ via two lag windows), φ₁ = r₁(1−r₂)/(1−r₁²),
    φ₂ = (r₂−r₁²)/(1−r₁²), plus the one-step-ahead forecast
    μ + φ₁(xₙ−μ) + φ₂(xₙ₋₁−μ) — classical time-series model estimation
    beside ts_acf_table's raw correlogram and ts_holt_linear's
    smoother.

    Scale: the 512-slot dense frame aggregates to ONE row of integer
    sums (the lag products come from the same ordered pass), and the
    fit is arithmetic on that row — per-device at 100 TB the same plan
    keys the sums by device. Every float derives from the identical
    expression over exact integers."""
    n = _HAAR_SLOTS
    s = hourly_slots(spark, sf_dir)
    wo = Window.orderBy("slot")
    lagged = s.select(
        "slot",
        "n",
        F.lag("n", 1).over(wo).alias("n1"),
        F.lag("n", 2).over(wo).alias("n2"),
    )
    sums = lagged.agg(
        F.sum("n").alias("s1"),
        F.sum(F.col("n") * F.col("n")).alias("s11"),
        F.sum(F.when(F.col("n1").isNotNull(), F.col("n") * F.col("n1"))).alias("p1"),
        F.sum(F.when(F.col("n1").isNotNull(), F.col("n"))).alias("h1a"),
        F.sum(F.when(F.col("n1").isNotNull(), F.col("n1"))).alias("h1b"),
        F.sum(F.when(F.col("n2").isNotNull(), F.col("n") * F.col("n2"))).alias("p2"),
        F.sum(F.when(F.col("n2").isNotNull(), F.col("n"))).alias("h2a"),
        F.sum(F.when(F.col("n2").isNotNull(), F.col("n2"))).alias("h2b"),
        F.max(F.when(F.col("slot") == n - 1, F.col("n"))).alias("x_last"),
        F.max(F.when(F.col("slot") == n - 2, F.col("n"))).alias("x_prev"),
    )
    mu = F.col("s1").cast("double") / n
    acv = sums.select(
        mu.alias("mu"),
        ((F.col("s11") - 2.0 * mu * F.col("s1") + n * F.pow(mu, 2)) / n).alias("c0"),
        (
            (F.col("p1") - mu * (F.col("h1a") + F.col("h1b")) + (n - 1) * F.pow(mu, 2))
            / n
        ).alias("c1"),
        (
            (F.col("p2") - mu * (F.col("h2a") + F.col("h2b")) + (n - 2) * F.pow(mu, 2))
            / n
        ).alias("c2"),
        "x_last",
        "x_prev",
    )
    fit = acv.select(
        "mu",
        (F.col("c1") / F.col("c0")).alias("r1"),
        (F.col("c2") / F.col("c0")).alias("r2"),
        "x_last",
        "x_prev",
    )
    phi1 = F.col("r1") * (1 - F.col("r2")) / (1 - F.col("r1") * F.col("r1"))
    phi2 = (F.col("r2") - F.col("r1") * F.col("r1")) / (
        1 - F.col("r1") * F.col("r1")
    )
    return fit.select(
        round6(F.col("r1")).alias("r1_r"),
        round6(F.col("r2")).alias("r2_r"),
        round6(phi1).alias("phi1_r"),
        round6(phi2).alias("phi2_r"),
        round6(
            F.col("mu")
            + phi1 * (F.col("x_last") - F.col("mu"))
            + phi2 * (F.col("x_prev") - F.col("mu"))
        ).alias("forecast_r"),
    )


# ---------------------------------------------------------------------------
# circular time-of-day statistics
# ---------------------------------------------------------------------------

_CIRC_SQL = f"""
WITH a AS (
  SELECT event_type,
         -- integer microseconds: DuckDB epoch() keeps fractional
         -- seconds while Spark unix_seconds truncates — epoch_us is
         -- the shared exact clock
         2 * pi() * (epoch_us(ts) % 86400000000) / 86400000000.0 AS theta
  FROM events
),
s AS (
  SELECT event_type, count(*) AS n,
         sum(cos(theta)) AS sc, sum(sin(theta)) AS ss
  FROM a GROUP BY event_type
)
SELECT event_type, n,
       {round6_sql('sqrt(sc * sc + ss * ss) / n')} AS resultant_r,
       {round6_sql('1.0 - sqrt(sc * sc + ss * ss) / n')} AS circ_variance_r,
       {round6_sql('(atan2(ss, sc) + 2 * pi()) % (2 * pi()) * 24 / (2 * pi())')}
         AS mean_hour_r
FROM s
"""


@register("ts_circular_hour_stats", sql=_CIRC_SQL)
def ts_circular_hour_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Circular statistics of the time-of-day distribution per event
    type: mean direction (as an hour) and resultant length R̄ — the
    correct way to average clock times (23:00 and 01:00 average to
    midnight, not noon). R̄ near 0 = activity uniform around the clock;
    near 1 = concentrated at one hour. Circular variance = 1 − R̄.

    Scale: one scan, one groupBy(type) of cos/sin partial sums
    (map-side combine); the angle arithmetic is identical expression
    text in both engines and round6 absorbs the trig-sum ordering."""
    ev = load_table(spark, sf_dir, "events")
    theta = (
        2
        * math.pi
        * (F.unix_micros("ts") % 86_400_000_000).cast("double")
        / 86_400_000_000.0
    )
    s = ev.select("event_type", theta.alias("theta")).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.cos("theta")).alias("sc"),
        F.sum(F.sin("theta")).alias("ss"),
    )
    rlen = F.sqrt(F.col("sc") * F.col("sc") + F.col("ss") * F.col("ss")) / F.col("n")
    mean_hour = (
        (F.atan2(F.col("ss"), F.col("sc")) + 2 * math.pi) % (2 * math.pi)
    ) * 24 / (2 * math.pi)
    return s.select(
        "event_type",
        "n",
        round6(rlen).alias("resultant_r"),
        round6(1.0 - rlen).alias("circ_variance_r"),
        round6(mean_hour).alias("mean_hour_r"),
    )


# ---------------------------------------------------------------------------
# binary segmentation of the hourly series
# ---------------------------------------------------------------------------


def _binseg_sql() -> str:
    def seg(src: str, out: str, lo: str, hi: str) -> str:
        # best split point of s[lo, hi) minimizing two-piece SSE
        return f"""
{out}_w AS (
  SELECT slot, n,
         sum(n) OVER w AS cy, sum(n * n) OVER w AS cyy,
         row_number() OVER w AS i,
         count(*) OVER () AS m,
         sum(n) OVER () AS ty, sum(n * n) OVER () AS tyy
  FROM {src} WHERE slot >= {lo} AND slot < {hi}
  WINDOW w AS (ORDER BY slot ROWS UNBOUNDED PRECEDING)
),
{out} AS (
  SELECT slot AS cut,
         (cyy - CAST(cy AS DOUBLE) * cy / i)
           + ((tyy - cyy) - CAST(ty - cy AS DOUBLE) * (ty - cy) / (m - i)) AS sse
  FROM {out}_w WHERE i < m
  ORDER BY floor(((cyy - CAST(cy AS DOUBLE) * cy / i)
           + ((tyy - cyy) - CAST(ty - cy AS DOUBLE) * (ty - cy) / (m - i)))
           * 1e6 + 0.5) ASC, slot ASC
  LIMIT 1
)"""

    return f"""
WITH {_SLOTS_CTE_SQL},
{seg('s', 'c1', '0', '512')},
{seg('s', 'c2l', '0', '(SELECT cut + 1 FROM c1)')},
{seg('s', 'c2r', '(SELECT cut + 1 FROM c1)', '512')}
SELECT 1 AS seg_round, c1.cut AS cut_slot, {round6_sql('c1.sse')} AS sse_r FROM c1
UNION ALL SELECT 2, c2l.cut, {round6_sql('c2l.sse')} FROM c2l
UNION ALL SELECT 3, c2r.cut, {round6_sql('c2r.sse')} FROM c2r
"""


@register("ts_binary_segmentation", sql=_binseg_sql())
def ts_binary_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary segmentation changepoint search on the 512-slot hourly
    series: find the split minimizing two-piece SSE, then recurse once
    into each half — the standard multiple-changepoint detector
    (Scott-Knott / binseg) built from the same prefix-sum split search
    as the CART/stump family, on the TIME axis instead of a feature.
    Counts are exact integers; the argmin compares micro-rounded SSE.

    Scale: each segment search is one ordered prefix pass over the
    (support-sized) slot frame + a TakeOrdered top-1; recursion depth
    is the changepoint budget, a constant."""
    s = hourly_slots(spark, sf_dir).localCheckpoint(eager=True)

    def best_cut(lo: int, hi: int):
        w = Window.orderBy("slot").rowsBetween(Window.unboundedPreceding, 0)
        wall = Window.partitionBy()
        seg = s.filter((F.col("slot") >= lo) & (F.col("slot") < hi))
        ordd = seg.select(
            "slot",
            F.sum("n").over(w).alias("cy"),
            F.sum(F.col("n") * F.col("n")).over(w).alias("cyy"),
            F.row_number().over(Window.orderBy("slot")).alias("i"),
            F.count(F.lit(1)).over(wall).alias("m"),
            F.sum("n").over(wall).alias("ty"),
            F.sum(F.col("n") * F.col("n")).over(wall).alias("tyy"),
        )
        sse = (
            F.col("cyy") - F.col("cy").cast("double") * F.col("cy") / F.col("i")
        ) + (
            (F.col("tyy") - F.col("cyy"))
            - (F.col("ty") - F.col("cy")).cast("double")
            * (F.col("ty") - F.col("cy"))
            / (F.col("m") - F.col("i"))
        )
        rows = (
            ordd.filter(F.col("i") < F.col("m"))
            .select("slot", sse.alias("sse"))
            .orderBy(F.asc(F.floor(F.col("sse") * 1e6 + 0.5)), F.asc("slot"))
            .limit(1)
            .collect()
        )
        return (rows[0].slot, rows[0].sse) if rows else None

    out = []
    c1 = best_cut(0, 512)
    out.append((1, c1[0], c1[1]))
    # a boundary cut leaves a half with < 2 slots — no split exists
    # there, and the oracle's LIMIT 1 over the empty branch emits no
    # row; mirror that
    for rnd, rng in ((2, (0, c1[0] + 1)), (3, (c1[0] + 1, 512))):
        c = best_cut(*rng)
        if c is not None:
            out.append((rnd, c[0], c[1]))
    return spark.createDataFrame(
        out, "seg_round INT, cut_slot BIGINT, sse DOUBLE"
    ).select("seg_round", "cut_slot", round6(F.col("sse")).alias("sse_r"))

# ---------------------------------------------------------------------------
# spectral entropy of the daily periodogram
# ---------------------------------------------------------------------------

_SE_SQL = f"""
WITH daily AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS cnt
  FROM events GROUP BY 1
),
{_DFT_TERMS_SQL},
s AS (
  SELECT k, sum(c_micro) AS cs, sum(s_micro) AS ss
  FROM terms GROUP BY k
),
p AS (
  SELECT k,
         CAST(cs AS DOUBLE) * cs + CAST(ss AS DOUBLE) * ss AS pw,
         sum(CAST(cs AS DOUBLE) * cs + CAST(ss AS DOUBLE) * ss) OVER () AS tot,
         max(CAST(cs AS DOUBLE) * cs + CAST(ss AS DOUBLE) * ss) OVER () AS mx
  FROM s
)
SELECT count(*) AS n_freqs,
       {round6_sql(
           '-sum(CASE WHEN pw > 0 THEN (pw / tot) * ln(pw / tot) END)'
           f' / ln({_DFT_FREQS})'
       )} AS spectral_entropy_r,
       CAST(min(CASE WHEN pw = mx THEN k END) AS BIGINT) AS dominant_k
FROM p
"""


@register("ts_spectral_entropy", sql=_SE_SQL)
def ts_spectral_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized spectral entropy of the daily-count periodogram
    (k = 1..10): H = −Σ p̂ₖ ln p̂ₖ / ln K over the normalized Fourier
    powers — near 1 the series is spectrally flat (no dominant rhythm),
    near 0 one frequency carries the activity; ``dominant_k`` names it.
    The one-number summary of what ts_periodogram_daily tabulates.

    Scale: the same aggregate-first micro-quantized DFT as the
    periodogram (exact int64 Fourier sums from identically-rounded trig
    factors); powers are identical products of identical ints, so the
    argmax and the entropy ratios are deterministic."""
    s = daily_dft(spark, sf_dir)
    pw = F.col("cs").cast("double") * F.col("cs") + F.col("ss").cast("double") * F.col(
        "ss"
    )
    wall = Window.partitionBy()
    p = s.select("k", pw.alias("pw")).select(
        "k", "pw", F.sum("pw").over(wall).alias("tot"), F.max("pw").over(wall).alias("mx")
    )
    return p.agg(
        F.count(F.lit(1)).alias("n_freqs"),
        round6(
            -F.sum(
                F.when(
                    F.col("pw") > 0,
                    (F.col("pw") / F.col("tot"))
                    * F.log(F.col("pw") / F.col("tot")),
                )
            )
            / math.log(_DFT_FREQS)
        ).alias("spectral_entropy_r"),
        F.min(F.when(F.col("pw") == F.col("mx"), F.col("k")))
        .cast("long")
        .alias("dominant_k"),
    )


# ---------------------------------------------------------------------------
# time-weighted average (step-function / LOCF weighting)
# ---------------------------------------------------------------------------


@register(
    "ts_time_weighted_avg",
    sql=f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS ts_us, {CENTS_SQL} AS v_cents,
         lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS next_us
  FROM events
)
SELECT user_id, count(*) AS n_segments,
       {round6_sql("sum(v_cents * (next_us - ts_us))"
                   " / (100.0 * sum(next_us - ts_us))")} AS twa_value
FROM e WHERE next_us IS NOT NULL
GROUP BY user_id
""",
)
def ts_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average over an irregular series: each reading
    holds (LOCF step function) until the next one, so its weight is the
    interval length, not 1. The plain AVG the reference computes
    (infer_stationary_states.py's per-file means) is biased whenever
    sampling is irregular — TWA is the physically meaningful mean.

    Scale: one shuffle on user_id for the lead() window; weights are
    integer µs × integer cents, so partial sums are exact bigints and
    the single final division is the only float op."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = (
        ev.select(
            "user_id",
            "ts",
            "event_id",
            F.unix_micros("ts").alias("ts_us"),
            cents().alias("v_cents"),
        )
        .withColumn("next_us", F.lead("ts_us").over(w))
        .filter(F.col("next_us").isNotNull())
    )
    dt = F.col("next_us") - F.col("ts_us")
    return seg.groupBy("user_id").agg(
        F.count("*").alias("n_segments"),
        round6(
            F.sum(F.col("v_cents") * dt).cast("double") / (100.0 * F.sum(dt))
        ).alias("twa_value"),
    )


# ---------------------------------------------------------------------------
# EWMA — a sequential fold, not a window frame
# ---------------------------------------------------------------------------


@register(
    "ts_ewma_smoothing",
    sql=f"""
WITH folded AS (
  SELECT user_id, count(*) AS n_events,
         list_reduce(list(value ORDER BY ts, event_id),
                     (acc, x) -> acc * 0.75 + 0.25 * x) AS raw
  FROM events GROUP BY user_id
)
SELECT user_id, n_events, {round6_sql("raw")} AS ewma_value FROM folded
""",
)
def ts_ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key EWMA (alpha = 0.25): the recursive smoother no window
    frame can express — each state depends on the previous state, so it
    is a FOLD over the time-ordered sequence. Implemented with the
    aggregate() higher-order function over a sorted collect_list: the
    fold runs inside codegen on the executor that owns the key, state
    never crosses the wire.

    Determinism: operand order is pinned by array_sort on (ts_us,
    event_id, value) structs, and 0.25/0.75 are binary-exact, so both
    engines run the identical IEEE sequence → bit-equal before the
    final round. Scale: one shuffle (groupBy user_id); per-key state is
    one double. A key with millions of rows would make collect_list the
    memory ceiling — that shape moves to applyInPandasWithState
    (streaming/pipeline.py), which folds incrementally."""
    ev = load_table(spark, sf_dir, "events")
    vals = sorted_user_values()
    ewma = F.aggregate(
        F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
        F.element_at(vals, 1),
        lambda acc, x: acc * F.lit(0.75) + F.lit(0.25) * x,
    )
    return ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        round6(ewma).alias("ewma_value"),
    )


@register(
    "ts_gap_fill_locf",
    sql="""
WITH v AS (SELECT user_id, ts, max(value) AS value
           FROM events WHERE event_type = 'view' GROUP BY user_id, ts),
b AS (SELECT user_id, date_trunc('hour', min(ts)) AS lo,
             date_trunc('hour', max(ts)) AS hi
      FROM v GROUP BY user_id),
g AS (SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS gts
      FROM b)
SELECT g.user_id, epoch_us(g.gts) AS grid_ts_us,
       epoch_us(v.ts) AS obs_ts_us, round(v.value, 6) AS locf_value
FROM g ASOF LEFT JOIN v ON g.user_id = v.user_id AND v.ts <= g.gts
""",
)
def ts_gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-fill / resample: regularize each user's irregular view-value
    series onto an hourly grid with last-observation-carried-forward —
    the standard telemetry prep step before joining sensors sampled at
    different rates (the reference's channel series are exactly such
    irregular streams, parse_canserver_filtered_log.py:313-325).

    Spark-first: the grid is generated distributed (sequence + explode
    from each user's min/max bounds — no driver-side date loop), and
    the LOCF fill reuses operators/temporal.py:asof_join, so the whole
    plan is one shuffle on user_id shared by the bounds aggregate, the
    grid explode, and the fill window. Observations are pre-deduped to
    unique (user_id, ts) so both engines resolve ties identically. At
    100 TB grid density is the knob: hourly grid ≈ 720 rows/user/month
    regardless of raw event volume."""
    events = load_table(spark, sf_dir, "events")
    v = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"))
    )
    grid = (
        v.groupBy("user_id")
        .agg(
            F.date_trunc("hour", F.min("ts")).alias("lo"),
            F.date_trunc("hour", F.max("ts")).alias("hi"),
        )
        .select(
            "user_id",
            F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("gts"),
        )
    )
    filled = asof_join(
        grid, v, key="user_id", left_ts="gts", right_ts="ts", right_cols=["value"]
    )
    return filled.select(
        "user_id",
        F.unix_micros("gts").alias("grid_ts_us"),
        F.unix_micros("asof_ts").alias("obs_ts_us"),
        F.round("value", 6).alias("locf_value"),
    )


@register(
    "ts_anomaly_zscore",
    sql="""
WITH w AS (
  SELECT user_id, epoch_us(ts) AS ts_us, value,
         avg(value) OVER tw AS mu,
         stddev_samp(value) OVER tw AS sd,
         count(*) OVER tw AS n_win
  FROM events
  WINDOW tw AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
)
SELECT user_id, ts_us, round(value, 6) AS value,
       round((value - mu) / sd, 4) AS zscore
FROM w
WHERE n_win >= 10 AND sd > 0 AND abs((value - mu) / sd) > 3
""",
)
def ts_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection: each sample scored against the
    trailing 20 samples' mean/std (exclusive of itself); emit points
    beyond 3σ once the window has ≥10 samples — the channel-health
    monitor a telemetry fleet runs on every signal.

    Scale: one window partition per device (the same user_id hash every
    telemetry query shuffles on); trailing ROWS frames stream in one
    sort — state is the 20-row frame, not the series. The z-score
    rounds at 4 dp: the quotient amplifies ulp-level stddev
    differences between engines, and anomalies are magnitudes, not
    micro-precision values."""
    e = load_table(spark, sf_dir, "events")
    tw = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-20, -1)
    )
    w = e.select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "value",
        F.avg("value").over(tw).alias("mu"),
        F.stddev_samp("value").over(tw).alias("sd"),
        F.count("*").over(tw).alias("n_win"),
    )
    z = (F.col("value") - F.col("mu")) / F.col("sd")
    return (
        w.filter((F.col("n_win") >= 10) & (F.col("sd") > 0) & (F.abs(z) > 3))
        .select(
            "user_id",
            "ts_us",
            F.round("value", 6).alias("value"),
            F.round(z, 4).alias("zscore"),
        )
    )


@register(
    "ts_seasonal_baseline",
    # determinism: the 2-decimal `value` column aggregates as EXACT
    # integer cents (associative — immune to engine summation order and
    # partitioning), and each mean is ONE correctly-rounded IEEE
    # division of two exact integers — identical doubles on every
    # engine. Unrounded double sums differ by final-ulp between engines
    # (DuckDB's avg is numerically stabilized) and money-grained means
    # land on .5 boundaries at the 6th digit constantly.
    sql=f"""
WITH c AS (
  SELECT user_id, CAST(hour(ts) AS INT) AS hod,
         {CENTS_SQL} AS cents
  FROM events
),
base AS (
  SELECT user_id, hod,
         CAST(sum(cents) AS DOUBLE) / (100.0 * count(*)) AS hm,
         count(*) AS n_obs
  FROM c GROUP BY user_id, hod
),
g AS (
  SELECT user_id, CAST(sum(cents) AS DOUBLE) / (100.0 * count(*)) AS ov
  FROM c GROUP BY user_id
),
j AS (
  SELECT b.user_id, b.hod, b.n_obs,
         round(b.hm, 6) AS hm6, round(g.ov, 6) AS ov6
  FROM base b JOIN g ON b.user_id = g.user_id
)
SELECT user_id, hod, hm6 AS hod_mean, n_obs, ov6 AS overall_mean,
       round(hm6 - ov6, 6) AS seasonal_offset
FROM j
""",
)
def ts_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonal baseline per device: the diurnal profile
    (mean per hour-of-day) and its offset from the device's overall
    mean — the decomposition step before anomaly thresholds
    (ts_anomaly_zscore) so a midnight lull isn't flagged as a fault.

    Determinism: means aggregate the 2-decimal values as EXACT integer
    cents (associative — immune to summation order, partitioning, and
    engine-internal compensated summation), then divide once — a
    correctly-rounded IEEE op that lands on the identical double
    everywhere. This is the repo's money rule (SCALE.md §7) applied to
    a mean.

    Scale: two hash aggs on the same user_id key — AQE reuses the
    exchange for the join; output is |users|×24 rows regardless of
    history length."""
    e = load_table(spark, sf_dir, "events")
    c = e.select("user_id", F.hour("ts").cast("int").alias("hod"), cents().alias("cents"))
    base = c.groupBy("user_id", "hod").agg(
        (F.sum("cents").cast("double") / (100.0 * F.count("*"))).alias("hm"),
        F.count("*").alias("n_obs"),
    )
    overall = c.groupBy("user_id").agg(
        (F.sum("cents").cast("double") / (100.0 * F.count("*"))).alias("ov")
    )
    hm6, ov6 = F.round("hm", 6), F.round("ov", 6)
    return base.join(overall, "user_id").select(
        "user_id",
        "hod",
        hm6.alias("hod_mean"),
        "n_obs",
        ov6.alias("overall_mean"),
        F.round(hm6 - ov6, 6).alias("seasonal_offset"),
    )


_SEN_MAX_USER = 300  # bound the pairwise oracle at correctness SF


@register(
    "ts_theilsen_trend",
    sql=f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS t, value AS v
  FROM events WHERE user_id < {_SEN_MAX_USER}
),
p AS (
  SELECT a.user_id, (b.v - a.v) / ((b.t - a.t) / 3.6e9) AS s
  FROM e a JOIN e b ON a.user_id = b.user_id AND b.t > a.t
)
SELECT p.user_id,
       CAST(count(*) AS BIGINT) AS n_pairs,
       round(median(p.s), 6) AS sen_slope_per_hour
FROM p GROUP BY p.user_id
""",
)
def ts_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend per device: the median of all pairwise
    slopes — the outlier-proof alternative to OLS (regr_slope in
    regression_aggregates) for drifting sensors, and the engine's one
    BATCH `applyInPandas` operator (U2's grouped-map form): the
    pairwise slope matrix is genuinely vectorized-pandas-shaped work.

    Cross-engine exactness: every slope is ONE IEEE division of
    identical doubles, and median picks/averages actual elements — no
    accumulation order anywhere, so the pandas path and the oracle's
    pairwise-join path agree bit-for-bit before rounding.

    Scale: per-group O(n²) pairs — correct tool for per-device series
    (thousands of samples), not for one giant series; groups hash
    across executors, Arrow moves each group once, nothing collects."""
    import numpy as np
    import pandas as pd

    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < _SEN_MAX_USER)
    src = e.select("user_id", F.unix_micros("ts").alias("t"), F.col("value").alias("v"))

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("t")
        t = pdf["t"].to_numpy(dtype=np.float64)
        v = pdf["v"].to_numpy(dtype=np.float64)
        dt = (t[None, :] - t[:, None]) / 3.6e9  # hours
        dv = v[None, :] - v[:, None]
        mask = dt > 0
        slopes = dv[mask] / dt[mask]
        return pd.DataFrame(
            {
                "user_id": [int(pdf["user_id"].iloc[0])],
                "n_pairs": [int(mask.sum())],
                "sen_slope_per_hour": [round(float(np.median(slopes)), 6)],
            }
        )

    return src.groupBy("user_id").applyInPandas(
        fit, "user_id long, n_pairs long, sen_slope_per_hour double"
    )


def _bollinger_state_fn(key, pdfs, state):
    """applyInPandasWithState body for streamed Bollinger monitoring:
    state is the ring buffer of the last N purchase amounts (integer
    cents) plus the last-seen (ts_us, event_id) re-delivery guard —
    bounded state per key regardless of stream length, the property
    SCALE.md §6 sizes state stores around. The breach decision uses the
    same cross-multiplied bigint comparison as the batch operator, and
    band edges round with the shared sign·floor formula, so streamed
    output is row-identical to the batch window query."""

    def r6(x: float) -> float:
        return math.copysign(math.floor(abs(x) * 1e6 + 0.5) / 1e6, x)

    if state.exists:
        st = state.get
        win, last_ts, last_eid = list(st[0]), st[1], st[2]
    else:
        win, last_ts, last_eid = [], None, None
    rows = pd.concat(list(pdfs), ignore_index=True).sort_values(["ts_us", "event_id"])
    out = []
    for ts_us, eid, cents in zip(rows["ts_us"], rows["event_id"], rows["cents"]):
        ts_us, eid, cents = int(ts_us), int(eid), int(cents)
        if last_ts is not None and (ts_us, eid) <= (last_ts, last_eid):
            continue  # at-least-once re-delivery
        if len(win) >= _BOLL_N:
            w = win[-_BOLL_N:]
            n, s1 = len(w), sum(w)
            s2 = sum(v * v for v in w)
            dev = n * cents - s1
            out.append(
                (
                    key[0],
                    ts_us,
                    cents,
                    r6(s1 / n / 100.0),
                    r6(math.sqrt((n * s2 - s1 * s1) / (n * (n - 1))) / 100.0),
                    dev * dev * (n - 1) > 4 * n * (n * s2 - s1 * s1),
                )
            )
        win.append(cents)
        win = win[-_BOLL_N:]
        last_ts, last_eid = ts_us, eid
    state.update((win, last_ts, last_eid))
    yield pd.DataFrame(
        out,
        columns=["device_id", "ts_us", "cents", "band_mean", "band_sigma", "breach"],
    )


@register("ts_streamed_bollinger", sql=_BOLL_SQL)
def ts_streamed_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ts_bollinger_breach through the STREAMING engine, graded against
    the IDENTICAL batch oracle: the trailing-window monitor is the
    canonical bounded-state streaming operator (state = last N values
    per key — fixed bytes however long the stream runs), and every
    emitted row must equal the batch window query's row because the
    trailing frame never looks forward — no end-of-input asymmetry.
    Seventh streamed gate entry; same applyInPandasWithState machinery
    as the W1/W2 scans."""
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = events_stream(spark, sf_dir).filter(F.col("event_type") == "purchase")
    coded = ev.select(
        F.col("user_id").cast("string").alias("device_id"),
        F.unix_micros("ts").alias("ts_us"),
        F.col("event_id").alias("event_id"),
        cents().alias("cents"),
    )
    out_schema = T.StructType(
        [
            T.StructField("device_id", T.StringType()),
            T.StructField("ts_us", T.LongType()),
            T.StructField("cents", T.LongType()),
            T.StructField("band_mean", T.DoubleType()),
            T.StructField("band_sigma", T.DoubleType()),
            T.StructField("breach", T.BooleanType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("win", T.ArrayType(T.LongType())),
            T.StructField("last_ts_us", T.LongType()),
            T.StructField("last_event_id", T.LongType()),
        ]
    )
    out = coded.groupBy("device_id").applyInPandasWithState(
        _bollinger_state_fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return collect_stream(out).select(
        F.col("device_id").cast("long").alias("user_id"),
        "ts_us",
        "cents",
        "band_mean",
        "band_sigma",
        "breach",
    )
