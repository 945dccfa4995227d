"""Telemetry-analytic queries over the `events` table — the reference's
analytic core re-expressed on the driver fixtures (FIXTURES.md §A):
`value` plays the speed channel, `event_type` the ap-state channel,
`user_id` the device id.

Coverage: SURVEY.md §2.5 W1 (transitions), W2+W4 (zero-run
sessionization + trim), W5/W6 (tumbling buckets), §2.4 A2/A3/A5,
§2.2 P1/P2, §2.3 D8/D10/D11.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.operators.autopilot import ap_transitions
from matt3r_data_ingestion_serverless_spark.operators.stationary import stationary_intervals
from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.sources.tables import _has_nanos_timestamp, load_table
from matt3r_data_ingestion_serverless_spark.streaming.pipeline import collect_stream

# event_type → state code, standing in for AP_STATE_DICT
# (infer_autopilot_states.py:22-23). 'purchase' plays ACTIVE_NOMINAL=3.
EVENT_CODE = {"view": 0, "click": 1, "signup": 2, "purchase": 3, "error": 4}

_CODE_CASE_SQL = (
    "CASE event_type WHEN 'view' THEN 0 WHEN 'click' THEN 1 WHEN 'signup' THEN 2 "
    "WHEN 'purchase' THEN 3 WHEN 'error' THEN 4 END"
)

STATIONARY_THRESHOLD = 50.0
STATIONARY_MIN_DUR_S = 900.0  # events are minutes apart; 13 s scaled up
STATIONARY_TRIM_S = 3.0


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table with `ts` standardized
    to TimestampType µs under a UTC-pinned session.

    The file source needs an explicit schema, and the right one depends
    on the parquet footer: TIMESTAMP(NANOS) columns are only readable as
    epoch-nanos long (legacy nanosAsLong conf), TIMESTAMP(MICROS) reads
    natively. The footer decides (driver-side, no data read), and the
    matching projection makes both layouts stream identically.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    nanos = _has_nanos_timestamp(os.path.join(sf_dir, "events.parquet"))
    ts_ddl = "ts long" if nanos else "ts timestamp"
    if nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    stream = (
        spark.readStream.schema(
            f"event_id long, {ts_ddl}, user_id long, event_type string, "
            "value double, props string"
        )
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if nanos:
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return stream


def _event_code_col():
    expr = F.lit(None).cast("int")
    for name, code in EVENT_CODE.items():
        expr = F.when(F.col("event_type") == name, F.lit(code)).otherwise(expr)
    return expr


@register(
    "w2_stationary_intervals",
    sql=f"""
WITH z AS (
  SELECT user_id, ts,
         CASE WHEN value <= {STATIONARY_THRESHOLD} THEN 1 ELSE 0 END AS zz
  FROM events
), c AS (
  SELECT user_id, ts, zz,
         CASE WHEN zz <> lag(zz, 1, -1) OVER (PARTITION BY user_id ORDER BY ts)
              THEN 1 ELSE 0 END AS chg
  FROM z
), r AS (
  SELECT user_id, ts, zz,
         sum(chg) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS run_id
  FROM c
), g AS (
  SELECT user_id, min(epoch_us(ts)) AS s_us, max(epoch_us(ts)) AS e_us
  FROM r WHERE zz = 1 GROUP BY user_id, run_id
)
SELECT user_id,
       s_us + {int(STATIONARY_TRIM_S * 1e6)} AS start_us,
       e_us - {int(STATIONARY_TRIM_S * 1e6)} AS end_us,
       round((e_us - s_us) / 1e6, 6) AS duration_s
FROM g
WHERE e_us - s_us >= {int(STATIONARY_MIN_DUR_S * 1e6)}
""",
)
def w2_stationary_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 zero-run sessionization (infer_stationary_states.py:81-106)."""
    events = load_table(spark, sf_dir, "events")
    return stationary_intervals(
        events,
        key="user_id",
        ts="ts",
        speed="value",
        zero_threshold=STATIONARY_THRESHOLD,
        min_duration_s=STATIONARY_MIN_DUR_S,
        trim_s=STATIONARY_TRIM_S,
    )


_W1_SQL = f"""
WITH coded AS (
  SELECT user_id, ts, {_CODE_CASE_SQL} AS code FROM events
), lagged AS (
  SELECT user_id, ts, code,
         lag(code, 1) OVER (PARTITION BY user_id ORDER BY ts) AS prev
  FROM coded
)
SELECT user_id, epoch_us(ts) AS ts_us,
       CASE WHEN code = 3 AND prev <= 2 THEN 'engagement'
            ELSE 'disengagement' END AS status,
       CAST(code AS DOUBLE) AS canbus_state
FROM lagged
WHERE (code = 3 AND prev <= 2) OR (code <= 2 AND prev = 3)
"""


@register("w1_ap_transitions", sql=_W1_SQL)
def w1_ap_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 lag transition detection (infer_autopilot_states.py:78-88)."""
    events = load_table(spark, sf_dir, "events").withColumn("code", _event_code_col())
    return ap_transitions(events, key="user_id", ts="ts", code="code")


@register(
    "w5_hourly_buckets",
    sql="""
SELECT user_id,
       strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS bucket,
       count(*) AS n_samples,
       round(avg(value), 6) AS avg_value,
       round(min(value), 6) AS min_value,
       round(max(value), 6) AS max_value
FROM events GROUP BY 1, 2
""",
)
def w5_hourly_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5/A2 hourly tumbling bucket (parse_canserver_filtered_log.py:22-54):
    the reference's sort + binary-search hour slicing becomes one hash
    aggregate — map-side partials, no sort, no driver loop."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy(
        "user_id",
        F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:00:00").alias("bucket"),
    ).agg(
        F.count("*").alias("n_samples"),
        F.round(F.avg("value"), 6).alias("avg_value"),
        F.round(F.min("value"), 6).alias("min_value"),
        F.round(F.max("value"), 6).alias("max_value"),
    )


@register(
    "w6_daily_event_counts",
    sql="""
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       event_type,
       count(*) AS n_events,
       round(sum(value), 6) AS total_value
FROM events GROUP BY 1, 2
""",
)
def w6_daily_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6 daily tumbling bucket (infer_stationary_states.py:74-79)."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy(
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day"),
        "event_type",
    ).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 6).alias("total_value"),
    )


@register(
    "p2_membership_filter",
    sql="""
SELECT event_id, user_id, event_type, round(value, 6) AS value_r
FROM events
WHERE event_type IN ('purchase', 'signup') AND value > 100.0
""",
)
def p2_membership_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P2 predicate filters (frame-id membership,
    parse_canserver_filtered_log.py:108,264). Both predicates push down
    to the parquet scan."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.filter(F.col("event_type").isin("purchase", "signup") & (F.col("value") > 100.0))
        .select("event_id", "user_id", "event_type", F.round("value", 6).alias("value_r"))
    )


@register(
    "d11_json_extract",
    sql="""
SELECT event_id, CAST(props->>'k' AS BIGINT) AS k_value
FROM events
WHERE CAST(props->>'k' AS BIGINT) >= 90
""",
)
def d11_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D11 JSON deserialize (json.loads → from_json/get_json_object)."""
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return events.select("event_id", k.alias("k_value")).filter(F.col("k_value") >= 90)


@register(
    "a3_distinct_sorted_keys",
    sql="""
SELECT DISTINCT user_id, event_type FROM events ORDER BY user_id, event_type
""",
)
def a3_distinct_sorted_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/O2 distinct + sort of bucket keys
    (parse_canserver_filtered_log.py:37)."""
    events = load_table(spark, sf_dir, "events")
    return events.select("user_id", "event_type").distinct().orderBy("user_id", "event_type")


@register(
    "a5_series_extent",
    sql="""
SELECT user_id, min(epoch_us(ts)) AS first_us, max(epoch_us(ts)) AS last_us,
       count(*) AS n
FROM events GROUP BY user_id
""",
)
def a5_series_extent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 first/last of series — the reference's iloc[0]/iloc[-1] on a
    time-ordered frame is min/max (parse_canserver_filtered_log.py:335-338)."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("user_id").agg(
        F.min(F.unix_micros(F.col("ts"))).alias("first_us"),
        F.max(F.unix_micros(F.col("ts"))).alias("last_us"),
        F.count("*").alias("n"),
    )


@register(
    "a1_timestamp_pivot",
    sql="""
SELECT user_id,
       strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS bucket,
       round(avg(value) FILTER (WHERE event_type = 'view'), 6) AS view_avg,
       round(avg(value) FILTER (WHERE event_type = 'click'), 6) AS click_avg,
       round(avg(value) FILTER (WHERE event_type = 'purchase'), 6) AS purchase_avg,
       round(avg(value) FILTER (WHERE event_type = 'signup'), 6) AS signup_avg,
       round(avg(value) FILTER (WHERE event_type = 'error'), 6) AS error_avg
FROM events GROUP BY 1, 2
""",
)
def a1_timestamp_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 long→wide pivot (parse_canserver_filtered_log.py:268-289): the
    reference's epoch_dict cell-merge is a conditional aggregation;
    explicit channel list keeps it one pass with map-side partials."""
    events = load_table(spark, sf_dir, "events")
    aggs = [
        F.round(F.avg(F.when(F.col("event_type") == t, F.col("value"))), 6).alias(f"{t}_avg")
        for t in ("view", "click", "purchase", "signup", "error")
    ]
    return events.groupBy(
        "user_id",
        F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:00:00").alias("bucket"),
    ).agg(*aggs)


@register(
    "j1_union_dedupe_merge",
    sql="""
WITH old AS (
  SELECT event_id, user_id, event_type, value FROM events WHERE event_id % 3 = 0
), new AS (
  SELECT event_id, user_id, event_type, value FROM events WHERE event_id % 2 = 0
)
SELECT event_id, user_id, event_type, round(value, 6) AS value_r
FROM (SELECT DISTINCT * FROM (SELECT * FROM old UNION ALL SELECT * FROM new))
""",
)
def j1_union_dedupe_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1-J3 merge upsert (parse_canserver_filtered_log.py:327-344): the
    reference's ordered-concat + overlap-skip becomes idempotent
    unionByName + dropDuplicates — re-delivering a batch is a no-op
    (SQS at-least-once, T3). Overlapping halves simulate re-delivery."""
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    old = events.filter(F.col("event_id") % 3 == 0)
    new = events.filter(F.col("event_id") % 2 == 0)
    return (
        old.unionByName(new)
        .dropDuplicates(["event_id"])
        .select("event_id", "user_id", "event_type", F.round("value", 6).alias("value_r"))
    )


@register(
    "a6_channel_collect",
    sql="""
SELECT user_id, event_type,
       array_to_string(
         list_sort(list(epoch_us(ts)::VARCHAR || ':' ||
                        CAST(round(value * 1000, 0) AS BIGINT)::VARCHAR)),
         ',') AS series,
       count(*) AS n_samples
FROM events GROUP BY user_id, event_type
""",
)
def a6_channel_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 channel collect (parse_canserver_filtered_log.py:311-325): the
    per-channel {timestamp, value} array build becomes
    collect_list + array_sort per group — one shuffle on the group key,
    order imposed by the sort (collect_list order is partition-
    dependent, never relied on). Samples serialize as 'ts_us:value_milli'
    ints so the joined string is bit-stable across engines."""
    events = load_table(spark, sf_dir, "events")
    sample = F.format_string(
        "%d:%d",
        F.unix_micros(F.col("ts")),
        F.round(F.col("value") * 1000, 0).cast("long"),
    )
    return events.groupBy("user_id", "event_type").agg(
        F.array_join(F.array_sort(F.collect_list(sample)), ",").alias("series"),
        F.count("*").alias("n_samples"),
    )


@register(
    "s6_envelope_decode",
    sql="""
WITH env AS (
  SELECT event_id,
         to_json(struct_pack(
           eventName := 's3:ObjectCreated:Put',
           bucket := 'raw-bucket',
           key := 'device+' || user_id || '%2Fcanserver%2Flog_' || event_id || '.bin'
         )) AS envelope
  FROM events WHERE event_id < 200
)
SELECT event_id,
       envelope->>'eventName' AS op,
       envelope->>'bucket' AS bucket,
       replace(replace(envelope->>'key', '+', ' '), '%2F', '/') AS key
FROM env
WHERE contains((envelope->>'eventName'), 'ObjectCreated')
  AND (envelope->>'bucket') = 'raw-bucket'
""",
)
def s6_envelope_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 S3-event envelope source + D9 URL decode + P1 event guard
    (parse_canserver_filtered_log.py:122-128): build the SQS/S3 JSON
    envelope, parse it back, unquote_plus the object key, and apply the
    ObjectCreated/bucket guard. Spark uses the real url_decode; the
    oracle decodes via replace over the encodings present in these keys
    (DuckDB 1.0 has no url_decode)."""
    events = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 200)
    env = events.select(
        "event_id",
        F.to_json(
            F.struct(
                F.lit("s3:ObjectCreated:Put").alias("eventName"),
                F.lit("raw-bucket").alias("bucket"),
                F.concat(
                    F.lit("device+"),
                    F.col("user_id"),
                    F.lit("%2Fcanserver%2Flog_"),
                    F.col("event_id").cast("string"),
                    F.lit(".bin"),
                ).alias("key"),
            )
        ).alias("envelope"),
    )
    return env.select(
        "event_id",
        F.get_json_object("envelope", "$.eventName").alias("op"),
        F.get_json_object("envelope", "$.bucket").alias("bucket"),
        F.url_decode(F.get_json_object("envelope", "$.key")).alias("key"),
    ).filter(
        F.col("op").contains("ObjectCreated") & (F.col("bucket") == "raw-bucket")
    )


@register(
    "salted_user_totals",
    sql="""
SELECT user_id, round(sum(value), 6) AS total_value, count(value) AS n
FROM events GROUP BY user_id
""",
)
def salted_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6 skew hygiene: the per-device total via salted two-phase
    aggregation (operators/salted.py) — identical result to the plain
    groupBy (the oracle IS the plain groupBy), but a hot device spreads
    over 8 reducers instead of one. Float sums survive the extra
    combine because the compare rounds at 6 dp; money-grade outputs
    would aggregate in DECIMAL as in relational.py."""
    from matt3r_data_ingestion_serverless_spark.operators.salted import salted_sum_count

    events = load_table(spark, sf_dir, "events")
    out = salted_sum_count(events, keys=["user_id"], value="value")
    return out.select(
        "user_id",
        F.round(F.col("sum_value"), 6).alias("total_value"),
        F.col("cnt_value").alias("n"),
    )


@register(
    "d10_date_parts",
    sql="""
SELECT event_id,
       CAST(year(ts) AS INT) AS y, CAST(month(ts) AS INT) AS mo,
       CAST(day(ts) AS INT) AS d, CAST(hour(ts) AS INT) AS h,
       strftime(ts, '%d/%m/%Y %H:%M:%S') AS ts_fmt
FROM events WHERE event_id < 100
""",
)
def d10_date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8/D10 timestamp formatting + date-part derivation — the
    reference's split(' ')/split('-') chains (parse_canserver_filtered_log.py:23-31)
    as built-in datetime functions; the '%d/%m/%Y %H:%M:%S' output
    format matches timestamp2string (infer_stationary_states.py:30-37)."""
    events = load_table(spark, sf_dir, "events")
    return events.filter(F.col("event_id") < 100).select(
        "event_id",
        F.year("ts").alias("y"),
        F.month("ts").alias("mo"),
        F.dayofmonth("ts").alias("d"),
        F.hour("ts").alias("h"),
        F.date_format("ts", "dd/MM/yyyy HH:mm:ss").alias("ts_fmt"),
    )


@register(
    "w2_streamed_stationary",
    sql=f"""
WITH z AS (
  SELECT user_id, ts,
         CASE WHEN value <= {STATIONARY_THRESHOLD} THEN 1 ELSE 0 END AS zz
  FROM events
), c AS (
  SELECT user_id, ts, zz,
         CASE WHEN zz <> lag(zz, 1, -1) OVER (PARTITION BY user_id ORDER BY ts)
              THEN 1 ELSE 0 END AS chg
  FROM z
), r AS (
  SELECT user_id, ts, zz,
         sum(chg) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS run_id
  FROM c
), g AS (
  SELECT user_id, min(epoch_us(ts)) AS s_us, max(epoch_us(ts)) AS e_us
  FROM r WHERE zz = 1 GROUP BY user_id, run_id
), mx AS (
  SELECT user_id, max(epoch_us(ts)) AS mx_us FROM events GROUP BY user_id
)
SELECT g.user_id,
       s_us + {int(STATIONARY_TRIM_S * 1e6)} AS start_us,
       e_us - {int(STATIONARY_TRIM_S * 1e6)} AS end_us,
       round((e_us - s_us) / 1e6, 6) AS duration_s
FROM g JOIN mx ON g.user_id = mx.user_id
WHERE e_us - s_us >= {int(STATIONARY_MIN_DUR_S * 1e6)}
  AND e_us < mx_us
""",
)
def w2_streamed_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 through the STREAMING engine, inside the correctness gate:
    the events table is replayed as a file-source stream
    (Trigger.AvailableNow), zero-runs are assembled by the stateful
    applyInPandasWithState operator (streaming/pipeline.py:
    stationary_intervals_stream — run state carried in GroupState), and
    the memory-sink result is compared against the SAME window-SQL
    oracle as batch `w2_stationary_intervals`, restricted to CLOSED
    runs: a stream never sees end-of-input, so a trailing zero-run
    (run end == the user's last sample) legitimately stays open in
    state — the oracle's `e_us < mx_us` clause states exactly that
    contract. Batch = streaming on every closed run is the engine's
    core equivalence claim (SURVEY §7.1), here checked by the driver,
    not just pytest."""
    from matt3r_data_ingestion_serverless_spark.streaming.pipeline import (
        stationary_intervals_stream,
    )

    sig = events_stream(spark, sf_dir).select(
        F.col("user_id").cast("string").alias("device_id"),
        "ts",
        F.lit("speed").alias("channel"),
        F.array("value").alias("values"),
    )
    out = stationary_intervals_stream(
        sig,
        zero_threshold=STATIONARY_THRESHOLD,
        min_duration_s=STATIONARY_MIN_DUR_S,
        trim_s=STATIONARY_TRIM_S,
    )
    return collect_stream(out).select(
        F.col("device_id").cast("long").alias("user_id"),
        "start_us",
        "end_us",
        "duration_s",
    )


@register("w1_streamed_transitions", sql=_W1_SQL)
def w1_streamed_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 through the STREAMING engine, graded against the IDENTICAL
    batch oracle: unlike W2's runs, a transition emits the moment its
    second sample arrives — no end-of-input asymmetry, so streamed
    output must equal batch output row-for-row. The lag state
    (last ts, last code per device) lives in GroupState; a transition
    whose two samples land in different micro-batches is still
    detected — strictly better than the reference's per-file scan
    (infer_autopilot_states.py:78-88), which loses the file boundary."""
    from matt3r_data_ingestion_serverless_spark.streaming.pipeline import (
        ap_transitions_from_codes,
    )

    coded = events_stream(spark, sf_dir).select(
        F.col("user_id").cast("string").alias("device_id"),
        F.unix_micros("ts").alias("ts_us"),
        _event_code_col().alias("code"),
    )
    out = ap_transitions_from_codes(coded)
    return collect_stream(out).select(
        F.col("device_id").cast("long").alias("user_id"),
        "ts_us",
        "status",
        "canbus_state",
    )


@register(
    "w5_streamed_hourly",
    sql="""
SELECT user_id,
       strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS bucket,
       count(*) AS n_samples,
       round(avg(value), 6) AS avg_value
FROM events GROUP BY 1, 2
""",
)
def w5_streamed_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5 hourly tumbling windows through Structured Streaming's native
    windowed aggregation (`F.window`, 1-hour tumble) in COMPLETE output
    mode — the streaming state store carries every open window's partial
    aggregate across micro-batches, and the result must equal the batch
    hash-aggregate bucket-for-bucket (same oracle shape as
    `w5_hourly_buckets`). This is the W3 watermark machinery's
    aggregation half: at production the same query runs in append mode
    with `withWatermark` so closed windows emit incrementally and state
    is evicted; complete mode here lets the whole table be graded."""
    out = (
        events_stream(spark, sf_dir)
        .select("user_id", "ts", "value")
        .groupBy("user_id", F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n_samples"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
    )
    return collect_stream(out, "complete").select(
        "user_id",
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:00:00").alias("bucket"),
        "n_samples",
        "avg_value",
    )


# ---------------------------------------------------------------------------
# GPS path geometry (reference location channel,
# parse_canserver_filtered_log.py:172-179 decodes lat/long; the driver
# events table has no coordinates, so deterministic synthetic ones are
# derived identically in both engines)
# ---------------------------------------------------------------------------


@register(
    "geo_haversine_path",
    sql="""
WITH pts AS (
  SELECT user_id, ts, event_id,
         49.0 + (event_id % 1000) / 1000.0 AS lat,
         -123.0 + (user_id % 1000) / 500.0 + (event_id % 97) / 970.0 AS lon
  FROM events
),
legs AS (
  SELECT user_id, lat, lon,
         lag(lat) OVER w AS plat,
         lag(lon) OVER w AS plon
  FROM pts
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
d AS (
  SELECT user_id,
         2 * 6371.0 * asin(sqrt(
           pow(sin(radians(lat - plat) / 2), 2)
           + cos(radians(plat)) * cos(radians(lat))
             * pow(sin(radians(lon - plon) / 2), 2)
         )) AS km
  FROM legs WHERE plat IS NOT NULL
)
SELECT user_id,
       count(*) AS n_legs,
       round(sum(km), 3) AS total_km,
       round(max(km), 3) AS max_leg_km
FROM d GROUP BY user_id
""",
)
def geo_haversine_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trip length by great-circle (haversine) leg distances —
    the location-channel analytic the reference's GPS decode feeds
    (parse_canserver_filtered_log.py:172-179) but never aggregates.

    Scale: one shuffle (window partition by user = the same hash the
    groupBy reuses); the trig runs in whole-stage codegen. Distances
    round to 3 dp (meter precision) so last-ulp libm differences
    between engines can't flip a comparison digit."""
    e = load_table(spark, sf_dir, "events")
    pts = e.select(
        "user_id",
        "ts",
        "event_id",
        (F.lit(49.0) + (F.col("event_id") % 1000) / 1000.0).alias("lat"),
        (
            F.lit(-123.0)
            + (F.col("user_id") % 1000) / 500.0
            + (F.col("event_id") % 97) / 970.0
        ).alias("lon"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    legs = pts.select(
        "user_id",
        "lat",
        "lon",
        F.lag("lat").over(w).alias("plat"),
        F.lag("lon").over(w).alias("plon"),
    ).filter(F.col("plat").isNotNull())
    hav = (
        F.lit(2 * 6371.0)
        * F.asin(
            F.sqrt(
                F.pow(F.sin(F.radians(F.col("lat") - F.col("plat")) / 2), 2)
                + F.cos(F.radians("plat"))
                * F.cos(F.radians("lat"))
                * F.pow(F.sin(F.radians(F.col("lon") - F.col("plon")) / 2), 2)
            )
        )
    )
    return (
        legs.select("user_id", hav.alias("km"))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_legs"),
            F.round(F.sum("km"), 3).alias("total_km"),
            F.round(F.max("km"), 3).alias("max_leg_km"),
        )
    )


@register(
    "j1_streamed_dedupe",
    sql="""
SELECT event_type, count(*) AS n_distinct_events
FROM (SELECT DISTINCT event_id, event_type FROM events)
GROUP BY event_type
""",
)
def j1_streamed_dedupe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1's cross-file duplicate collapse through the STREAMING engine,
    graded in the oracle gate: the events stream is unioned with ITSELF
    — every record delivered exactly twice, the at-least-once worst
    case — and deduplicated in-stream by key (dropDuplicates state).
    The memory sink then aggregates per type; parity with batch
    DISTINCT proves the duplicate delivery was fully absorbed.

    Scale: keyed dedupe state grows with distinct keys; production
    bounds it with dropDuplicatesWithinWatermark (W3) — unbounded here
    because the closed replay ends. The union is stream-native: both
    legs read the same files, no join, no shuffle beyond the dedupe
    key hash."""
    s1 = events_stream(spark, sf_dir).select("event_id", "event_type")
    s2 = events_stream(spark, sf_dir).select("event_id", "event_type")
    dd = s1.unionByName(s2).dropDuplicates(["event_id"])
    return (
        collect_stream(dd)
        .groupBy("event_type")
        .agg(F.count("*").alias("n_distinct_events"))
    )


@register(
    "ns_streamed_doc_quality",
    sql="""
SELECT source,
       count(*) AS n_docs,
       CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT) AS total_tokens,
       round(avg(length(text)), 6) AS avg_chars
FROM documents GROUP BY source
""",
)
def ns_streamed_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation surface through the STREAMING engine: the documents
    corpus replayed as a file stream, per-source token mass and size
    aggregated in complete mode — the shape of a live ingest feed
    (crawler output landing continuously) feeding the same quality
    dashboards the batch queries serve. Fifth streamed gate entry, and
    the first over the text corpus rather than telemetry events.

    Scale: tokenization is per-row inside the micro-batch scan; state
    is one row per source. In production this runs in append/update
    mode with a watermark on ingest time; complete mode here lets the
    closed replay be graded whole."""
    stream = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    out = stream.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split(F.lower(F.col("text")), " "))).cast("long").alias(
            "total_tokens"
        ),
        F.round(F.avg(F.length("text")), 6).alias("avg_chars"),
    )
    return collect_stream(out, "complete")


@register(
    "funnel_conversion",
    sql="""
WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
           WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT v.user_id, v.t1, min(e.ts) AS t2
      FROM v JOIN events e ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t1
      GROUP BY v.user_id, v.t1),
p AS (SELECT c.user_id, c.t1, c.t2, min(e.ts) AS t3
      FROM c JOIN events e ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t2
      GROUP BY c.user_id, c.t1, c.t2)
SELECT 'view' AS stage, (SELECT count(*) FROM v) AS n_users
UNION ALL SELECT 'view>click', (SELECT count(*) FROM c)
UNION ALL SELECT 'view>click>purchase', (SELECT count(*) FROM p)
""",
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: users reaching view → click-after-view →
    purchase-after-click (strict event-time ordering, the product-
    analytics conversion query). Each stage anchors on the PREVIOUS
    stage's earliest qualifying time, not mere event presence.

    Scale: three aggregates all keyed on user_id — one shuffle
    partitioning reused down the chain; each stage's table shrinks
    monotonically, and the stage joins are user-keyed (no time-range
    shuffle). The windowed form (min-over-filtered-window) is a
    drop-in when stages grow past a broadcast."""
    e = load_table(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id", "t1")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )

    def stage(name, df):
        return df.agg(F.lit(name).alias("stage"), F.count("*").alias("n_users"))

    return (
        stage("view", v)
        .unionByName(stage("view>click", c))
        .unionByName(stage("view>click>purchase", p))
    )


@register(
    "cohort_retention",
    sql="""
WITH fw AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cohort FROM events GROUP BY user_id
),
act AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
)
SELECT strftime(fw.cohort, '%Y-%m-%d') AS cohort_week,
       CAST(date_diff('day', fw.cohort, act.wk) / 7 AS INT) AS week_offset,
       count(DISTINCT act.user_id) AS n_active
FROM act JOIN fw ON act.user_id = fw.user_id
GROUP BY fw.cohort, date_diff('day', fw.cohort, act.wk) / 7
""",
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention grid: users grouped by first-seen week,
    counted active per week offset — the canonical retention triangle.
    Week offsets derive from day differences of Monday-truncated dates
    (÷7 is exact), sidestepping engine week-diff boundary conventions.

    Scale: two user-keyed aggregates + one user-keyed join — a single
    hash partitioning serves all three; the grid is |cohorts|×|weeks|
    regardless of event volume."""
    e = load_table(spark, sf_dir, "events")
    fw = e.groupBy("user_id").agg(F.date_trunc("week", F.min("ts")).alias("cohort"))
    act = e.select("user_id", F.date_trunc("week", F.col("ts")).alias("wk")).distinct()
    j = act.join(fw, "user_id")
    off = (F.datediff(F.col("wk"), F.col("cohort")) / 7).cast("int")
    return (
        j.select(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort_week"),
            off.alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_active"))
    )


@register(
    "interarrival_stats",
    sql="""
WITH g AS (
  SELECT user_id,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                                ORDER BY ts, event_id) AS gap_us
  FROM events
)
SELECT user_id,
       count(*) AS n_gaps,
       min(gap_us) AS min_gap_us,
       max(gap_us) AS max_gap_us,
       round(median(gap_us), 6) AS median_gap_us
FROM g WHERE gap_us IS NOT NULL
GROUP BY user_id
""",
)
def interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-device inter-arrival gap statistics — the sampling-health
    check behind the reference's 1.2 s reorder buffer sizing
    (parse_canserver_filtered_log.py:117): min/median/max of
    consecutive-event gaps tells you the real clock cadence and the
    outage tail. Gaps are exact integer µs; the median of integers
    interpolates at worst to an exact .5 — bit-stable everywhere.

    Scale: one window + one agg on the same user_id partitioning."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    g = e.select(
        "user_id", (us - F.lag(us).over(w)).alias("gap_us")
    ).filter(F.col("gap_us").isNotNull())
    return g.groupBy("user_id").agg(
        F.count("*").alias("n_gaps"),
        F.min("gap_us").alias("min_gap_us"),
        F.max("gap_us").alias("max_gap_us"),
        F.round(F.median("gap_us"), 6).alias("median_gap_us"),
    )


@register(
    "event_transition_matrix",
    sql="""
WITH s AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
)
SELECT prev_type, event_type AS next_type, count(*) AS n
FROM s WHERE prev_type IS NOT NULL
GROUP BY prev_type, event_type
""",
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order state-transition matrix over the event stream — W1's
    lag-transition detection generalized from one watched edge
    (AP engage/disengage, infer_autopilot_states.py:78-88) to the full
    |states|² Markov count matrix. Pure counts.

    Scale: one window on the user partitioning, one hash agg over a
    |states|²-key space — output is constant-size at any volume."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select(
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    ).filter(F.col("prev_type").isNotNull())
    return s.groupBy("prev_type", "next_type").agg(F.count("*").alias("n"))
