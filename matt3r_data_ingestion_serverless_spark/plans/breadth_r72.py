"""Round-3 batch 2: a stream-stream interval join graded inside the
oracle gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.plans.telemetry import events_stream
from matt3r_data_ingestion_serverless_spark.streaming.pipeline import collect_stream

# ---------------------------------------------------------------------------
# stream-stream interval join (signup ⋈ click within 1 h), oracle-graded
# ---------------------------------------------------------------------------

_SSJ_HORIZON_US = 3_600_000_000

_SSJ_SQL = f"""
WITH s AS (SELECT user_id, epoch_us(ts) AS s_us FROM events WHERE event_type = 'signup'),
c AS (SELECT user_id AS cuid, epoch_us(ts) AS c_us FROM events WHERE event_type = 'click'),
p AS (
  SELECT s.user_id, c.c_us - s.s_us AS gap_us
  FROM s JOIN c ON s.user_id = c.cuid AND c.c_us > s.s_us
                AND c.c_us <= s.s_us + {_SSJ_HORIZON_US}
)
SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(sum(gap_us) AS BIGINT) AS sum_gap_us,
       CAST(min(gap_us) AS BIGINT) AS min_gap_us,
       CAST(max(gap_us) AS BIGINT) AS max_gap_us
FROM p
"""


@register("streamed_interval_join", _SSJ_SQL)
def streamed_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join graded against the batch-join
    oracle: the signup stream joins the click stream per user, keeping
    clicks inside (signup, signup + 1 h] — the streaming form of
    funnel attribution, running live instead of over yesterday's files
    (the library operator is streaming/pipeline.py:speed_ap_joined_
    stream; this is the same topology on the events tables so the gate
    can hash-match it).

    Scale: both sides carry watermarks and the predicate bounds
    event-time distance in both directions, so each side's state store
    retains only horizon + watermark of rows per user — bounded
    regardless of stream length. The equi-key hashes both streams to
    the same partitions: co-partitioned join, no broadcast, no history
    scan. Joined pairs land in the (append-mode) sink; the driver-side
    summary is a batch aggregate of the materialized pairs."""
    s = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "signup")
        .select("user_id", F.col("ts").alias("s_ts"))
        .withWatermark("s_ts", "30 seconds")
    )
    c = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("cuid"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "30 seconds")
    )
    joined = s.join(
        c,
        F.expr(
            "user_id = cuid AND c_ts > s_ts AND c_ts <= s_ts + interval 1 hour"
        ),
        "inner",
    ).select(
        "user_id",
        (F.unix_micros("c_ts") - F.unix_micros("s_ts")).alias("gap_us"),
    )
    return collect_stream(joined).agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.count_distinct("user_id").cast("long").alias("n_users"),
        F.sum("gap_us").cast("long").alias("sum_gap_us"),
        F.min("gap_us").cast("long").alias("min_gap_us"),
        F.max("gap_us").cast("long").alias("max_gap_us"),
    )
