"""Round-3 batch 2: a stream-stream interval join graded inside the
oracle gate, and the PPM image sibling of the WAV real-codec path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.plans.telemetry import _events_stream
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table, spread
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
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "signup")
        .select("user_id", F.col("ts").alias("s_ts"))
        .withWatermark("s_ts", "30 seconds")
    )
    c = (
        _events_stream(spark, sf_dir)
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


# ---------------------------------------------------------------------------
# PPM real-codec image features
# ---------------------------------------------------------------------------

_PPM_SQL = """
WITH d AS (SELECT doc_id, 8 + doc_id % 5 AS w, 6 + doc_id % 3 AS h FROM documents),
s AS (SELECT doc_id, w, h, unnest(range(0, w * h * 3)) AS i FROM d),
v AS (
  SELECT doc_id, w, i, i % 3 AS c, (i // 3) % w AS x, i // (3 * w) AS y
  FROM s
),
p AS (
  SELECT doc_id, i, c,
         (doc_id * 7 + y * 13 + x * 5 + c * 29) % 256 AS pv
  FROM v
)
SELECT doc_id,
       CAST(count(*) // 3 AS BIGINT) AS n_pixels,
       CAST(sum(CASE WHEN c = 0 THEN pv ELSE 0 END) AS BIGINT) AS sum_r,
       CAST(sum(CASE WHEN c = 1 THEN pv ELSE 0 END) AS BIGINT) AS sum_g,
       CAST(sum(CASE WHEN c = 2 THEN pv ELSE 0 END) AS BIGINT) AS sum_b,
       CAST(sum(pv * (i + 1)) AS BIGINT) AS checksum
FROM p GROUP BY doc_id
"""


@register("mm_ppm_image_features", _PPM_SQL)
def mm_ppm_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal REAL-codec path, image sibling of
    mm_wav_roundtrip_features (operators/multimodal.py:synth_ppm/
    decode_ppm/ppm_features): each document's deterministic RGB24 image
    is written as a genuine P6 PPM — ASCII header with a comment line,
    maxval, raw payload — and decoded back through a real header
    tokenizer inside the Arrow batch loop; the graded columns are
    integer-exact aggregates of the DECODED pixels. The oracle
    regenerates the image arithmetically, so a comment-skip, header
    offset, or row-order bug anywhere in the parser breaks the hash.

    Scale: pure map-side — blobs are encoded, decoded, and reduced to
    6 ints inside the executor batch; only feature rows shuffle."""
    from matt3r_data_ingestion_serverless_spark.operators.multimodal import (
        ppm_features,
    )

    docs = spread(load_table(spark, sf_dir, "documents"))
    return ppm_features(docs)
