"""Round-4 batch 4: PNG real-codec path (zlib DEFLATE + CRC-32 +
scanline filters — the first COMPRESSED codec in the multimodal seam)
and a streamed bottom-k priority sample (mergeable-sketch maintenance
under micro-batch delivery).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.plans.breadth_r74 import _BK_K, _BK_SQL
from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.session import scratch_dir
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table, spread

# ---------------------------------------------------------------------------
# PNG real-codec image features
# ---------------------------------------------------------------------------

_PNG_SQL = """
WITH d AS (SELECT doc_id, 9 + doc_id % 4 AS w, 5 + doc_id % 4 AS h FROM documents),
s AS (SELECT doc_id, w, h, unnest(range(0, w * h * 3)) AS i FROM d),
v AS (
  SELECT doc_id, w, i, i % 3 AS c, (i // 3) % w AS x, i // (3 * w) AS y
  FROM s
),
p AS (
  SELECT doc_id, i, c,
         (doc_id * 11 + y * 3 + x * 7 + c * 19) % 256 AS pv
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


@register("mm_png_image_features", _PNG_SQL)
def mm_png_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal real-codec path, COMPRESSED sibling (operators/
    multimodal.py:synth_png/decode_png/png_features): each document's
    deterministic RGB24 image round-trips through a genuine PNG —
    zlib-DEFLATE-compressed IDAT, CRC-32-verified chunks, and per-row
    filter types rotating None/Sub/Up that the decoder must INVERT in
    uint8 wraparound arithmetic. The graded columns are integer-exact
    aggregates of the decoded pixels; the oracle regenerates them
    arithmetically, so a chunk-offset, CRC, inflate, or unfilter bug
    anywhere breaks the hash. This closes most of the distance to the
    env-gated decode_image stub: compression, integrity checking, and
    prediction filters are exactly what a real image codec adds over
    the PPM/WAV containers.

    Scale: pure map-side — encode, decode, and reduce all inside the
    executor Arrow batch loop; only the 6-int feature rows shuffle."""
    from matt3r_data_ingestion_serverless_spark.operators.multimodal import (
        png_features,
    )

    docs = spread(load_table(spark, sf_dir, "documents"))
    return png_features(docs)


# ---------------------------------------------------------------------------
# streamed bottom-k priority sample
# ---------------------------------------------------------------------------


@register("streamed_bottomk_sample", sql=_BK_SQL)
def streamed_bottomk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bottom-k priority sample maintained under STREAMING delivery
    (ninth streamed gate entry): events land as three hash-disjoint
    files, a file stream delivers one file per micro-batch, and each
    foreachBatch folds the batch's bottom-k into a k-row state via
    union → re-take bottom-k. bottom-k(A ∪ B) = bottom-k(bottom-k(A) ∪
    bottom-k(B)) — the mergeability that makes this sample maintainable
    with O(k) state under ANY arrival order or redelivery — so the
    streamed result must equal the batch oracle row for row.

    Scale: per batch, the plan is TakeOrderedAndProject over the batch
    plus a k-row state union — state never grows past k rows, and
    nothing shuffles but per-partition top-k heaps."""
    from matt3r_data_ingestion_serverless_spark.streaming.pipeline import run_once

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.md5(F.col("event_id").cast("string")).alias("priority"),
    )
    root = scratch_dir("bk_stream_")
    land = f"{root}/land"
    ev.withColumn("part", F.pmod("event_id", F.lit(3))).repartition(
        3, "part"
    ).write.partitionBy("part").parquet(land)
    state: list[DataFrame] = []

    def apply_batch(bdf: DataFrame, _bid: int) -> None:
        batch_k = bdf.select(
            "event_id", "user_id", "event_type", "priority"
        ).orderBy("priority", "event_id").limit(_BK_K)
        merged = (
            state[-1].unionByName(batch_k) if state else batch_k
        ).orderBy("priority", "event_id").limit(_BK_K)
        state.append(merged.localCheckpoint(eager=True))

    src = (
        spark.readStream.schema(
            "event_id long, user_id long, event_type string, priority string, part int"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(land)
        .drop("part")
    )
    run_once(src, apply_batch, state_partitions=4)
    return state[-1]