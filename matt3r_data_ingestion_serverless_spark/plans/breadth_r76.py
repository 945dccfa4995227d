"""Round-4 batch 4: a streamed bottom-k priority sample
(mergeable-sketch maintenance under micro-batch delivery).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.plans.breadth_r74 import _BK_K, _BK_SQL
from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.session import scratch_dir
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table

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
