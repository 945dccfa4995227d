"""Round-4 batch 7: streamed OHLC bar maintenance — algebraic
aggregate state under micro-batch delivery (tenth streamed gate
entry), proving the mergeable-partials contract that makes bar
construction incremental at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.plans.breadth_r78 import _OHLC_SQL
from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.session import scratch_dir
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table


def _bar_agg(df: DataFrame) -> DataFrame:
    """Per-day OHLC partial state: every column is algebraic
    (min_by/max_by carry their ordering key), so two states merge by
    re-aggregating their union — the property the streamed sink leans
    on."""
    return df.groupBy("day").agg(
        F.sum("n_ticks").alias("n_ticks"),
        F.min_by(F.struct("open_cents", "open_key").alias("o"), "open_key").alias("om"),
        F.max("high_cents").alias("high_cents"),
        F.min("low_cents").alias("low_cents"),
        F.max_by(F.struct("close_cents", "close_key").alias("c"), "close_key").alias("cm"),
        F.sum("volume_cents").alias("volume_cents"),
    ).select(
        "day",
        "n_ticks",
        F.col("om.open_cents").alias("open_cents"),
        F.col("om.open_key").alias("open_key"),
        "high_cents",
        "low_cents",
        F.col("cm.close_cents").alias("close_cents"),
        F.col("cm.close_key").alias("close_key"),
        "volume_cents",
    )


@register("streamed_ohlc_bars", sql=_OHLC_SQL)
def streamed_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC daily bars maintained under STREAMING delivery: the tick
    stream lands as three hash-disjoint files, one file per
    micro-batch, and each foreachBatch folds the batch's per-day
    partial bars into the state by UNION + re-aggregate — correct in
    ANY arrival order because every OHLC component is algebraic
    (count/sum/min/max trivially; open/close because min_by/max_by
    carry their time-order key in the state, so a later batch holding
    an EARLIER tick still wins the open). The streamed result must
    equal the batch oracle row for row — the merge tree the partials
    form is exactly what map-side combine does inside one batch job,
    extended across time.

    Scale: state is one row per open day (bounded by the watermark
    horizon in production); each micro-batch shuffles once on day.
    This is the foreachBatch rendering of what
    applyInPandasWithState / transformWithState keep per key — chosen
    here because the state is a plain relational table a dashboard
    can read between batches."""
    from matt3r_data_ingestion_serverless_spark.streaming.pipeline import run_once

    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    ticks = ev.select(
        F.to_date("ts").alias("day"),
        F.concat(
            F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
            F.lpad(F.col("event_id").cast("string"), 10, "0"),
        ).alias("ord_key"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        F.pmod("event_id", F.lit(3)).cast("int").alias("part"),
    )
    root = scratch_dir("ohlc_stream_")
    land = f"{root}/land"
    ticks.repartition(3, "part").write.partitionBy("part").parquet(land)
    state: list[DataFrame] = []

    def apply_batch(bdf: DataFrame, _bid: int) -> None:
        partial = _bar_agg(
            bdf.select(
                "day",
                F.lit(1).alias("n_ticks"),
                F.col("cents").alias("open_cents"),
                F.col("ord_key").alias("open_key"),
                F.col("cents").alias("high_cents"),
                F.col("cents").alias("low_cents"),
                F.col("cents").alias("close_cents"),
                F.col("ord_key").alias("close_key"),
                F.col("cents").alias("volume_cents"),
            )
        )
        merged = _bar_agg(state[-1].unionByName(partial)) if state else partial
        state.append(merged.localCheckpoint(eager=True))

    src = (
        spark.readStream.schema("day date, ord_key string, cents long, part int")
        .option("maxFilesPerTrigger", 1)
        .parquet(land)
        .drop("part")
    )
    run_once(src, apply_batch, state_partitions=4)
    return state[-1].select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_ticks",
        "open_cents",
        "high_cents",
        "low_cents",
        "close_cents",
        "volume_cents",
    )
