"""Round-2 batch 14 (this run): stream–static dimension enrichment —
the tenth streamed entry graded inside the driver's oracle gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.plans.telemetry import events_stream
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table
from matt3r_data_ingestion_serverless_spark.streaming.pipeline import collect_stream

_ENRICH_SQL = """
SELECT n.n_name AS nation,
       count(*) AS n_events,
       CAST(sum(CAST(floor(e.value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents,
       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey
GROUP BY n.n_name
"""


@register("streamed_dim_enrichment", _ENRICH_SQL)
def streamed_dim_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–static dimension enrichment: the live event stream joins
    a STATIC dimension table (nation, keyed by user hash) inside the
    micro-batch, then aggregates per dimension attribute — the
    standard streaming-ETL enrichment topology (stream⋈static needs no
    watermark and no join state: Spark broadcasts the dimension into
    every micro-batch). Complete-mode aggregation state carries the
    running per-nation totals across batches; the result must equal
    the batch join+agg row-for-row (the oracle). Tenth streamed entry
    in the gate, completing the topology matrix beside stream-stream
    interval join, stateful scans, windowed aggs, keyed dedupe, CDC
    apply, and the curation gate."""
    nation = load_table(spark, sf_dir, "nation")
    stream = events_stream(spark, sf_dir).select("user_id", "value")
    joined = stream.join(
        F.broadcast(nation), stream.user_id % 25 == nation.n_nationkey
    )
    # COUNT(DISTINCT) is unsupported in streaming aggs — key the
    # streamed state on (nation, user) instead, then roll up the
    # materialized table: distinct users fall out as count(*).
    per_user = (
        joined.groupBy(F.col("n_name").alias("nation"), F.col("user_id").alias("uid"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long")).alias("cents"),
        )
    )
    t = collect_stream(per_user, "complete")
    return t.groupBy("nation").agg(
        F.sum("n_events").cast("long").alias("n_events"),
        F.sum("cents").cast("long").alias("sum_cents"),
        F.count("*").cast("long").alias("n_users"),
    )
