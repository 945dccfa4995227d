"""Round-4 batch 27: dedup cost accounting.

The byte-savings ledger of keep-one deduplication (what the dedup pass
actually buys, in characters).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.functions.rounding import round6, round6_sql
from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# dedup cost savings
# ---------------------------------------------------------------------------


def _savings_sql() -> str:
    from matt3r_data_ingestion_serverless_spark.plans.curation import (
        _dup_clusters_ctes,
    )

    return f"""
{_dup_clusters_ctes()},
joined AS (
  SELECT d.doc_id, d.n_chars, l.cluster_id
  FROM documents d LEFT JOIN lbl l ON l.node = d.doc_id
)
SELECT count(*) AS n_docs,
       sum(CASE WHEN cluster_id IS NOT NULL AND doc_id != cluster_id
                THEN 1 ELSE 0 END) AS n_dropped,
       sum(n_chars) AS chars_total,
       sum(CASE WHEN cluster_id IS NOT NULL AND doc_id != cluster_id
                THEN n_chars ELSE 0 END) AS chars_saved,
       {round6_sql(
           "CAST(sum(CASE WHEN cluster_id IS NOT NULL AND doc_id != cluster_id"
           " THEN n_chars ELSE 0 END) AS DOUBLE) / sum(n_chars)"
       )} AS save_ratio_r
FROM joined
"""


@register("ns_dedup_cost_savings", sql=_savings_sql())
def ns_dedup_cost_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup ledger: with keep-one-per-cluster (the min-id
    representative = the cluster label), how many documents and
    characters does the near-dup pass actually delete? The number a
    curation team reports when justifying the dedup stage's compute —
    storage/training-token savings, not pair counts.

    Scale: cluster labels from the iterative components; one broadcast
    join against the (tiny) label table and a single aggregate."""
    from matt3r_data_ingestion_serverless_spark.plans.curation import ns_dup_clusters

    lbl = ns_dup_clusters(spark, sf_dir).select(
        F.col("doc_id").alias("node"), "cluster_id"
    )
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    j = d.join(
        F.broadcast(lbl), d.doc_id == F.col("node"), "left"
    )
    dropped = F.col("cluster_id").isNotNull() & (F.col("doc_id") != F.col("cluster_id"))
    return j.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(dropped, 1).otherwise(0)).alias("n_dropped"),
        F.sum("n_chars").alias("chars_total"),
        F.sum(F.when(dropped, F.col("n_chars")).otherwise(0)).alias("chars_saved"),
        round6(
            F.sum(F.when(dropped, F.col("n_chars")).otherwise(0)).cast("double")
            / F.sum("n_chars")
        ).alias("save_ratio_r"),
    )
