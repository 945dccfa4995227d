"""Round-4 batch 3: cross-source quantile normalization, exact-integer
deterministic and oracle-paired.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.functions.rounding import round6, round6_sql
from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# cross-source quantile normalization (rank-bucket granularity)
# ---------------------------------------------------------------------------

_QN_BUCKETS = 20

_QN_SQL = f"""
WITH b AS (
  SELECT source, doc_id, n_chars,
         ntile({_QN_BUCKETS}) OVER (PARTITION BY source
                                    ORDER BY n_chars, doc_id) AS bucket
  FROM documents
),
ref AS (
  SELECT bucket, sum(n_chars) AS s, count(*) AS c FROM b GROUP BY bucket
)
SELECT b.source, CAST(b.bucket AS INT) AS bucket,
       count(*) AS n_docs,
       {round6_sql("CAST(sum(b.n_chars) AS DOUBLE) / count(*)")} AS raw_mean,
       {round6_sql("CAST(max(ref.s) AS DOUBLE) / max(ref.c)")} AS normalized_value
FROM b JOIN ref ON b.bucket = ref.bucket
GROUP BY b.source, b.bucket
"""


@register("ns_quantile_normalize", _QN_SQL)
def ns_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization across sources (bucket granularity): rank
    each source's docs into 20 length quantile buckets, then replace a
    bucket's value with the CROSS-SOURCE mean of that rank bucket — the
    distribution-alignment transform (microarray-born, now used to
    de-bias per-source length/quality distributions before mixing a
    corpus). Output: per (source, bucket) the raw mean vs the value
    every source's bucket maps to after normalization.

    Scale: ntile needs a per-source sort — one shuffle partitioned by
    source (skew-salted if one source dominates); the 20-row reference
    table broadcasts back. Tie-break on doc_id keeps bucket assignment
    a total order, reproducible across engines.
    """
    docs = load_table(spark, sf_dir, "documents")
    b = docs.select(
        "source",
        "doc_id",
        "n_chars",
        F.ntile(_QN_BUCKETS)
        .over(Window.partitionBy("source").orderBy("n_chars", "doc_id"))
        .alias("bucket"),
    )
    ref = b.groupBy("bucket").agg(F.sum("n_chars").alias("s"), F.count("*").alias("c"))
    return (
        b.join(F.broadcast(ref), "bucket")
        .groupBy("source", F.col("bucket").cast("int").alias("bucket"))
        .agg(
            F.count("*").alias("n_docs"),
            round6(F.sum("n_chars").cast("double") / F.count("*")).alias("raw_mean"),
            round6(F.max("s").cast("double") / F.max("c")).alias("normalized_value"),
        )
    )
