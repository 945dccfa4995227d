"""Round-4 batch 21: canonicalized exact dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table, spread

# ---------------------------------------------------------------------------
# canonicalized exact dedup (normalization before hashing)
# ---------------------------------------------------------------------------

_NORM_DEDUP_SQL = """
WITH n AS (
  SELECT doc_id, source,
         md5(text) AS raw_hash,
         md5(regexp_replace(lower(trim(text)), ' +', ' ', 'g')) AS norm_hash
  FROM documents
)
SELECT norm_hash,
       count(*) AS n_copies,
       count(DISTINCT raw_hash) AS n_raw_variants,
       CAST(min(doc_id) AS BIGINT) AS keep_doc_id,
       count(DISTINCT source) AS n_sources
FROM n
GROUP BY norm_hash
HAVING count(*) > 1
"""


@register("ns_dedup_normalized", _NORM_DEDUP_SQL)
def ns_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalized exact dedup: hash AFTER trim → lowercase →
    whitespace-collapse, so docs differing only in case or spacing
    collapse into one group — the normalization pass every curation
    pipeline runs between byte-exact dedup (ns_dedup_exact, which
    these variants evade) and near-dedup (ns_dedup_minhash_lsh, which
    is overkill for them). `n_raw_variants > 1` counts groups where
    normalization did real work — the audit number that justifies the
    pass.

    Normalization is whole-stage-codegen regexp (no UDF; the Arrow-UDF
    twin of this transform is udf_arrow_normalize), then the standard
    one-shuffle hash-groupBy on a 16-byte key."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), " +", " ")
    n = docs.select(
        "doc_id",
        "source",
        F.md5("text").alias("raw_hash"),
        F.md5(norm).alias("norm_hash"),
    )
    return (
        n.groupBy("norm_hash")
        .agg(
            F.count("*").alias("n_copies"),
            F.count_distinct("raw_hash").alias("n_raw_variants"),
            F.min("doc_id").cast("long").alias("keep_doc_id"),
            F.count_distinct("source").alias("n_sources"),
        )
        .filter(F.col("n_copies") > 1)
    )
