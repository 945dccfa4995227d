"""Round-2 batch 40 (this run): an embedding-norm hygiene audit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.functions import vectors
from matt3r_data_ingestion_serverless_spark.functions.rounding import round6, round6_sql
from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table, spread

# ---------------------------------------------------------------------------
# embedding norm hygiene audit per label
# ---------------------------------------------------------------------------

_NORM_SQL = f"""
WITH v AS (SELECT label, embedding::DOUBLE[] AS vec FROM embeddings),
e AS (
  SELECT label,
         CAST(floor({vectors.l2_norm_sql('vec')} * 1e6 + 0.5) AS BIGINT)
           AS norm_micro
  FROM v
),
m AS (
  SELECT label, count(*) AS n, sum(norm_micro) AS s,
         sum(CAST(norm_micro AS DECIMAL(38,0)) * norm_micro) AS q,
         min(norm_micro) AS mn, max(norm_micro) AS mx
  FROM e GROUP BY label
)
SELECT label,
       CAST(n AS BIGINT) AS n,
       CAST(mn AS BIGINT) AS min_norm_micro,
       CAST(mx AS BIGINT) AS max_norm_micro,
       CAST(s // n AS BIGINT) AS mean_norm_micro,
       {round6_sql(
           "sqrt((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)"
           " / (n - 1)) * n / CAST(s AS DOUBLE)"
       )} AS norm_cv
FROM m
"""


@register("ns_embedding_norm_audit", _NORM_SQL)
def ns_embedding_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding L2-norm hygiene audit per label — mean/min/max norm
    and the coefficient of variation, the first check before cosine
    retrieval (collapsed or exploding norms flag a bad encoder export;
    unnormalized stores silently bias dot-product rankings — the
    reason ns_embedding_quantize and the ANN family normalize). Norms
    quantize to micro-units per row (fixed-order fold + sqrt), moment
    sums stay exact (DECIMAL for squares), and the CV is one closed
    form. Map-side everything except a per-label agg."""
    e = spread(load_table(spark, sf_dir, "embeddings")).select(
        "label",
        F.floor(
            vectors.l2_norm("CAST(embedding AS ARRAY<DOUBLE>)") * 1e6 + 0.5
        )
        .cast("long")
        .alias("norm_micro"),
    )
    m = e.groupBy("label").agg(
        F.count("*").alias("n"),
        F.sum("norm_micro").alias("s"),
        F.sum(F.col("norm_micro").cast("decimal(38,0)") * F.col("norm_micro")).alias("q"),
        F.min("norm_micro").alias("mn"),
        F.max("norm_micro").alias("mx"),
    )
    n = F.col("n").cast("double")
    s, q = F.col("s").cast("double"), F.col("q").cast("double")
    cv = F.sqrt((q - s * s / n) / (F.col("n") - 1)) * F.col("n") / s
    return m.select(
        "label",
        F.col("n").cast("long").alias("n"),
        F.col("mn").cast("long").alias("min_norm_micro"),
        F.col("mx").cast("long").alias("max_norm_micro"),
        F.expr("s div n").cast("long").alias("mean_norm_micro"),
        round6(cv).alias("norm_cv"),
    )
