"""Round-4 batch 18: cross-source vocabulary overlap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.functions import text
from matt3r_data_ingestion_serverless_spark.functions.rounding import round6, round6_sql
from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table, spread

# ---------------------------------------------------------------------------
# cross-source vocabulary overlap matrix
# ---------------------------------------------------------------------------

_VOCAB_OVERLAP_SQL = f"""
WITH st AS (
  SELECT DISTINCT source, unnest({text.tokens_sql('text')}) AS term
  FROM documents
),
sizes AS (SELECT source, count(*) AS v FROM st GROUP BY source),
inter AS (
  SELECT a.source AS source_a, b.source AS source_b, count(*) AS shared
  FROM st a JOIN st b ON a.term = b.term AND a.source < b.source
  GROUP BY 1, 2
)
SELECT source_a, source_b,
       CAST(sa.v AS BIGINT) AS vocab_a, CAST(sb.v AS BIGINT) AS vocab_b,
       CAST(shared AS BIGINT) AS shared_terms,
       {round6_sql("CAST(shared AS DOUBLE) / (sa.v + sb.v - shared)")} AS jaccard,
       {round6_sql("CAST(shared AS DOUBLE) / least(sa.v, sb.v)")} AS containment
FROM inter
JOIN sizes sa ON inter.source_a = sa.source
JOIN sizes sb ON inter.source_b = sb.source
"""


@register("ns_vocab_overlap_matrix", _VOCAB_OVERLAP_SQL)
def ns_vocab_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source vocabulary overlap: pairwise Jaccard AND containment
    between sources' distinct-term sets — the corpus-relatedness matrix
    a data curator reads before mixing sources (high containment of a
    small source inside a big one = it adds little lexical novelty;
    low overlap everywhere = a source speaks a different register).

    Shape: one distinct (source, term) projection, one self-join keyed
    on the TERM (the per-term source lists are tiny, so pair expansion
    is bounded), broadcast vocab sizes back. |A∪B| = |A|+|B|−|A∩B|
  stays exact-integer under the two rounded divisions. The
    per-document version of this measure is ns_contamination_overlap;
    this is the corpus-level rollup."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    st = docs.select(
        "source", F.explode(text.tokens(F.col("text"))).alias("term")
    ).distinct()
    sizes = st.groupBy("source").agg(F.count("*").alias("v"))
    a = st.select(F.col("source").alias("source_a"), "term")
    b = st.select(F.col("source").alias("source_b"), "term")
    inter = (
        a.join(b, "term")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("both"))
    )
    j = (
        inter.join(
            F.broadcast(sizes.select(F.col("source").alias("source_a"), F.col("v").alias("va"))),
            "source_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("source").alias("source_b"), F.col("v").alias("vb"))),
            "source_b",
        )
    )
    return j.select(
        "source_a",
        "source_b",
        F.col("va").cast("long").alias("vocab_a"),
        F.col("vb").cast("long").alias("vocab_b"),
        F.col("both").cast("long").alias("shared_terms"),
        round6(
            F.col("both").cast("double") / (F.col("va") + F.col("vb") - F.col("both"))
        ).alias("jaccard"),
        round6(F.col("both").cast("double") / F.least("va", "vb")).alias(
            "containment"
        ),
    )
