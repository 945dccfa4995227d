"""Round-2 batch 19: a code-like document filter, pure regex
arithmetic with no floats except final round6 ratios.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.functions.rounding import round6, round6_sql
from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table, spread


# ---------------------------------------------------------------------------
# code-like document filter
# ---------------------------------------------------------------------------

_CODE_SQL = f"""
WITH c AS (
  SELECT doc_id, source,
         len(regexp_extract_all(text, '[{{}};()=<>\\[\\]]')) AS n_code_chars,
         len(text) AS n_chars,
         len(regexp_extract_all(text, '\\b(def|class|return|import|var|function|if|else)\\b'))
           AS n_keywords
  FROM documents WHERE len(text) > 0
)
SELECT doc_id, source,
       CAST(n_code_chars AS BIGINT) AS n_code_chars,
       CAST(n_keywords AS BIGINT) AS n_keywords,
       {round6_sql("CAST(n_code_chars AS DOUBLE) / n_chars")} AS code_char_ratio,
       CAST(n_code_chars * 20 >= n_chars OR n_keywords >= 3 AS BOOLEAN) AS looks_like_code
FROM c
"""


@register("ns_code_like_filter", _CODE_SQL)
def ns_code_like_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-likeness screen for pretraining text — symbol-character
    density ({};()=<>[]) and programming-keyword hits, with the
    boolean gate stated in CROSS-MULTIPLIED integer form
    (n_code·20 ≥ n_chars, i.e. ratio ≥ 5%) so the classification never
    touches a float — the router that sends documents to a code
    pipeline vs the prose filters (ns_text_quality, ns_repetition_filter).
    Pure scan-stage regex counting, no shuffle."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    n_code = F.size(
        F.regexp_extract_all(F.col("text"), F.lit(r"[{};()=<>\[\]]"), F.lit(0))
    )
    n_kw = F.size(
        F.regexp_extract_all(
            F.col("text"),
            F.lit(r"\b(def|class|return|import|var|function|if|else)\b"),
            F.lit(0),
        )
    )
    c = docs.filter(F.length("text") > 0).select(
        "doc_id",
        "source",
        n_code.cast("long").alias("n_code_chars"),
        F.length("text").cast("long").alias("n_chars"),
        n_kw.cast("long").alias("n_keywords"),
    )
    return c.select(
        "doc_id",
        "source",
        "n_code_chars",
        "n_keywords",
        round6(F.col("n_code_chars").cast("double") / F.col("n_chars")).alias(
            "code_char_ratio"
        ),
        ((F.col("n_code_chars") * 20 >= F.col("n_chars")) | (F.col("n_keywords") >= 3)).alias(
            "looks_like_code"
        ),
    )
