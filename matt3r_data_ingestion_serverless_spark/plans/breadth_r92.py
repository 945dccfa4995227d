"""Round-4 batch 20: pass@k estimation and UTF-8 byte fertility.

Two operator families: the unbiased pass@k estimator over per-task
success counts (the LLM-eval statistic, computed exactly from integer
combinatorics), and bytes-per-character fertility by language (the
tokenizer-budget statistic that separates multi-byte scripts from
ASCII)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.functions.rounding import round6, round6_sql
from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# pass@k estimation
# ---------------------------------------------------------------------------

_PASS_KS = (1, 3, 5)


def _pass_at_k_sql() -> str:
    # unbiased estimator: 1 - prod_{i=0..k-1} (n-c-i)/(n-i), exact on
    # integers (tasks with n < k are excluded, the standard rule)
    branches = []
    for k in _PASS_KS:
        prod = " * ".join(
            f"(CAST(n - c - {i} AS DOUBLE) / (n - {i}))" for i in range(k)
        )
        branches.append(
            f"""
  SELECT {k} AS k, count(*) AS n_tasks,
         {round6_sql(f'sum(1.0 - ({prod})) / count(*)')} AS pass_at_k_r
  FROM tasks WHERE n >= {k}"""
        )
    return f"""
WITH tasks AS (
  SELECT user_id, count(*) AS n,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c
  FROM events GROUP BY user_id
)
{" UNION ALL ".join(branches)}
"""


@register("ml_pass_at_k", sql=_pass_at_k_sql())
def ml_pass_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unbiased pass@k estimator (Chen et al., HumanEval):
    per task with n samples and c successes,
    pass@k = 1 − C(n−c,k)/C(n,k) = 1 − Π(n−c−i)/(n−i), averaged over
    tasks with n ≥ k — the LLM-eval statistic computed exactly from
    integer counts (here: users as tasks, purchases as successes, the
    same estimator shape an eval harness runs over model samples).

    Scale: one groupBy(task) for (n, c); each k is a single aggregate
    over the task table with the product unrolled as an exact integer-
    ratio expression — no factorials, no overflow."""
    ev = load_table(spark, sf_dir, "events")
    tasks = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("c"),
    ).localCheckpoint(eager=True)
    out = None
    for k in _PASS_KS:
        prod = None
        for i in range(k):
            term = (F.col("n") - F.col("c") - i).cast("double") / (F.col("n") - i)
            prod = term if prod is None else prod * term
        row = (
            tasks.filter(F.col("n") >= k)
            .agg(
                F.lit(k).alias("k"),
                F.count(F.lit(1)).alias("n_tasks"),
                round6(F.sum(1.0 - prod) / F.count(F.lit(1))).alias("pass_at_k_r"),
            )
        )
        out = row if out is None else out.union(row)
    return out


# ---------------------------------------------------------------------------
# UTF-8 byte fertility by language
# ---------------------------------------------------------------------------

_FERT_SQL = f"""
SELECT lang,
       count(*) AS n_docs,
       sum(length(text)) AS chars,
       sum(strlen(text)) AS bytes,
       {round6_sql('CAST(sum(strlen(text)) AS DOUBLE) / sum(length(text))')}
         AS bytes_per_char_r
FROM documents GROUP BY lang
"""


@register("ns_utf8_fertility", sql=_FERT_SQL)
def ns_utf8_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UTF-8 byte fertility by language: bytes per character over each
    language's text — the budget statistic byte-level tokenizers
    (BPE-on-bytes) pay for multi-byte scripts (zh ≈ 3 bytes/char vs
    ASCII 1.0), which decides per-language sequence-length budgets and
    storage sizing. A ratio of exact integer totals, so bit-stable.

    Scale: one scan, one groupBy(lang); length/octet_length are
    JVM-side expressions."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).alias("chars"),
        F.sum(F.octet_length("text")).alias("bytes"),
        round6(
            F.sum(F.octet_length("text")).cast("double") / F.sum(F.length("text"))
        ).alias("bytes_per_char_r"),
    )
