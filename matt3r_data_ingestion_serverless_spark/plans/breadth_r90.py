"""Round-4 batch 18: Dirichlet query-likelihood ranking, the classical
language-model retrieval ranker with Dirichlet smoothing (the third
lexical ranker beside TF-IDF and BM25).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.functions.rounding import round6, round6_sql
from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# Dirichlet-smoothed query likelihood
# ---------------------------------------------------------------------------

_QL_TERMS = ("spark", "join", "fast")
_QL_MU = 100.0
_QL_TOP_K = 20


def _ql_sql() -> str:
    terms = ", ".join(f"'{t}'" for t in _QL_TERMS)
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
coll AS (SELECT count(*) AS ctot FROM tok),
cf AS (
  SELECT w, count(*) AS cf FROM tok WHERE w IN ({terms}) GROUP BY w
),
tf AS (
  SELECT doc_id, w, count(*) AS tf FROM tok WHERE w IN ({terms}) GROUP BY 1, 2
),
scored AS (
  SELECT d.doc_id,
         sum(ln((coalesce(tf.tf, 0) + {_QL_MU} * (CAST(cf.cf AS DOUBLE) / coll.ctot))
                / (d.dl + {_QL_MU}))) AS score
  FROM dl d
  CROSS JOIN cf
  CROSS JOIN coll
  LEFT JOIN tf ON tf.doc_id = d.doc_id AND tf.w = cf.w
  GROUP BY d.doc_id
),
ranked AS (
  SELECT doc_id, score,
         row_number() OVER (
           ORDER BY sign(score) * floor(abs(score) * 1e6 + 0.5) DESC, doc_id
         ) AS rnk
  FROM scored
)
SELECT doc_id, rnk, {round6_sql('score')} AS ql_score_r
FROM ranked WHERE rnk <= {_QL_TOP_K}
"""


@register("search_query_likelihood_dirichlet", sql=_ql_sql())
def search_query_likelihood_dirichlet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-likelihood retrieval with Dirichlet smoothing (μ=100):
    score(d) = Σ_w ln((tf + μ·P(w|C)) / (|d| + μ)) for the fixed query
    — the language-modeling ranker (Ponte-Croft / Zhai-Lafferty) that
    completes the classical trio beside tfidf_top_terms and
    bm25_top_terms. Every document scores (smoothing gives unmatched
    docs mass), top-20 returned; ranking compares micro-rounded scores
    with doc_id tiebreak so the 3-term float sum order can't flip a
    rank.

    Scale: doc lengths and query-term stats are linear scans; the
    score join touches only (docs × query terms) rows via a LEFT join
    against the tf postings of the 3 terms; the global top-k is a
    TakeOrdered, not a full sort."""
    tok = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .localCheckpoint(eager=True)
    )
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    coll = tok.agg(F.count(F.lit(1)).alias("ctot"))
    qtok = tok.filter(F.col("w").isin(*_QL_TERMS))
    cf = qtok.groupBy("w").agg(F.count(F.lit(1)).alias("cf"))
    tf = qtok.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    scored = (
        dl.crossJoin(F.broadcast(cf))
        .crossJoin(F.broadcast(coll))
        .join(tf, ["doc_id", "w"], "left")
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.log(
                    (
                        F.coalesce(F.col("tf"), F.lit(0))
                        + _QL_MU * (F.col("cf").cast("double") / F.col("ctot"))
                    )
                    / (F.col("dl") + _QL_MU)
                )
            ).alias("score")
        )
    )
    micro = F.signum("score") * F.floor(F.abs("score") * 1e6 + 0.5)
    wr = Window.orderBy(F.desc(micro), F.asc("doc_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= _QL_TOP_K)
        .select("doc_id", "rnk", round6(F.col("score")).alias("ql_score_r"))
    )
