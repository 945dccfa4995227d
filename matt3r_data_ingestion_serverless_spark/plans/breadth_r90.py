"""Round-4 batch 18: dup-cluster medoids and Dirichlet query-likelihood
ranking.

Two operator families: per-cluster medoid election over the near-dup
components (which copy a dedup pipeline should KEEP) and the classical
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
# dup-cluster medoids
# ---------------------------------------------------------------------------


def _medoids_sql() -> str:
    from matt3r_data_ingestion_serverless_spark.plans.curation import (
        _dup_clusters_ctes,
    )

    return f"""
{_dup_clusters_ctes()},
inc AS (
  SELECT node, sum(jaccard) AS s FROM (
    SELECT doc_a AS node, jaccard FROM pairs
    UNION ALL SELECT doc_b, jaccard FROM pairs
  ) GROUP BY node
),
m AS (
  SELECT l.cluster_id, l.node, coalesce(inc.s, 0) AS s,
         count(*) OVER (PARTITION BY l.cluster_id) AS cluster_size,
         row_number() OVER (
           PARTITION BY l.cluster_id
           ORDER BY floor(coalesce(inc.s, 0) * 1e6 + 0.5) DESC, l.node
         ) AS rk
  FROM lbl l LEFT JOIN inc ON inc.node = l.node
)
SELECT cluster_id, node AS medoid_doc_id, cluster_size,
       {round6_sql('s')} AS medoid_score_r
FROM m WHERE rk = 1
"""


@register("ns_dup_cluster_medoids", sql=_medoids_sql())
def ns_dup_cluster_medoids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Medoid election per duplicate cluster: the member with the
    highest total Jaccard to its verified neighbours (ties → lowest id)
    — the representative a dedup pipeline KEEPS, chosen as "most
    central copy" rather than ns_dedup_keep_one's arbitrary-min-id rule.
    The ranking compares micro-rounded incident sums so a float
    summation-order ulp can never flip the election.

    Scale: cluster labels come from the iterative min-label components,
    fed the SAME checkpointed pair table (_dup_clusters_from_pairs) so
    the MinHash detector runs once, not twice; incident sums are one
    groupBy over the mirrored edge list; the election is one window
    over cluster-sized partitions. Nothing rescans the corpus."""
    from matt3r_data_ingestion_serverless_spark.plans.curation import (
        _dup_clusters_from_pairs,
    )
    from matt3r_data_ingestion_serverless_spark.plans.northstar import (
        ns_dedup_minhash_lsh,
    )

    pairs = ns_dedup_minhash_lsh(spark, sf_dir).localCheckpoint(eager=True)
    lbl = _dup_clusters_from_pairs(pairs.select("doc_a", "doc_b")).select(
        F.col("doc_id").alias("node"), "cluster_id", "cluster_size"
    )
    inc = (
        pairs.select(F.col("doc_a").alias("node"), "jaccard")
        .union(pairs.select(F.col("doc_b").alias("node"), "jaccard"))
        .groupBy("node")
        .agg(F.sum("jaccard").alias("s"))
    )
    m = lbl.join(inc, "node", "left").withColumn(
        "s", F.coalesce("s", F.lit(0.0))
    )
    wr = Window.partitionBy("cluster_id").orderBy(
        F.desc(F.floor(F.col("s") * 1e6 + 0.5)), F.asc("node")
    )
    return (
        m.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") == 1)
        .select(
            "cluster_id",
            F.col("node").alias("medoid_doc_id"),
            "cluster_size",
            round6(F.col("s")).alias("medoid_score_r"),
        )
    )


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
