"""Round-4 batch 9: kNN-distance outliers.

The distance-to-kth-neighbour outlier score (Ramaswamy et al.) on the
blocked-GEMM scale path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.functions import vectors
from matt3r_data_ingestion_serverless_spark.operators.ann import blocked_kth_nn_sim
from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table, spread

# ---------------------------------------------------------------------------
# kNN-distance outlier scores (blocked GEMM)
# ---------------------------------------------------------------------------

_KNN_K = 3


def _knn_outlier_sql() -> str:
    cos = f"{vectors.dot_sql('a.v', 'b.v')} / (a.nrm * b.nrm)"
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
n AS (SELECT vec_id, label, v, {vectors.l2_norm_sql('v')} AS nrm FROM e),
ranked AS (
  SELECT a.vec_id, a.label, round({cos}, 6) AS sim,
         row_number() OVER (PARTITION BY a.vec_id
                            ORDER BY round({cos}, 6) DESC, b.vec_id) AS rk
  FROM n a JOIN n b ON b.vec_id != a.vec_id
)
SELECT vec_id, CAST(label AS INT) AS label, sim AS kth_sim
FROM ranked WHERE rk = {_KNN_K}
"""


@register("ns_knn_outlier_scores", sql=_knn_outlier_sql())
def ns_knn_outlier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance-to-kth-neighbour outlier score: each embedding's 3rd
    highest cosine against the rest of the corpus — a LOW kth similarity
    means the item has no dense neighbourhood (the classic kNN outlier
    statistic, the embedding-hygiene twin of ns_embedding_norm_audit).

    Scale: the same distributed blocked GEMM as the DBSCAN ε-graph
    (operators/ann.py) — rows replicate to B(B+1)/2 block-pairs via a
    broadcast equi-join, dense BLAS per pair, and each task emits only
    its per-item partial top-k (np.partition), so the shuffle back is
    ≤ n·B·k rows. The final merge is one groupBy(vec_id) over ≤ B·k
    candidates per item. FLOPs stay O(n²·d) — intrinsic to the exact
    kNN statistic; the SRP-LSH candidate source is the documented
    drop-in when approximate recall suffices. Since the kth-largest of
    the candidate multiset is tie-safe (equal VALUES give the same kth
    value under any tie order), the row_number tiebreak in the oracle
    never leaks into the result."""
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    kth = blocked_kth_nn_sim(emb, _KNN_K)
    labels = emb.select("vec_id", F.col("label").cast("int").alias("label"))
    return kth.join(F.broadcast(labels), "vec_id").select(
        "vec_id", "label", F.col("kth_sim")
    )
