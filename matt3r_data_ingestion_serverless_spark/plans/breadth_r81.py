"""Round-4 batch 9: kNN-distance outliers and Haar wavelet details.

Two operator families that deepen the ANN / time-series surface: the
distance-to-kth-neighbour outlier score (Ramaswamy et al.) on the
blocked-GEMM scale path, and the unnormalised Haar wavelet transform
of the hourly event-count series (all-integer details — zero float
risk).
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


# ---------------------------------------------------------------------------
# Haar wavelet details of the hourly event-count series
# ---------------------------------------------------------------------------

_HAAR_SLOTS = 512  # first 512 hours of the series (power of two)
_HAAR_LEVELS = 6  # block sizes 2..64

# dense hourly-count frame, shared with breadth_r82's Hurst R/S:
# s(slot BIGINT in [0, 512), n BIGINT) anchored at the series' first hour
_SLOTS_CTE_SQL = f"""ev AS (
  SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h FROM events
),
t0 AS (SELECT min(h) AS h0 FROM ev),
c AS (
  SELECT ev.h - t0.h0 AS slot, count(*) AS n
  FROM ev, t0 WHERE ev.h - t0.h0 < {_HAAR_SLOTS} GROUP BY 1
),
s AS (
  SELECT r.range AS slot, coalesce(c.n, 0) AS n
  FROM range({_HAAR_SLOTS}) r LEFT JOIN c ON c.slot = r.range
)"""


def hourly_slots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense (slot, n) hourly event counts for the first 512 hours —
    the Spark twin of _SLOTS_CTE_SQL. Missing hours materialize as 0
    via a broadcast join against spark.range (at 100 TB the same frame
    is per-device: range ⨯ device dimension, still broadcast-sized)."""
    ev = load_table(spark, sf_dir, "events").select(
        F.floor(F.unix_seconds("ts") / 3600).cast("long").alias("h")
    )
    h0 = ev.agg(F.min("h").alias("h0"))
    c = (
        ev.join(F.broadcast(h0))
        .select((F.col("h") - F.col("h0")).alias("slot"))
        .filter(F.col("slot") < _HAAR_SLOTS)
        .groupBy("slot")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        spark.range(_HAAR_SLOTS)
        .select(F.col("id").alias("slot"))
        .join(c, "slot", "left")
        .select("slot", F.coalesce("n", F.lit(0)).alias("n"))
    )


_HAAR_SQL = f"""
WITH {_SLOTS_CTE_SQL},
lv AS (
  SELECT slot, n, l.level
  FROM s CROSS JOIN (SELECT unnest([{",".join(str(l) for l in range(1, _HAAR_LEVELS + 1))}]) AS level) l
)
SELECT level,
       CAST(slot // (1 << level) AS BIGINT) AS pos,
       sum(n) AS n_events,
       sum(CASE WHEN slot % (1 << level) < (1 << (level - 1)) THEN n ELSE -n END)
         AS detail
FROM lv GROUP BY 1, 2
"""


@register("ts_haar_coefficients", sql=_HAAR_SQL)
def ts_haar_coefficients(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unnormalised Haar wavelet details of the hourly event-count
    series (first 512 hours): at each dyadic level, detail =
    Σ(left half) − Σ(right half) of the block — the multi-resolution
    burst detector (a large |detail| at level L flags an activity shift
    at the 2^L-hour scale) and the transform behind wavelet-compressed
    series synopses. All-integer arithmetic end to end: counts sum
    exactly, so no cross-engine float risk anywhere.

    Scale: one scan → hour bucketing → one groupBy(level, pos) over an
    exploded 6-level array; the dense 512-slot frame is a broadcast
    range join. At 100 TB the same plan holds with the series keyed per
    device — the explode factor is the (constant) level count."""
    s = hourly_slots(spark, sf_dir)
    lv = s.select(
        "slot",
        "n",
        F.explode(
            F.array(*[F.lit(l) for l in range(1, _HAAR_LEVELS + 1)])
        ).alias("level"),
    )
    # F.shiftleft needs a literal shift; the SQL form takes a column
    blk = F.expr("shiftleft(1, level)")
    half = F.expr("shiftleft(1, level - 1)")
    return (
        lv.select(
            "level",
            F.floor(F.col("slot") / blk).cast("long").alias("pos"),
            "n",
            F.when(F.pmod("slot", blk) < half, F.col("n"))
            .otherwise(-F.col("n"))
            .alias("signed_n"),
        )
        .groupBy("level", "pos")
        .agg(F.sum("n").alias("n_events"), F.sum("signed_n").alias("detail"))
    )
