"""Round-4 batch 27: spectral entropy and dedup cost accounting.

Two operator families: normalized spectral entropy of the daily
periodogram (the flat-vs-peaked seasonality summary) and the
byte-savings ledger of keep-one deduplication (what the dedup pass
actually buys, in characters).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.functions.rounding import round6, round6_sql
from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table

_PI = repr(math.pi)
_SE_FREQS = 10

# ---------------------------------------------------------------------------
# spectral entropy of the daily periodogram
# ---------------------------------------------------------------------------

_SE_SQL = f"""
WITH daily AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS cnt
  FROM events GROUP BY 1
),
r AS (
  SELECT cnt, row_number() OVER (ORDER BY day) - 1 AS t,
         count(*) OVER () AS n
  FROM daily
),
terms AS (
  SELECT k.k, r.n,
         r.cnt * CAST(floor(cos(2 * {_PI} * k.k * r.t / r.n) * 1e6 + 0.5) AS BIGINT)
           AS c_micro,
         r.cnt * CAST(floor(sin(2 * {_PI} * k.k * r.t / r.n) * 1e6 + 0.5) AS BIGINT)
           AS s_micro
  FROM r CROSS JOIN (SELECT unnest(range(1, {_SE_FREQS + 1})) AS k) k
),
s AS (
  SELECT k, sum(c_micro) AS cs, sum(s_micro) AS ss
  FROM terms GROUP BY k
),
p AS (
  SELECT k,
         CAST(cs AS DOUBLE) * cs + CAST(ss AS DOUBLE) * ss AS pw,
         sum(CAST(cs AS DOUBLE) * cs + CAST(ss AS DOUBLE) * ss) OVER () AS tot,
         max(CAST(cs AS DOUBLE) * cs + CAST(ss AS DOUBLE) * ss) OVER () AS mx
  FROM s
)
SELECT count(*) AS n_freqs,
       {round6_sql(
           '-sum(CASE WHEN pw > 0 THEN (pw / tot) * ln(pw / tot) END)'
           f' / ln({_SE_FREQS})'
       )} AS spectral_entropy_r,
       CAST(min(CASE WHEN pw = mx THEN k END) AS BIGINT) AS dominant_k
FROM p
"""


@register("ts_spectral_entropy", sql=_SE_SQL)
def ts_spectral_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized spectral entropy of the daily-count periodogram
    (k = 1..10): H = −Σ p̂ₖ ln p̂ₖ / ln K over the normalized Fourier
    powers — near 1 the series is spectrally flat (no dominant rhythm),
    near 0 one frequency carries the activity; ``dominant_k`` names it.
    The one-number summary of what ts_periodogram_daily tabulates.

    Scale: the same aggregate-first micro-quantized DFT as the
    periodogram (exact int64 Fourier sums from identically-rounded trig
    factors); powers are identical products of identical ints, so the
    argmax and the entropy ratios are deterministic."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day")).agg(
        F.count("*").alias("cnt")
    )
    r = daily.select(
        "cnt",
        (F.row_number().over(Window.orderBy("day")) - 1).alias("t"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    ks = F.explode(F.sequence(F.lit(1), F.lit(_SE_FREQS))).alias("k")
    theta = 2 * math.pi * F.col("k") * F.col("t") / F.col("n")
    terms = r.select("cnt", "t", "n", ks).select(
        "k",
        (F.col("cnt") * F.floor(F.cos(theta) * 1e6 + 0.5).cast("long")).alias(
            "c_micro"
        ),
        (F.col("cnt") * F.floor(F.sin(theta) * 1e6 + 0.5).cast("long")).alias(
            "s_micro"
        ),
    )
    s = terms.groupBy("k").agg(
        F.sum("c_micro").alias("cs"), F.sum("s_micro").alias("ss")
    )
    pw = F.col("cs").cast("double") * F.col("cs") + F.col("ss").cast("double") * F.col(
        "ss"
    )
    wall = Window.partitionBy()
    p = s.select("k", pw.alias("pw")).select(
        "k", "pw", F.sum("pw").over(wall).alias("tot"), F.max("pw").over(wall).alias("mx")
    )
    return p.agg(
        F.count(F.lit(1)).alias("n_freqs"),
        round6(
            -F.sum(
                F.when(
                    F.col("pw") > 0,
                    (F.col("pw") / F.col("tot"))
                    * F.log(F.col("pw") / F.col("tot")),
                )
            )
            / math.log(_SE_FREQS)
        ).alias("spectral_entropy_r"),
        F.min(F.when(F.col("pw") == F.col("mx"), F.col("k")))
        .cast("long")
        .alias("dominant_k"),
    )


# ---------------------------------------------------------------------------
# dedup cost savings
# ---------------------------------------------------------------------------


def _savings_sql() -> str:
    from matt3r_data_ingestion_serverless_spark.plans.curation import (
        _dup_clusters_ctes,
    )

    return f"""
{_dup_clusters_ctes()},
joined AS (
  SELECT d.doc_id, d.n_chars, l.cluster_id
  FROM documents d LEFT JOIN lbl l ON l.node = d.doc_id
)
SELECT count(*) AS n_docs,
       sum(CASE WHEN cluster_id IS NOT NULL AND doc_id != cluster_id
                THEN 1 ELSE 0 END) AS n_dropped,
       sum(n_chars) AS chars_total,
       sum(CASE WHEN cluster_id IS NOT NULL AND doc_id != cluster_id
                THEN n_chars ELSE 0 END) AS chars_saved,
       {round6_sql(
           "CAST(sum(CASE WHEN cluster_id IS NOT NULL AND doc_id != cluster_id"
           " THEN n_chars ELSE 0 END) AS DOUBLE) / sum(n_chars)"
       )} AS save_ratio_r
FROM joined
"""


@register("ns_dedup_cost_savings", sql=_savings_sql())
def ns_dedup_cost_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup ledger: with keep-one-per-cluster (the min-id
    representative = the cluster label), how many documents and
    characters does the near-dup pass actually delete? The number a
    curation team reports when justifying the dedup stage's compute —
    storage/training-token savings, not pair counts.

    Scale: cluster labels from the iterative components; one broadcast
    join against the (tiny) label table and a single aggregate."""
    from matt3r_data_ingestion_serverless_spark.plans.curation import ns_dup_clusters

    lbl = ns_dup_clusters(spark, sf_dir).select(
        F.col("doc_id").alias("node"), "cluster_id"
    )
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    j = d.join(
        F.broadcast(lbl), d.doc_id == F.col("node"), "left"
    )
    dropped = F.col("cluster_id").isNotNull() & (F.col("doc_id") != F.col("cluster_id"))
    return j.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(dropped, 1).otherwise(0)).alias("n_dropped"),
        F.sum("n_chars").alias("chars_total"),
        F.sum(F.when(dropped, F.col("n_chars")).otherwise(0)).alias("chars_saved"),
        round6(
            F.sum(F.when(dropped, F.col("n_chars")).otherwise(0)).cast("double")
            / F.sum("n_chars")
        ).alias("save_ratio_r"),
    )
