"""Round-4 batch 13: exact rank-based AUC (Mann–Whitney) and source
diversity of the documents corpus, as declarative plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.functions.rounding import round6, round6_sql
from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# exact ROC-AUC by rank statistic (no threshold sweep)
# ---------------------------------------------------------------------------

_AUC_SQL = f"""
WITH v AS (
  SELECT CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS pos,
         CAST(round(value * 100, 0) AS BIGINT) AS score
  FROM events
),
vc AS (SELECT score, count(*) AS c FROM v GROUP BY score),
rk AS (
  SELECT score,
         2 * sum(c) OVER (ORDER BY score
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c + 1 AS r2
  FROM vc
),
pc AS (SELECT score, count(*) AS n_pos FROM v WHERE pos = 1 GROUP BY score),
agg AS (
  SELECT sum(pc.n_pos) AS np, sum(pc.n_pos * rk.r2) AS r2_pos
  FROM pc JOIN rk USING (score)
),
tot AS (SELECT count(*) AS n FROM v)
SELECT CAST(np AS BIGINT) AS n_pos,
       CAST(n - np AS BIGINT) AS n_neg,
       {round6_sql(
           "(CAST(r2_pos AS DOUBLE) / 2 - CAST(np AS DOUBLE) * (np + 1) / 2)"
           " / (CAST(np AS DOUBLE) * (n - np))"
       )} AS auc
FROM agg, tot
"""


@register("binary_auc_rank", _AUC_SQL)
def binary_auc_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC as the Mann–Whitney rank statistic: AUC =
    (R₊ − n₊(n₊+1)/2)/(n₊·n₋) with R₊ = sum of positive-class pooled
    ranks (ties at average rank) — the classifier-evaluation metric
    computed WITHOUT a threshold sweep and WITHOUT sorting raw rows:
    like kruskal_wallis_h, average ranks come from the score HISTOGRAM
    (doubled rank r2 = 2·cum − c + 1, exact int) and R₊ = Σ n₊(s)·r2/2
    over the per-score positive counts. "Does the value channel
    separate error events?" here; any (label, score) pair in general.

    Tie handling is exactly sklearn's roc_auc_score (trapezoidal);
    everything is int64 until the single rounded division. At 100 TB
    the histogram agg is the only data-sized shuffle."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        (F.col("event_type") == "error").cast("int").alias("pos"),
        F.round(F.col("value") * 100, 0).cast("long").alias("score"),
    )
    vc = v.groupBy("score").agg(F.count("*").alias("c"))
    wcum = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, 0)
    rk = vc.select(
        "score", (2 * F.sum("c").over(wcum) - F.col("c") + 1).alias("r2")
    )
    pc = v.filter(F.col("pos") == 1).groupBy("score").agg(
        F.count("*").alias("n_pos")
    )
    agg = pc.join(rk, "score").agg(
        F.sum("n_pos").alias("np"),
        F.sum(F.col("n_pos") * F.col("r2")).alias("r2_pos"),
    )
    tot = v.agg(F.count("*").alias("n"))
    j = agg.crossJoin(F.broadcast(tot))
    npos = F.col("np").cast("double")
    auc = (F.col("r2_pos").cast("double") / 2 - npos * (F.col("np") + 1) / 2) / (
        npos * (F.col("n") - F.col("np"))
    )
    return j.select(
        F.col("np").cast("long").alias("n_pos"),
        (F.col("n") - F.col("np")).cast("long").alias("n_neg"),
        round6(auc).alias("auc"),
    )


# ---------------------------------------------------------------------------
# ecological diversity indices of the corpus mix
# ---------------------------------------------------------------------------

_DIVERSITY_SQL = f"""
WITH c AS (
  SELECT lang, source, count(*) AS n FROM documents GROUP BY 1, 2
),
l AS (
  SELECT lang, sum(n) AS total, count(*) AS richness, max(n) AS top_n
  FROM c GROUP BY lang
),
simp AS (
  SELECT lang, sum(n * (n - 1)) AS pair_same FROM c GROUP BY lang
)
SELECT l.lang,
       CAST(l.total AS BIGINT) AS n_docs,
       CAST(l.richness AS INT) AS source_richness,
       CASE WHEN l.total > 1 THEN {round6_sql(
           "1.0 - CAST(simp.pair_same AS DOUBLE)"
           " / (CAST(l.total AS DOUBLE) * (l.total - 1))"
       )} END AS simpson_diversity,
       {round6_sql("CAST(l.top_n AS DOUBLE) / l.total")} AS berger_parker
FROM l JOIN simp USING (lang)
"""


@register("ns_source_diversity", _DIVERSITY_SQL)
def ns_source_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-mix diversity indices per language: source richness,
    Simpson's diversity 1 − Σnᵢ(nᵢ−1)/(N(N−1)) (the probability two
    random docs come from different sources — EXACT integers under one
    rounded division, unlike entropy's per-term logs), and
    Berger–Parker dominance (top source share). The dataset-card
    numbers a corpus curator publishes beside ns_lang_mix_kl's drift
    check — low diversity in a language flags single-source capture.

    One (lang, source) count agg, two tiny rollups — Simpson's pair
    form needs no probabilities and no logs, so it is the
    cross-engine-safest diversity index."""
    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("lang", "source").agg(F.count("*").alias("n"))
    l = c.groupBy("lang").agg(
        F.sum("n").alias("total"),
        F.count("*").alias("richness"),
        F.max("n").alias("top_n"),
        F.sum(F.col("n") * (F.col("n") - 1)).alias("pair_same"),
    )
    simpson = 1.0 - F.col("pair_same").cast("double") / (
        F.col("total").cast("double") * (F.col("total") - 1)
    )
    return l.select(
        "lang",
        F.col("total").cast("long").alias("n_docs"),
        F.col("richness").cast("int").alias("source_richness"),
        F.when(F.col("total") > 1, round6(simpson)).alias("simpson_diversity"),
        round6(F.col("top_n").cast("double") / F.col("total")).alias("berger_parker"),
    )
