"""Round-4 batch 13: exact rank-based AUC (Mann–Whitney) and a matrix
profile (nearest-neighbor distance profile) over the daily series —
ML evaluation + time-series motif mining as declarative plans.
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
# matrix profile over the daily series (motif / discord discovery)
# ---------------------------------------------------------------------------

_MP_M = 7  # subsequence length (days)


def _matrix_profile_sql2() -> str:
    m = _MP_M
    num = f"(CAST({m} * dots.d - sa.s * sb.s AS DOUBLE))"
    va = f"(CAST({m} * sa.ss - sa.s * sa.s AS DOUBLE))"
    vb = f"(CAST({m} * sb.ss - sb.s * sb.s AS DOUBLE))"
    dist = (
        f"CAST(floor(2.0 * {m} * (1.0 - {num} / (sqrt({va}) * sqrt({vb})))"
        " * 1000000.0 + 0.5) AS BIGINT)"
    )
    return f"""
WITH dly AS (
  SELECT event_type,
         CAST(date_diff('day', DATE '2024-01-01', date_trunc('day', ts))
              AS BIGINT) AS di,
         sum(CAST(round(value, 0) AS BIGINT)) AS v
  FROM events GROUP BY 1, 2
),
win AS (
  SELECT a.event_type, a.di AS i,
         sum(b.v) AS s, sum(b.v * b.v) AS ss
  FROM dly a JOIN dly b
    ON a.event_type = b.event_type AND b.di BETWEEN a.di AND a.di + {m - 1}
  GROUP BY 1, 2
  HAVING count(*) = {m}
),
dots AS (
  SELECT wa.event_type, wa.i AS i, wb.i AS j,
         sum(da.v * db.v) AS d
  FROM win wa
  JOIN win wb ON wa.event_type = wb.event_type AND wa.i != wb.i
  JOIN dly da ON da.event_type = wa.event_type
             AND da.di BETWEEN wa.i AND wa.i + {m - 1}
  JOIN dly db ON db.event_type = wa.event_type
             AND db.di = wb.i + (da.di - wa.i)
  GROUP BY 1, 2, 3
  HAVING count(*) = {m}
),
scored AS (
  SELECT dots.event_type, dots.i, dots.j,
         {dist} AS dist_micro
  FROM dots
  JOIN win sa ON sa.event_type = dots.event_type AND sa.i = dots.i
  JOIN win sb ON sb.event_type = dots.event_type AND sb.i = dots.j
  WHERE {m} * sa.ss - sa.s * sa.s > 0 AND {m} * sb.ss - sb.s * sb.s > 0
),
best AS (
  SELECT event_type, i,
         arg_min(j, dist_micro * 1000 + j) AS nn_j,
         min(dist_micro) AS nn_dist_micro
  FROM scored GROUP BY 1, 2
)
SELECT event_type, CAST(i AS BIGINT) AS win_start,
       CAST(nn_j AS BIGINT) AS nn_start,
       CAST(nn_dist_micro AS BIGINT) AS dist_micro
FROM best
"""


@register("ts_matrix_profile", sql=_matrix_profile_sql2())
def ts_matrix_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matrix profile (Yeh et al., ICDM 2016) over each channel's daily
    series: for every 7-day window, the z-normalized distance to its
    NEAREST NEIGHBOR window — minima locate motifs (repeated weekly
    patterns), maxima locate discords (the strangest week). The
    time-series-mining primitive behind motif/anomaly/segmentation
    stacks, as one declarative plan.

    Exactness: window sums (S, ΣV²) and cross-dots D_ij are exact int64
    via offset-aligned joins on the day index; z-norm distance² =
    2m(1 − (mD − S_iS_j)/(√(mSS_i−S_i²)·√(mSS_j−S_j²))) is quantized
    to integer MICRO-UNITS before the argmin (composite key breaks
    ties toward the earlier neighbor), so the profile is engine-exact.
    Degenerate (zero-variance) windows drop.

    Scale: cross-dots are the O(w²m) part — at daily granularity w is
    tiny; for long series the same plan runs per segment with the STOMP
    recurrence replacing brute dots (D_{{i+1,j+1}} = D_{{ij}} −
    v_iv_j + v_{{i+m}}v_{{j+m}}), which is a window fold on this exact
    layout."""
    m = _MP_M
    ev = load_table(spark, sf_dir, "events")
    dly = ev.groupBy(
        "event_type",
        F.datediff(F.date_trunc("day", F.col("ts")), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("di"),
    ).agg(F.sum(F.round(F.col("value"), 0).cast("long")).alias("v"))
    a, b = dly.alias("a"), dly.alias("b")
    win = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & F.col("b.di").between(F.col("a.di"), F.col("a.di") + m - 1),
        )
        .groupBy(F.col("a.event_type").alias("event_type"), F.col("a.di").alias("i"))
        .agg(
            F.sum("b.v").alias("s"),
            F.sum(F.col("b.v") * F.col("b.v")).alias("ss"),
            F.count("*").alias("cnt"),
        )
        .filter(F.col("cnt") == m)
        .drop("cnt")
    )
    wa = win.select(F.col("event_type"), F.col("i"))
    wb = win.select(F.col("event_type"), F.col("i").alias("j"))
    pairs = wa.join(wb, "event_type").filter(F.col("i") != F.col("j"))
    da = dly.select(
        F.col("event_type"), F.col("di").alias("dia"), F.col("v").alias("va")
    )
    db = dly.select(
        F.col("event_type"), F.col("di").alias("dib"), F.col("v").alias("vb")
    )
    dots = (
        pairs.join(
            da,
            ["event_type"],
        )
        .filter(F.col("dia").between(F.col("i"), F.col("i") + m - 1))
        .join(
            db,
            ["event_type"],
        )
        .filter(F.col("dib") == F.col("j") + (F.col("dia") - F.col("i")))
        .groupBy("event_type", "i", "j")
        .agg(F.sum(F.col("va") * F.col("vb")).alias("d"), F.count("*").alias("cnt"))
        .filter(F.col("cnt") == m)
    )
    sa = win.select(
        "event_type", F.col("i"), F.col("s").alias("s_a"), F.col("ss").alias("ss_a")
    )
    sb = win.select(
        "event_type",
        F.col("i").alias("j"),
        F.col("s").alias("s_b"),
        F.col("ss").alias("ss_b"),
    )
    scored = dots.join(sa, ["event_type", "i"]).join(sb, ["event_type", "j"])
    va = m * F.col("ss_a") - F.col("s_a") * F.col("s_a")
    vb_ = m * F.col("ss_b") - F.col("s_b") * F.col("s_b")
    num = (m * F.col("d") - F.col("s_a") * F.col("s_b")).cast("double")
    dist = 2.0 * m * (1.0 - num / (F.sqrt(va.cast("double")) * F.sqrt(vb_.cast("double"))))
    scored = scored.filter((va > 0) & (vb_ > 0)).select(
        "event_type",
        "i",
        "j",
        F.floor(dist * 1e6 + 0.5).cast("long").alias("dist_micro"),
    )
    best = scored.groupBy("event_type", "i").agg(
        F.min_by("j", F.col("dist_micro") * 1000 + F.col("j")).alias("nn_j"),
        F.min("dist_micro").alias("nn_dist_micro"),
    )
    return best.select(
        "event_type",
        F.col("i").cast("long").alias("win_start"),
        F.col("nn_j").cast("long").alias("nn_start"),
        F.col("nn_dist_micro").cast("long").alias("dist_micro"),
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
