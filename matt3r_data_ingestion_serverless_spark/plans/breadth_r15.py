"""Round-4 batch 11: one-way ANOVA and the Kruskal–Wallis rank test —
completing the hypothesis-testing family (Welch t, chi-squared,
Mann–Kendall) with the parametric and nonparametric k-group tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.functions.rounding import round6, round6_sql
from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# one-way ANOVA: does hour-of-day move the channel's value?
# ---------------------------------------------------------------------------

_ANOVA_SQL = f"""
WITH v AS (
  SELECT event_type, CAST(hour(ts) AS INT) AS hod,
         CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events
),
g AS (
  SELECT event_type, hod, sum(cents) AS s_g, count(*) AS n_g
  FROM v GROUP BY 1, 2
),
tot AS (
  SELECT event_type, sum(cents) AS s, count(*) AS n,
         sum(cents * cents) AS s2
  FROM v GROUP BY 1
),
-- Σ S_g²/n_g folded in hod order (sequential list_reduce == aggregate())
fold AS (
  SELECT event_type,
         list_reduce(
           list_prepend(0.0,
             list(CAST(s_g AS DOUBLE) * s_g / n_g ORDER BY hod)),
           (a, b) -> a + b) AS between_raw,
         count(*) AS k
  FROM g GROUP BY event_type
)
SELECT t.event_type,
       CAST(t.n AS BIGINT) AS n, CAST(f.k AS INT) AS k,
       {round6_sql("f.between_raw - CAST(t.s AS DOUBLE) * t.s / t.n")} AS ssb,
       {round6_sql("CAST(t.s2 AS DOUBLE) - f.between_raw")} AS ssw,
       {round6_sql(
           "((f.between_raw - CAST(t.s AS DOUBLE) * t.s / t.n) / (f.k - 1))"
           " / ((CAST(t.s2 AS DOUBLE) - f.between_raw) / (t.n - f.k))"
       )} AS f_stat
FROM tot t JOIN fold f ON t.event_type = f.event_type
"""


@register("anova_oneway_hours", _ANOVA_SQL)
def anova_oneway_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA per channel: does hour-of-day explain the value
    variance? SSB = Σ S_g²/n_g − S²/N, SSW = Σy² − Σ S_g²/n_g, F =
    (SSB/(k−1))/(SSW/(n−k)) — the k-group parametric test completing
    the family beside Welch's two-group t (and the algebra behind
    ts_seasonal_baseline's "is the diurnal profile real?").

    Determinism: group sums are exact int64; the single cross-group
    reduction Σ S_g²/n_g folds SEQUENTIALLY over an hod-ordered list
    (Spark aggregate() == DuckDB list_reduce) — the one place a
    parallel float sum could diverge. Everything per channel is two
    aggs reusing one shuffle plus a 24-row fold."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        F.hour("ts").cast("int").alias("hod"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    g = v.groupBy("event_type", "hod").agg(
        F.sum("cents").alias("s_g"), F.count("*").alias("n_g")
    )
    tot = v.groupBy("event_type").agg(
        F.sum("cents").alias("s"),
        F.count("*").alias("n"),
        F.sum(F.col("cents") * F.col("cents")).alias("s2"),
    )
    fold = g.groupBy("event_type").agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("hod", "s_g", "n_g"))),
                lambda st: st["s_g"].cast("double") * st["s_g"] / st["n_g"],
            ),
            F.lit(0.0),
            lambda a, b: a + b,
        ).alias("between_raw"),
        F.count("*").alias("k"),
    )
    j = tot.join(fold, "event_type")
    ssb = F.col("between_raw") - F.col("s").cast("double") * F.col("s") / F.col("n")
    ssw = F.col("s2").cast("double") - F.col("between_raw")
    f_stat = (ssb / (F.col("k") - 1)) / (ssw / (F.col("n") - F.col("k")))
    return j.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.col("k").cast("int").alias("k"),
        round6(ssb).alias("ssb"),
        round6(ssw).alias("ssw"),
        round6(f_stat).alias("f_stat"),
    )


# ---------------------------------------------------------------------------
# Kruskal–Wallis H (rank-based k-group test) via the value histogram
# ---------------------------------------------------------------------------

_KW_SQL = f"""
WITH v AS (
  SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events
),
vc AS (SELECT cents, count(*) AS c FROM v GROUP BY cents),
rk AS (
  -- doubled average rank of each distinct value: 2·cum − c + 1 (int)
  SELECT cents, c,
         2 * sum(c) OVER (ORDER BY cents
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c + 1 AS r2
  FROM vc
),
gc AS (SELECT event_type, cents, count(*) AS n_tc FROM v GROUP BY 1, 2),
grp AS (
  SELECT gc.event_type, sum(gc.n_tc) AS n_g,
         sum(gc.n_tc * rk.r2) AS r2_g
  FROM gc JOIN rk ON gc.cents = rk.cents
  GROUP BY gc.event_type
),
tot AS (
  SELECT sum(n_g) AS n, count(*) AS k,
         list_reduce(
           list_prepend(0.0,
             list(CAST(r2_g AS DOUBLE) * r2_g / n_g ORDER BY event_type)),
           (a, b) -> a + b) AS sum_r2
  FROM grp
),
ties AS (SELECT sum(c * c * c - c) AS tie_term FROM vc)
SELECT grp.event_type, CAST(n_g AS BIGINT) AS n_g,
       {round6_sql("CAST(r2_g AS DOUBLE) / (2 * n_g)")} AS mean_rank,
       {round6_sql(
           "(3.0 * tot.sum_r2 / (CAST(tot.n AS DOUBLE) * (tot.n + 1))"
           " - 3.0 * (tot.n + 1))"
           " / (1.0 - CAST(ties.tie_term AS DOUBLE)"
           "   / (CAST(tot.n AS DOUBLE) * tot.n * tot.n - tot.n))"
       )} AS h_corrected
FROM grp, tot, ties
"""


@register("kruskal_wallis_h", _KW_SQL)
def kruskal_wallis_h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal–Wallis H (the nonparametric k-group test): are the
    channels' value DISTRIBUTIONS shifted, judged on ranks — robust
    where ANOVA's F assumes normality. Per group: mean pooled rank;
    plus the tie-corrected H = [12/(N(N+1)) Σ R_g²/n_g − 3(N+1)] / C,
    C = 1 − Σ(t³−t)/(N³−N), repeated per row.

    The 100 TB trick: ranks are NEVER assigned per row. Average ranks
    come from the value HISTOGRAM — a tie block of c copies at
    cumulative position cum has doubled average rank r2 = 2·cum − c + 1,
    an exact integer — and per-group rank sums are Σ n_tc·r2 over the
    (group, value) contingency, all int64. The only cross-group float
    reduction (Σ R_g²/n_g) folds sequentially over a group-ordered
    list; everything else is fixed-formula double arithmetic on exact
    ints. No global sort of raw rows anywhere."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type", F.round(F.col("value") * 100, 0).cast("long").alias("cents")
    )
    vc = v.groupBy("cents").agg(F.count("*").alias("c"))
    wcum = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    rk = vc.select(
        "cents",
        "c",
        (2 * F.sum("c").over(wcum) - F.col("c") + 1).alias("r2"),
    )
    gc = v.groupBy("event_type", "cents").agg(F.count("*").alias("n_tc"))
    grp = (
        gc.join(rk.select("cents", "r2"), "cents")
        .groupBy("event_type")
        .agg(
            F.sum("n_tc").alias("n_g"),
            F.sum(F.col("n_tc") * F.col("r2")).alias("r2_g"),
        )
    )
    tot = grp.agg(
        F.sum("n_g").alias("n"),
        F.count("*").alias("k"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("event_type", "r2_g", "n_g"))),
                lambda st: st["r2_g"].cast("double") * st["r2_g"] / st["n_g"],
            ),
            F.lit(0.0),
            lambda a, b: a + b,
        ).alias("sum_r2"),
    )
    ties = vc.agg(
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c")).alias("tie_term")
    )
    j = grp.crossJoin(F.broadcast(tot)).crossJoin(F.broadcast(ties))
    nf = F.col("n").cast("double")
    h = 3.0 * F.col("sum_r2") / (nf * (F.col("n") + 1)) - 3.0 * (F.col("n") + 1)
    corr = 1.0 - F.col("tie_term").cast("double") / (nf * F.col("n") * F.col("n") - F.col("n"))
    return j.select(
        "event_type",
        F.col("n_g").cast("long").alias("n_g"),
        round6(F.col("r2_g").cast("double") / (2 * F.col("n_g"))).alias("mean_rank"),
        round6(h / corr).alias("h_corrected"),
    )


# ---------------------------------------------------------------------------
# SLO burn-rate alerts (multi-window error-budget monitoring)
# ---------------------------------------------------------------------------

_SLO_TARGET_PERMILLE = 700  # "error" share budget: 30% (the fixture's
# error channel is ~20% of events, so the budget is exercised, not toy)

_SLO_SQL = f"""
WITH h AS (
  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hr,
         count(*) AS total,
         sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS errs
  FROM events GROUP BY 1
),
w AS (
  SELECT hr,
         sum(errs)  OVER w1 AS e1, sum(total) OVER w1 AS t1,
         sum(errs)  OVER w6 AS e6, sum(total) OVER w6 AS t6,
         count(*) OVER w6 AS n6
  FROM h
  WINDOW w1 AS (ORDER BY hr ROWS BETWEEN 0 PRECEDING AND CURRENT ROW),
         w6 AS (ORDER BY hr ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
)
SELECT hr, CAST(e1 AS BIGINT) AS errs_1h, CAST(t1 AS BIGINT) AS total_1h,
       {round6_sql(
           f"(CAST(e1 AS DOUBLE) / t1) / (1.0 - {_SLO_TARGET_PERMILLE} / 1000.0)"
       )} AS burn_1h,
       {round6_sql(
           f"(CAST(e6 AS DOUBLE) / t6) / (1.0 - {_SLO_TARGET_PERMILLE} / 1000.0)"
       )} AS burn_6h,
       (n6 = 6
        AND e1 * 1000 > t1 * (1000 - {_SLO_TARGET_PERMILLE})
        AND e6 * 1000 > t6 * (1000 - {_SLO_TARGET_PERMILLE})) AS page_alert
FROM w
"""


@register("slo_burn_alerts", _SLO_SQL)
def slo_burn_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-window SLO burn-rate alerting (the Google SRE workbook
    pattern): per hour, the 1-hour and trailing-6-hour error-budget
    burn rates; a PAGE fires only when BOTH windows burn above 1× —
    the short window gives reaction speed, the long window suppresses
    blips. The alert predicate is evaluated in EXACT integer
    cross-multiplication (e·1000 > t·(1000−SLO)), so no float boundary
    can page one engine and not the other; the reported burn rates are
    rounded quotients of the same ints.

    Shape: one hourly pre-agg (map-combining), two frames over one
    window sort. Per-service in production = add the service key to
    every partition clause — same plan."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(
        F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH").alias("hr")
    ).agg(
        F.count("*").alias("total"),
        F.sum((F.col("event_type") == "error").cast("int")).alias("errs"),
    )
    w1 = Window.orderBy("hr").rowsBetween(0, 0)
    w6 = Window.orderBy("hr").rowsBetween(-5, 0)
    w = h.select(
        "hr",
        F.sum("errs").over(w1).alias("e1"),
        F.sum("total").over(w1).alias("t1"),
        F.sum("errs").over(w6).alias("e6"),
        F.sum("total").over(w6).alias("t6"),
        F.count("*").over(w6).alias("n6"),
    )
    budget = 1.0 - _SLO_TARGET_PERMILLE / 1000.0
    ibudget = 1000 - _SLO_TARGET_PERMILLE
    return w.select(
        "hr",
        F.col("e1").cast("long").alias("errs_1h"),
        F.col("t1").cast("long").alias("total_1h"),
        round6((F.col("e1").cast("double") / F.col("t1")) / budget).alias("burn_1h"),
        round6((F.col("e6").cast("double") / F.col("t6")) / budget).alias("burn_6h"),
        (
            (F.col("n6") == 6)
            & (F.col("e1") * 1000 > F.col("t1") * ibudget)
            & (F.col("e6") * 1000 > F.col("t6") * ibudget)
        ).alias("page_alert"),
    )


# ---------------------------------------------------------------------------
# accounts-receivable aging report
# ---------------------------------------------------------------------------

_AGING_REF_DATE = "1998-08-02"

_AGING_SQL = f"""
WITH o AS (
  SELECT o_custkey,
         date_diff('day', date_trunc('day', o_orderdate),
                   DATE '{_AGING_REF_DATE}') AS age_days,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders WHERE o_orderstatus = 'O'
),
b AS (
  SELECT o_custkey,
         CASE WHEN age_days <= 30 THEN '0-30'
              WHEN age_days <= 60 THEN '31-60'
              WHEN age_days <= 90 THEN '61-90'
              ELSE '90+' END AS bucket,
         cents
  FROM o
)
SELECT bucket,
       count(*) AS n_open_orders,
       count(DISTINCT o_custkey) AS n_customers,
       CAST(sum(cents) AS BIGINT) AS outstanding_cents,
       {round6_sql("CAST(sum(cents) AS DOUBLE) / count(*) / 100.0")} AS avg_value
FROM b GROUP BY bucket
"""


@register("ar_aging_report", _AGING_SQL)
def ar_aging_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accounts-receivable aging: open orders ('O') bucketed by age at
    the reference date (0-30/31-60/61-90/90+ days) with outstanding
    totals and exposed-customer counts — the finance-ops report every
    ERP runs nightly, here one conditional-bucket hash agg (plus an
    exact distinct count) over the scan. Day ages are exact integer
    datediffs; the only double is the rounded average."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    age = F.datediff(
        F.lit(_AGING_REF_DATE).cast("date"), F.date_trunc("day", F.col("o_orderdate"))
    )
    b = o.select(
        "o_custkey",
        F.when(age <= 30, "0-30")
        .when(age <= 60, "31-60")
        .when(age <= 90, "61-90")
        .otherwise("90+")
        .alias("bucket"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    return b.groupBy("bucket").agg(
        F.count("*").alias("n_open_orders"),
        F.count_distinct("o_custkey").alias("n_customers"),
        F.sum("cents").alias("outstanding_cents"),
        round6(F.sum("cents").cast("double") / F.count("*") / 100.0).alias(
            "avg_value"
        ),
    )
