"""Round-4 batch 1: a chi-squared independence audit, source-wise
winsorization, Welch's t-test and RFM segmentation.

All four are classic building blocks of a telemetry/training-data
pipeline the reference's pandas stages would hand-roll row-by-row
(cf. infer_autopilot_states.py:80-86's iterrows loop); here each is one
declarative plan that partial-aggregates map-side and shuffles once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.functions.rounding import round6, round6_sql
from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# chi-squared independence audit — event_type × day-of-week
# ---------------------------------------------------------------------------

_CHISQ_SQL = """
WITH obs AS (
  SELECT event_type, CAST(isodow(ts) AS INT) AS dow, count(*) AS observed
  FROM events GROUP BY 1, 2
),
margins AS (
  SELECT *,
         sum(observed) OVER (PARTITION BY event_type) AS row_total,
         sum(observed) OVER (PARTITION BY dow) AS col_total,
         sum(observed) OVER () AS grand_total
  FROM obs
)
SELECT event_type, dow, CAST(observed AS BIGINT) AS observed,
       {exp_round} AS expected,
       {contrib_round} AS chi2_contrib
FROM margins
""".replace(
    "{exp_round}",
    round6_sql("CAST(row_total * col_total AS DOUBLE) / grand_total"),
).replace(
    "{contrib_round}",
    round6_sql(
        "pow(observed - CAST(row_total * col_total AS DOUBLE) / grand_total, 2)"
        " / (CAST(row_total * col_total AS DOUBLE) / grand_total)"
    ),
)


@register("chisq_type_by_dow", _CHISQ_SQL)
def chisq_type_by_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared independence audit: is event-type mix independent of
    day-of-week? Emits the per-cell contingency contributions (observed,
    expected, (O−E)²/E) — the data-drift / sampling-bias check a
    training-data pipeline runs before trusting a stratified split.

    Shape: one count agg to a ~35-row contingency table, then windowed
    margins over that tiny table — the raw events shuffle exactly once.
    Per-cell doubles derive from exact int counts with a fixed formula,
    so no sum-order nondeterminism (the scalar χ² total would sum
    doubles in engine-dependent order; per-cell rows sidestep it and
    carry strictly more information).
    """
    ev = load_table(spark, sf_dir, "events")
    # weekday() is 0=Monday; +1 matches DuckDB's isodow (1=Mon..7=Sun).
    obs = ev.groupBy(
        "event_type", (F.weekday(F.col("ts")) + 1).cast("int").alias("dow")
    ).agg(F.count("*").alias("observed"))
    row_t = F.sum("observed").over(Window.partitionBy("event_type"))
    col_t = F.sum("observed").over(Window.partitionBy("dow"))
    grand = F.sum("observed").over(Window.partitionBy())
    expected = (row_t * col_t).cast("double") / grand
    return obs.select(
        "event_type",
        "dow",
        F.col("observed").cast("long").alias("observed"),
        round6(expected).alias("expected"),
        round6(F.pow(F.col("observed") - expected, 2) / expected).alias(
            "chi2_contrib"
        ),
    )


# ---------------------------------------------------------------------------
# winsorized robust stats per group (percentile_disc clamp)
# ---------------------------------------------------------------------------

_WINSOR_SQL = """
WITH cuts AS (
  SELECT source,
         quantile_disc(n_chars, 0.05) AS lo,
         quantile_disc(n_chars, 0.95) AS hi
  FROM documents GROUP BY source
)
SELECT d.source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN d.n_chars < c.lo THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clamped_lo,
       CAST(sum(CASE WHEN d.n_chars > c.hi THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clamped_hi,
       CAST(c.lo AS BIGINT) AS lo,
       CAST(c.hi AS BIGINT) AS hi,
       CAST(sum(least(greatest(d.n_chars, c.lo), c.hi)) AS BIGINT)
         AS winsorized_sum,
       {wmean_round} AS winsorized_mean
FROM documents d JOIN cuts c USING (source)
GROUP BY d.source, c.lo, c.hi
""".replace(
    "{wmean_round}",
    round6_sql(
        "CAST(sum(least(greatest(d.n_chars, c.lo), c.hi)) AS DOUBLE) / count(*)"
    ),
)


@register("ns_winsorize_by_source", _WINSOR_SQL)
def ns_winsorize_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized per-source length statistics: clamp doc lengths to the
    group's [p05, p95] (discrete percentiles — actual member values)
    before averaging, the standard outlier-robust normalization before
    length-based corpus quality scoring.

    Shape: one percentile_disc agg builds a sources-sized cut table,
    broadcast back onto the scan (Catalyst auto-broadcasts it), then one
    hash-agg over clamped ints — exact int64 sums, one wide shuffle.
    """
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("docs_w")
    cuts = spark.sql(
        """SELECT source,
                  percentile_disc(0.05) WITHIN GROUP (ORDER BY n_chars) AS lo,
                  percentile_disc(0.95) WITHIN GROUP (ORDER BY n_chars) AS hi
           FROM docs_w GROUP BY source"""
    )
    j = docs.join(F.broadcast(cuts), "source")
    clamped = F.least(F.greatest(F.col("n_chars"), F.col("lo")), F.col("hi"))
    return j.groupBy("source", "lo", "hi").agg(
        F.count("*").alias("n_docs"),
        F.sum((F.col("n_chars") < F.col("lo")).cast("long")).alias("n_clamped_lo"),
        F.sum((F.col("n_chars") > F.col("hi")).cast("long")).alias("n_clamped_hi"),
        F.sum(clamped).alias("winsorized_sum"),
        round6(F.sum(clamped).cast("double") / F.count("*")).alias(
            "winsorized_mean"
        ),
    ).select(
        "source",
        "n_docs",
        "n_clamped_lo",
        "n_clamped_hi",
        F.col("lo").cast("long").alias("lo"),
        F.col("hi").cast("long").alias("hi"),
        "winsorized_sum",
        "winsorized_mean",
    )


# ---------------------------------------------------------------------------
# Welch's t-test between event-type value distributions
# ---------------------------------------------------------------------------

_WELCH_SQL = """
WITH s AS (
  SELECT event_type,
         count(*) AS n,
         sum(CAST(round(value * 100, 0) AS BIGINT)) AS s1,
         sum(CAST(round(value * 100, 0) AS BIGINT)
             * CAST(round(value * 100, 0) AS BIGINT)) AS s2
  FROM events GROUP BY event_type
),
m AS (
  SELECT event_type, n,
         CAST(s1 AS DOUBLE) / n / 100.0 AS mean,
         (CAST(s2 AS DOUBLE) / 10000.0
          - CAST(s1 AS DOUBLE) * s1 / 10000.0 / n) / (n - 1) AS var
  FROM s
)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
       {mean_a} AS mean_a, {mean_b} AS mean_b,
       {t_stat} AS t_stat,
       {dof} AS welch_dof
FROM m a JOIN m b ON a.event_type < b.event_type
""".replace("{mean_a}", round6_sql("a.mean")).replace(
    "{mean_b}", round6_sql("b.mean")
).replace(
    "{t_stat}",
    round6_sql("(a.mean - b.mean) / sqrt(a.var / a.n + b.var / b.n)"),
).replace(
    "{dof}",
    round6_sql(
        "pow(a.var / a.n + b.var / b.n, 2) /"
        " (pow(a.var / a.n, 2) / (a.n - 1) + pow(b.var / b.n, 2) / (b.n - 1))"
    ),
)


@register("welch_ttest_events", _WELCH_SQL)
def welch_ttest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Welch's t-test (unequal variances) between event types'
    value distributions — the A/B-significance readout computed entirely
    as a distributed aggregation: one scan builds exact int64 moment
    sums (n, Σc, Σc²) per group, then means/variances/t/dof derive from
    those ints with a fixed double formula on a 5-row table.

    The moments are partial-aggregable (map-side combine), so 100 TB of
    events shuffles 5 rows; the pairwise self-join is driver-trivial.
    Exact-int moments also make the result partitioning-independent —
    summing doubles would be order-dependent in the last ulp.
    """
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    s = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(cents).alias("s1"),
        F.sum(cents * cents).alias("s2"),
    )
    n, s1, s2 = F.col("n"), F.col("s1").cast("double"), F.col("s2").cast("double")
    m = s.select(
        "event_type",
        "n",
        (s1 / n / 100.0).alias("mean"),
        ((s2 / 10000.0 - s1 * F.col("s1") / 10000.0 / n) / (n - 1)).alias("var"),
    )
    a = m.alias("a")
    b = m.alias("b")
    va_n = F.col("a.var") / F.col("a.n")
    vb_n = F.col("b.var") / F.col("b.n")
    return a.join(b, F.col("a.event_type") < F.col("b.event_type")).select(
        F.col("a.event_type").alias("type_a"),
        F.col("b.event_type").alias("type_b"),
        F.col("a.n").cast("long").alias("n_a"),
        F.col("b.n").cast("long").alias("n_b"),
        round6(F.col("a.mean")).alias("mean_a"),
        round6(F.col("b.mean")).alias("mean_b"),
        round6((F.col("a.mean") - F.col("b.mean")) / F.sqrt(va_n + vb_n)).alias(
            "t_stat"
        ),
        round6(
            F.pow(va_n + vb_n, 2)
            / (F.pow(va_n, 2) / (F.col("a.n") - 1) + F.pow(vb_n, 2) / (F.col("b.n") - 1))
        ).alias("welch_dof"),
    )


# ---------------------------------------------------------------------------
# RFM customer segmentation (quartile scores over three metrics)
# ---------------------------------------------------------------------------

_RFM_SQL = """
WITH base AS (
  SELECT o_custkey,
         date_diff('day', max(o_orderdate), DATE '1998-08-02') AS recency_days,
         count(*) AS frequency,
         sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS monetary_cents
  FROM orders GROUP BY o_custkey
),
scored AS (
  SELECT *,
         ntile(4) OVER (ORDER BY recency_days ASC, o_custkey) AS r_score,
         ntile(4) OVER (ORDER BY frequency DESC, o_custkey) AS f_score,
         ntile(4) OVER (ORDER BY monetary_cents DESC, o_custkey) AS m_score
  FROM base
)
SELECT CAST(r_score AS INT) AS r_score, CAST(f_score AS INT) AS f_score,
       CAST(m_score AS INT) AS m_score,
       count(*) AS n_customers,
       CAST(sum(monetary_cents) AS BIGINT) AS segment_cents,
       {avg_rec} AS avg_recency_days
FROM scored
GROUP BY 1, 2, 3
""".replace(
    "{avg_rec}", round6_sql("CAST(sum(recency_days) AS DOUBLE) / count(*)")
)


@register("rfm_segmentation", _RFM_SQL)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) quartile segmentation of the
    customer base — the classic marketing-analytics cube, as one agg +
    three rank windows + one re-agg.

    Scale note: ntile over an unpartitioned ORDER BY funnels the scored
    table through one task. Customers-per-metric is already the SMALL
    side here (aggregated once from orders), so that's fine to ~10⁸
    rows; beyond that swap ntile for cut-points from approx_percentile
    (the ns_winsorize pattern) — same output contract. Tie-breaking on
    o_custkey makes bucket assignment a total order, so scores are
    reproducible across engines and partitionings.
    """
    o = load_table(spark, sf_dir, "orders")
    base = o.groupBy("o_custkey").agg(
        F.datediff(F.lit("1998-08-02").cast("date"), F.max("o_orderdate")).alias(
            "recency_days"
        ),
        F.count("*").alias("frequency"),
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias(
            "monetary_cents"
        ),
    )
    scored = base.select(
        "*",
        F.ntile(4)
        .over(Window.orderBy(F.asc("recency_days"), F.asc("o_custkey")))
        .alias("r_score"),
        F.ntile(4)
        .over(Window.orderBy(F.desc("frequency"), F.asc("o_custkey")))
        .alias("f_score"),
        F.ntile(4)
        .over(Window.orderBy(F.desc("monetary_cents"), F.asc("o_custkey")))
        .alias("m_score"),
    )
    return scored.groupBy(
        F.col("r_score").cast("int").alias("r_score"),
        F.col("f_score").cast("int").alias("f_score"),
        F.col("m_score").cast("int").alias("m_score"),
    ).agg(
        F.count("*").alias("n_customers"),
        F.sum("monetary_cents").alias("segment_cents"),
        round6(F.sum("recency_days").cast("double") / F.count("*")).alias(
            "avg_recency_days"
        ),
    )
