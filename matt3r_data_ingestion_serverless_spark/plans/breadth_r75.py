"""Round-4 batch 3: data-quality & operations surface — column
profiling, constraint validation, partition completeness, trimmed
means, and key-skew diagnostics.

This is the deequ / great-expectations family: the checks a 100 TB
ingestion pipeline runs on every batch BEFORE publishing it (the
reference's header-validation + quarantine channel is the byte-level
special case — sources/canserver.py S2), plus the skew profiler a
planner consults before choosing salting/broadcast strategies
(SCALE.md §2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.functions.rounding import CENTS_SQL, round6, round6_sql
from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# column profiling (the dbt/deequ "profile" pass)
# ---------------------------------------------------------------------------

_PROFILE_SQL = f"""
WITH src AS (
  SELECT event_id, user_id, event_type, {CENTS_SQL} AS cents, props FROM events
)
SELECT 'event_id' AS col_name, count(*) AS n_rows,
       count(*) - count(event_id) AS n_nulls,
       count(DISTINCT event_id) AS n_distinct,
       CAST(min(event_id) AS VARCHAR) AS min_str,
       CAST(max(event_id) AS VARCHAR) AS max_str
FROM src
UNION ALL
SELECT 'user_id', count(*), count(*) - count(user_id),
       count(DISTINCT user_id),
       CAST(min(user_id) AS VARCHAR), CAST(max(user_id) AS VARCHAR)
FROM src
UNION ALL
SELECT 'event_type', count(*), count(*) - count(event_type),
       count(DISTINCT event_type), min(event_type), max(event_type)
FROM src
UNION ALL
SELECT 'cents', count(*), count(*) - count(cents),
       count(DISTINCT cents),
       CAST(min(cents) AS VARCHAR), CAST(max(cents) AS VARCHAR)
FROM src
UNION ALL
SELECT 'props', count(*), count(*) - count(props),
       count(DISTINCT props), min(props), max(props)
FROM src
"""


@register("dq_column_profile", sql=_PROFILE_SQL)
def dq_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level data profile of the events table — row count, null
    count, exact distinct count, and min/max per column (ints cast to
    strings AFTER the typed min/max, so numeric order is preserved and
    the output schema is uniform). This is the deequ/dbt "profile"
    pass every ingestion pipeline materializes for anomaly alerting
    (yesterday's null rate vs today's) and for optimizer statistics.

    Scale: ONE scan computes every (column, metric) pair — the metrics
    are expressions in a single aggregate, unpivoted to rows afterward
    with stack(); the source is read once, partial aggregates combine
    map-side, only the exact count_distincts expand the shuffle (swap
    in approx_count_distinct when a 2% error is acceptable — same
    plan, HLL partials)."""
    ev = load_table(spark, sf_dir, "events")
    src = ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        "props",
    )
    aggs = []
    for c in ["event_id", "user_id", "event_type", "cents", "props"]:
        aggs += [
            F.count("*").alias(f"{c}__rows"),
            (F.count("*") - F.count(c)).alias(f"{c}__nulls"),
            F.count_distinct(c).alias(f"{c}__distinct"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    one = src.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__rows, {c}__nulls, {c}__distinct, {c}__min, {c}__max"
        for c in ["event_id", "user_id", "event_type", "cents", "props"]
    )
    return one.select(
        F.expr(
            f"stack(5, {stack_args}) AS "
            "(col_name, n_rows, n_nulls, n_distinct, min_str, max_str)"
        )
    )


# ---------------------------------------------------------------------------
# constraint validation suite (deequ checks)
# ---------------------------------------------------------------------------

_CONSTRAINTS_SQL = """
SELECT 'orderkey_unique' AS constraint_name,
       count(*) AS n_checked,
       count(*) - count(DISTINCT o_orderkey) AS n_violations
FROM orders
UNION ALL
SELECT 'custkey_not_null', count(*), count(*) - count(o_custkey) FROM orders
UNION ALL
SELECT 'lineitem_fk_orders', count(*),
       sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
UNION ALL
SELECT 'orders_fk_customer', count(*),
       sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
UNION ALL
SELECT 'totalprice_positive', count(*),
       sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
FROM orders
UNION ALL
SELECT 'status_in_domain', count(*),
       sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 ELSE 0 END)
FROM orders
"""


@register("dq_constraint_checks", sql=_CONSTRAINTS_SQL)
def dq_constraint_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A deequ-style constraint suite over the order tables: key
    uniqueness, non-null, two referential-integrity checks (FK
    orphans via outer joins), a range check, and a domain check — each
    reported as (checked, violations) so the publish gate is a
    one-row-per-constraint verdict table, exactly the contract of
    `VerificationSuite.check(...)`.

    Scale: the scalar checks fuse into per-table single-scan
    aggregates; the FK checks are the two real joins — orders
    broadcasts into neither (both sides are fact-sized), so they
    shuffle on the key once; a production suite runs them on the
    DELTA batch against the dimension's key index, not table×table."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cust = load_table(spark, sf_dir, "customer")

    def one(name: str, df: DataFrame, violation):
        return df.agg(
            F.lit(name).alias("constraint_name"),
            F.count("*").alias("n_checked"),
            F.sum(F.when(violation, 1).otherwise(0)).alias("n_violations"),
        )

    uniq = orders.agg(
        F.lit("orderkey_unique").alias("constraint_name"),
        F.count("*").alias("n_checked"),
        (F.count("*") - F.count_distinct("o_orderkey")).alias("n_violations"),
    )
    nn = orders.agg(
        F.lit("custkey_not_null").alias("constraint_name"),
        F.count("*").alias("n_checked"),
        (F.count("*") - F.count("o_custkey")).alias("n_violations"),
    )
    li_fk = one(
        "lineitem_fk_orders",
        li.join(
            orders.select("o_orderkey"), li.l_orderkey == F.col("o_orderkey"), "left"
        ),
        F.col("o_orderkey").isNull(),
    )
    ord_fk = one(
        "orders_fk_customer",
        orders.join(
            cust.select("c_custkey"), orders.o_custkey == F.col("c_custkey"), "left"
        ),
        F.col("c_custkey").isNull(),
    )
    rng = one("totalprice_positive", orders, F.col("o_totalprice") <= 0)
    dom = one(
        "status_in_domain", orders, ~F.col("o_orderstatus").isin("O", "F", "P")
    )
    return uniq.unionByName(nn).unionByName(li_fk).unionByName(ord_fk).unionByName(
        rng
    ).unionByName(dom)


# ---------------------------------------------------------------------------
# partition completeness / freshness
# ---------------------------------------------------------------------------

_COMPLETENESS_SQL = """
WITH bounds AS (
  SELECT min(CAST(ts AS DATE)) AS lo, max(CAST(ts AS DATE)) AS hi FROM events
),
grid AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day FROM bounds
),
counts AS (
  SELECT CAST(ts AS DATE) AS day, count(*) AS n FROM events GROUP BY 1
)
SELECT strftime(g.day, '%Y-%m-%d') AS day,
       coalesce(c.n, 0) AS n_events,
       (c.n IS NULL) AS is_missing
FROM grid g LEFT JOIN counts c ON g.day = c.day
"""


@register("dq_partition_completeness", sql=_COMPLETENESS_SQL)
def dq_partition_completeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition completeness audit: generate the full daily grid
    between the table's first and last day and flag days with zero
    rows — the "did yesterday's partition land" freshness check every
    scheduled pipeline alerts on (the reference's hour-bucketed output
    files make a missing hour silently invisible; a grid join makes it
    a ROW).

    Scale: the day counts are one scan + date-keyed aggregate; the
    grid is sequence() over two scalar bounds (a broadcast of ≤ years
    × 365 rows), so the audit join is grid-sized, never fact-sized."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy(F.to_date("ts").alias("day")).agg(F.count("*").alias("n"))
    bounds = counts.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    grid = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    return grid.join(counts, "day", "left").select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.coalesce("n", F.lit(0)).alias("n_events"),
        F.col("n").isNull().alias("is_missing"),
    )


# ---------------------------------------------------------------------------
# trimmed mean (robust aggregate by exact rank trim)
# ---------------------------------------------------------------------------

_TRIM_SQL = f"""
WITH c AS (
  SELECT event_type, event_id, {CENTS_SQL} AS cents FROM events
  WHERE value IS NOT NULL
),
r AS (
  SELECT event_type, cents,
         row_number() OVER (PARTITION BY event_type ORDER BY cents, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM c
)
SELECT event_type,
       count(*) AS n_kept,
       min(n) AS n_total,
       sum(cents) AS sum_kept_cents,
       {round6_sql("CAST(sum(cents) AS DOUBLE) / (100.0 * count(*))")}
         AS trimmed_mean
FROM r
WHERE rn > n // 10 AND rn <= n - n // 10
GROUP BY event_type
"""


@register("trimmed_mean_by_type", sql=_TRIM_SQL)
def trimmed_mean_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10% two-sided trimmed mean per event type — the robust location
    estimate metric pipelines use when a handful of fat-finger values
    would drag a plain mean. The trim is an EXACT rank cut (drop the
    ⌊n/10⌋ lowest and highest by a total order on (cents, event_id)),
    not a percentile interpolation, so both engines drop the identical
    rows; the kept sum rides integer cents and divides once.

    Scale: one shuffle on event_type for the rank window; heavily
    skewed group sizes would switch the rank to a two-pass count +
    range-partitioned row_number (SCALE.md §2), same semantics."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    c = ev.select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    w = Window.partitionBy("event_type")
    r = c.select(
        "event_type",
        "cents",
        F.row_number().over(w.orderBy("cents", "event_id")).alias("rn"),
        F.count("*").over(w).alias("n"),
    )
    kept = r.filter(
        (F.col("rn") > F.expr("n div 10")) & (F.col("rn") <= F.col("n") - F.expr("n div 10"))
    )
    return kept.groupBy("event_type").agg(
        F.count("*").alias("n_kept"),
        F.min("n").alias("n_total"),
        F.sum("cents").alias("sum_kept_cents"),
        round6(
            F.sum("cents").cast("double") / (100.0 * F.count("*"))
        ).alias("trimmed_mean"),
    )


# ---------------------------------------------------------------------------
# key-skew diagnostics (the pre-shuffle planning profile)
# ---------------------------------------------------------------------------

_SKEW_SQL = f"""
WITH kc AS (
  SELECT user_id, count(*) AS c FROM events GROUP BY user_id
),
rk AS (
  SELECT c, row_number() OVER (ORDER BY c, user_id) AS i FROM kc
),
agg AS (
  SELECT count(*) AS k, sum(c) AS t, max(c) AS mx, sum(i * c) AS s1 FROM rk
)
SELECT k AS n_keys, t AS total_rows, mx AS max_key_rows,
       {round6_sql("CAST(mx AS DOUBLE) / t")} AS top1_share,
       {round6_sql("CAST(mx AS DOUBLE) * k / t")} AS skew_ratio,
       {round6_sql("CAST(2 * s1 AS DOUBLE) / (k * t) - CAST(k + 1 AS DOUBLE) / k")}
         AS gini
FROM agg
"""


@register("shuffle_skew_profile", sql=_SKEW_SQL)
def shuffle_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew profile of the events shuffle key (user_id): key count,
    hottest-key share, max/mean skew ratio, and the Gini coefficient of
    the key-size distribution (2·Σ rank·cᵢ/(K·T) − (K+1)/K over counts
    ranked ascending, ties broken by key — the exact integer-sum form,
    one float division per term of the final expression so both engines
    execute the identical IEEE ops).

    This is the diagnostic a planner consults BEFORE a big join/agg:
    skew_ratio ≈ 1 → plain hash shuffle; hot keys → salting or AQE
    skew-join thresholds (SCALE.md §2). Scale: one map-side-combined
    count per key, then statistics over the key-count table, which is
    |keys| rows — the profile never touches the fact table twice."""
    ev = load_table(spark, sf_dir, "events")
    kc = ev.groupBy("user_id").agg(F.count("*").alias("c"))
    rk = kc.select(
        "c", F.row_number().over(Window.orderBy("c", "user_id")).alias("i")
    )
    agg = rk.agg(
        F.count("*").alias("k"),
        F.sum("c").alias("t"),
        F.max("c").alias("mx"),
        F.sum(F.col("i") * F.col("c")).alias("s1"),
    )
    return agg.select(
        F.col("k").alias("n_keys"),
        F.col("t").alias("total_rows"),
        F.col("mx").alias("max_key_rows"),
        round6(F.col("mx").cast("double") / F.col("t")).alias("top1_share"),
        round6(F.col("mx").cast("double") * F.col("k") / F.col("t")).alias(
            "skew_ratio"
        ),
        round6(
            (2 * F.col("s1")).cast("double") / (F.col("k") * F.col("t"))
            - (F.col("k") + 1).cast("double") / F.col("k")
        ).alias("gini"),
    )
