"""Relational breadth over the TPC-H-ish star schema (SURVEY.md §2.4,
§2.6, §2.7 + the aggregation surface the north-star extensions assume).

The reference has no relational joins (§2.6) — this module is the
"complete engine" surface: multi-way joins, grouped/rolled-up/cubed
aggregation, distinct aggregation, window functions, set ops, semi/anti
joins.

Scale notes (100 TB stance):
- dimension joins (region/nation/customer/supplier/part) are broadcast
  — Catalyst picks broadcast-hash automatically under the 10 MB default
  threshold, and we hint F.broadcast where the dimension is guaranteed
  small, so no shuffle of the fact table on those edges.
- fact-fact joins (lineitem⋈orders) shuffle on the join key — that is
  the one unavoidable shuffle, and AQE re-splits skewed keys.
- money sums go through DECIMAL(18,x) so partial-aggregate order never
  perturbs the result (bit-stable vs. the oracle AND across cluster
  re-runs with different partitioning).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.functions.rounding import (
    CENTS_SQL,
    cents,
    round6,
    round6_sql,
)
from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table


def _dec(col, scale: int = 4):
    """Exact-sum path: double → decimal before aggregation."""
    return col.cast(f"decimal(18,{scale})")


def _dec_sum_dbl(col, scale: int = 4):
    """Exact decimal sum surfaced as a cross-engine-identical DOUBLE.

    `CAST(decimal AS DOUBLE)` is NOT portable once the decimal's scaled
    integer exceeds 2^53: DuckDB converts via int128 -> double -> x
    10^-scale (two roundings, can land one ulp off) while Spark's
    BigDecimal.doubleValue() rounds once — caught by the r08 sf1 sweep
    on q1's sum_charge (5.2e16 micros). Bridge through an exact BIGINT
    of scaled units instead: int64 -> double is correctly rounded in
    both engines and the final /10^scale is one identical IEEE divide.
    Exact while sum x 10^scale < 2^63 (~9.2e12 at scale 6 — sf ~600)."""
    s = F.sum(col.cast(f"decimal(18,{scale})"))
    return (s * (10**scale)).cast("long").cast("double") / float(10**scale)


def _dec_sum_dbl_sql(expr: str, scale: int = 4) -> str:
    return (
        f"CAST(CAST(sum(CAST({expr} AS DECIMAL(18,{scale}))) * {10**scale} "
        f"AS BIGINT) AS DOUBLE) / {float(10**scale)}"
    )


@register(
    "q1_pricing_summary",
    sql=f"""
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 6) AS sum_qty,
       {_dec_sum_dbl_sql("l_extendedprice", 2)} AS sum_base_price,
       {_dec_sum_dbl_sql("l_extendedprice * (1 - l_discount)", 4)} AS sum_disc_price,
       {_dec_sum_dbl_sql("l_extendedprice * (1 - l_discount) * (1 + l_tax)", 6)} AS sum_charge,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_extendedprice), 6) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-02'
GROUP BY l_returnflag, l_linestatus
""",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: full-scan grouped aggregation, map-side partials,
    no join. The canonical 'is the agg pipeline right' probe."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
            _dec_sum_dbl(F.col("l_extendedprice"), 2).alias("sum_base_price"),
            _dec_sum_dbl(disc_price, 4).alias("sum_disc_price"),
            # charge = price(2dp)·(1-disc)(2dp)·(1+tax)(2dp) has exactly 6
            # decimal digits — cast at scale 6 lands on-grid (no rounding,
            # so no HALF_UP-vs-half-even divergence between engines).
            _dec_sum_dbl(charge, 6).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "q3_shipping_priority",
    sql="""
SELECT l_orderkey,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15' AND l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey LIMIT 10
""",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → fact join → top-k.
    customer (filtered) broadcasts; lineitem⋈orders shuffles on the key."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.sum(_dec(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
            .cast("double")
            .alias("revenue")
        )
        .select(
            "l_orderkey", "revenue", F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate")
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@register(
    "q5_local_supplier_volume",
    sql="""
SELECT n_name,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM customer
  JOIN orders   ON c_custkey = o_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  JOIN nation   ON s_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
""",
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join. All dimension edges broadcast; the
    only shuffle is lineitem⋈orders."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.sum(_dec(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
            .cast("double")
            .alias("revenue")
        )
    )


@register(
    "q6_forecast_revenue",
    sql="""
SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       count(*) AS n
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
""",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter+sum — all four predicates must reach
    the parquet scan (PushedFilters)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.sum(_dec(F.col("l_extendedprice") * F.col("l_discount"))).cast("double").alias("revenue"),
        F.count("*").alias("n"),
    )


@register(
    "q10_returned_items",
    sql="""
SELECT c_custkey, c_name, n_name,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       round(c_acctbal, 6) AS acctbal
FROM customer
  JOIN orders   ON c_custkey = o_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
  JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-07-01'
GROUP BY c_custkey, c_name, n_name, c_acctbal
ORDER BY revenue DESC, c_custkey LIMIT 20
""",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: fact join + grouped top-k on revenue."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(
            F.sum(_dec(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
            .cast("double")
            .alias("revenue")
        )
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            "revenue",
            F.round("c_acctbal", 6).alias("acctbal"),
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "topk_per_group",
    sql="""
SELECT l_suppkey, l_orderkey, l_linenumber, round(l_extendedprice, 6) AS price, rn
FROM (
  SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
         row_number() OVER (PARTITION BY l_suppkey
                            ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
  FROM lineitem
) WHERE rn <= 3
""",
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window (absent from the reference, SURVEY §2.5 note):
    top-3 line items per supplier. Deterministic tie-break on the full
    key so the oracle hash is stable."""
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_suppkey").orderBy(
        F.desc("l_extendedprice"), "l_orderkey", "l_linenumber"
    )
    return (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "l_suppkey",
            "l_orderkey",
            "l_linenumber",
            F.round("l_extendedprice", 6).alias("price"),
            "rn",
        )
    )


@register(
    "rollup_returns",
    sql="""
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       round(sum(l_quantity), 6) AS sum_qty, count(*) AS n
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
)
def rollup_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (SURVEY §2.4 note: free in Spark)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 6).alias("sum_qty"), F.count("*").alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n",
        )
    )


@register(
    "cube_orders",
    sql="""
SELECT coalesce(o_orderstatus, 'ALL') AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       count(*) AS n,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
)
def cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.sum(_dec(F.col("o_totalprice"), 2)).cast("double").alias("total"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n",
            "total",
        )
    )


@register(
    "distinct_aggregation",
    sql="""
SELECT c_mktsegment,
       count(DISTINCT c_nationkey) AS n_nations,
       count(*) AS n_customers,
       round(avg(c_acctbal), 6) AS avg_bal
FROM customer GROUP BY c_mktsegment
""",
)
def distinct_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) alongside plain aggregates (expand-based plan)."""
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.countDistinct("c_nationkey").alias("n_nations"),
        F.count("*").alias("n_customers"),
        F.round(F.avg("c_acctbal"), 6).alias("avg_bal"),
    )


@register(
    "semi_anti_join",
    sql="""
WITH buyers AS (SELECT DISTINCT o_custkey FROM orders)
SELECT 'with_orders' AS kind, count(*) AS n
FROM customer WHERE c_custkey IN (SELECT o_custkey FROM buyers)
UNION ALL
SELECT 'without_orders' AS kind, count(*) AS n
FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM buyers)
""",
)
def semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi (EXISTS) and left-anti (NOT EXISTS) joins (J4's
    existence check, generalized)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    semi = (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .agg(F.count("*").alias("n"))
        .select(F.lit("with_orders").alias("kind"), "n")
    )
    anti = (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .agg(F.count("*").alias("n"))
        .select(F.lit("without_orders").alias("kind"), "n")
    )
    return semi.unionByName(anti)


@register(
    "set_ops",
    sql="""
WITH building AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
     rich     AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
SELECT 'intersect' AS op, count(*) AS n FROM (SELECT * FROM building INTERSECT SELECT * FROM rich)
UNION ALL
SELECT 'except' AS op, count(*) AS n FROM (SELECT * FROM building EXCEPT SELECT * FROM rich)
UNION ALL
SELECT 'union' AS op, count(*) AS n FROM (SELECT * FROM building UNION SELECT * FROM rich)
""",
)
def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION-distinct (SURVEY §2.7: absent from the
    reference beyond upsert concats)."""
    c = load_table(spark, sf_dir, "customer")
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    rich = c.filter(F.col("c_acctbal") > 5000).select("c_custkey")

    def counted(df: DataFrame, op: str) -> DataFrame:
        return df.agg(F.count("*").alias("n")).select(F.lit(op).alias("op"), "n")

    return (
        counted(building.intersect(rich), "intersect")
        .unionByName(counted(building.exceptAll(rich).distinct(), "except"))
        .unionByName(counted(building.union(rich).distinct(), "union"))
    )


@register(
    "window_running_total",
    sql="""
SELECT o_custkey, o_orderkey,
       round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate, o_orderkey
                                     ROWS UNBOUNDED PRECEDING), 4) AS running_total,
       CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS INT) AS order_seq
FROM orders
""",
)
def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-frame analytic window (rowsBetween) — running spend per
    customer. ROWS frame (not RANGE) so both engines accumulate in the
    identical deterministic order."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(
            F.sum("o_totalprice").over(w.rowsBetween(Window.unboundedPreceding, 0)), 4
        ).alias("running_total"),
        F.row_number().over(w).alias("order_seq"),
    )


@register(
    "window_lag_gap_days",
    sql="""
SELECT o_custkey, o_orderkey,
       date_diff('day',
                 lag(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
                 o_orderdate) AS gap_days
FROM orders
QUALIFY gap_days IS NOT NULL
""",
)
def window_lag_gap_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag + datediff: days between consecutive orders per customer."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.withColumn(
            "gap_days",
            F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w)).cast("long"),
        )
        .filter(F.col("gap_days").isNotNull())
        .select("o_custkey", "o_orderkey", "gap_days")
    )


@register(
    "groupwise_above_avg",
    sql="""
WITH nation_avg AS (
  SELECT s_nationkey AS nk, avg(s_acctbal) AS nat_avg FROM supplier GROUP BY s_nationkey
)
SELECT s_suppkey, s_name, round(s_acctbal, 6) AS acctbal, round(nat_avg, 6) AS nation_avg
FROM supplier JOIN nation_avg ON s_nationkey = nk
WHERE s_acctbal > nat_avg
""",
)
def groupwise_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery shape (suppliers above their nation's average
    balance) decorrelated into an aggregate + broadcast join."""
    s = load_table(spark, sf_dir, "supplier")
    nat = s.groupBy(F.col("s_nationkey").alias("nk")).agg(F.avg("s_acctbal").alias("nat_avg"))
    return (
        s.join(F.broadcast(nat), s.s_nationkey == nat.nk)
        .filter(F.col("s_acctbal") > F.col("nat_avg"))
        .select(
            "s_suppkey",
            "s_name",
            F.round("s_acctbal", 6).alias("acctbal"),
            F.round("nat_avg", 6).alias("nation_avg"),
        )
    )


@register(
    "part_type_stats",
    sql="""
SELECT p_brand, split_part(p_type, ' ', 1) AS type_head,
       count(*) AS n, round(avg(p_retailprice), 6) AS avg_price,
       CAST(min(p_size) AS INT) AS min_size, CAST(max(p_size) AS INT) AS max_size
FROM part GROUP BY p_brand, split_part(p_type, ' ', 1)
""",
)
def part_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String manipulation in grouping keys (D10's split chains as
    built-ins) + min/max/avg aggregates."""
    p = load_table(spark, sf_dir, "part")
    return p.groupBy(
        "p_brand", F.split_part(F.col("p_type"), F.lit(" "), F.lit(1)).alias("type_head")
    ).agg(
        F.count("*").alias("n"),
        F.round(F.avg("p_retailprice"), 6).alias("avg_price"),
        F.min("p_size").alias("min_size"),
        F.max("p_size").alias("max_size"),
    )


@register(
    "approx_distinct_parts",
    sql="""
SELECT l_returnflag,
       count(DISTINCT l_partkey) AS exact_parts,
       count(DISTINCT l_suppkey) AS exact_supps,
       TRUE AS parts_within_bounds,
       TRUE AS supps_within_bounds
FROM lineitem GROUP BY l_returnflag
""",
)
def approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) — the 100 TB path for
    distinct counting. Gradeable sketch contract (VERDICT r05 next-step
    3): the raw estimate is engine-specific and would never hash-match,
    so the result carries the EXACT count plus a Spark-computed
    ``within_bounds`` flag asserting the estimate sits inside the
    documented HLL++ error envelope (default rsd 0.05 → 3σ = 15 %,
    plus a small absolute slack for tiny groups); the oracle recomputes
    the exact count and expects the flag TRUE. HLL++ is hash-based and
    deterministic, so the flag is stable across runs — an estimate
    drifting out of envelope turns the row red in CORRECTNESS."""
    li = load_table(spark, sf_dir, "lineitem")

    def within(est, exact):
        return F.abs(est - exact) <= 0.15 * exact + 5

    return (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey").alias("_ap"),
            F.approx_count_distinct("l_suppkey").alias("_as"),
            F.countDistinct("l_partkey").alias("exact_parts"),
            F.countDistinct("l_suppkey").alias("exact_supps"),
        )
        .select(
            "l_returnflag",
            "exact_parts",
            "exact_supps",
            within(F.col("_ap"), F.col("exact_parts")).alias("parts_within_bounds"),
            within(F.col("_as"), F.col("exact_supps")).alias("supps_within_bounds"),
        )
    )


@register(
    "quantiles_by_flag",
    sql="""
SELECT l_returnflag,
       round(quantile_cont(l_quantity, 0.5), 6) AS p50_qty,
       round(quantile_cont(l_quantity, 0.9), 6) AS p90_qty,
       round(quantile_cont(l_extendedprice, 0.99), 6) AS p99_price
FROM lineitem GROUP BY l_returnflag
""",
)
def quantiles_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles per group — Spark's percentile() ==
    DuckDB's quantile_cont (both linear interpolation). Exact
    percentile sorts within each group; at 100 TB the approx_percentile
    sketch (t-digest, mergeable map-side) replaces it — kept exact here
    because approximation internals are engine-specific and would never
    hash-match an oracle."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 6).alias("p50_qty"),
        F.round(F.expr("percentile(l_quantity, 0.9)"), 6).alias("p90_qty"),
        F.round(F.expr("percentile(l_extendedprice, 0.99)"), 6).alias("p99_price"),
    )


@register(
    "string_normalize_extract",
    sql="""
SELECT p_partkey,
       upper(trim(p_name)) AS name_u,
       regexp_replace(p_name, '[aeiou]', '_', 'g') AS name_devoweled,
       len(p_name) AS name_len,
       CAST(substr(p_name, 1, 5) AS VARCHAR) AS name_head,
       contains(p_name, 'an') AS has_an,
       CAST(strpos(p_name, 'a') AS INT) AS first_a
FROM part WHERE p_partkey <= 500
""",
)
def string_normalize_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function breadth (the surface text ETL assumes): case,
    trim, global regexp_replace, length, substring, containment,
    position — all whole-stage-codegen JVM expressions, no UDF."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") <= 500)
    return p.select(
        "p_partkey",
        F.upper(F.trim(F.col("p_name"))).alias("name_u"),
        F.regexp_replace("p_name", "[aeiou]", "_").alias("name_devoweled"),
        F.length("p_name").alias("name_len"),
        F.substring("p_name", 1, 5).alias("name_head"),
        F.col("p_name").contains("an").alias("has_an"),
        F.instr(F.col("p_name"), "a").alias("first_a"),
    )


@register(
    "j5_merge_into",
    sql="""
WITH source AS (
    SELECT c_custkey, c_name, c_nationkey, 0.0 AS c_acctbal, c_mktsegment, 'U' AS op
    FROM customer WHERE c_acctbal < 0
    UNION ALL
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment, 'D'
    FROM customer WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 9000
    UNION ALL
    SELECT 1000000 + s_suppkey, s_name, s_nationkey, s_acctbal, 'WHOLESALE', 'I'
    FROM supplier
)
SELECT coalesce(t.c_custkey, s.c_custkey) AS c_custkey,
       CASE WHEN s.c_custkey IS NULL THEN t.c_name ELSE s.c_name END AS c_name,
       CASE WHEN s.c_custkey IS NULL THEN t.c_nationkey ELSE s.c_nationkey END AS c_nationkey,
       CASE WHEN s.c_custkey IS NULL THEN t.c_acctbal ELSE s.c_acctbal END AS c_acctbal,
       CASE WHEN s.c_custkey IS NULL THEN t.c_mktsegment ELSE s.c_mktsegment END AS c_mktsegment
FROM customer t FULL OUTER JOIN source s ON t.c_custkey = s.c_custkey
WHERE s.c_custkey IS NULL OR s.op <> 'D'
""",
)
def j5_merge_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lakehouse MERGE semantics as one full-outer join + conditional
    projection (operators/merge.py:merge_plan) — the keyed row-level
    form of the reference's per-file list merge
    (infer_stationary_states.py:117-133). Source = zero-out negative
    balances (UPDATE), drop rich BUILDING customers (DELETE), graft
    suppliers in as customers (INSERT); oracle is the equivalent SQL
    full-outer-join rewrite."""
    from matt3r_data_ingestion_serverless_spark.operators.merge import merge_plan

    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    updates = (
        c.filter(F.col("c_acctbal") < 0)
        .withColumn("c_acctbal", F.lit(0.0))
        .withColumn("op", F.lit("U"))
    )
    deletes = c.filter(
        (F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") > 9000)
    ).withColumn("op", F.lit("D"))
    inserts = s.select(
        (F.lit(1000000) + F.col("s_suppkey")).alias("c_custkey"),
        F.col("s_name").alias("c_name"),
        F.col("s_nationkey").alias("c_nationkey"),
        F.col("s_acctbal").alias("c_acctbal"),
        F.lit("WHOLESALE").alias("c_mktsegment"),
        F.lit("I").alias("op"),
    )
    source = updates.unionByName(deletes).unionByName(inserts)
    return merge_plan(c, source, ["c_custkey"], delete_condition=F.col("op") == "D")


@register(
    "approx_quantiles_by_flag",
    sql="""
SELECT l_returnflag,
       round(quantile_cont(l_quantity, 0.5), 6) AS p50_qty,
       round(quantile_cont(l_quantity, 0.9), 6) AS p90_qty,
       round(quantile_cont(l_extendedprice, 0.99), 6) AS p99_price,
       TRUE AS p50_within_bounds,
       TRUE AS p90_within_bounds,
       TRUE AS p99_within_bounds
FROM lineitem GROUP BY l_returnflag
""",
)
def approx_quantiles_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB quantile path: approx_percentile's mergeable sketch
    aggregates map-side and combines in one narrow shuffle — no
    per-group sort, bounded memory at any cardinality. Gradeable sketch
    contract (VERDICT r05 next-step 3): the estimate itself is
    engine-specific, so the result carries the EXACT quantiles (the
    hash-matched values, same expressions as quantiles_by_flag) plus
    Spark-computed ``within_bounds`` flags asserting each estimate
    falls between the exact quantiles at rank ± 0.01 — accuracy=1000
    guarantees rank error ≤ 1/1000, ten times tighter than the flag's
    envelope. The oracle recomputes the exact quantiles and expects
    TRUE."""
    li = load_table(spark, sf_dir, "lineitem")
    q = li.groupBy("l_returnflag").agg(
        F.expr("approx_percentile(l_quantity, array(0.5, 0.9), 1000)").alias("qa"),
        F.expr("approx_percentile(l_extendedprice, 0.99, 1000)").alias("e99"),
        F.expr(
            "percentile(l_quantity, array(0.49, 0.5, 0.51, 0.89, 0.9, 0.91))"
        ).alias("xq"),
        F.expr("percentile(l_extendedprice, array(0.98, 0.99, 0.995))").alias("xe"),
    )
    return q.select(
        "l_returnflag",
        F.round(F.col("xq")[1], 6).alias("p50_qty"),
        F.round(F.col("xq")[4], 6).alias("p90_qty"),
        F.round(F.col("xe")[1], 6).alias("p99_price"),
        F.col("qa")[0].between(F.col("xq")[0], F.col("xq")[2]).alias(
            "p50_within_bounds"
        ),
        F.col("qa")[1].between(F.col("xq")[3], F.col("xq")[5]).alias(
            "p90_within_bounds"
        ),
        F.col("e99").between(F.col("xe")[0], F.col("xe")[2]).alias(
            "p99_within_bounds"
        ),
    )


# ---------------------------------------------------------------------------
# hierarchical percent-of-parent rollup
# ---------------------------------------------------------------------------


@register(
    "pct_of_parent_rollup",
    sql=f"""
WITH rev AS (
  SELECT r.r_name AS region, n.n_name AS nation,
         sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4)))
           AS nrev
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY r.r_name, n.n_name
)
SELECT region, nation, CAST(nrev AS DOUBLE) AS revenue,
       {round6_sql("CAST(nrev AS DOUBLE)"
                   " / CAST(sum(nrev) OVER (PARTITION BY region) AS DOUBLE)")}
         AS pct_of_region,
       {round6_sql("CAST(nrev AS DOUBLE) / CAST(sum(nrev) OVER () AS DOUBLE)")}
         AS pct_of_total
FROM rev
""",
)
def pct_of_parent_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-parent at two hierarchy levels (nation→region→total)
    — the drill-down share metric every BI rollup needs. The heavy
    lifting is one fact-side aggregation down to |nations| rows;
    the share windows then run over 25 rows, so partitioning the
    windows is irrelevant — the design point is aggregating BEFORE
    windowing, never windowing the fact table. Dimension joins
    broadcast; lineitem⋈orders is the one key shuffle, and the
    revenue sums ride DECIMAL so shares are order-exact."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            ).alias("nrev")
        )
    )
    w_region = Window.partitionBy("region")
    w_all = Window.partitionBy()
    nd = F.col("nrev").cast("double")
    return rev.select(
        "region",
        "nation",
        nd.alias("revenue"),
        round6(nd / F.sum("nrev").over(w_region).cast("double")).alias(
            "pct_of_region"
        ),
        round6(nd / F.sum("nrev").over(w_all).cast("double")).alias(
            "pct_of_total"
        ),
    )


# ---------------------------------------------------------------------------
# replica checksum reconciliation
# ---------------------------------------------------------------------------


@register(
    "table_checksum_reconciliation",
    sql=f"""
WITH fp AS (
  SELECT CAST(ts AS DATE) AS day,
         md5(concat_ws('|', event_id, epoch_us(ts), user_id, event_type,
                       {CENTS_SQL}, props)) AS fp
  FROM events
)
SELECT strftime(day, '%Y-%m-%d') AS day, count(*) AS n_rows,
       count(DISTINCT fp) AS n_distinct, min(fp) AS min_fp, max(fp) AS max_fp
FROM fp GROUP BY day
""",
)
def table_checksum_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed partition checksums — the anti-entropy audit
    for verifying two replicas (or a migration source/target) hold the
    same rows without shipping data: compare per-day (count, distinct,
    min, max) row-fingerprint summaries and re-sync only days that
    differ. Fingerprints are md5 over a canonical '|'-joined encoding
    (ints as decimal strings, timestamps as epoch-µs, money as cents)
    so ANY engine reproduces them byte-for-byte — which is exactly what
    the oracle proves. Scale: embarrassingly parallel scan + one
    day-keyed agg; min/max/count are algebraic so partials combine."""
    ev = load_table(spark, sf_dir, "events")
    fp = F.md5(
        F.concat_ws(
            "|",
            F.col("event_id"),
            F.unix_micros("ts"),
            F.col("user_id"),
            F.col("event_type"),
            cents(),
            F.col("props"),
        )
    )
    return (
        ev.select(F.to_date("ts").alias("day"), fp.alias("fp"))
        .groupBy("day")
        .agg(
            F.count("*").alias("n_rows"),
            F.count_distinct("fp").alias("n_distinct"),
            F.min("fp").alias("min_fp"),
            F.max("fp").alias("max_fp"),
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_rows",
            "n_distinct",
            "min_fp",
            "max_fp",
        )
    )


# ---------------------------------------------------------------------------
# incremental materialized-view maintenance (partial-aggregate merge)
# ---------------------------------------------------------------------------

_MV_CUTOFF = "2024-01-16"


@register(
    "ns_mv_incremental_agg",
    sql=f"""
SELECT user_id, count(*) AS n_events,
       round(CAST(sum({CENTS_SQL}) AS DOUBLE) / 100.0, 6) AS total_value,
       {round6_sql(f"CAST(sum({CENTS_SQL}) AS DOUBLE) / (100.0 * count(*))")}
         AS avg_value,
       min(epoch_us(ts)) AS first_us, max(epoch_us(ts)) AS last_us
FROM events GROUP BY user_id
""",
)
def ns_mv_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: the base segment
    (ts before the cutoff date, i.e. "the MV as of yesterday") and the delta
    segment are aggregated to PARTIAL states independently, then merged
    by re-aggregating the algebraic states (count→sum, sum→sum,
    min→min, max→max); avg is derived from merged states, never stored.
    The oracle recomputes from all raw events — merged == recomputed is
    the exactness proof that lets a 100 TB pipeline maintain user-level
    aggregates by touching only each day's delta partition instead of
    re-scanning history. Money rides integer cents, so the merge is
    order-exact."""
    ev = load_table(spark, sf_dir, "events")
    seg = ev.select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        cents().alias("v_cents"),
        (F.col("ts") < F.lit(_MV_CUTOFF).cast("timestamp")).alias("is_base"),
    )
    partial = seg.groupBy("user_id", "is_base").agg(
        F.count("*").alias("p_n"),
        F.sum("v_cents").alias("p_sum"),
        F.min("ts_us").alias("p_min"),
        F.max("ts_us").alias("p_max"),
    )
    merged = partial.groupBy("user_id").agg(
        F.sum("p_n").alias("n_events"),
        F.sum("p_sum").alias("sum_cents"),
        F.min("p_min").alias("first_us"),
        F.max("p_max").alias("last_us"),
    )
    return merged.select(
        "user_id",
        "n_events",
        F.round(F.col("sum_cents").cast("double") / 100.0, 6).alias("total_value"),
        round6(
            F.col("sum_cents").cast("double") / (100.0 * F.col("n_events"))
        ).alias("avg_value"),
        "first_us",
        "last_us",
    )


# ---------------------------------------------------------------------------
# Pareto frontier (skyline) — local-frontier-then-global composition
# ---------------------------------------------------------------------------


@register(
    "skyline_pareto_frontier",
    sql="""
WITH pairs AS (
  SELECT CAST(round(p_retailprice * 100, 0) AS BIGINT) AS price_c, p_size,
         count(*) AS n_parts
  FROM part GROUP BY 1, 2
)
SELECT round(price_c / 100.0, 2) AS price, p_size AS size, n_parts
FROM pairs p
WHERE NOT EXISTS (
  SELECT 1 FROM pairs q
  WHERE q.price_c <= p.price_c AND q.p_size >= p.p_size
    AND (q.price_c < p.price_c OR q.p_size > p.p_size))
""",
)
def skyline_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier (skyline): the (price, size) pairs not dominated
    by any cheaper-and-at-least-as-large alternative — the classic
    multi-objective shortlist. The oracle is the textbook NOT EXISTS
    dominance test, which is O(n²); the Spark plan is the distributed
    skyline: (1) collapse to distinct pairs, (2) LOCAL frontier per
    hash bucket — sort (price asc, size desc) and keep rows whose size
    exceeds the running max of all earlier rows (a dominated row is
    always preceded by its dominator in this order), (3) GLOBAL pass of
    the same running-max scan over the few local survivors. Dominance
    is transitive, so local pruning never discards a global-frontier
    point, and the global input is tiny — the only single-partition
    stage touches ~buckets × frontier-size rows."""
    part = load_table(spark, sf_dir, "part")
    pairs = (
        part.select(
            F.round(F.col("p_retailprice") * 100, 0).cast("long").alias("price_c"),
            F.col("p_size"),
        )
        .groupBy("price_c", "p_size")
        .agg(F.count("*").alias("n_parts"))
    )

    def frontier(df: DataFrame, w: Window) -> DataFrame:
        prev_max = F.max("p_size").over(
            w.orderBy(F.asc("price_c"), F.desc("p_size")).rowsBetween(
                Window.unboundedPreceding, -1
            )
        )
        return df.withColumn("pm", prev_max).filter(
            F.col("pm").isNull() | (F.col("p_size") > F.col("pm"))
        ).drop("pm")

    bucketed = pairs.withColumn(
        "b", F.pmod(F.xxhash64("price_c", "p_size"), F.lit(32))
    )
    local = frontier(bucketed, Window.partitionBy("b")).drop("b")
    glob = frontier(local, Window.partitionBy())
    return glob.select(
        F.round(F.col("price_c") / 100.0, 2).alias("price"),
        F.col("p_size").alias("size"),
        "n_parts",
    )
