"""Lakehouse / advanced-temporal operator family.

Six operators a 100 TB lakehouse runs daily that no earlier family
covers: trailing-window distinct counting,
hierarchical percent-of-parent rollups, replica checksum
reconciliation, Z-order (Morton) layout clustering, incremental
materialized-view maintenance via partial-aggregate merge, and a
distributed Pareto-frontier (skyline) operator.

Determinism rules (SCALE.md §7): money goes through integer cents
before any sum.
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


# ---------------------------------------------------------------------------
# trailing 7-day distinct users (windowed COUNT DISTINCT via day-grid)
# ---------------------------------------------------------------------------


@register(
    "rolling_7d_distinct_users",
    sql="""
WITH pairs AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
days AS (SELECT DISTINCT day FROM pairs)
SELECT strftime(d.day, '%Y-%m-%d') AS day,
       count(DISTINCT p.user_id) AS users_7d
FROM days d JOIN pairs p ON p.day BETWEEN d.day - 6 AND d.day
GROUP BY d.day
""",
)
def rolling_7d_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day — the retention /
    WAU metric. COUNT(DISTINCT) is not algebraic, so no window frame
    can compute it incrementally; the scalable rewrite is the day-grid
    expansion: dedupe to (day, user) pairs FIRST (the big shrink —
    events per user-day collapse to 1), then each pair votes for the ≤7
    trailing grid days it is visible in, then one exact distinct-agg
    per grid day. Fan-out is bounded (×7) and happens after the dedupe,
    so raw events never replicate. A range self-join (day BETWEEN d-6
    AND d) — what the oracle runs — would be O(days × pairs) at scale."""
    ev = load_table(spark, sf_dir, "events")
    pairs = ev.select(F.to_date("ts").alias("day"), "user_id").distinct()
    days = pairs.select("day").distinct()
    grid = pairs.withColumn(
        "grid_day", F.explode(F.sequence(F.col("day"), F.date_add(F.col("day"), 6)))
    )
    counts = grid.groupBy("grid_day").agg(
        F.count_distinct("user_id").alias("users_7d")
    )
    return days.join(counts, days.day == counts.grid_day).select(
        F.date_format(days.day, "yyyy-MM-dd").alias("day"), "users_7d"
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
# Z-order (Morton) layout clustering
# ---------------------------------------------------------------------------

_ZBITS = 8  # 8 bits per dimension → 16-bit Morton code


def _morton_sql(x: str, y: str) -> str:
    terms = []
    for i in range(_ZBITS):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i})")
    return " + ".join(terms)


def _morton_col(x, y):
    acc = F.lit(0)
    for i in range(_ZBITS):
        acc = acc + F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        acc = acc + F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i)
    return acc


@register(
    "morton_zorder_layout",
    sql=f"""
WITH coded AS (
  SELECT l_partkey % 256 AS x, l_suppkey % 256 AS y,
         ({_morton_sql("(l_partkey % 256)", "(l_suppkey % 256)")}) >> 8
           AS zbucket
  FROM lineitem
)
SELECT zbucket, count(*) AS n_rows,
       min(x) AS min_x, max(x) AS max_x, min(y) AS min_y, max(y) AS max_y,
       (max(x) - min(x)) + (max(y) - min(y)) AS minmax_span
FROM coded GROUP BY zbucket
""",
)
def morton_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout clustering: interleave the bits of two filter
    columns into a Morton code and bucket rows by its prefix — the
    multi-dimensional file-clustering every lakehouse (Delta OPTIMIZE
    ZORDER, Iceberg sort orders) uses so min/max file statistics prune
    on BOTH columns. The per-bucket min/max extents this query emits
    ARE the skipping index: each 256th-prefix bucket covers a ≤16-wide
    slab in x AND y (verified by minmax_span), whereas ingestion-order
    files cover the full 0-255 range and prune nothing. The bit
    interleave is pure integer Catalyst ops generated by the same
    Python loop that emits the oracle SQL — one definition, two
    dialects. At scale the zbucket becomes repartitionByRange key +
    sortWithinPartitions before the parquet write."""
    li = load_table(spark, sf_dir, "lineitem")
    x = (F.col("l_partkey") % 256).cast("long")
    y = (F.col("l_suppkey") % 256).cast("long")
    coded = li.select(
        x.alias("x"), y.alias("y"), F.shiftright(_morton_col(x, y), 8).alias("zbucket")
    )
    span = (F.max("x") - F.min("x")) + (F.max("y") - F.min("y"))
    return coded.groupBy("zbucket").agg(
        F.count("*").alias("n_rows"),
        F.min("x").alias("min_x"),
        F.max("x").alias("max_x"),
        F.min("y").alias("min_y"),
        F.max("y").alias("max_y"),
        span.alias("minmax_span"),
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
