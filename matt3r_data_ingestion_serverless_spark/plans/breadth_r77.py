"""Round-4 batch 5: analytics operators — RFM segmentation, market-
basket pair lift, distribution-drift monitoring between periods, and
sweep-line interval concurrency.

RFM and basket lift are the classic customer-analytics pair (quantile
scoring and association rules); share drift is the production-ML
monitoring check (PSI's ln() is not cross-engine-stable, so the metric
is the per-bucket share delta from integer counts — same signal, bit-
stable); the sweep line is the interval-overlap counting family (max
concurrent intervals) that no join can express efficiently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.functions.rounding import CENTS_SQL, round6, round6_sql
from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# RFM segmentation
# ---------------------------------------------------------------------------

_RFM_SQL = f"""
WITH per_user AS (
  SELECT user_id,
         max(CAST(ts AS DATE)) AS last_day,
         count(*) AS freq,
         sum({CENTS_SQL}) AS monetary_cents
  FROM events GROUP BY user_id
),
anchor AS (SELECT max(last_day) AS today FROM per_user),
scored AS (
  SELECT user_id, freq, monetary_cents,
         datediff('day', last_day, today) AS recency_days,
         ntile(5) OVER (ORDER BY datediff('day', last_day, today), user_id) AS r,
         ntile(5) OVER (ORDER BY freq DESC, user_id) AS f,
         ntile(5) OVER (ORDER BY monetary_cents DESC, user_id) AS m
  FROM per_user, anchor
)
SELECT r * 100 + f * 10 + m AS segment,
       count(*) AS n_users,
       sum(freq) AS sum_freq,
       {round6_sql("CAST(sum(monetary_cents) AS DOUBLE) / (100.0 * count(*))")}
         AS avg_monetary
FROM scored GROUP BY 1
"""


@register("rfm_segments", sql=_RFM_SQL)
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) segmentation: per-user
    metrics quantile-scored into quintiles (ntile over a TOTAL order —
    ties broken by user_id so both engines cut identically; best score
    = 1 for most-recent / most-frequent / highest-spend), composed into
    the classic 111-555 segment code and profiled per segment.

    Scale: one fact shuffle (groupBy user) reduces to |users| rows;
    the three ntile windows run over the user table, which at real
    scale becomes repartitionByRange quantile scoring (SCALE.md §2) —
    the segment profile is ≤125 rows either way."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max(F.to_date("ts")).alias("last_day"),
        F.count("*").alias("freq"),
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("monetary_cents"),
    )
    anchor = per_user.agg(F.max("last_day").alias("today"))
    scored = per_user.crossJoin(F.broadcast(anchor)).withColumn(
        "recency_days", F.datediff("today", "last_day")
    )
    scored = (
        scored.withColumn(
            "r", F.ntile(5).over(Window.orderBy("recency_days", "user_id"))
        )
        .withColumn(
            "f", F.ntile(5).over(Window.orderBy(F.desc("freq"), F.asc("user_id")))
        )
        .withColumn(
            "m",
            F.ntile(5).over(
                Window.orderBy(F.desc("monetary_cents"), F.asc("user_id"))
            ),
        )
    )
    return (
        scored.groupBy(
            (F.col("r") * 100 + F.col("f") * 10 + F.col("m")).alias("segment")
        )
        .agg(
            F.count("*").alias("n_users"),
            F.sum("freq").alias("sum_freq"),
            round6(
                F.sum("monetary_cents").cast("double") / (100.0 * F.count("*"))
            ).alias("avg_monetary"),
        )
    )


# ---------------------------------------------------------------------------
# market-basket pair lift (association rules)
# ---------------------------------------------------------------------------

_LIFT_SQL = f"""
WITH basket AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day, event_type FROM events
),
nb AS (SELECT count(DISTINCT (user_id, day)) AS n FROM basket),
singles AS (SELECT event_type, count(*) AS c FROM basket GROUP BY event_type),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS c_ab
  FROM basket a JOIN basket b
    ON a.user_id = b.user_id AND a.day = b.day AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT type_a, type_b, c_ab,
       sa.c AS c_a, sb.c AS c_b,
       {round6_sql("CAST(c_ab AS DOUBLE) / nb.n")} AS support,
       {round6_sql("CAST(c_ab * nb.n AS DOUBLE) / (sa.c * sb.c)")} AS lift
FROM pairs
JOIN singles sa ON type_a = sa.event_type
JOIN singles sb ON type_b = sb.event_type
CROSS JOIN nb
"""


@register("basket_pair_lift", sql=_LIFT_SQL)
def basket_pair_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining at the pair level: baskets are the
    distinct (user, day, event_type) triples; for every unordered type
    pair, support = co-occurrence share of baskets and lift =
    N·c_ab/(c_a·c_b) — lift > 1 means the types co-occur more than
    independence predicts (the market-basket signal behind
    recommenders). Ratios are single divisions of exact integer
    products (< 2⁵³), so both engines emit identical doubles.

    Scale: the dedupe-to-baskets pass is the big shrink; the pair join
    is basket-keyed (user, day), so each basket pairs only within
    itself (≤ |types|² rows per basket, never corpus²); singles and N
    broadcast. This is exactly FP-Growth's first pass — for k-itemsets
    the same per-basket expansion iterates."""
    ev = load_table(spark, sf_dir, "events")
    basket = ev.select(
        "user_id", F.to_date("ts").alias("day"), "event_type"
    ).distinct()
    # basket count as a broadcast 1-row aggregate folded into the main
    # job — the old eager .count() ran a SECOND full events pass (scan +
    # two distincts, ~0.5 s here, a whole extra corpus pass at scale)
    # just to inline a literal the plan can carry as a scalar column
    nb_df = basket.select("user_id", "day").distinct().agg(
        F.count("*").alias("nb")
    )
    singles = basket.groupBy("event_type").agg(F.count("*").alias("c"))
    a = basket.select("user_id", "day", F.col("event_type").alias("type_a"))
    b = basket.select("user_id", "day", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, ["user_id", "day"])
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("c_ab"))
    )
    sa = singles.select(F.col("event_type").alias("type_a"), F.col("c").alias("c_a"))
    sb = singles.select(F.col("event_type").alias("type_b"), F.col("c").alias("c_b"))
    return (
        pairs.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .crossJoin(F.broadcast(nb_df))
        .select(
            "type_a",
            "type_b",
            "c_ab",
            "c_a",
            "c_b",
            round6(F.col("c_ab").cast("double") / F.col("nb")).alias("support"),
            round6(
                (F.col("c_ab") * F.col("nb")).cast("double")
                / (F.col("c_a") * F.col("c_b"))
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# distribution drift between periods
# ---------------------------------------------------------------------------

_DRIFT_CUTOFF = "2024-01-16"

_DRIFT_SQL = f"""
WITH tagged AS (
  SELECT event_type, (ts < TIMESTAMP '{_DRIFT_CUTOFF}') AS before FROM events
),
tot AS (
  SELECT sum(CASE WHEN before THEN 1 ELSE 0 END) AS tb,
         sum(CASE WHEN NOT before THEN 1 ELSE 0 END) AS ta
  FROM tagged
),
per_type AS (
  SELECT event_type,
         sum(CASE WHEN before THEN 1 ELSE 0 END) AS n_before,
         sum(CASE WHEN NOT before THEN 1 ELSE 0 END) AS n_after
  FROM tagged GROUP BY event_type
)
SELECT event_type, n_before, n_after,
       {round6_sql("CAST(n_before AS DOUBLE) / tb")} AS share_before,
       {round6_sql("CAST(n_after AS DOUBLE) / ta")} AS share_after,
       {round6_sql(f"abs(({round6_sql('CAST(n_before AS DOUBLE) / tb')})"
                   f" - ({round6_sql('CAST(n_after AS DOUBLE) / ta')}))")}
         AS share_drift
FROM per_type CROSS JOIN tot
"""


@register("drift_share_by_period", sql=_DRIFT_SQL)
def drift_share_by_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical-distribution drift between two periods — the
    production-ML monitoring check run on every feature before/after a
    deploy or between train and serve windows. PSI's ln(p/q) is not
    bit-stable across engines (libm differs by ulps), so the reported
    metric is the per-bucket absolute share delta from exact integer
    counts — one division per share, drift as the difference of the
    two ROUNDED shares (the r02 discipline: never subtract unrounded
    aggregates).

    Scale: single scan, one 5-row aggregate + a broadcast 1-row total
    — embarrassingly parallel, and incremental under the IVM
    partial-merge pattern (ns_mv_incremental_agg)."""
    ev = load_table(spark, sf_dir, "events")
    tagged = ev.select(
        "event_type",
        (F.col("ts") < F.lit(_DRIFT_CUTOFF).cast("timestamp")).alias("before"),
    )
    per_type = tagged.groupBy("event_type").agg(
        F.sum(F.when(F.col("before"), 1).otherwise(0)).alias("n_before"),
        F.sum(F.when(~F.col("before"), 1).otherwise(0)).alias("n_after"),
    )
    tot = tagged.agg(
        F.sum(F.when(F.col("before"), 1).otherwise(0)).alias("tb"),
        F.sum(F.when(~F.col("before"), 1).otherwise(0)).alias("ta"),
    )
    sb = round6(F.col("n_before").cast("double") / F.col("tb"))
    sa = round6(F.col("n_after").cast("double") / F.col("ta"))
    return per_type.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "n_before",
        "n_after",
        sb.alias("share_before"),
        sa.alias("share_after"),
        round6(F.abs(sb - sa)).alias("share_drift"),
    )


# ---------------------------------------------------------------------------
# sweep-line interval concurrency
# ---------------------------------------------------------------------------

_PEAK_SQL = """
WITH iv AS (
  SELECT o.o_orderkey,
         CAST(o.o_orderdate AS DATE) AS lo,
         CAST(max(l.l_shipdate) AS DATE) AS hi
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  GROUP BY 1, 2
),
deltas AS (
  SELECT lo AS day, 1 AS d FROM iv
  UNION ALL
  SELECT hi + INTERVAL 1 DAY, -1 FROM iv
),
daily AS (SELECT CAST(day AS DATE) AS day, sum(d) AS dd FROM deltas GROUP BY 1),
run AS (
  SELECT day, sum(dd) OVER (ORDER BY day) AS live FROM daily
)
SELECT strftime(date_trunc('month', day), '%Y-%m') AS month,
       max(live) AS peak_concurrent,
       min(live) AS min_concurrent
FROM run GROUP BY 1
"""


@register("interval_peak_concurrency", sql=_PEAK_SQL)
def interval_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line interval overlap counting: an order is IN FLIGHT from
    its order date until its last lineitem ships (inclusive); the
    month-level peak of concurrently open orders is the fulfillment-
    capacity metric. An interval×day join would be O(rows × span); the
    sweep line emits ±1 boundary deltas, PRE-AGGREGATES them per day
    (the big shrink: millions of intervals → one row per distinct
    day), and takes one running sum over the tiny day table.

    Scale: one key shuffle (order ⋈ lineitem + max per order), two
    map-side boundary projections, a day-keyed aggregate; the running
    sum orders ~thousands of day rows (single partition, but over the
    aggregated table — never the fact table; a multi-year grid would
    range-partition with per-partition offsets, SCALE.md §2)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    iv = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", F.col("o_orderdate").cast("date").alias("lo"))
        .agg(F.max(F.col("l_shipdate").cast("date")).alias("hi"))
    )
    deltas = iv.select(F.col("lo").alias("day"), F.lit(1).alias("d")).unionByName(
        iv.select(F.date_add("hi", 1).alias("day"), F.lit(-1).alias("d"))
    )
    daily = deltas.groupBy("day").agg(F.sum("d").alias("dd"))
    run = daily.withColumn("live", F.sum("dd").over(Window.orderBy("day")))
    return run.groupBy(
        F.date_format(F.date_trunc("month", "day"), "yyyy-MM").alias("month")
    ).agg(
        F.max("live").alias("peak_concurrent"),
        F.min("live").alias("min_concurrent"),
    )
