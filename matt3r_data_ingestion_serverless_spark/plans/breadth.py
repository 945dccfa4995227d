"""Engine-surface breadth: deterministic sampling for training-data
pipelines, unpivot/melt, GROUPING SETS, ranking-function breadth, and
higher-order array functions (SURVEY.md §2.4/§2.5 extension rows; the
sampling ops extend the north-star curation toolkit).

Scale notes (100 TB stance):
- Hash-bucket sampling is a pure map-side filter — no shuffle, no RNG
  state, and the SAME rows are selected on every engine/run/cluster
  (md5-derived bucket), which is what an incremental corpus pipeline
  needs (re-runs must not churn the sample). `df.sample()` is
  partition-order-dependent; this is the reproducible alternative.
- stack()/unpivot multiplies rows map-side BEFORE the aggregate's
  partial combine — no wide shuffle of the unpivoted form.
- GROUPING SETS computes all three granularities in one pass over the
  scan (Catalyst expands then shares the Exchange).
- Higher-order array ops run inside codegen over the array values —
  zero per-element Python, zero explode-shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.functions.hashing import (
    md5_hash64,
    md5_hash64_sql,
)
from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table


def _dec(col, scale: int = 4):
    return col.cast(f"decimal(18,{scale})")


_DOC_HASH_SQL = md5_hash64_sql("cast(doc_id AS VARCHAR)")


@register(
    "ns_sample_hash_bucket",
    sql=f"""
SELECT doc_id, lang, source, n_chars FROM documents
WHERE ({_DOC_HASH_SQL} % 100) < 10
""",
)
def ns_sample_hash_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% corpus sample: bucket = md5(doc_id) mod 100.
    Unlike df.sample() (partition-order-dependent RNG), the selection
    is a pure function of the row key — identical across engines,
    re-runs, and cluster layouts, so downstream incremental jobs see a
    stable subset."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = md5_hash64(F.col("doc_id").cast("string")) % 100
    return docs.filter(bucket < 10).select("doc_id", "lang", "source", "n_chars")


@register(
    "ns_sample_stratified",
    sql=f"""
SELECT lang, count(*) AS n_sampled, round(avg(n_chars), 6) AS avg_chars
FROM documents
WHERE ({_DOC_HASH_SQL} % 1000) < (CASE WHEN lang = 'en' THEN 50 ELSE 200 END)
GROUP BY lang
""",
)
def ns_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling — per-stratum rates (downsample
    the dominant language, keep more of the tail), the standard corpus
    rebalancing move. Same hash-bucket mechanism, rate chosen per row by
    the stratum column; still a map-side filter."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = md5_hash64(F.col("doc_id").cast("string")) % 1000
    rate = F.when(F.col("lang") == "en", 50).otherwise(200)
    return (
        docs.filter(bucket < rate)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_sampled"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        )
    )


@register(
    "unpivot_measures",
    sql="""
SELECT measure, CAST(sum(CAST(val AS DECIMAL(18,4))) AS DOUBLE) AS total,
       round(avg(val), 6) AS avg_val
FROM (
  SELECT 'quantity' AS measure, l_quantity AS val FROM lineitem
  UNION ALL SELECT 'extendedprice', l_extendedprice FROM lineitem
  UNION ALL SELECT 'discount', l_discount FROM lineitem
  UNION ALL SELECT 'tax', l_tax FROM lineitem
) GROUP BY measure
""",
)
def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long melt via stack() (the inverse of A1's pivot), then a
    per-measure aggregate. stack expands rows inside the scan stage;
    the partial agg combines before the single narrow shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    long = li.selectExpr(
        "stack(4, 'quantity', l_quantity, 'extendedprice', l_extendedprice,"
        " 'discount', l_discount, 'tax', l_tax) AS (measure, val)"
    )
    return long.groupBy("measure").agg(
        F.sum(_dec(F.col("val"))).cast("double").alias("total"),
        F.round(F.avg("val"), 6).alias("avg_val"),
    )


@register(
    "grouping_sets_revenue",
    sql="""
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       count(*) AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
""",
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form behind rollup/cube,
    which `rollup_returns`/`cube_orders` already exercise) through the
    spark.sql surface — all three granularities share one scan and one
    expanded aggregate."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
               count(*) AS n
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


@register(
    "window_rank_breadth",
    sql="""
SELECT o_custkey, o_orderkey,
       ntile(4) OVER w AS nt,
       round(percent_rank() OVER w, 6) AS pr,
       round(cume_dist() OVER w, 6) AS cd,
       dense_rank() OVER w AS dr,
       first_value(o_totalprice) OVER w AS fv
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
""",
)
def window_rank_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-function breadth — ntile / percent_rank / cume_dist /
    dense_rank / first_value over one window spec (one exchange on
    o_custkey, one sort, all five functions evaluated in a single
    Window operator). Order key includes o_orderkey so ranks are
    deterministic under ties."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.ntile(4).over(w).alias("nt"),
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
        F.dense_rank().over(w).alias("dr"),
        F.first("o_totalprice").over(w).alias("fv"),
    )


@register(
    "higher_order_array_ops",
    sql="""
SELECT vec_id,
       len(embedding) AS dim,
       len(list_filter(embedding, x -> x > 0)) AS n_pos,
       round(sqrt(list_sum(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm,
       round(list_sum(list_transform(list_slice(embedding, 1, 8),
             x -> CAST(x AS DOUBLE))), 6) AS head8_sum
FROM embeddings
""",
)
def higher_order_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions — transform / filter / aggregate /
    slice composed over the embedding column, entirely inside codegen
    (no explode, no Python). The same primitives the ANN/dedup queries
    build on, exercised as a first-class surface."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.size(F.filter(v, lambda x: x > 0)).alias("n_pos"),
        F.round(
            F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)), 6
        ).alias("l2_norm"),
        F.round(
            F.aggregate(F.slice(v, 1, 8), F.lit(0.0), lambda acc, x: acc + x), 6
        ).alias("head8_sum"),
    )


@register(
    "session_window_gaps",
    sql="""
WITH lagged AS (
  SELECT user_id, ts, value,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
  FROM events
), marked AS (
  SELECT user_id, ts, value,
         CASE WHEN prev_ts IS NULL
                OR epoch_us(ts) - epoch_us(prev_ts) > 1800 * 1000000
              THEN 1 ELSE 0 END AS new_sess
  FROM lagged
), sess AS (
  SELECT user_id, ts, value,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM marked
)
SELECT user_id,
       epoch_us(min(ts)) AS session_start_us,
       epoch_us(max(ts)) + 1800 * 1000000 AS session_end_us,
       count(*) AS n_events,
       round(sum(value), 6) AS total_value
FROM sess GROUP BY user_id, sess_id
""",
)
def session_window_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization via the native `session_window` operator
    (30-minute inactivity gap) — the general form of W2's zero-run
    sessions and the batch twin of the streaming session_window variant
    (streaming/pipeline.py:stationary_sessions_stream). The oracle
    derives the same islands by hand (lag + gap flag + running sum):
    Spark's session end = last event + gap, mirrored in the SQL.

    Scale: session_window is a single partial-merging aggregate — Spark
    sorts within user partitions and fuses adjacent windows, one
    shuffle on user_id; the hand-rolled lag+running-sum form would need
    two window passes over the same sort. Using the native operator
    halves the passes AND is the form the streaming engine can run
    incrementally with watermark-evicted state."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            F.unix_micros(F.col("w.end")).alias("session_end_us"),
            "n_events",
            "total_value",
        )
    )


HIST_LO, HIST_HI, HIST_BUCKETS = 0.0, 100.0, 20


@register(
    "value_histogram",
    sql=f"""
SELECT event_type,
       CAST(least(greatest(floor((value - {HIST_LO})
              / (({HIST_HI} - {HIST_LO}) / {HIST_BUCKETS})), -1), {HIST_BUCKETS}) AS INT)
         AS bucket,
       count(*) AS n,
       round(min(value), 6) AS lo,
       round(max(value), 6) AS hi
FROM events GROUP BY 1, 2
""",
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of `value` per event type (20 buckets over
    [0,100); out-of-range values clamp to sentinel buckets -1 / 20).
    The distribution-profiling primitive behind data-quality dashboards
    and skew diagnosis. Bucket index is explicit floor arithmetic —
    identical expression in both engines (DuckDB lacks width_bucket).

    Scale: map-side bucketing + hash agg on (type, bucket) — tiny key
    space, so partial aggregation collapses nearly everything before
    the one narrow shuffle."""
    events = load_table(spark, sf_dir, "events")
    width = (HIST_HI - HIST_LO) / HIST_BUCKETS
    bucket = F.least(
        F.greatest(F.floor((F.col("value") - HIST_LO) / width), F.lit(-1)),
        F.lit(HIST_BUCKETS),
    ).cast("int")
    return events.groupBy("event_type", bucket.alias("bucket")).agg(
        F.count("*").alias("n"),
        F.round(F.min("value"), 6).alias("lo"),
        F.round(F.max("value"), 6).alias("hi"),
    )


@register(
    "null_semantics",
    sql="""
WITH x AS (
  SELECT event_id,
         CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v,
         CASE WHEN event_id % 3 = 0 THEN NULL ELSE value END AS w
  FROM events WHERE event_id < 2000
)
SELECT count(*) AS n_rows,
       count(v) AS n_v,
       CAST(sum(CASE WHEN v IS NOT DISTINCT FROM w THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null_safe_eq,
       CAST(sum(CASE WHEN coalesce(v, w, -1) = -1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_both_null,
       CAST(sum(CASE WHEN nullif(v, w) IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_nullif_null,
       round(avg(v), 6) AS avg_v_ignoring_nulls
FROM x
""",
)
def null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-semantics parity pack: null-safe equality (<=>), COALESCE
    fallback chains, NULLIF, and aggregate null-skipping — the SQL
    corners that silently diverge between engines (and that replace the
    reference's 'NA'-string sentinel convention,
    parse_canserver_filtered_log.py:199,285, with real NULLs). Pure
    map-side expressions + one scalar aggregate."""
    events = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    x = events.select(
        "event_id",
        F.when(F.col("event_type") == "error", F.lit(None)).otherwise(F.col("value")).alias("v"),
        F.when(F.col("event_id") % 3 == 0, F.lit(None)).otherwise(F.col("value")).alias("w"),
    )
    return x.agg(
        F.count("*").alias("n_rows"),
        F.count("v").alias("n_v"),
        F.sum(F.col("v").eqNullSafe(F.col("w")).cast("int")).cast("long").alias("n_null_safe_eq"),
        F.sum((F.coalesce("v", "w", F.lit(-1)) == -1).cast("int")).cast("long").alias("n_both_null"),
        F.sum(F.isnull(F.nullif("v", "w")).cast("int")).cast("long").alias("n_nullif_null"),
        F.round(F.avg("v"), 6).alias("avg_v_ignoring_nulls"),
    )


@register(
    "sliding_window_rates",
    sql="""
WITH slid AS (
  SELECT user_id, value,
         time_bucket(INTERVAL 15 MINUTE, ts) - TO_MINUTES(15 * k) AS w_start
  FROM events, unnest([0, 1, 2, 3]) AS t(k)
)
SELECT epoch_us(w_start) AS w_start_us,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       round(CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE)
             / (100.0 * count(*)), 6) AS avg_value
FROM slid
WHERE w_start >= (SELECT time_bucket(INTERVAL 15 MINUTE, min(ts)) FROM events)
GROUP BY w_start
""",
)
def sliding_window_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) windows — 1-hour span every 15 minutes, the
    rate/monitoring shape W5's tumbling buckets can't express: each
    event contributes to 4 overlapping windows. `F.window(ts, '1 hour',
    '15 minutes')` expands the windows inside the scan stage (a Generate,
    like stack()) BEFORE the hash agg's map-side partials, so the
    4× row expansion never ships raw; the oracle derives the same
    window starts by hand (time_bucket − k·15min). Windows clipped to
    those fully inside the data range on both sides — Spark emits
    partial leading windows, the clip makes the contract explicit."""
    events = load_table(spark, sf_dir, "events")
    lo = events.agg(F.min("ts").alias("mn"))
    # avg aggregates exact integer cents (associative) and divides once
    # — the money-mean determinism rule (SCALE.md §7): unrounded double
    # means differ by summation-order ulps across engines while landing
    # on .5 rounding boundaries constantly (caught at sf0.1)
    cents = F.round(F.col("value") * 100, 0).cast("long")
    return (
        events.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
            F.round(
                F.sum(cents).cast("double") / (100.0 * F.count("*")), 6
            ).alias("avg_value"),
        )
        .join(
            F.broadcast(lo),
            F.col("w.start") >= F.timestamp_seconds(
                (F.unix_timestamp(F.col("mn")) / 900).cast("long") * 900
            ),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("w_start_us"),
            "n_events",
            "n_users",
            "avg_value",
        )
    )


@register(
    "mode_by_group",
    sql="""
SELECT l_returnflag,
       mode(l_linestatus ORDER BY l_linestatus) AS status_mode,
       mode(CAST(l_quantity AS INT) ORDER BY CAST(l_quantity AS INT)) AS qty_mode,
       count(*) AS n
FROM lineitem
GROUP BY l_returnflag
""",
)
def mode_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical mode per group (deterministic: ties resolve to the
    smallest value in both engines). Spark's mode() takes a boolean
    deterministic flag; DuckDB orders the tie with an aggregate ORDER
    BY — same contract.

    Scale: mode is a hash agg over (group, value) then an argmax —
    Spark executes it as a single aggregate with an internal map;
    cardinality is bounded by distinct values per group."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("mode(l_linestatus, true)").alias("status_mode"),
        F.expr("mode(CAST(l_quantity AS INT), true)").alias("qty_mode"),
        F.count("*").alias("n"),
    )


@register(
    "map_ops_roundtrip",
    sql="""
WITH agg AS (
  SELECT user_id, event_type, round(avg(value), 6) AS avg_v
  FROM events WHERE user_id < 100 GROUP BY user_id, event_type
),
m AS (
  SELECT user_id, map_from_entries(list(ROW(event_type, avg_v))) AS tv
  FROM agg GROUP BY user_id
)
SELECT user_id,
       unnest(map_keys(tv)) AS event_type,
       round(unnest(map_values(tv)) * 2, 6) AS doubled_avg,
       cardinality(tv) AS n_types
FROM m
""",
)
def map_ops_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType higher-order surface: rows → map_from_entries →
    transform_values → explode back to rows. The map round-trip is the
    shape device-state payloads take in the reference's gold documents
    (infer_autopilot_states.py:91-95 keys events by state name); here
    the whole trip stays JVM-side.

    Scale: one hash agg builds per-user maps (bounded by distinct event
    types); transform_values/explode are per-row expressions — no extra
    shuffle after the agg."""
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 100)
    agg = e.groupBy("user_id", "event_type").agg(F.round(F.avg("value"), 6).alias("avg_v"))
    m = agg.groupBy("user_id").agg(
        F.map_from_entries(F.collect_list(F.struct("event_type", "avg_v"))).alias("tv")
    )
    doubled = m.select(
        "user_id",
        F.transform_values("tv", lambda _, v: F.round(v * 2, 6)).alias("tv2"),
        F.size("tv").cast("long").alias("n_types"),
    )
    return doubled.select(
        "user_id",
        F.explode("tv2").alias("event_type", "doubled_avg"),
        "n_types",
    ).select("user_id", "event_type", "doubled_avg", "n_types")


@register(
    "regression_aggregates",
    sql="""
SELECT event_type,
       CAST(regr_count(value, CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT)
         AS n,
       round(regr_slope(value, CAST(json_extract(props, '$.k') AS INTEGER)), 6)
         AS slope,
       round(regr_intercept(value, CAST(json_extract(props, '$.k') AS INTEGER)), 6)
         AS intercept,
       round(regr_avgx(value, CAST(json_extract(props, '$.k') AS INTEGER)), 6)
         AS avg_x,
       round(regr_avgy(value, CAST(json_extract(props, '$.k') AS INTEGER)), 6)
         AS avg_y
FROM events
GROUP BY event_type
""",
)
def regression_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-standard linear-regression aggregates (regr_slope/intercept/
    avgx/avgy/count) of signal value against the JSON payload's k field
    — the trend-extraction step a telemetry dashboard derives per
    channel, computed by the engine instead of exporting to Python.

    Scale: regr_* are algebraic aggregates (sums/products) — map-side
    partials combine in one shuffle like any avg; no second pass."""
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    pairs = e.select("event_type", F.col("value").alias("y"), k.alias("x"))
    return pairs.groupBy("event_type").agg(
        F.regr_count("y", "x").cast("long").alias("n"),
        F.round(F.regr_slope("y", "x"), 6).alias("slope"),
        F.round(F.regr_intercept("y", "x"), 6).alias("intercept"),
        F.round(F.regr_avgx("y", "x"), 6).alias("avg_x"),
        F.round(F.regr_avgy("y", "x"), 6).alias("avg_y"),
    )


@register(
    "bool_bit_aggregates",
    sql="""
SELECT l_returnflag,
       bool_and(l_quantity > 1) AS all_multi,
       bool_or(l_discount > 0.09) AS any_deep_discount,
       bit_and(CAST(l_quantity AS BIGINT)) AS qty_bit_and,
       bit_or(CAST(l_quantity AS BIGINT)) AS qty_bit_or,
       bit_xor(CAST(l_quantity AS BIGINT)) AS qty_bit_xor
FROM lineitem
GROUP BY l_returnflag
""",
)
def bool_bit_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logical and bitwise aggregate breadth: bool_and/bool_or (ANSI
    every/any) and bit_and/bit_or/bit_xor. bit_xor is the classic
    set-reconciliation trick — xor of two replicas' key sets is zero
    iff they hold identical keys, a one-number table-diff at 100 TB.

    Scale: all five are algebraic — constant-size partial state,
    map-side combine, one shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("long")
    return li.groupBy("l_returnflag").agg(
        F.bool_and(F.col("l_quantity") > 1).alias("all_multi"),
        F.bool_or(F.col("l_discount") > 0.09).alias("any_deep_discount"),
        F.bit_and(q).alias("qty_bit_and"),
        F.bit_or(q).alias("qty_bit_or"),
        F.bit_xor(q).alias("qty_bit_xor"),
    )


@register(
    "profile_columns",
    sql="""
SELECT 'event_type' AS col_name,
       count(*) - count(event_type) AS n_nulls,
       count(DISTINCT event_type) AS n_distinct,
       min(event_type) AS min_s, max(event_type) AS max_s
FROM events
UNION ALL
SELECT 'user_id', count(*) - count(user_id), count(DISTINCT user_id),
       CAST(min(user_id) AS VARCHAR), CAST(max(user_id) AS VARCHAR)
FROM events
UNION ALL
SELECT 'value', count(*) - count(value), count(DISTINCT round(value, 6)),
       CAST(round(min(value), 6) AS VARCHAR), CAST(round(max(value), 6) AS VARCHAR)
FROM events
UNION ALL
SELECT 'ts_us', count(*) - count(ts), count(DISTINCT ts),
       CAST(min(epoch_us(ts)) AS VARCHAR), CAST(max(epoch_us(ts)) AS VARCHAR)
FROM events
""",
)
def profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling audit: per-column null count, distinct count, and
    min/max — the ingest-time data-quality gate (the reference silently
    writes 'NA' sentinels, parse_canserver_filtered_log.py:199; a
    profile row is how you notice).

    Scale: one scan per profiled set via a multi-count-distinct agg
    (Catalyst expands distinct aggregates into one shared Exchange);
    min/max piggyback as algebraic partials. String-typed min/max keep
    one output schema across column types."""
    e = load_table(spark, sf_dir, "events")

    def one(col_name: str, c, distinct_c=None, fmt=None):
        distinct_c = distinct_c if distinct_c is not None else c
        fmt = fmt or (lambda x: x.cast("string"))
        return e.agg(
            F.lit(col_name).alias("col_name"),
            (F.count("*") - F.count(c)).alias("n_nulls"),
            F.count_distinct(distinct_c).alias("n_distinct"),
            fmt(F.min(c)).alias("min_s"),
            fmt(F.max(c)).alias("max_s"),
        )

    rounded = F.round(F.col("value"), 6)
    return (
        one("event_type", F.col("event_type"))
        .unionByName(one("user_id", F.col("user_id")))
        .unionByName(
            one(
                "value",
                F.col("value"),
                distinct_c=rounded,
                fmt=lambda x: F.round(x, 6).cast("string"),
            )
        )
        .unionByName(
            one(
                "ts_us",
                F.col("ts"),
                fmt=lambda x: F.unix_micros(x).cast("string"),
            )
        )
    )


@register(
    "ns_fuzzy_name_pairs",
    sql="""
WITH names AS (SELECT DISTINCT p_name FROM part),
b AS (SELECT p_name, string_split(p_name, ' ')[2] AS blk FROM names)
SELECT a.p_name AS name_a, c.p_name AS name_b,
       CAST(levenshtein(a.p_name, c.p_name) AS INT) AS dist
FROM b a JOIN b c ON a.blk = c.blk AND a.p_name < c.p_name
WHERE levenshtein(a.p_name, c.p_name) <= 4
""",
)
def ns_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution by blocked fuzzy join: candidate pairs share a
    blocking key (the head noun), then Levenshtein distance verifies —
    the dedup move for NAMES, where shingle/minhash dedup is too coarse
    (a one-letter typo is a near-identical entity, not a 0.3-Jaccard
    stranger).

    Scale: never all-pairs — the block key bounds the self-join to
    within-block candidates (classic blocking); distance runs only on
    candidates. Skewed blocks get a second key (first char, length
    band) exactly like LSH band tuning."""
    names = load_table(spark, sf_dir, "part").select("p_name").distinct()
    b = names.withColumn("blk", F.split(F.col("p_name"), " ")[1])
    a, c = b.alias("a"), b.alias("c")
    dist = F.levenshtein(F.col("a.p_name"), F.col("c.p_name"))
    return (
        a.join(
            c,
            (F.col("a.blk") == F.col("c.blk"))
            & (F.col("a.p_name") < F.col("c.p_name")),
        )
        .select(
            F.col("a.p_name").alias("name_a"),
            F.col("c.p_name").alias("name_b"),
            dist.cast("int").alias("dist"),
        )
        .filter(F.col("dist") <= 4)
    )


MIN_PAIR_SUPPORT = 50  # orders containing both brands


@register(
    "market_basket_rules",
    sql=f"""
WITH items AS (
  SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS b
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
n AS (SELECT CAST(count(DISTINCT o) AS DOUBLE) AS n FROM items),
cnt AS (SELECT b, CAST(count(*) AS DOUBLE) AS c FROM items GROUP BY b),
pair AS (
  SELECT a.b AS ba, c.b AS bb, CAST(count(*) AS DOUBLE) AS cab
  FROM items a JOIN items c ON a.o = c.o AND a.b < c.b
  GROUP BY a.b, c.b
)
SELECT ba AS brand_a, bb AS brand_b, CAST(cab AS BIGINT) AS n_ab,
       round(cab / n.n, 6) AS support,
       round(cab / ca.c, 6) AS confidence,
       round((cab / ca.c) / (cb.c / n.n), 6) AS lift
FROM pair CROSS JOIN n
JOIN cnt ca ON ba = ca.b
JOIN cnt cb ON bb = cb.b
WHERE cab >= {MIN_PAIR_SUPPORT}
""",
)
def market_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining (support / confidence / lift) over order
    baskets at brand granularity — the classic co-occurrence analytic,
    done with joins + aggs instead of a specialized FP-growth pass.

    Scale: the pair self-join is WITHIN basket (equi-key on order id),
    so pair cardinality is Σ k_i² over basket sizes — bounded by small
    baskets, never |items|². Brand/total counts are tiny and broadcast
    back onto the pair table; min-support prunes before the rule math."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    from matt3r_data_ingestion_serverless_spark.plans.northstar import _pin

    # One wide shuffle total: collect each basket's distinct brands into
    # a sorted array (collect_set dedups in the partial agg, replacing
    # the old items.distinct() pre-shuffle), then generate ordered pairs
    # SCAN-SIDE by zipping the array with its own tails — the within-
    # basket self-join this replaces shuffled the items table twice
    # (measured 2.4 s → ~1.2 s at sf0.1). Pair cardinality is still
    # Σ k_i² over basket sizes; it just never crosses the wire unpaired.
    baskets = _pin(
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.col("l_orderkey").alias("o"))
        .agg(F.sort_array(F.collect_set(F.col("p_brand"))).alias("bs"))
    )
    n = baskets.select(F.count("*").cast("double").alias("n"))
    cnt = (
        baskets.select(F.explode("bs").alias("b"))
        .groupBy("b")
        .agg(F.count("*").cast("double").alias("c"))
    )
    pair = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(bs, (x, i) ->"
                    " transform(slice(bs, i + 2, size(bs)),"
                    "           y -> struct(x AS ba, y AS bb))))"
                )
            ).alias("pr")
        )
        .groupBy(F.col("pr.ba").alias("ba"), F.col("pr.bb").alias("bb"))
        .agg(F.count("*").cast("double").alias("cab"))
        .filter(F.col("cab") >= MIN_PAIR_SUPPORT)
    )
    ca = cnt.select(F.col("b").alias("ba"), F.col("c").alias("c_a"))
    cb = cnt.select(F.col("b").alias("bb"), F.col("c").alias("c_b"))
    return (
        pair.crossJoin(F.broadcast(n))
        .join(F.broadcast(ca), "ba")
        .join(F.broadcast(cb), "bb")
        .select(
            F.col("ba").alias("brand_a"),
            F.col("bb").alias("brand_b"),
            F.col("cab").cast("long").alias("n_ab"),
            F.round(F.col("cab") / F.col("n"), 6).alias("support"),
            F.round(F.col("cab") / F.col("c_a"), 6).alias("confidence"),
            F.round((F.col("cab") / F.col("c_a")) / (F.col("c_b") / F.col("n")), 6).alias(
                "lift"
            ),
        )
    )


_SALT_BUCKETS = 16


@register(
    "salted_skew_join",
    sql="""
WITH skewed AS (
  SELECT event_id, value,
         CASE WHEN user_id % 10 < 8 THEN 0 ELSE user_id END AS hot_key
  FROM events
),
dim AS (SELECT DISTINCT hot_key, concat('grp-', hot_key) AS label FROM skewed)
SELECT d.label, count(*) AS n_events, round(sum(s.value), 4) AS total_value
FROM skewed s JOIN dim d ON s.hot_key = d.hot_key
GROUP BY d.label
""",
)
def salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated join: 80% of events hash to ONE hot key (the
    planted worst case). The fact side adds a deterministic salt, the
    dimension replicates ×16 salts, and the join runs on (key, salt) —
    splitting the hot key across 16 tasks instead of one straggler.
    The oracle is the UNSALTED join: salting must be semantically
    invisible.

    Scale: this is the manual fallback when AQE's skew-join splitting
    can't apply (e.g. the build side is replicated anyway, or the skew
    is in a shuffle-agg). Salt count trades replication bandwidth for
    parallelism; 16 salts caps the hot task at ~5% of rows here."""
    e = load_table(spark, sf_dir, "events")
    skewed = e.select(
        "event_id",
        "value",
        F.when(F.col("user_id") % 10 < 8, F.lit(0))
        .otherwise(F.col("user_id"))
        .alias("hot_key"),
    )
    dim = skewed.select("hot_key").distinct().withColumn(
        "label", F.concat(F.lit("grp-"), F.col("hot_key"))
    )
    salts = spark.range(_SALT_BUCKETS).select(F.col("id").cast("int").alias("salt"))
    dim_rep = dim.crossJoin(F.broadcast(salts))
    fact = skewed.withColumn("salt", (F.col("event_id") % _SALT_BUCKETS).cast("int"))
    return (
        fact.join(dim_rep, ["hot_key", "salt"])
        .groupBy("label")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


WEIGHTED_SAMPLE_K = 50
_U_DENOM = float(1 << 60)  # md5_hash64 yields 60-bit ints


@register(
    "ns_sample_weighted",
    sql=f"""
WITH keyed AS (
  SELECT doc_id, n_chars,
         round(pow(({md5_hash64_sql("cast(doc_id AS VARCHAR) || 'wsalt'")} + 1)
                   / {_U_DENOM}, 1.0 / n_chars), 9) AS k
  FROM documents
),
ranked AS (
  SELECT doc_id, n_chars,
         row_number() OVER (ORDER BY k DESC, doc_id) AS rnk
  FROM keyed
)
SELECT doc_id, n_chars, rnk FROM ranked WHERE rnk <= {WEIGHTED_SAMPLE_K}
""",
)
def ns_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis):
    key = u^(1/w) with u an md5-derived uniform and w = n_chars; the
    top-k keys ARE a w-weighted sample. Deterministic — no RNG state,
    reproducible across engines and re-runs, re-drawable with a new
    salt — the weighted counterpart of ns_sample_hash_bucket.

    Scale: one map-side key computation + a top-k (WindowGroupLimit
    keeps only k rows per partition before the single-partition final
    rank — no global sort of the corpus). Keys round to 9 dp with a
    doc_id tiebreak so cross-engine pow() ulps can't reorder the
    boundary."""
    docs = load_table(spark, sf_dir, "documents")
    u = (md5_hash64(F.concat(F.col("doc_id").cast("string"), F.lit("wsalt"))) + 1) / F.lit(
        _U_DENOM
    )
    keyed = docs.select(
        "doc_id",
        "n_chars",
        F.round(F.pow(u, 1.0 / F.col("n_chars")), 9).alias("k"),
    )
    w = Window.orderBy(F.desc("k"), F.asc("doc_id"))
    return (
        keyed.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= WEIGHTED_SAMPLE_K)
        .select("doc_id", "n_chars", "rnk")
    )


@register(
    "benford_digit_audit",
    sql="""
WITH d AS (
  SELECT CAST(substr(CAST(CAST(floor(l_extendedprice) AS BIGINT) AS VARCHAR), 1, 1)
              AS INT) AS digit
  FROM lineitem WHERE l_extendedprice >= 1
),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM d)
SELECT digit,
       count(*) AS n_obs,
       round(count(*) / n.n, 6) AS observed_p,
       round(log10(1.0 + 1.0 / digit), 6) AS benford_p,
       round(abs(count(*) / n.n - log10(1.0 + 1.0 / digit)), 6) AS abs_dev
FROM d CROSS JOIN n
GROUP BY digit, n.n
""",
)
def benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over monetary values — the
    fraud/synthetic-data smell test: natural multiplicative quantities
    follow P(d) = log10(1 + 1/d); a flat or spiked digit histogram
    flags generated or truncated data (this corpus IS synthetic, and
    the audit shows exactly how).

    Scale: one scan, one 9-group hash agg; the total-count cross join
    broadcasts a single row."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_extendedprice") >= 1)
    d = li.select(
        F.substring(
            F.floor(F.col("l_extendedprice")).cast("long").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    n = d.agg(F.count("*").cast("double").alias("n"))
    obs = F.col("cnt") / F.col("n")
    benford = F.log10(1.0 + 1.0 / F.col("digit"))
    return (
        d.groupBy("digit")
        .agg(F.count("*").alias("cnt"))
        .crossJoin(F.broadcast(n))
        .select(
            "digit",
            F.col("cnt").alias("n_obs"),
            F.round(obs, 6).alias("observed_p"),
            F.round(benford, 6).alias("benford_p"),
            F.round(F.abs(obs - benford), 6).alias("abs_dev"),
        )
    )


@register(
    "ri_orphan_audit",
    sql="""
SELECT 'lineitem->orders' AS fk_edge,
       (SELECT count(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
         AS n_orphans,
       (SELECT count(*) FROM lineitem) AS n_rows
UNION ALL
SELECT 'orders->customer',
       (SELECT count(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
       (SELECT count(*) FROM orders)
UNION ALL
SELECT 'lineitem->part',
       (SELECT count(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)),
       (SELECT count(*) FROM lineitem)
""",
)
def ri_orphan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphan counts along every foreign-key
    edge of the star schema (left-anti joins) — the load-time gate that
    catches partial ingests and broken upstream extracts before a join
    silently drops rows.

    Scale: each edge is one broadcast left join counted with a
    conditional aggregate (match-is-null ⇒ orphan) — one pass per fact
    scan, no wide shuffle, no driver-side counting; the three 1-row
    results union into the report."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    p = load_table(spark, sf_dir, "part")

    def edge(name, fact, dim, fk, pk):
        probe = dim.select(F.col(pk).alias("__pk"))
        return (
            fact.join(F.broadcast(probe), fact[fk] == probe["__pk"], "left")
            .agg(
                F.lit(name).alias("fk_edge"),
                F.sum(F.when(F.col("__pk").isNull(), 1).otherwise(0))
                .cast("long")
                .alias("n_orphans"),
                F.count("*").alias("n_rows"),
            )
        )

    return (
        edge("lineitem->orders", li, o, "l_orderkey", "o_orderkey")
        .unionByName(edge("orders->customer", o, c, "o_custkey", "c_custkey"))
        .unionByName(edge("lineitem->part", li, p, "l_partkey", "p_partkey"))
    )


@register(
    "equidepth_histogram",
    sql="""
WITH b AS (
  SELECT l_extendedprice AS v,
         ntile(10) OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber)
           AS bin
  FROM lineitem
)
SELECT bin, count(*) AS n,
       round(min(v), 6) AS lo, round(max(v), 6) AS hi
FROM b GROUP BY bin
""",
)
def equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quantile) histogram via ntile: 10 bins of equal row
    count with their value ranges — the optimizer-statistics shape
    (range-partition boundaries, CBO histograms) exposed as a query;
    complements the fixed-width `value_histogram`.

    Scale: one global sort feeds ntile. Exact equi-depth is what range
    partitioning already computes via sampling; for a statistics pass
    prefer approx_percentile boundaries (no sort) and count between
    them — same table, two narrow passes. Deterministic: total order
    includes the row key."""
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
    b = li.select(F.col("l_extendedprice").alias("v"), F.ntile(10).over(w).alias("bin"))
    return b.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.round(F.min("v"), 6).alias("lo"),
        F.round(F.max("v"), 6).alias("hi"),
    )


@register(
    "percentile_disc_by_status",
    sql="""
SELECT o_orderstatus,
       round(quantile_disc(o_totalprice, 0.25), 6) AS p25,
       round(quantile_disc(o_totalprice, 0.5), 6) AS p50,
       round(quantile_disc(o_totalprice, 0.75), 6) AS p75,
       count(*) AS n
FROM orders GROUP BY o_orderstatus
""",
)
def percentile_disc_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete percentiles (SQL:2016 percentile_disc WITHIN GROUP):
    the returned value is an ACTUAL member of the group — the right
    quantile for latencies/prices where an interpolated midpoint is a
    value no row ever had (percentile_cont's `quantiles_by_flag` is
    the interpolating twin).

    Scale: per-group sort bounded by group size; for unbounded groups
    the approx sketch path applies unchanged."""
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders_pd")
    return spark.sql(
        """
SELECT o_orderstatus,
       round(percentile_disc(0.25) WITHIN GROUP (ORDER BY o_totalprice), 6) AS p25,
       round(percentile_disc(0.5)  WITHIN GROUP (ORDER BY o_totalprice), 6) AS p50,
       round(percentile_disc(0.75) WITHIN GROUP (ORDER BY o_totalprice), 6) AS p75,
       count(*) AS n
FROM orders_pd GROUP BY o_orderstatus
"""
    )


@register(
    "topk_with_ties",
    sql="""
WITH r AS (
  SELECT o_custkey, o_orderkey, o_totalprice,
         rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS rnk
  FROM orders
)
SELECT o_custkey, o_orderkey, round(o_totalprice, 6) AS price, rnk
FROM r WHERE rnk <= 2
""",
)
def topk_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k WITH TIES per group (rank, not row_number): every order
    tied at the k-th price survives — the SQL:2008 FETCH WITH TIES
    semantics, vs topk_per_group's exactly-k row_number cut.

    Scale: rank() still plans a WindowGroupLimit (rank-based limits
    push the k-filter below the exchange since Spark 3.5), so only
    candidate rows shuffle — same plan property the strict top-k
    enjoys."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"))
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 6).alias("price"),
            F.rank().over(w).alias("rnk"),
        )
        .filter(F.col("rnk") <= 2)
    )


@register(
    "dow_hour_heatmap",
    sql="""
SELECT CAST(isodow(ts) AS INT) AS dow,
       CAST(hour(ts) AS INT) AS hod,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users
FROM events GROUP BY isodow(ts), hour(ts)
""",
)
def dow_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour-of-day activity heatmap (ISO dow, Monday=1) —
    the ops-dashboard matrix behind load forecasting and maintenance
    windows. Pure counts: no float surface at all.

    Scale: one hash agg over a 7×24-key space — partials collapse
    essentially everything map-side; output is ≤168 rows at any data
    volume."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.dayofweek("ts").alias("_dw"),  # Sunday=1 in Spark
            F.hour("ts").cast("int").alias("hod"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
        )
        # Spark dayofweek: Sunday=1..Saturday=7 → ISO Monday=1..Sunday=7
        .select(
            (((F.col("_dw") + 5) % 7) + 1).cast("int").alias("dow"),
            "hod",
            "n_events",
            "n_users",
        )
    )


@register(
    "monthly_yoy_growth",
    sql="""
WITH m AS (
  SELECT CAST(year(o_orderdate) AS INT) AS y, CAST(month(o_orderdate) AS INT) AS mo,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
  FROM orders GROUP BY year(o_orderdate), month(o_orderdate)
),
l AS (
  SELECT y, mo, revenue,
         lag(revenue, 12) OVER (ORDER BY y, mo) AS prev_year
  FROM m
)
SELECT y, mo, revenue, prev_year,
       round((revenue - prev_year) / prev_year, 6) AS yoy_growth
FROM l WHERE prev_year IS NOT NULL
""",
)
def monthly_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year monthly revenue growth: DECIMAL-exact monthly
    sums, then lag(12) over the month series — the standard financial
    comparison. The growth ratio is one IEEE division of two
    exact-decimal-derived doubles, so it is engine- and
    partitioning-deterministic.

    Scale: months are tiny post-agg (the window runs on |months| rows);
    the only wide work is the monthly hash agg with map-side partials."""
    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(
        F.year("o_orderdate").cast("int").alias("y"),
        F.month("o_orderdate").cast("int").alias("mo"),
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue")
    )
    w = Window.orderBy("y", "mo")
    l = m.withColumn("prev_year", F.lag("revenue", 12).over(w))
    return l.filter(F.col("prev_year").isNotNull()).select(
        "y",
        "mo",
        "revenue",
        "prev_year",
        F.round((F.col("revenue") - F.col("prev_year")) / F.col("prev_year"), 6).alias(
            "yoy_growth"
        ),
    )


@register(
    "brand_share_of_total",
    sql="""
WITH b AS (
  SELECT p_brand,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
  FROM lineitem JOIN part ON p_partkey = l_partkey
  GROUP BY p_brand
)
SELECT p_brand, revenue,
       round(revenue / sum(revenue) OVER (), 6) AS share
FROM b
""",
)
def brand_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total by brand: per-brand DECIMAL-exact revenue over
    an empty-frame window total — the share-of-wallet report shape.
    The share is one division of exact-decimal-derived doubles.

    Scale: the unpartitioned total-window runs on |brands| post-agg
    rows (a one-row exchange), never on the fact table; the fact side
    pays exactly one hash agg behind a broadcast part join."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    b = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue")
        )
    )
    w = Window.partitionBy()
    return b.select(
        "p_brand",
        "revenue",
        F.round(F.col("revenue") / F.sum("revenue").over(w), 6).alias("share"),
    )


@register(
    "abc_pareto_classification",
    sql="""
WITH r AS (
  SELECT p_brand,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
  FROM lineitem JOIN part ON p_partkey = l_partkey
  GROUP BY p_brand
),
c AS (
  SELECT p_brand, revenue,
         sum(revenue) OVER (ORDER BY revenue DESC, p_brand
                            ROWS UNBOUNDED PRECEDING) AS cum,
         sum(revenue) OVER () AS total
  FROM r
)
SELECT p_brand, revenue,
       round(cum / total, 6) AS cum_share,
       CASE WHEN cum / total <= 0.8 THEN 'A'
            WHEN cum / total <= 0.95 THEN 'B'
            ELSE 'C' END AS abc_class
FROM c
""",
)
def abc_pareto_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) classification: brands ranked by revenue, classed by
    cumulative share (A ≤ 80%, B ≤ 95%, C rest) — the 80/20 inventory
    segmentation. Sums are DECIMAL-exact; the running total adds exact
    doubles in ONE defined order (the window's), so cum/total is
    engine-deterministic.

    Scale: all windows run on the |brands|-row post-agg table; the
    fact table pays one hash agg behind a broadcast join."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    r = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue")
        )
    )
    wc = Window.orderBy(F.desc("revenue"), F.asc("p_brand")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wt = Window.partitionBy()
    c = r.select(
        "p_brand",
        "revenue",
        (F.sum("revenue").over(wc) / F.sum("revenue").over(wt)).alias("cs"),
    )
    return c.select(
        "p_brand",
        "revenue",
        F.round("cs", 6).alias("cum_share"),
        F.when(F.col("cs") <= 0.8, "A")
        .when(F.col("cs") <= 0.95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )
