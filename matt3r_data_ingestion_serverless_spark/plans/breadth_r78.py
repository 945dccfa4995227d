"""Round-4 batch 6: OHLC bar aggregation, positional phrase matching,
LOCF gap-fill imputation, and keyset pagination.

Four more named operator families: time-series bar construction (the
first/last-by-time aggregate every market/telemetry store exposes),
the positional-postings phrase query (what separates a search engine
from a bag-of-words index), last-observation-carried-forward
imputation (the standard sensor-gap repair), and keyset pagination
(the cursor pattern that replaces OFFSET at scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.functions.rounding import CENTS_SQL
from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table, spread


# ---------------------------------------------------------------------------
# OHLC daily bars
# ---------------------------------------------------------------------------

_OHLC_SQL = f"""
WITH c AS (
  SELECT CAST(ts AS DATE) AS day,
         lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
           || lpad(CAST(event_id AS VARCHAR), 10, '0') AS ord_key,
         {CENTS_SQL} AS cents
  FROM events WHERE value IS NOT NULL
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       count(*) AS n_ticks,
       arg_min(cents, ord_key) AS open_cents,
       max(cents) AS high_cents,
       min(cents) AS low_cents,
       arg_max(cents, ord_key) AS close_cents,
       sum(cents) AS volume_cents
FROM c GROUP BY day
"""


@register("ohlc_daily_bars", sql=_OHLC_SQL)
def ohlc_daily_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bar construction: per day, the first (open) and last
    (close) observed value by event time plus high/low/volume — the
    downsampling aggregate every market-data and telemetry store runs
    to turn tick streams into bars. Open/close are argmin/argmax over
    the TOTAL order (ts, event_id), so simultaneous ticks break ties
    identically in both engines; values ride integer cents.

    The time-order key is a zero-padded (epoch-µs, event_id) string —
    lexicographic = numeric order, portable to engines whose arg_min
    lacks composite keys. Scale: ONE hash aggregate with map-side
    partials — min_by/max_by are algebraic (each partial keeps its
    best (key, value) pair), so
    a day's billion ticks reduce within their scan tasks and one tiny
    row per (partition, day) shuffles. No window, no sort — the
    row_number-then-filter formulation would sort every day's ticks."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    c = ev.select(
        F.to_date("ts").alias("day"),
        F.concat(
            F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
            F.lpad(F.col("event_id").cast("string"), 10, "0"),
        ).alias("o"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    return c.groupBy("day").agg(
        F.count("*").alias("n_ticks"),
        F.min_by("cents", "o").alias("open_cents"),
        F.max("cents").alias("high_cents"),
        F.min("cents").alias("low_cents"),
        F.max_by("cents", "o").alias("close_cents"),
        F.sum("cents").alias("volume_cents"),
    ).select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_ticks",
        "open_cents",
        "high_cents",
        "low_cents",
        "close_cents",
        "volume_cents",
    )


# ---------------------------------------------------------------------------
# positional phrase match
# ---------------------------------------------------------------------------

_PHRASE = ("value", "table")

_PHRASE_SQL = f"""
WITH pos AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
         unnest(range(1, len(string_split(text, ' ')) + 1)) AS p
  FROM documents
),
hits AS (
  SELECT a.doc_id, a.p AS at_pos
  FROM pos a JOIN pos b
    ON a.doc_id = b.doc_id AND b.p = a.p + 1
  WHERE a.w = '{_PHRASE[0]}' AND b.w = '{_PHRASE[1]}'
)
SELECT doc_id, count(*) AS n_hits, min(at_pos) AS first_pos,
       max(at_pos) AS last_pos
FROM hits GROUP BY doc_id
"""


@register("phrase_match_positional", sql=_PHRASE_SQL)
def phrase_match_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional phrase query — the operator that separates a search
    engine from a bag-of-words index: find documents containing the
    exact phrase by intersecting POSITIONAL postings (term A at p,
    term B at p+1), reporting hit counts and first/last positions.

    Spark-first: the postings table explodes map-side with posexplode
    (term filter applied in the same stage, so only the two query
    terms' postings survive the scan); the adjacency check is one
    equi-join on (doc, position+1). At index scale the postings are
    the stored table and the phrase join touches only the query
    terms' posting lists — precisely Lucene's phrase-scorer access
    pattern expressed relationally.

    Scale: filter-before-shuffle means the join input is |postings of
    the two terms|, not the corpus; the join key (doc_id, pos) is
    unique per side — no expansion."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    pos = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("p0", "w")
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "w")
    a = pos.filter(F.col("w") == _PHRASE[0]).select("doc_id", F.col("p").alias("pa"))
    b = pos.filter(F.col("w") == _PHRASE[1]).select(
        "doc_id", (F.col("p") - 1).alias("pa")
    )
    hits = a.join(b, ["doc_id", "pa"])
    return hits.groupBy("doc_id").agg(
        F.count("*").alias("n_hits"),
        F.min("pa").alias("first_pos"),
        F.max("pa").alias("last_pos"),
    )


# ---------------------------------------------------------------------------
# LOCF gap-fill imputation
# ---------------------------------------------------------------------------

_LOCF_SQL = f"""
WITH s AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
         CASE WHEN event_id % 7 = 0 THEN NULL ELSE {CENTS_SQL} END AS cents
  FROM events
),
filled AS (
  SELECT user_id, cents,
         last_value(cents IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf
  FROM s
)
SELECT user_id,
       count(*) AS n_events,
       sum(CASE WHEN cents IS NULL THEN 1 ELSE 0 END) AS n_missing,
       sum(CASE WHEN cents IS NULL AND locf IS NOT NULL THEN 1 ELSE 0 END)
         AS n_imputed,
       sum(locf) AS sum_filled_cents
FROM filled GROUP BY user_id
"""


@register("locf_imputation", sql=_LOCF_SQL)
def locf_imputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward imputation: missing readings
    take the user's most recent non-null value (the step-function
    repair every sensor/telemetry pipeline applies before aggregating;
    leading nulls stay null — there is nothing to carry). The
    generated events table has no nulls, so missingness is a
    DETERMINISTIC dropout mask (event_id % 7 = 0 → reading lost),
    declared identically in both dialects — the same synthetic-but-
    deterministic fixture discipline as the CDC log. Implemented with
    last(..., ignorenulls) over the running frame — one window, no
    self-join, no gap enumeration.

    Scale: one shuffle on user_id; the frame is running (growing), so
    Spark evaluates it in a single pass per partition with O(1) state
    — contrast a 'find previous non-null via self-join' formulation,
    which is O(n·gap). Totals ride integer cents."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        F.when(
            F.col("event_id") % 7 != 0,
            F.round(F.col("value") * 100, 0).cast("long"),
        ).alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = s.withColumn("locf", F.last("cents", ignorenulls=True).over(w))
    return filled.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(F.when(F.col("cents").isNull(), 1).otherwise(0)).alias("n_missing"),
        F.sum(
            F.when(F.col("cents").isNull() & F.col("locf").isNotNull(), 1).otherwise(0)
        ).alias("n_imputed"),
        F.sum("locf").alias("sum_filled_cents"),
    )


# ---------------------------------------------------------------------------
# keyset pagination
# ---------------------------------------------------------------------------

_PAGE_SIZE = 50
_PAGES = 3

_KEYSET_SQL = f"""
WITH ranked AS (
  SELECT o_orderkey, o_custkey,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
         row_number() OVER (
           ORDER BY CAST(round(o_totalprice * 100, 0) AS BIGINT) DESC,
                    o_orderkey
         ) AS rn
  FROM orders
)
SELECT CAST((rn - 1) // {_PAGE_SIZE} + 1 AS INT) AS page,
       o_orderkey, o_custkey, cents
FROM ranked WHERE rn <= {_PAGE_SIZE * _PAGES}
"""


@register("keyset_pagination_pages", sql=_KEYSET_SQL)
def keyset_pagination_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset (cursor) pagination: the first three pages of orders by
    (price DESC, key) — the access pattern that replaces OFFSET at
    scale, because each page's cursor is the last row's key tuple and
    the next page is a pure range predicate on the stored sort order.
    Batch formulation: one top-(pages·size) with page numbers derived
    from the rank.

    Scale: Spark plans the rank cutoff as WindowGroupLimit /
    TakeOrderedAndProject — per-partition top-150 heaps, one 150-row
    merge; the full sort the naive OFFSET query implies never
    happens. On a keyset-served table, page N+1's predicate
    ((cents, key) < cursor) pushes down to the parquet scan and reads
    one file."""
    orders = load_table(spark, sf_dir, "orders")
    ranked = orders.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    ).withColumn(
        "rn",
        F.row_number().over(Window.orderBy(F.desc("cents"), F.asc("o_orderkey"))),
    )
    return ranked.filter(F.col("rn") <= _PAGE_SIZE * _PAGES).select(
        (((F.col("rn") - 1) / _PAGE_SIZE).cast("int") + 1).alias("page"),
        "o_orderkey",
        "o_custkey",
        "cents",
    )
