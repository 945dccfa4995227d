"""Round-4 batch 19: data-completeness auditing and named-window SQL
surface parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.functions.rounding import round6, round6_sql
from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# data-completeness grid (expected vs observed cells)
# ---------------------------------------------------------------------------

_COMPLETENESS_SQL = f"""
WITH present AS (
  SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         count(DISTINCT hour(ts)) AS hours_present,
         count(*) AS n_events
  FROM events GROUP BY 1, 2
),
spans AS (
  SELECT event_type, min(day) AS d0, max(day) AS d1 FROM present GROUP BY 1
)
SELECT p.event_type, p.day,
       CAST(p.hours_present AS INT) AS hours_present,
       CAST(24 - p.hours_present AS INT) AS hours_missing,
       CAST(p.n_events AS BIGINT) AS n_events,
       {round6_sql("CAST(p.hours_present AS DOUBLE) / 24")} AS completeness,
       p.day = s.d0 OR p.day = s.d1 AS is_edge_day
FROM present p JOIN spans s ON p.event_type = s.event_type
"""


@register("data_completeness_grid", _COMPLETENESS_SQL)
def data_completeness_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-completeness audit: per (channel, day), how many of the 24
    hourly cells actually contain data — the ingestion-health heatmap
    every telemetry pipeline publishes (a silently dead device or a
    dropped hour shows up as missing cells long before any metric
    drifts; edge days are flagged because partial first/last days are
    expected). The auditing COMPLEMENT of ts_gap_fill_locf — that one
    repairs gaps, this one reports them.

    One agg with an exact distinct-hour count per (channel, day); the
    per-channel span rollup broadcasts back. At scale the grid is
    days×channels rows — dashboard-sized regardless of event volume."""
    ev = load_table(spark, sf_dir, "events")
    present = ev.groupBy(
        "event_type",
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day"),
    ).agg(
        F.count_distinct(F.hour("ts")).alias("hours_present"),
        F.count("*").alias("n_events"),
    )
    spans = present.groupBy("event_type").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    j = present.join(F.broadcast(spans), "event_type")
    return j.select(
        "event_type",
        "day",
        F.col("hours_present").cast("int").alias("hours_present"),
        (24 - F.col("hours_present")).cast("int").alias("hours_missing"),
        F.col("n_events").cast("long").alias("n_events"),
        round6(F.col("hours_present").cast("double") / 24).alias("completeness"),
        ((F.col("day") == F.col("d0")) | (F.col("day") == F.col("d1"))).alias(
            "is_edge_day"
        ),
    )


# ---------------------------------------------------------------------------
# named WINDOW clause parity (SQL surface)
# ---------------------------------------------------------------------------

_NAMED_WINDOW_SQL = """
SELECT o_custkey,
       CAST(rank() OVER w AS INT) AS spend_rank,
       CAST(lag(cents) OVER w AS BIGINT) AS next_lower_cents,
       CAST(cents AS BIGINT) AS cents
FROM (
  SELECT o_custkey,
         sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS cents
  FROM orders GROUP BY o_custkey
)
WINDOW w AS (ORDER BY cents DESC, o_custkey)
QUALIFY rank() OVER w <= 100
"""

# Spark has no QUALIFY — express the same query with the named WINDOW
# clause plus an outer filter; DuckDB runs the QUALIFY form.
_NAMED_WINDOW_SPARK = """
SELECT * FROM (
  SELECT o_custkey,
         CAST(rank() OVER w AS INT) AS spend_rank,
         CAST(lag(cents) OVER w AS BIGINT) AS next_lower_cents,
         CAST(cents AS BIGINT) AS cents
  FROM (
    SELECT o_custkey,
           sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS cents
    FROM {table} GROUP BY o_custkey
  )
  WINDOW w AS (ORDER BY cents DESC, o_custkey)
)
WHERE spend_rank <= 100
"""


@register("sql_named_window", _NAMED_WINDOW_SQL)
def sql_named_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-surface parity for the named WINDOW clause: two window
    functions (rank + lag) share one `WINDOW w AS (...)` definition —
    the deduplication that keeps multi-function analytic queries
    readable AND guarantees both functions use the identical
    sort/partition spec (a silent divergence hazard when each OVER is
    written out). Run through spark.sql to exercise the parser path;
    the oracle additionally uses DuckDB's QUALIFY where Spark needs a
    subquery filter — documenting exactly where the dialects part.

    Top-100 spenders with each one's next-lower neighbour; ranked on
    exact cents with custkey tie-break, so the cutoff is total-ordered."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_nw")
    return spark.sql(_NAMED_WINDOW_SPARK.format(table="orders_nw"))
