"""Round-4 batch 24: business-day lead times and functional-dependency
discovery.

Two operator families: lead times measured in BUSINESS days (the
calendar arithmetic every SLA report needs and every engine makes
painful), and restricted functional-dependency discovery (the
Metanome-style A→B violation profile that finds broken key
assumptions before they break joins).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.functions.rounding import round6, round6_sql
from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# business-day lead times
# ---------------------------------------------------------------------------

# weekdays in (d1, d2]: full weeks contribute 5; the r = n%7 remainder
# positions p = isodow(d1)+1 .. isodow(d1)+r contain a weekend day at
# p ∈ {6, 7, 13} (13 = the next Saturday, reachable only from a Sunday
# start with r = 6) — counted with three explicit range tests so each
# weekend slot is tested independently (a thresholds-only CASE
# miscounts the Sunday-start week). Identical text in both engines.
_BDAYS = """(
  (CAST(d2 - d1 AS BIGINT) // 7) * 5
  + (CAST(d2 - d1 AS BIGINT) % 7)
  - (CASE WHEN isodow(d1) < 6
           AND isodow(d1) + (CAST(d2 - d1 AS BIGINT) % 7) >= 6
          THEN 1 ELSE 0 END
     + CASE WHEN isodow(d1) < 7
             AND isodow(d1) + (CAST(d2 - d1 AS BIGINT) % 7) >= 7
            THEN 1 ELSE 0 END
     + CASE WHEN isodow(d1) + (CAST(d2 - d1 AS BIGINT) % 7) >= 13
            THEN 1 ELSE 0 END)
)"""

_BDAYS_SQL = f"""
WITH li AS (
  SELECT o.o_orderpriority AS priority,
         CAST(o.o_orderdate AS DATE) AS d1,
         CAST(l.l_shipdate AS DATE) AS d2
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_linenumber = 1
),
b AS (SELECT priority, {_BDAYS} AS bdays FROM li WHERE d2 > d1)
SELECT priority, count(*) AS n,
       min(bdays) AS min_bdays, max(bdays) AS max_bdays,
       {round6_sql('CAST(sum(bdays) AS DOUBLE) / count(*)')} AS avg_bdays_r
FROM b GROUP BY priority
"""


@register("ops_business_days_leadtime", sql=_BDAYS_SQL)
def ops_business_days_leadtime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order→shipment lead time (linenumber-1 line items; the synthetic
    data repeats line numbers, so this is per-line) in BUSINESS days
    per priority:
    full weeks contribute 5 days and the remainder is corrected for
    weekend crossings by the start weekday — closed-form weekday
    arithmetic (no calendar table, no per-day explode), the SLA
    measurement finance/ops reports actually want (a Friday→Monday
    'gap' is 1 business day, not 3). Both engines evaluate the
    IDENTICAL integer CASE, validated against a per-day python count.

    Scale: one equi-join (order key) + one groupBy(priority); the
    business-day expression is pure integer codegen — contrast with
    the calendar-table explode, which multiplies rows by lead-time
    length."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_linenumber") == 1)
        .select("l_orderkey", F.to_date("l_shipdate").alias("d2"))
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"),
        F.col("o_orderpriority").alias("priority"),
        F.to_date("o_orderdate").alias("d1"),
    )
    j = li.join(o, "l_orderkey").filter(F.col("d2") > F.col("d1"))
    diff = F.datediff("d2", "d1").cast("long")
    isodow1 = ((F.dayofweek("d1") + 5) % 7) + 1
    rem = diff % 7
    weekend_hits = (
        F.when((isodow1 < 6) & (isodow1 + rem >= 6), 1).otherwise(0)
        + F.when((isodow1 < 7) & (isodow1 + rem >= 7), 1).otherwise(0)
        + F.when(isodow1 + rem >= 13, 1).otherwise(0)
    )
    bdays = F.floor(diff / 7) * 5 + rem - weekend_hits
    b = j.select("priority", bdays.alias("bdays"))
    return b.groupBy("priority").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("bdays").alias("min_bdays"),
        F.max("bdays").alias("max_bdays"),
        round6(F.sum("bdays").cast("double") / F.count(F.lit(1))).alias(
            "avg_bdays_r"
        ),
    )


# ---------------------------------------------------------------------------
# functional-dependency discovery
# ---------------------------------------------------------------------------

_FD_CANDIDATES = (
    ("event_id", "user_id"),  # should hold: event_id is the PK
    ("event_id", "event_type"),  # should hold
    ("user_id", "event_type"),  # should fail: users mix types
    ("event_type", "user_id"),  # should fail
)


def _fd_sql() -> str:
    branches = []
    for a, b in _FD_CANDIDATES:
        branches.append(
            f"""
  SELECT '{a}' AS lhs, '{b}' AS rhs,
         count(*) AS n_keys,
         sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS n_violating,
         sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0 AS holds
  FROM (SELECT {a}, count(DISTINCT {b}) AS nd FROM events GROUP BY {a})"""
        )
    return "WITH x AS (SELECT 1)\n" + " UNION ALL ".join(branches)


@register("dq_functional_dependencies", sql=_fd_sql())
def dq_functional_dependencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restricted functional-dependency discovery (Metanome-style, over
    a candidate list): for each A→B candidate, count LHS keys mapping
    to more than one RHS value — the profile that verifies assumed keys
    (event_id → user_id must hold) and exposes broken ones
    (user_id → event_type must not) before a join silently fans out.

    Scale: each candidate is one groupBy(A) with a distinct-count
    aggregate — the same shape as the PK-uniqueness audit, over a
    constant candidate list."""
    ev = load_table(spark, sf_dir, "events")
    out = None
    for a, b in _FD_CANDIDATES:
        g = ev.groupBy(a).agg(F.countDistinct(b).alias("nd"))
        row = g.agg(
            F.lit(a).alias("lhs"),
            F.lit(b).alias("rhs"),
            F.count(F.lit(1)).alias("n_keys"),
            F.sum(F.when(F.col("nd") > 1, 1).otherwise(0)).alias("n_violating"),
            (F.sum(F.when(F.col("nd") > 1, 1).otherwise(0)) == 0).alias("holds"),
        )
        out = row if out is None else out.union(row)
    return out
