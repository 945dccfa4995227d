"""Round-2 batch 26: ClickHouse-style windowFunnel depth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# windowFunnel: max signup→click→purchase depth with 1-hour step gaps
# ---------------------------------------------------------------------------

_WF_GAP_US = 3_600_000_000

_WF_SQL = f"""
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
  WHERE event_type IN ('signup', 'click', 'purchase')
),
d1 AS (SELECT DISTINCT user_id FROM e WHERE event_type = 'signup'),
d2 AS (
  SELECT DISTINCT c.user_id
  FROM e c JOIN e s
    ON s.user_id = c.user_id AND s.event_type = 'signup' AND c.event_type = 'click'
   AND c.us > s.us AND c.us - s.us <= {_WF_GAP_US}
),
d3 AS (
  SELECT DISTINCT p.user_id
  FROM e p
  JOIN e c ON c.user_id = p.user_id AND c.event_type = 'click'
          AND p.event_type = 'purchase' AND p.us > c.us
          AND p.us - c.us <= {_WF_GAP_US}
  JOIN e s ON s.user_id = c.user_id AND s.event_type = 'signup'
          AND c.us > s.us AND c.us - s.us <= {_WF_GAP_US}
),
depth AS (
  SELECT d1.user_id,
         1 + CASE WHEN d2.user_id IS NOT NULL THEN 1 ELSE 0 END
           + CASE WHEN d3.user_id IS NOT NULL THEN 1 ELSE 0 END AS naive,
         CASE WHEN d3.user_id IS NOT NULL THEN 3
              WHEN d2.user_id IS NOT NULL THEN 2 ELSE 1 END AS depth
  FROM d1 LEFT JOIN d2 USING (user_id) LEFT JOIN d3 USING (user_id)
)
SELECT depth, CAST(count(*) AS BIGINT) AS n_users
FROM depth GROUP BY depth
"""


@register("window_funnel_depth", _WF_SQL)
def window_funnel_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """windowFunnel semantics (the ClickHouse operator): each user's
    maximum signup→click→purchase depth where every consecutive step
    happens within ONE HOUR of the previous — funnel_conversion
    requires order only; the step-gap constraint is what separates an
    intent chain from coincidence. Depth-k membership is a k-way
    self-join on (user, type) with the gap predicate (hash join on
    user + range filter — no range-join fallback); users are deduped
    per depth and the final histogram is 3 rows. At 100 TB each join
    input is pre-filtered to one event type — the selective-scan
    shape."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.filter(F.col("event_type").isin("signup", "click", "purchase")).select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    s = e.filter(F.col("event_type") == "signup").select(
        F.col("user_id").alias("uid"), F.col("us").alias("s_us")
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("uid"), F.col("us").alias("c_us")
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("uid"), F.col("us").alias("p_us")
    )
    d1 = s.select("uid").distinct()
    sc = s.join(c, "uid").filter(
        (F.col("c_us") > F.col("s_us")) & (F.col("c_us") - F.col("s_us") <= _WF_GAP_US)
    )
    d2 = sc.select("uid").distinct()
    d3 = (
        sc.join(p, "uid")
        .filter(
            (F.col("p_us") > F.col("c_us")) & (F.col("p_us") - F.col("c_us") <= _WF_GAP_US)
        )
        .select("uid")
        .distinct()
    )
    depth = (
        d1.join(d2.withColumn("h2", F.lit(1)), "uid", "left")
        .join(d3.withColumn("h3", F.lit(1)), "uid", "left")
        .select(
            F.when(F.col("h3").isNotNull(), 3)
            .when(F.col("h2").isNotNull(), 2)
            .otherwise(1)
            .alias("depth")
        )
    )
    return depth.groupBy("depth").agg(F.count("*").cast("long").alias("n_users"))
