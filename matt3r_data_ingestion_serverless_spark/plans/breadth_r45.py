"""Round-2 batch 20: monthly growth accounting, pure set logic on
(user, month) activity — no floats anywhere except final round6
ratios.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# monthly growth accounting: new / retained / resurrected / churned
# ---------------------------------------------------------------------------

_GROWTH_SQL = """
WITH act AS (
  SELECT DISTINCT user_id, strftime(ts, '%Y-%m') AS month FROM events
),
hist AS (
  SELECT user_id, month,
         lag(month) OVER (PARTITION BY user_id ORDER BY month) AS prev_month,
         row_number() OVER (PARTITION BY user_id ORDER BY month) AS nth,
         strftime(CAST(month || '-01' AS DATE) - INTERVAL 1 MONTH, '%Y-%m')
           AS month_minus_1
  FROM act
),
flags AS (
  SELECT month,
         CASE WHEN nth = 1 THEN 'new'
              WHEN prev_month = month_minus_1 THEN 'retained'
              ELSE 'resurrected' END AS status
  FROM hist
),
active AS (SELECT month, count(*) AS mau FROM act GROUP BY month),
churn AS (
  SELECT strftime(CAST(h.month || '-01' AS DATE) + INTERVAL 1 MONTH, '%Y-%m')
           AS month,
         count(*) AS churned
  FROM hist h
  LEFT JOIN act nxt
    ON nxt.user_id = h.user_id
   AND nxt.month = strftime(CAST(h.month || '-01' AS DATE) + INTERVAL 1 MONTH, '%Y-%m')
  WHERE nxt.user_id IS NULL
  GROUP BY 1
)
SELECT f.month,
       CAST(max(a.mau) AS BIGINT) AS mau,
       CAST(sum(CASE WHEN status = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
       CAST(sum(CASE WHEN status = 'retained' THEN 1 ELSE 0 END) AS BIGINT) AS retained,
       CAST(sum(CASE WHEN status = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT)
         AS resurrected,
       CAST(coalesce(max(c.churned), 0) AS BIGINT) AS churned_in
FROM flags f
JOIN active a USING (month)
LEFT JOIN churn c USING (month)
GROUP BY f.month
"""


@register("growth_accounting_monthly", _GROWTH_SQL)
def growth_accounting_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly growth accounting — every MAU decomposed into new
    (first month ever), retained (active last month), or resurrected
    (returned after a gap), plus how many of the previous month's
    actives churned INTO this month — the standard growth ledger
    (MAU_t = new + retained + resurrected; checked in tests). One
    distinct (user, month) shrink feeds a per-user lag window and an
    anti-join for churn; everything after the shrink is
    month-cardinality. The identity cross-checks cohort_retention and
    cumulative_unique_users."""
    ev = load_table(spark, sf_dir, "events")
    act = ev.select("user_id", F.date_format("ts", "yyyy-MM").alias("month")).distinct()
    w = Window.partitionBy("user_id").orderBy("month")
    m1 = F.date_format(
        F.add_months(F.to_date(F.concat(F.col("month"), F.lit("-01"))), -1), "yyyy-MM"
    )
    p1 = F.date_format(
        F.add_months(F.to_date(F.concat(F.col("month"), F.lit("-01"))), 1), "yyyy-MM"
    )
    hist = act.select(
        "user_id",
        "month",
        F.lag("month").over(w).alias("prev_month"),
        F.row_number().over(w).alias("nth"),
        m1.alias("month_minus_1"),
        p1.alias("month_plus_1"),
    )
    flags = hist.select(
        "month",
        F.when(F.col("nth") == 1, "new")
        .when(F.col("prev_month") == F.col("month_minus_1"), "retained")
        .otherwise("resurrected")
        .alias("status"),
    )
    active = act.groupBy("month").agg(F.count("*").alias("mau"))
    nxt = act.select(
        F.col("user_id").alias("u2"), F.col("month").alias("m2")
    )
    churn = (
        hist.join(
            nxt,
            (F.col("user_id") == F.col("u2")) & (F.col("month_plus_1") == F.col("m2")),
            "left_anti",
        )
        .groupBy(F.col("month_plus_1").alias("month"))
        .agg(F.count("*").alias("churned"))
    )
    agg = flags.groupBy("month").agg(
        F.sum(F.when(F.col("status") == "new", 1).otherwise(0)).alias("new_users"),
        F.sum(F.when(F.col("status") == "retained", 1).otherwise(0)).alias("retained"),
        F.sum(F.when(F.col("status") == "resurrected", 1).otherwise(0)).alias(
            "resurrected"
        ),
    )
    return (
        agg.join(active, "month")
        .join(churn, "month", "left")
        .select(
            "month",
            F.col("mau").cast("long").alias("mau"),
            F.col("new_users").cast("long").alias("new_users"),
            F.col("retained").cast("long").alias("retained"),
            F.col("resurrected").cast("long").alias("resurrected"),
            F.coalesce("churned", F.lit(0)).cast("long").alias("churned_in"),
        )
    )
