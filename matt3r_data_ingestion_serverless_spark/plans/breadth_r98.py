"""Round-4 batch 26: two-round stump boosting.

Gradient boosting with depth-1 trees (fit a stump, fit a second stump
on the residuals — the additive-model loop behind GBDT).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.functions.rounding import round6, round6_sql
from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table

_CENTS = "CAST(floor(value * 100 + 0.5) AS BIGINT)"
_SPLIT = "2024-01-16 00:00:00"

# ---------------------------------------------------------------------------
# two-round stump boosting
# ---------------------------------------------------------------------------

_BOOST_NU = 0.5  # learning rate (power of two)


def _boost_sql() -> str:
    # stump fit on residual column r over feature x: best threshold by
    # SSE from prefix sums; emits (thr, mean_left, mean_right)
    def stump(src: str, out: str) -> str:
        return f"""
{out}_ord AS (
  SELECT x, r,
         sum(r) OVER w AS cr, count(*) OVER w AS i,
         sum(r) OVER () AS tr, count(*) OVER () AS n,
         sum(r * r) OVER w AS crr, sum(r * r) OVER () AS trr,
         lead(x) OVER w AS next_x
  FROM {src}
  WINDOW w AS (ORDER BY x, uid ROWS UNBOUNDED PRECEDING)
),
{out}_cand AS (
  SELECT x, next_x, i, n, cr, tr,
         (crr - cr * cr / i) + ((trr - crr) - (tr - cr) * (tr - cr) / (n - i))
           AS sse
  FROM {out}_ord WHERE next_x IS NOT NULL AND next_x > x
),
{out} AS (
  SELECT (x + next_x) / 2.0 AS thr,
         cr / i AS mean_l,
         (tr - cr) / (n - i) AS mean_r
  FROM {out}_cand
  ORDER BY floor(sse * 1e6 + 0.5) ASC, x ASC LIMIT 1
)"""

    return f"""
WITH pu AS (
  SELECT user_id AS uid,
         CAST(sum(CASE WHEN ts < TIMESTAMP '{_SPLIT}' THEN {_CENTS} ELSE 0 END)
              AS DOUBLE) / 100 AS x,
         CAST(sum(CASE WHEN ts >= TIMESTAMP '{_SPLIT}' THEN {_CENTS} ELSE 0 END)
              AS DOUBLE) / 100 AS y
  FROM events GROUP BY user_id
),
base AS (SELECT sum(y) / count(*) AS f0 FROM pu),
r1 AS (SELECT uid, x, y - base.f0 AS r FROM pu, base),
{stump('r1', 's1')},
r2 AS (
  SELECT r1.uid, r1.x,
         r1.r - {_BOOST_NU} * CASE WHEN r1.x <= s1.thr THEN s1.mean_l
                                   ELSE s1.mean_r END AS r
  FROM r1, s1
),
{stump('r2', 's2')},
m AS (
  SELECT sqrt(sum(r1.r * r1.r) / count(*)) AS rmse0,
         sqrt(sum(r2.r * r2.r) / count(*)) AS rmse1
  FROM r1 JOIN r2 USING (uid)
),
m2 AS (
  SELECT sqrt(sum(pow(r2.r - {_BOOST_NU} * CASE WHEN r2.x <= s2.thr
                        THEN s2.mean_l ELSE s2.mean_r END, 2)) / count(*))
           AS rmse2
  FROM r2, s2
)
SELECT {round6_sql('s1.thr')} AS thr1_r, {round6_sql('s2.thr')} AS thr2_r,
       {round6_sql('m.rmse0')} AS rmse_base_r,
       {round6_sql('m.rmse1')} AS rmse_after1_r,
       {round6_sql('m2.rmse2')} AS rmse_after2_r
FROM s1, s2, m, m2
"""


@register("ml_boosting_two_stumps", sql=_boost_sql())
def ml_boosting_two_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gradient boosting with depth-1 trees, two rounds (ν = 0.5):
    start from the mean, fit the SSE-optimal stump to the residuals,
    shrink, refit on the NEW residuals — the additive-model loop every
    GBDT library iterates, expressed as two passes of the same sorted
    prefix-sum split search as ml_cart_root_split with the residual
    column carried between rounds. Reported: both thresholds and the
    RMSE after 0/1/2 rounds (non-increasing by construction of the
    argmin — asserted in tests).

    Scale: per round one global sort + running sums + TakeOrdered
    top-1, then a broadcast 1-row stump join to update residuals.
    Residuals are dollars (double); the argmin compares micro-rounded
    SSE so a sum-order ulp cannot flip the split."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    split = F.lit(_SPLIT).cast("timestamp")
    pu = (
        ev.groupBy(F.col("user_id").alias("uid"))
        .agg(
            (
                F.sum(F.when(F.col("ts") < split, cents).otherwise(0)).cast("double")
                / 100
            ).alias("x"),
            (
                F.sum(F.when(F.col("ts") >= split, cents).otherwise(0)).cast("double")
                / 100
            ).alias("y"),
        )
        .localCheckpoint(eager=True)
    )
    # explicit sum/count (DuckDB's avg is Kahan-compensated — §7 trap)
    base = pu.agg((F.sum("y") / F.count(F.lit(1))).alias("f0"))
    cur = pu.join(F.broadcast(base)).select(
        "uid", "x", (F.col("y") - F.col("f0")).alias("r")
    # lazy checkpoint: the rmse aggregate right below materializes it —
    # one job instead of ckpt + collect (see operators/iterate.py)
    ).localCheckpoint(eager=False)

    def fit_stump(df: DataFrame) -> DataFrame:
        w = Window.orderBy("x", "uid").rowsBetween(Window.unboundedPreceding, 0)
        wall = Window.partitionBy()
        wo = Window.orderBy("x", "uid")
        ordd = df.select(
            "x",
            F.sum("r").over(w).alias("cr"),
            F.count(F.lit(1)).over(w).alias("i"),
            F.sum("r").over(wall).alias("tr"),
            F.count(F.lit(1)).over(wall).alias("n"),
            F.sum(F.col("r") * F.col("r")).over(w).alias("crr"),
            F.sum(F.col("r") * F.col("r")).over(wall).alias("trr"),
            F.lead("x").over(wo).alias("next_x"),
        )
        cand = ordd.filter(
            F.col("next_x").isNotNull() & (F.col("next_x") > F.col("x"))
        ).select(
            "x",
            "next_x",
            (
                (F.col("crr") - F.col("cr") * F.col("cr") / F.col("i"))
                + (
                    (F.col("trr") - F.col("crr"))
                    - (F.col("tr") - F.col("cr"))
                    * (F.col("tr") - F.col("cr"))
                    / (F.col("n") - F.col("i"))
                )
            ).alias("sse"),
            (F.col("cr") / F.col("i")).alias("mean_l"),
            ((F.col("tr") - F.col("cr")) / (F.col("n") - F.col("i"))).alias(
                "mean_r"
            ),
        )
        return (
            cand.orderBy(F.asc(F.floor(F.col("sse") * 1e6 + 0.5)), F.asc("x"))
            .limit(1)
            .select(
                ((F.col("x") + F.col("next_x")) / 2.0).alias("thr"),
                "mean_l",
                "mean_r",
            )
        )

    rmses = [cur.agg(F.sqrt(F.sum(F.col("r") * F.col("r")) / F.count(F.lit(1)))).collect()[0][0]]
    thrs = []
    for _ in range(2):
        # The stump was ALREADY collected for the report; inline its
        # three bounded scalars as literals instead of checkpointing a
        # 1-row DataFrame and re-attaching it with a broadcast cross
        # join (the pagerank scalar-fold, r09) — same IEEE doubles
        # (F.lit round-trips the collected float bit-exactly), two
        # fewer jobs per round and no 1-row exchange in the plan.
        srow = fit_stump(cur).collect()[0]
        thrs.append(srow.thr)
        cur = cur.select(
            "uid",
            "x",
            (
                F.col("r")
                - _BOOST_NU
                * F.when(
                    F.col("x") <= F.lit(srow.thr), F.lit(srow.mean_l)
                ).otherwise(F.lit(srow.mean_r))
            ).alias("r"),
        ).localCheckpoint(eager=False)
        rmses.append(
            cur.agg(
                F.sqrt(F.sum(F.col("r") * F.col("r")) / F.count(F.lit(1)))
            ).collect()[0][0]
        )
    return spark.createDataFrame(
        [(thrs[0], thrs[1], rmses[0], rmses[1], rmses[2])],
        "thr1 double, thr2 double, rmse0 double, rmse1 double, rmse2 double",
    ).select(
        round6(F.col("thr1")).alias("thr1_r"),
        round6(F.col("thr2")).alias("thr2_r"),
        round6(F.col("rmse0")).alias("rmse_base_r"),
        round6(F.col("rmse1")).alias("rmse_after1_r"),
        round6(F.col("rmse2")).alias("rmse_after2_r"),
    )
