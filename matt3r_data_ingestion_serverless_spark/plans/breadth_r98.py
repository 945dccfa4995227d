"""Round-4 batch 26: two-round stump boosting and binary segmentation.

Two recursive-partitioning operator families: gradient boosting with
depth-1 trees (fit a stump, fit a second stump on the residuals — the
additive-model loop behind GBDT), and binary segmentation of the
hourly series (find the best changepoint, then the best changepoint
within each half — the classic multiple-changepoint search built on
the same prefix-sum split machinery as the CART root).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.functions.rounding import round6, round6_sql
from matt3r_data_ingestion_serverless_spark.plans.breadth_r81 import (
    _SLOTS_CTE_SQL,
    hourly_slots,
)
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


# ---------------------------------------------------------------------------
# binary segmentation of the hourly series
# ---------------------------------------------------------------------------


def _binseg_sql() -> str:
    def seg(src: str, out: str, lo: str, hi: str) -> str:
        # best split point of s[lo, hi) minimizing two-piece SSE
        return f"""
{out}_w AS (
  SELECT slot, n,
         sum(n) OVER w AS cy, sum(n * n) OVER w AS cyy,
         row_number() OVER w AS i,
         count(*) OVER () AS m,
         sum(n) OVER () AS ty, sum(n * n) OVER () AS tyy
  FROM {src} WHERE slot >= {lo} AND slot < {hi}
  WINDOW w AS (ORDER BY slot ROWS UNBOUNDED PRECEDING)
),
{out} AS (
  SELECT slot AS cut,
         (cyy - CAST(cy AS DOUBLE) * cy / i)
           + ((tyy - cyy) - CAST(ty - cy AS DOUBLE) * (ty - cy) / (m - i)) AS sse
  FROM {out}_w WHERE i < m
  ORDER BY floor(((cyy - CAST(cy AS DOUBLE) * cy / i)
           + ((tyy - cyy) - CAST(ty - cy AS DOUBLE) * (ty - cy) / (m - i)))
           * 1e6 + 0.5) ASC, slot ASC
  LIMIT 1
)"""

    return f"""
WITH {_SLOTS_CTE_SQL},
{seg('s', 'c1', '0', '512')},
{seg('s', 'c2l', '0', '(SELECT cut + 1 FROM c1)')},
{seg('s', 'c2r', '(SELECT cut + 1 FROM c1)', '512')}
SELECT 1 AS seg_round, c1.cut AS cut_slot, {round6_sql('c1.sse')} AS sse_r FROM c1
UNION ALL SELECT 2, c2l.cut, {round6_sql('c2l.sse')} FROM c2l
UNION ALL SELECT 3, c2r.cut, {round6_sql('c2r.sse')} FROM c2r
"""


@register("ts_binary_segmentation", sql=_binseg_sql())
def ts_binary_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary segmentation changepoint search on the 512-slot hourly
    series: find the split minimizing two-piece SSE, then recurse once
    into each half — the standard multiple-changepoint detector
    (Scott-Knott / binseg) built from the same prefix-sum split search
    as the CART/stump family, on the TIME axis instead of a feature.
    Counts are exact integers; the argmin compares micro-rounded SSE.

    Scale: each segment search is one ordered prefix pass over the
    (support-sized) slot frame + a TakeOrdered top-1; recursion depth
    is the changepoint budget, a constant."""
    s = hourly_slots(spark, sf_dir).localCheckpoint(eager=True)

    def best_cut(lo: int, hi: int):
        w = Window.orderBy("slot").rowsBetween(Window.unboundedPreceding, 0)
        wall = Window.partitionBy()
        seg = s.filter((F.col("slot") >= lo) & (F.col("slot") < hi))
        ordd = seg.select(
            "slot",
            F.sum("n").over(w).alias("cy"),
            F.sum(F.col("n") * F.col("n")).over(w).alias("cyy"),
            F.row_number().over(Window.orderBy("slot")).alias("i"),
            F.count(F.lit(1)).over(wall).alias("m"),
            F.sum("n").over(wall).alias("ty"),
            F.sum(F.col("n") * F.col("n")).over(wall).alias("tyy"),
        )
        sse = (
            F.col("cyy") - F.col("cy").cast("double") * F.col("cy") / F.col("i")
        ) + (
            (F.col("tyy") - F.col("cyy"))
            - (F.col("ty") - F.col("cy")).cast("double")
            * (F.col("ty") - F.col("cy"))
            / (F.col("m") - F.col("i"))
        )
        rows = (
            ordd.filter(F.col("i") < F.col("m"))
            .select("slot", sse.alias("sse"))
            .orderBy(F.asc(F.floor(F.col("sse") * 1e6 + 0.5)), F.asc("slot"))
            .limit(1)
            .collect()
        )
        return (rows[0].slot, rows[0].sse) if rows else None

    out = []
    c1 = best_cut(0, 512)
    out.append((1, c1[0], c1[1]))
    # a boundary cut leaves a half with < 2 slots — no split exists
    # there, and the oracle's LIMIT 1 over the empty branch emits no
    # row; mirror that
    for rnd, rng in ((2, (0, c1[0] + 1)), (3, (c1[0] + 1, 512))):
        c = best_cut(*rng)
        if c is not None:
            out.append((rnd, c[0], c[1]))
    return spark.createDataFrame(
        out, "seg_round INT, cut_slot BIGINT, sse DOUBLE"
    ).select("seg_round", "cut_slot", round6(F.col("sse")).alias("sse_r"))
