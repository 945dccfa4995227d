"""Round-4 batch 23: bisection exact median and IRLS logistic
regression.

Two operator families: the counting-bisection exact median (the
2-pass-per-round algorithm that computes exact order statistics at
scales where a sort or an exact percentile buffer would not fit), and
two Newton/IRLS steps of a logistic regression trained relationally
(the GLM loop as aggregates).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.functions.rounding import round6, round6_sql
from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table

_CENTS = "CAST(floor(value * 100 + 0.5) AS BIGINT)"

# ---------------------------------------------------------------------------
# exact median by counting bisection
# ---------------------------------------------------------------------------

_MEDIAN_SQL = f"""
WITH v AS (SELECT {_CENTS} AS c FROM events WHERE value IS NOT NULL),
n AS (SELECT count(*) AS n, CAST(ceil(count(*) / 2.0) AS BIGINT) AS target FROM v),
r AS (
  SELECT v.c, count(*) OVER (ORDER BY v.c ROWS UNBOUNDED PRECEDING) AS cum, n.target
  FROM v, n
)
SELECT min(c) AS median_cents,
       (SELECT n FROM n) AS n_values
FROM r WHERE cum >= target
"""


@register("exact_median_bisection", sql=_MEDIAN_SQL)
def exact_median_bisection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT lower median of the value distribution by counting
    bisection: binary-search the integer-cent domain, each probe ONE
    count(c ≤ mid) aggregate, until the interval pins the smallest cent
    whose CDF reaches ⌈n/2⌉ — the classic algorithm for exact order
    statistics at scales where neither a sort nor an exact-percentile
    buffer fits an executor (log₂(domain) ≈ 23 cheap scans, each a
    map-side count; with an initial min/max pass the probes could also
    batch into one conditional-sum scan). The oracle computes the same
    lower median by an ordered cumulative count.

    Driver state is two integers (lo, hi) — the loop is control flow,
    not data movement."""
    v = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(F.floor(F.col("value") * 100 + 0.5).cast("long").alias("c"))
        # lazy: the bounds aggregate right below materializes it — one
        # job instead of ckpt + agg (see operators/iterate.py)
        .localCheckpoint(eager=False)
    )
    bounds = v.agg(
        F.min("c").alias("lo"), F.max("c").alias("hi"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    lo, hi, n = bounds.lo, bounds.hi, bounds.n
    target = math.ceil(n / 2.0)
    # multi-way bisection: probe 63 pivots per pass as ONE conditional-sum
    # aggregate (the batching the docstring's parenthetical promises) —
    # the interval shrinks 64x per scan instead of 2x, so the same exact
    # answer needs log64(domain) ≈ 3 jobs instead of log2(domain) ≈ 23
    # sequential count jobs (r09 ran 8-way ≈ 8 jobs; the conditional sums
    # are map-side and 63 of them cost the same scan as 7). Driver state
    # stays two integers.
    #
    # Degenerate tail intervals (hi - lo < _WAYS): the pivot set
    # comprehension collapses duplicates and can include lo itself; both
    # are harmless — a pivot equal to lo either pins new_hi = lo (count
    # already ≥ target) or advances new_lo = lo + 1, so every pass still
    # strictly shrinks [lo, hi] and the invariant (answer ∈ [lo, hi],
    # CDF(hi) ≥ target) is untouched; the interval just shrinks by less
    # than 64x on the last pass.
    _WAYS = 64
    while lo < hi:
        pivots = sorted({lo + (hi - lo) * i // _WAYS for i in range(1, _WAYS)})
        counts = v.agg(
            *[
                F.sum(F.when(F.col("c") <= p, 1).otherwise(0)).alias(f"c{j}")
                for j, p in enumerate(pivots)
            ]
        ).collect()[0]
        new_lo, new_hi = lo, hi
        for j, p in enumerate(pivots):
            # select by alias, not position: the c{j} aliases are bound
            # to sorted-pivot enumeration order above — name access keeps
            # that binding explicit (ADVICE r09 #4)
            if counts[f"c{j}"] >= target:
                new_hi = p
                break
            new_lo = p + 1
        lo, hi = new_lo, new_hi
    return spark.createDataFrame(
        [(lo, n)], "median_cents BIGINT, n_values BIGINT"
    )


# ---------------------------------------------------------------------------
# logistic regression, two IRLS steps
# ---------------------------------------------------------------------------

_IRLS_STEPS = 2
_IRLS_SPLIT = "2024-01-16 00:00:00"
# feature scale: pre-period spend in kilodollars keeps beta*x O(1), so
# cross-engine last-ulp drift in beta does not amplify through sigmoid
_IRLS_XSCALE = 100000.0


def _irls_sql() -> str:
    ctes = [
        f"""pu AS (
  SELECT user_id,
         sum(CASE WHEN ts < TIMESTAMP '{_IRLS_SPLIT}' THEN {_CENTS} ELSE 0 END)
           / {_IRLS_XSCALE} AS x,
         CASE WHEN sum(CASE WHEN event_type = 'purchase'
                             AND ts >= TIMESTAMP '{_IRLS_SPLIT}'
                            THEN 1 ELSE 0 END) >= 3 THEN 1 ELSE 0 END AS y
  FROM events GROUP BY user_id
)""",
        "b0 AS (SELECT 0.0 AS b0, 0.0 AS b1)",
    ]
    for k in range(1, _IRLS_STEPS + 1):
        p = k - 1
        mu = f"1.0 / (1.0 + exp(-(b.b0 + b.b1 * pu.x)))"
        ctes.append(
            f"""s{k} AS (
  SELECT sum(({mu}) * (1 - ({mu}))) AS w00,
         sum(({mu}) * (1 - ({mu})) * pu.x) AS w01,
         sum(({mu}) * (1 - ({mu})) * pu.x * pu.x) AS w11,
         sum(pu.y - ({mu})) AS g0,
         sum((pu.y - ({mu})) * pu.x) AS g1,
         any_value(b.b0) AS b0p, any_value(b.b1) AS b1p
  FROM pu, b{p} b
)"""
        )
        ctes.append(
            f"""b{k} AS (
  SELECT b0p + (w11 * g0 - w01 * g1) / (w00 * w11 - w01 * w01) AS b0,
         b1p + (w00 * g1 - w01 * g0) / (w00 * w11 - w01 * w01) AS b1
  FROM s{k}
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT {round6_sql('b0')} AS beta0_r, {round6_sql('b1')} AS beta1_r,
       (SELECT sum(y) FROM pu) AS n_pos, (SELECT count(*) FROM pu) AS n_users
FROM b{_IRLS_STEPS}
"""
    )


@register("ml_logreg_irls_2steps", sql=_irls_sql())
def ml_logreg_irls_2steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Newton/IRLS steps of a logistic regression (intercept +
    pre-period spend → "makes ≥3 purchases post-period"), trained
    relationally: each step is ONE aggregate producing the 2×2 weighted
    Gram matrix and gradient (w₀₀,w₀₁,w₁₁,g₀,g₁), followed by the
    closed-form 2×2 Newton solve — the GLM training loop every MLlib-
    style fit runs, expressed as pure SQL/DataFrame aggregates with the
    coefficient state carried in a 1-row frame (broadcast).

    Scale: per step one scan with map-side partial sums; steps are a
    constant. The feature is scaled to keep β·x O(1) so cross-engine
    last-ulp drift in β never amplifies through the sigmoid (round6
    absorbs the residual order-of-summation noise)."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    split = F.lit(_IRLS_SPLIT).cast("timestamp")
    pu = (
        ev.groupBy("user_id")
        .agg(
            (
                F.sum(F.when(F.col("ts") < split, cents).otherwise(0))
                / _IRLS_XSCALE
            ).alias("x"),
            F.when(
                F.sum(
                    F.when(
                        (F.col("event_type") == "purchase") & (F.col("ts") >= split),
                        1,
                    ).otherwise(0)
                )
                >= 3,
                1,
            )
            .otherwise(0)
            .alias("y"),
        )
        .localCheckpoint(eager=True)
    )
    b0, b1 = F.lit(0.0), F.lit(0.0)
    beta = pu.sparkSession.createDataFrame([(0.0, 0.0)], "b0 double, b1 double")
    for _ in range(_IRLS_STEPS):
        j = pu.crossJoin(F.broadcast(beta))
        mu = 1.0 / (1.0 + F.exp(-(F.col("b0") + F.col("b1") * F.col("x"))))
        s = j.agg(
            F.sum(mu * (1 - mu)).alias("w00"),
            F.sum(mu * (1 - mu) * F.col("x")).alias("w01"),
            F.sum(mu * (1 - mu) * F.col("x") * F.col("x")).alias("w11"),
            F.sum(F.col("y") - mu).alias("g0"),
            F.sum((F.col("y") - mu) * F.col("x")).alias("g1"),
            F.any_value("b0").alias("b0p"),
            F.any_value("b1").alias("b1p"),
        )
        det = F.col("w00") * F.col("w11") - F.col("w01") * F.col("w01")
        beta = s.select(
            (
                F.col("b0p") + (F.col("w11") * F.col("g0") - F.col("w01") * F.col("g1")) / det
            ).alias("b0"),
            (
                F.col("b1p") + (F.col("w00") * F.col("g1") - F.col("w01") * F.col("g0")) / det
            ).alias("b1"),
        ).localCheckpoint(eager=True)
    tot = pu.agg(F.sum("y").alias("n_pos"), F.count(F.lit(1)).alias("n_users"))
    return beta.crossJoin(F.broadcast(tot)).select(
        round6(F.col("b0")).alias("beta0_r"),
        round6(F.col("b1")).alias("beta1_r"),
        "n_pos",
        "n_users",
    )
