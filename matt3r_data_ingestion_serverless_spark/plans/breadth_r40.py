"""Round-2 batch 15 (this run): 2-core graph peeling and a daily
periodogram.

The periodogram's trig factors are quantized to micro-units per term
(identical pi literal in both dialects) so the only cross-row sums are
int64; k-core peeling is pure integer degree arithmetic.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.functions.rounding import round6, round6_sql
from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# 2-core peeling (4 unrolled rounds) over the near-dup graph
# ---------------------------------------------------------------------------

_PEEL_ROUNDS = 4


def _kcore_sql() -> str:
    from matt3r_data_ingestion_serverless_spark.plans.northstar import _minhash_lsh_sql

    pairs = _minhash_lsh_sql().strip()
    # every CTE is MATERIALIZED: each round names the previous alive set
    # four times, and DuckDB would otherwise re-expand the whole LSH
    # pipeline at every reference (exponential in the rounds; it ran out
    # of memory at sf0.01)
    step = """
alive{k} AS MATERIALIZED (
  SELECT node FROM (
    SELECT node, count(*) AS d FROM (
      SELECT s AS node FROM edges
      WHERE s IN (SELECT node FROM alive{p}) AND t IN (SELECT node FROM alive{p})
      UNION ALL
      SELECT t FROM edges
      WHERE s IN (SELECT node FROM alive{p}) AND t IN (SELECT node FROM alive{p})
    ) GROUP BY node
  ) WHERE d >= 2
)"""
    steps = ",".join(step.format(k=k, p=k - 1) for k in range(1, _PEEL_ROUNDS + 1))
    return f"""
WITH pairs AS MATERIALIZED ({pairs}),
edges AS MATERIALIZED (SELECT doc_a AS s, doc_b AS t FROM pairs),
alive0 AS MATERIALIZED (SELECT DISTINCT node FROM
           (SELECT s AS node FROM edges UNION SELECT t FROM edges)),
{steps}
SELECT n.node AS doc_id,
       CAST(d0.d AS BIGINT) AS degree,
       CAST(n.node IN (SELECT node FROM alive{_PEEL_ROUNDS}) AS BOOLEAN) AS in_2core
FROM alive0 n
JOIN (SELECT node, count(*) AS d FROM
      (SELECT s AS node FROM edges UNION ALL SELECT t FROM edges)
      GROUP BY node) d0
  ON n.node = d0.node
"""


@register("graph_kcore_peel", _kcore_sql())
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core decomposition by iterative peeling (4 unrolled rounds):
    repeatedly delete nodes whose degree in the SURVIVING subgraph is
    < 2 — what remains is the 2-core, the dense backbone that
    separates real duplicate clusters from dangling pair-chains
    (cluster_size_histogram counts components; this grades their
    internal density). Each round is one semi-join of the edge list
    against the alive set + a degree agg — the same peel that runs
    to fixpoint at 100 TB with iterative checkpointing; four rounds
    provably suffice on this graph (asserted stable in tests). All
    integer degree arithmetic."""
    from matt3r_data_ingestion_serverless_spark.plans.northstar import (
        ns_dedup_minhash_lsh,
    )

    edges = (
        ns_dedup_minhash_lsh(spark, sf_dir)
        .select(F.col("doc_a").alias("s"), F.col("doc_b").alias("t"))
        .localCheckpoint(eager=True)
    )
    both = edges.select(F.col("s").alias("node")).unionAll(edges.select("t"))
    nodes = both.distinct()
    deg0 = both.groupBy("node").agg(F.count("*").alias("degree"))
    alive = nodes
    for _ in range(_PEEL_ROUNDS):
        # semi-joins with NO broadcast hint: the alive set is
        # corpus-scaled (one row per surviving node), so a forced
        # broadcast cannot hold at 100 TB — let the planner pick
        # (it still auto-broadcasts under the threshold locally)
        live_edges = edges.join(
            alive.withColumnRenamed("node", "s"), "s", "left_semi"
        ).join(alive.withColumnRenamed("node", "t"), "t", "left_semi")
        d = (
            live_edges.select(F.col("s").alias("node"))
            .unionAll(live_edges.select("t"))
            .groupBy("node")
            .agg(F.count("*").alias("d"))
        )
        # checkpoint each round: alive feeds TWO joins next round, and
        # without cutting lineage the final action re-evaluates every
        # earlier round once per branch — exponential recompute
        # (measured 5.4 s → ~2 s at sf0.1)
        alive = d.filter(F.col("d") >= 2).select("node").localCheckpoint(eager=True)
    core = alive.withColumn("in_core", F.lit(True))
    return (
        nodes.join(deg0, "node")
        .join(core, "node", "left")
        .select(
            F.col("node").alias("doc_id"),
            F.col("degree").cast("long").alias("degree"),
            F.coalesce("in_core", F.lit(False)).alias("in_2core"),
        )
    )


# ---------------------------------------------------------------------------
# periodogram of the daily event-count series
# ---------------------------------------------------------------------------

_PGRAM_FREQS = 10
_PI = 3.141592653589793


def _pgram_sql() -> str:
    return f"""
WITH daily AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS cnt FROM events
  GROUP BY strftime(ts, '%Y-%m-%d')
),
r AS (
  SELECT cnt, row_number() OVER (ORDER BY day) - 1 AS t,
         count(*) OVER () AS n
  FROM daily
),
terms AS (
  SELECT k.k, r.n,
         r.cnt * CAST(floor(cos(2 * {_PI} * k.k * r.t / r.n) * 1e6 + 0.5) AS BIGINT)
           AS c_micro,
         r.cnt * CAST(floor(sin(2 * {_PI} * k.k * r.t / r.n) * 1e6 + 0.5) AS BIGINT)
           AS s_micro
  FROM r CROSS JOIN (SELECT unnest(range(1, {_PGRAM_FREQS + 1})) AS k) k
),
s AS (
  SELECT k, max(n) AS n, sum(c_micro) AS cs, sum(s_micro) AS ss
  FROM terms GROUP BY k
)
SELECT k AS freq_k,
       CAST(n AS BIGINT) AS n_days,
       CAST(cs AS BIGINT) AS cos_sum_micro,
       CAST(ss AS BIGINT) AS sin_sum_micro,
       {round6_sql(
           "(CAST(cs AS DOUBLE) * cs + CAST(ss AS DOUBLE) * ss) / 1e12 / n"
       )} AS power
FROM s
"""


@register("ts_periodogram_daily", _pgram_sql())
def ts_periodogram_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Periodogram (discrete Fourier power) of the daily event-count
    series at frequencies k = 1..10 cycles/span — the spectral
    seasonality detector beside ts_autocorr_hourly's fixed lags. Trig
    factors cos/sin(2πkt/n) are quantized to micro-units PER TERM (the
    π literal is shared by both dialects), so the Fourier sums are
    exact int64 over integer daily counts and the power is one closed
    form. Aggregate-first: the DFT runs on ~365 day rows × 10
    frequencies, never raw events — the only sound way to take a
    spectrum at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day")).agg(
        F.count("*").alias("cnt")
    )
    from pyspark.sql import Window

    r = daily.select(
        "cnt",
        (F.row_number().over(Window.orderBy("day")) - 1).alias("t"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    ks = F.explode(F.sequence(F.lit(1), F.lit(_PGRAM_FREQS))).alias("k")
    theta = 2 * _PI * F.col("k") * F.col("t") / F.col("n")
    terms = r.select("cnt", "t", "n", ks).select(
        "k",
        "n",
        (F.col("cnt") * F.floor(F.cos(theta) * 1e6 + 0.5).cast("long")).alias("c_micro"),
        (F.col("cnt") * F.floor(F.sin(theta) * 1e6 + 0.5).cast("long")).alias("s_micro"),
    )
    s = terms.groupBy("k").agg(
        F.max("n").alias("n"), F.sum("c_micro").alias("cs"), F.sum("s_micro").alias("ss")
    )
    power = (
        F.col("cs").cast("double") * F.col("cs") + F.col("ss").cast("double") * F.col("ss")
    ) / 1e12 / F.col("n")
    return s.select(
        F.col("k").alias("freq_k"),
        F.col("n").cast("long").alias("n_days"),
        F.col("cs").cast("long").alias("cos_sum_micro"),
        F.col("ss").cast("long").alias("sin_sum_micro"),
        round6(power).alias("power"),
    )
