"""Round-2 batch 2: sorted-neighborhood entity blocking, a
mutual-information grid, probability-calibration bins, and
graded-relevance NDCG.

All determinism follows SCALE.md §7: exact int64 until one final double
expression, round6 (sign·floor(|x|·1e6+0.5)/1e6) in both dialects;
irrational per-rank constants (1/log2(r+1)) are pre-quantized in Python
and emitted as identical literals to BOTH engines so no libm call can
diverge.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.functions import vectors
from matt3r_data_ingestion_serverless_spark.functions.rounding import round6, round6_sql
from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table, spread


# ---------------------------------------------------------------------------
# sorted-neighborhood blocking for entity resolution
# ---------------------------------------------------------------------------

_SN_WINDOW = 4  # each record is compared with the next W-1 in sort order
_SN_MAX_DIST = 20

_SN_SQL = f"""
WITH r AS (
  SELECT p_partkey, p_name,
         row_number() OVER (ORDER BY p_name, p_partkey) AS rn
  FROM part
)
SELECT a.p_partkey AS key1, b.p_partkey AS key2,
       CAST(b.rn - a.rn AS BIGINT) AS offset,
       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
FROM r a JOIN r b ON b.rn - a.rn BETWEEN 1 AND {_SN_WINDOW - 1}
WHERE levenshtein(a.p_name, b.p_name) <= {_SN_MAX_DIST}
"""


@register("sorted_neighborhood_pairs", _SN_SQL)
def sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood entity blocking (Hernández & Stolfo SIGMOD
    '95): sort records by a blocking key (part name), then compare each
    record only with its next W−1 neighbors — turning O(n²) resolution
    into O(n·W). The neighbor pairing is an EQUI-join: the left side
    explodes rn into rn+1..rn+W−1 probe positions and joins on
    equality, so Spark plans a co-partitioned hash join on the rank —
    no range-join fallback, and partition boundaries lose no pairs
    (unlike a mapPartitions sliding window). At 100 TB the global sort
    is one range-partitioned exchange — the same shuffle a sort-merge
    join would pay. Survivors are graded by Levenshtein distance."""
    part = load_table(spark, sf_dir, "part")
    r = part.select(
        "p_partkey",
        "p_name",
        F.row_number().over(Window.orderBy("p_name", "p_partkey")).alias("rn"),
    )
    probes = r.select(
        F.col("p_partkey").alias("key1"),
        F.col("p_name").alias("name1"),
        F.col("rn").alias("rn1"),
        F.explode(F.sequence(F.col("rn") + 1, F.col("rn") + _SN_WINDOW - 1)).alias("rn"),
    )
    pairs = probes.join(
        r.select(F.col("p_partkey").alias("key2"), F.col("p_name").alias("name2"), "rn"),
        "rn",
    )
    dist = F.levenshtein("name1", "name2")
    return pairs.filter(dist <= _SN_MAX_DIST).select(
        "key1",
        "key2",
        (F.col("rn") - F.col("rn1")).cast("long").alias("offset"),
        dist.cast("long").alias("dist"),
    )


# ---------------------------------------------------------------------------
# mutual-information grid: event type × value bucket
# ---------------------------------------------------------------------------

_MI_SQL = f"""
WITH b AS (
  SELECT event_type,
         least(greatest(CAST(floor(value / 10) AS BIGINT), 0), 9) AS bucket
  FROM events
),
cell AS (SELECT event_type, bucket, count(*) AS n_xy FROM b GROUP BY event_type, bucket),
mx AS (SELECT event_type, sum(n_xy) AS n_x FROM cell GROUP BY event_type),
my AS (SELECT bucket, sum(n_xy) AS n_y FROM cell GROUP BY bucket),
tot AS (SELECT sum(n_xy) AS n FROM cell)
SELECT c.event_type, c.bucket,
       CAST(c.n_xy AS BIGINT) AS n_xy,
       CAST(mx.n_x AS BIGINT) AS n_x,
       CAST(my.n_y AS BIGINT) AS n_y,
       {round6_sql(
           "ln(CAST(c.n_xy AS DOUBLE) * CAST(tot.n AS DOUBLE)"
           " / (CAST(mx.n_x AS DOUBLE) * CAST(my.n_y AS DOUBLE)))"
       )} AS pmi,
       {round6_sql(
           "CAST(c.n_xy AS DOUBLE) / CAST(tot.n AS DOUBLE)"
           " * ln(CAST(c.n_xy AS DOUBLE) * CAST(tot.n AS DOUBLE)"
           " / (CAST(mx.n_x AS DOUBLE) * CAST(my.n_y AS DOUBLE)))"
       )} AS mi_contrib
FROM cell c JOIN mx USING (event_type) JOIN my USING (bucket) CROSS JOIN tot
"""


@register("mi_type_value_bucket", _MI_SQL)
def mi_type_value_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise and total-contribution mutual information between
    event type and value decile-bucket — the feature-relevance screen
    (does knowing the type tell you about the amount?) that complements
    chisq_type_by_dow's independence test. Cell/margin/total counts are
    exact int64 from ONE aggregated pass (margins derive from the cell
    grid, not a second scan); each cell emits per-cell PMI and MI
    contribution, leaving the order-sensitive global sum to the reader
    (per-cell rows are engine-exact; a cross-engine float SUM over
    cells would not be). Margins are broadcast back onto the grid."""
    ev = load_table(spark, sf_dir, "events")
    bucket = F.least(
        F.greatest(F.floor(F.col("value") / 10).cast("long"), F.lit(0)), F.lit(9)
    )
    cell = ev.select("event_type", bucket.alias("bucket")).groupBy(
        "event_type", "bucket"
    ).agg(F.count("*").alias("n_xy"))
    cell.cache()
    mx = cell.groupBy("event_type").agg(F.sum("n_xy").alias("n_x"))
    my = cell.groupBy("bucket").agg(F.sum("n_xy").alias("n_y"))
    tot = cell.agg(F.sum("n_xy").alias("n"))
    g = (
        cell.join(F.broadcast(mx), "event_type")
        .join(F.broadcast(my), "bucket")
        .crossJoin(F.broadcast(tot))
    )
    ratio = (
        F.col("n_xy").cast("double")
        * F.col("n").cast("double")
        / (F.col("n_x").cast("double") * F.col("n_y").cast("double"))
    )
    return g.select(
        "event_type",
        "bucket",
        F.col("n_xy").cast("long").alias("n_xy"),
        F.col("n_x").cast("long").alias("n_x"),
        F.col("n_y").cast("long").alias("n_y"),
        round6(F.log(ratio)).alias("pmi"),
        round6(F.col("n_xy").cast("double") / F.col("n").cast("double") * F.log(ratio)).alias(
            "mi_contrib"
        ),
    )


# ---------------------------------------------------------------------------
# probability-calibration (reliability) bins
# ---------------------------------------------------------------------------

_CALIB_SQL = f"""
WITH scored AS (
  SELECT CAST(floor(1.0 / (1.0 + exp(-(value - 50.0) / 25.0)) * 1e6 + 0.5) AS BIGINT)
           AS score_micro,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
  FROM events
),
binned AS (
  SELECT least(score_micro // 100000, 9) AS bin, score_micro, pos FROM scored
)
SELECT bin,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(pos) AS BIGINT) AS n_pos,
       {round6_sql("CAST(sum(score_micro) AS DOUBLE) / count(*) / 1e6")} AS mean_pred,
       {round6_sql("CAST(sum(pos) AS DOUBLE) / count(*)")} AS frac_pos,
       {round6_sql(
           f"({round6_sql('CAST(sum(score_micro) AS DOUBLE) / count(*) / 1e6')})"
           f" - ({round6_sql('CAST(sum(pos) AS DOUBLE) / count(*)')})"
       )} AS calib_gap
FROM binned
GROUP BY bin
"""


@register("ml_calibration_bins", _CALIB_SQL)
def ml_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for a fixed logistic scorer (predicting the
    'purchase' type from the value column): scores are quantized to
    integer micro-units at the row level — so bin assignment (integer
    division, never a float floor at a bin edge) and the per-bin mean
    (int64 sum ÷ count, divided once) are engine-exact — then each
    decile bin reports mean predicted probability vs realized positive
    rate and their gap (subtracting the ROUNDED operands, per SCALE.md
    §7). One partial-aggregated scan; 10 groups."""
    ev = load_table(spark, sf_dir, "events")
    score = 1.0 / (1.0 + F.exp(-(F.col("value") - 50.0) / 25.0))
    scored = ev.select(
        F.floor(score * 1e6 + 0.5).cast("long").alias("score_micro"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("pos"),
    )
    binned = scored.select(
        F.least(F.floor(F.col("score_micro") / 100000).cast("long"), F.lit(9)).alias("bin"),
        "score_micro",
        "pos",
    )
    agg = binned.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.sum("pos").alias("n_pos"),
        F.sum("score_micro").alias("sum_micro"),
    )
    mean_pred = round6(F.col("sum_micro").cast("double") / F.col("n") / 1e6)
    frac_pos = round6(F.col("n_pos").cast("double") / F.col("n"))
    return agg.select(
        "bin",
        F.col("n").cast("long").alias("n"),
        F.col("n_pos").cast("long").alias("n_pos"),
        mean_pred.alias("mean_pred"),
        frac_pos.alias("frac_pos"),
        round6(mean_pred - frac_pos).alias("calib_gap"),
    )


# ---------------------------------------------------------------------------
# graded-relevance NDCG@10 of truncated-vector retrieval
# ---------------------------------------------------------------------------

_NDCG_K = 10
_NDCG_DIMS = 16
# 1/log2(rank+1) pre-quantized to micro-units in Python — identical
# literals reach both engines, so no libm log2 can diverge.
_NDCG_W = [int(math.floor(1e6 / math.log2(r + 1) + 0.5)) for r in range(1, _NDCG_K + 1)]


def _ndcg_sql() -> str:
    w_list = "[" + ", ".join(str(w) for w in _NDCG_W) + "]"
    full_cos = f"{vectors.dot_sql('q.v', 'c.v')} / (q.nrm * c.nrm)"
    tr_cos = f"{vectors.dot_sql('q.tv', 'c.tv')} / (q.tnrm * c.tnrm)"
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
n AS (SELECT vec_id, v, {vectors.l2_norm_sql('v')} AS nrm,
             list_slice(v, 1, {_NDCG_DIMS}) AS tv
      FROM e),
t AS (SELECT vec_id, v, nrm, tv,
             sqrt(list_reduce(list_transform(tv, x -> x * x), (a, b) -> a + b)) AS tnrm
      FROM n),
q AS (SELECT * FROM t WHERE vec_id % 100 = 7),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS match_id,
         greatest(CAST(floor({round6_sql(full_cos)} * 4) AS BIGINT), 0) AS rel,
         {round6_sql(tr_cos)} AS tc
  FROM q JOIN t c ON c.vec_id != q.vec_id
),
ranked AS (
  SELECT query_id, rel,
         row_number() OVER (PARTITION BY query_id ORDER BY tc DESC, match_id) AS sys_rn,
         row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, match_id) AS ideal_rn
  FROM scored
),
s AS (
  SELECT query_id,
         sum(CASE WHEN sys_rn <= {_NDCG_K}
                  THEN ((1 << rel) - 1) * ({w_list}[sys_rn]) ELSE 0 END) AS dcg_micro,
         sum(CASE WHEN ideal_rn <= {_NDCG_K}
                  THEN ((1 << rel) - 1) * ({w_list}[ideal_rn]) ELSE 0 END) AS idcg_micro
  FROM ranked GROUP BY query_id
)
SELECT query_id,
       CAST(dcg_micro AS BIGINT) AS dcg_micro,
       CAST(idcg_micro AS BIGINT) AS idcg_micro,
       CASE WHEN idcg_micro = 0 THEN 0.0
            ELSE {round6_sql("CAST(dcg_micro AS DOUBLE) / CAST(idcg_micro AS DOUBLE)")}
       END AS ndcg
FROM s
"""


@register("retrieval_ndcg_at_k", _ndcg_sql())
def retrieval_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of truncated-vector (16 of 64 dims) retrieval against
    graded relevance derived from the full-vector cosine (grade =
    ⌊4·cos⌋ clamped at 0 → grades 0..3) — the graded-relevance ranking
    metric that complements ns_matryoshka_recall's set overlap. Gains
    (2^rel − 1) are integers; discount weights 1/log2(rank+1) are
    pre-quantized micro-unit literals shared by both dialects; DCG and
    ideal DCG are therefore exact int64 sums, with one final division.
    Brute-force broadcast scoring (queries ≪ corpus) — the same
    verify-the-approximation harness pattern as ns_lsh_eval_prf; at
    100 TB the candidate pass is the IVF/LSH-pruned set, same plan."""
    e = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    t = e.select(
        "vec_id",
        "v",
        vectors.l2_norm("v").alias("nrm"),
        F.slice(F.col("v"), 1, _NDCG_DIMS).alias("tv"),
    ).withColumn(
        "tnrm",
        F.sqrt(
            F.aggregate(
                F.transform(F.col("tv"), lambda x: x * x), F.lit(0.0), lambda a, b: a + b
            )
        ),
    )
    q = t.filter(F.col("vec_id") % 100 == 7).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        F.col("tv").alias("qtv"),
        F.col("tnrm").alias("qtn"),
    )
    c = t.select(
        F.col("vec_id").alias("match_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
        F.col("tv").alias("ctv"),
        F.col("tnrm").alias("ctn"),
    )
    pairs = F.broadcast(q).crossJoin(c).filter(F.col("match_id") != F.col("query_id"))
    full_cos = round6(vectors.cosine("qv", "cv", F.col("qn"), F.col("cn")))
    tr_cos = round6(vectors.cosine("qtv", "ctv", F.col("qtn"), F.col("ctn")))
    scored = pairs.select(
        "query_id",
        "match_id",
        F.greatest(F.floor(full_cos * 4).cast("long"), F.lit(0)).alias("rel"),
        tr_cos.alias("tc"),
    )
    ws = Window.partitionBy("query_id").orderBy(F.desc("tc"), F.asc("match_id"))
    wi = Window.partitionBy("query_id").orderBy(F.desc("rel"), F.asc("match_id"))
    ranked = scored.select(
        "query_id",
        "rel",
        F.row_number().over(ws).alias("sys_rn"),
        F.row_number().over(wi).alias("ideal_rn"),
    )
    wlit = F.array(*[F.lit(w) for w in _NDCG_W])
    gain = F.expr("cast(shiftleft(1, cast(rel as int)) as long) - 1")
    s = ranked.groupBy("query_id").agg(
        F.sum(
            F.when(F.col("sys_rn") <= _NDCG_K, gain * F.element_at(wlit, F.col("sys_rn").cast("int"))).otherwise(0)
        ).alias("dcg_micro"),
        F.sum(
            F.when(
                F.col("ideal_rn") <= _NDCG_K,
                gain * F.element_at(wlit, F.col("ideal_rn").cast("int")),
            ).otherwise(0)
        ).alias("idcg_micro"),
    )
    return s.select(
        "query_id",
        F.col("dcg_micro").cast("long").alias("dcg_micro"),
        F.col("idcg_micro").cast("long").alias("idcg_micro"),
        F.when(F.col("idcg_micro") == 0, F.lit(0.0))
        .otherwise(round6(F.col("dcg_micro").cast("double") / F.col("idcg_micro").cast("double")))
        .alias("ndcg"),
    )
