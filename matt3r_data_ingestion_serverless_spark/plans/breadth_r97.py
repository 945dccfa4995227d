"""Round-4 batch 25: Heaps-law fit over shingles and RLE storage
estimates.

Two operator families: the Heaps'-law exponent fitted to the shingle
vocabulary-growth curve (the sublinear-vocabulary law that sizes
tokenizers and dedup indexes ahead of a crawl), run-length-encoding
effectiveness per column/ordering (the storage-layout estimate behind
encoding choices).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.functions import hashing
from matt3r_data_ingestion_serverless_spark.functions.rounding import round6, round6_sql
from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# Heaps'-law fit over shingle vocabulary growth
# ---------------------------------------------------------------------------

_HEAPS_CPS = (50, 100, 200, 300, 400, 500)


def _heaps_sql() -> str:
    cps = ", ".join(str(c) for c in _HEAPS_CPS)
    return f"""
WITH {hashing.hashed_shingles_cte()},
x AS (SELECT doc_id, unnest(sh) AS g FROM d),
first_seen AS (SELECT g, min(doc_id) AS fd FROM x GROUP BY g),
tot AS (SELECT doc_id, count(*) AS n_sh FROM x GROUP BY doc_id),
pts AS (
  SELECT c.cp AS checkpoint,
         CAST((SELECT count(*) FROM first_seen WHERE fd <= c.cp) AS BIGINT)
           AS vocab,
         CAST((SELECT coalesce(sum(n_sh), 0) FROM tot WHERE doc_id <= c.cp)
              AS BIGINT) AS shingles_seen
  FROM (SELECT unnest([{cps}]) AS cp) c
  WHERE EXISTS (SELECT 1 FROM tot WHERE doc_id <= c.cp)
),
fit AS (
  SELECT (count(*) * sum(ln(shingles_seen) * ln(vocab))
            - sum(ln(shingles_seen)) * sum(ln(vocab)))
         / (count(*) * sum(ln(shingles_seen) * ln(shingles_seen))
            - sum(ln(shingles_seen)) * sum(ln(shingles_seen))) AS beta
  FROM pts
)
SELECT p.checkpoint, p.vocab, p.shingles_seen,
       {round6_sql('fit.beta')} AS heaps_beta_r
FROM pts p, fit
"""


@register("ns_shingle_heaps_fit", sql=_heaps_sql())
def ns_shingle_heaps_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law exponent for the 3-gram shingle vocabulary:
    V(n) ≈ K·n^β fitted as the log-log slope over doc-ordered
    checkpoints — the sublinear-vocabulary law that predicts dedup
    index and tokenizer-vocab growth before a crawl scales up (word
    vocabulary saturates at 31 here; the SHINGLE space is where growth
    lives).

    Scale: first-occurrence ranks are one groupBy(shingle) min; the
    checkpoint curve and the β regression run on the constant
    checkpoint list. The log-log slope folds as sums, identical in
    both engines over exact integer curve points."""
    docs = load_table(spark, sf_dir, "documents")
    # pin the arrays BEFORE the explode — exploding the raw
    # higher-order expression re-evaluates the md5 transform per
    # output row (the ns_ngram_novelty 89 s pathology)
    d = (
        hashing.with_hashed_shingles(docs)
        .select("doc_id", "sh")
        .localCheckpoint(eager=True)
    )
    x = d.select("doc_id", F.explode("sh").alias("g"))
    first_seen = x.groupBy("g").agg(F.min("doc_id").alias("fd"))
    tot = x.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    cps = spark.createDataFrame([(c,) for c in _HEAPS_CPS], "cp BIGINT")
    vocab = first_seen.join(
        F.broadcast(cps), F.col("fd") <= F.col("cp")
    ).groupBy("cp").agg(F.count(F.lit(1)).alias("vocab"))
    seen = tot.join(F.broadcast(cps), F.col("doc_id") <= F.col("cp")).groupBy(
        "cp"
    ).agg(F.sum("n_sh").alias("shingles_seen"))
    pts = (
        vocab.join(seen, "cp")
        .select(
            F.col("cp").alias("checkpoint"),
            "vocab",
            "shingles_seen",
            F.log("shingles_seen").alias("lx"),
            F.log("vocab").alias("ly"),
        )
        .localCheckpoint(eager=True)
    )
    fit = pts.agg(
        (
            (
                F.count(F.lit(1)) * F.sum(F.col("lx") * F.col("ly"))
                - F.sum("lx") * F.sum("ly")
            )
            / (
                F.count(F.lit(1)) * F.sum(F.col("lx") * F.col("lx"))
                - F.sum("lx") * F.sum("lx")
            )
        ).alias("beta")
    )
    return pts.join(F.broadcast(fit)).select(
        "checkpoint", "vocab", "shingles_seen", round6(F.col("beta")).alias("heaps_beta_r")
    )


# ---------------------------------------------------------------------------
# RLE storage estimates
# ---------------------------------------------------------------------------

_RLE_SQL = """
WITH o AS (
  SELECT event_type,
         lag(event_type) OVER (ORDER BY ts, event_id) AS prev_t,
         user_id % 10 AS ub,
         lag(user_id % 10) OVER (ORDER BY ts, event_id) AS prev_u,
         event_type AS st,
         lag(event_type) OVER (ORDER BY event_type, ts, event_id) AS prev_st
  FROM events
)
SELECT count(*) AS n_rows,
       sum(CASE WHEN prev_t IS NULL OR event_type != prev_t THEN 1 ELSE 0 END)
         AS runs_type_by_time,
       sum(CASE WHEN prev_u IS NULL OR ub != prev_u THEN 1 ELSE 0 END)
         AS runs_userbucket_by_time,
       sum(CASE WHEN prev_st IS NULL OR st != prev_st THEN 1 ELSE 0 END)
         AS runs_type_sorted
FROM o
"""


@register("storage_rle_estimate", sql=_RLE_SQL)
def storage_rle_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length-encoding effectiveness: run counts for the event-type
    and user-bucket columns under the natural time order, vs the
    event-type column under a type-clustered sort — the estimate that
    tells a layout planner whether sorting (or Z-ordering) before
    writing buys RLE/dictionary compression (runs_type_sorted collapses
    to ~|distinct values| while the time-ordered column stays ~n). The
    same statistic parquet writers consult when picking encodings.

    Scale: two ordered window passes (time order and cluster order) —
    at scale each is a range-partitioned sort with boundary stitching;
    run counts are exact integers."""
    ev = load_table(spark, sf_dir, "events")
    wt = Window.orderBy("ts", "event_id")
    ws = Window.orderBy("event_type", "ts", "event_id")
    o = ev.select(
        "event_type",
        F.lag("event_type").over(wt).alias("prev_t"),
        (F.col("user_id") % 10).alias("ub"),
        F.lag(F.col("user_id") % 10).over(wt).alias("prev_u"),
        F.col("event_type").alias("st"),
        F.lag("event_type").over(ws).alias("prev_st"),
    )
    return o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.when(
                F.col("prev_t").isNull() | (F.col("event_type") != F.col("prev_t")),
                1,
            ).otherwise(0)
        ).alias("runs_type_by_time"),
        F.sum(
            F.when(
                F.col("prev_u").isNull() | (F.col("ub") != F.col("prev_u")), 1
            ).otherwise(0)
        ).alias("runs_userbucket_by_time"),
        F.sum(
            F.when(
                F.col("prev_st").isNull() | (F.col("st") != F.col("prev_st")), 1
            ).otherwise(0)
        ).alias("runs_type_sorted"),
    )
