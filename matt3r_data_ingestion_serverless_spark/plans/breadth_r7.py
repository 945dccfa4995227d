"""Round-4 batch 3: incremental batch-vs-corpus dedup (the production
ingest mode) and cross-source quantile normalization — each
exact-integer deterministic and oracle-paired.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.functions import hashing
from matt3r_data_ingestion_serverless_spark.functions.rounding import round6, round6_sql
from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table, spread

# ---------------------------------------------------------------------------
# incremental dedup: new batch vs existing corpus
# ---------------------------------------------------------------------------


def _incremental_dedup_sql() -> str:
    from matt3r_data_ingestion_serverless_spark.plans.northstar import (
        JACCARD_DUP,
        _hashed_shingles_cte,
        _jaccard_sql,
        _minhash_band_structs_sql,
    )

    sig = hashing.minhash_from_hashes_sql("sh")
    return f"""
WITH {_hashed_shingles_cte()},
s AS (SELECT doc_id, sh, {sig} AS sig FROM d),
bk AS (SELECT doc_id, unnest({_minhash_band_structs_sql()}, recursive := true) FROM s),
cand AS (SELECT DISTINCT b.doc_id AS bid, c.doc_id AS cid
         FROM bk b JOIN bk c ON b.band = c.band AND b.key = c.key
         WHERE b.doc_id % 2 = 1 AND c.doc_id % 2 = 0),
v AS (SELECT bid, cid, round({_jaccard_sql('db.sh', 'dc.sh')}, 6) AS j
      FROM cand JOIN d db ON bid = db.doc_id
                JOIN d dc ON cid = dc.doc_id),
m AS (SELECT bid, count(*) AS n, max(j) AS bj
      FROM v WHERE j >= {JACCARD_DUP} GROUP BY bid)
SELECT doc.doc_id,
       CASE WHEN m.n IS NOT NULL THEN 'drop' ELSE 'keep' END AS decision,
       CAST(coalesce(m.n, 0) AS BIGINT) AS n_corpus_matches,
       m.bj AS best_jaccard
FROM documents doc LEFT JOIN m ON doc.doc_id = m.bid
WHERE doc.doc_id % 2 = 1
"""


@register("ns_dedup_incremental", sql=_incremental_dedup_sql())
def ns_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dedup — the PRODUCTION mode: a new ingest batch
    (odd doc_ids) deduplicated against the EXISTING corpus (even
    doc_ids), never against itself. Batch docs LSH-banding into a
    bucket shared with a corpus doc are exact-Jaccard verified; any
    verified match ≥ τ marks the batch doc 'drop'. Emits the per-doc
    keep/drop audit with match count and best score — the ledger an
    ingest pipeline writes next to every landed batch.

    Scale: the corpus side is a PRECOMPUTED band-key index at rest
    (here recomputed because the fixture has no persisted index); the
    join shuffles on band keys — linear in batch size + touched index
    buckets, never corpus × batch. Asymmetry matters: batch-internal
    dups are deliberately NOT dropped here (that's ns_dedup_minhash_lsh
    / ns_dedup_keep_one's job on the batch alone), so the two compose
    into the full ingest flow: intra-batch dedup → corpus dedup →
    append to corpus + index.
    """
    from matt3r_data_ingestion_serverless_spark.plans.northstar import (
        JACCARD_DUP,
        _jaccard,
        _minhash_band_structs_expr,
        _pin,
        _with_hashed_shingles,
    )

    docs = spread(load_table(spark, sf_dir, "documents"))
    d = _with_hashed_shingles(docs).select("doc_id", "sh")
    s = _pin(
        d.select("doc_id", "sh", hashing.minhash_from_hashes_expr("sh").alias("sig"))
    )
    bk = s.select(
        "doc_id", F.explode(_minhash_band_structs_expr("sig")).alias("bk")
    ).select("doc_id", "bk.band", "bk.key")
    batch_bk = bk.filter(F.col("doc_id") % 2 == 1)
    corpus_bk = bk.filter(F.col("doc_id") % 2 == 0)
    cand = (
        batch_bk.alias("b")
        .join(
            corpus_bk.alias("c"),
            (F.col("b.band") == F.col("c.band")) & (F.col("b.key") == F.col("c.key")),
        )
        .select(F.col("b.doc_id").alias("bid"), F.col("c.doc_id").alias("cid"))
        .distinct()
    )
    v = (
        cand.join(s.select(F.col("doc_id").alias("bid"), F.col("sh").alias("sh_b")), "bid")
        .join(s.select(F.col("doc_id").alias("cid"), F.col("sh").alias("sh_c")), "cid")
        .select(
            "bid", F.round(_jaccard(F.col("sh_b"), F.col("sh_c")), 6).alias("j")
        )
        .filter(F.col("j") >= JACCARD_DUP)
    )
    m = v.groupBy("bid").agg(F.count("*").alias("n"), F.max("j").alias("bj"))
    batch = docs.filter(F.col("doc_id") % 2 == 1).select("doc_id")
    return batch.join(m, batch.doc_id == m.bid, "left").select(
        "doc_id",
        F.when(F.col("n").isNotNull(), "drop").otherwise("keep").alias("decision"),
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_corpus_matches"),
        F.col("bj").alias("best_jaccard"),
    )


# ---------------------------------------------------------------------------
# cross-source quantile normalization (rank-bucket granularity)
# ---------------------------------------------------------------------------

_QN_BUCKETS = 20

_QN_SQL = f"""
WITH b AS (
  SELECT source, doc_id, n_chars,
         ntile({_QN_BUCKETS}) OVER (PARTITION BY source
                                    ORDER BY n_chars, doc_id) AS bucket
  FROM documents
),
ref AS (
  SELECT bucket, sum(n_chars) AS s, count(*) AS c FROM b GROUP BY bucket
)
SELECT b.source, CAST(b.bucket AS INT) AS bucket,
       count(*) AS n_docs,
       {round6_sql("CAST(sum(b.n_chars) AS DOUBLE) / count(*)")} AS raw_mean,
       {round6_sql("CAST(max(ref.s) AS DOUBLE) / max(ref.c)")} AS normalized_value
FROM b JOIN ref ON b.bucket = ref.bucket
GROUP BY b.source, b.bucket
"""


@register("ns_quantile_normalize", _QN_SQL)
def ns_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization across sources (bucket granularity): rank
    each source's docs into 20 length quantile buckets, then replace a
    bucket's value with the CROSS-SOURCE mean of that rank bucket — the
    distribution-alignment transform (microarray-born, now used to
    de-bias per-source length/quality distributions before mixing a
    corpus). Output: per (source, bucket) the raw mean vs the value
    every source's bucket maps to after normalization.

    Scale: ntile needs a per-source sort — one shuffle partitioned by
    source (skew-salted if one source dominates); the 20-row reference
    table broadcasts back. Tie-break on doc_id keeps bucket assignment
    a total order, reproducible across engines.
    """
    docs = load_table(spark, sf_dir, "documents")
    b = docs.select(
        "source",
        "doc_id",
        "n_chars",
        F.ntile(_QN_BUCKETS)
        .over(Window.partitionBy("source").orderBy("n_chars", "doc_id"))
        .alias("bucket"),
    )
    ref = b.groupBy("bucket").agg(F.sum("n_chars").alias("s"), F.count("*").alias("c"))
    return (
        b.join(F.broadcast(ref), "bucket")
        .groupBy("source", F.col("bucket").cast("int").alias("bucket"))
        .agg(
            F.count("*").alias("n_docs"),
            round6(F.sum("n_chars").cast("double") / F.count("*")).alias("raw_mean"),
            round6(F.max("s").cast("double") / F.max("c")).alias("normalized_value"),
        )
    )
