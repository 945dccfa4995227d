"""Round-4 batch 7: tokenizer vocabulary coverage, Matryoshka
truncation recall, and hard-negative mining — the retrieval/tokenizer
evaluation tail of the training-data pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.functions import text, vectors
from matt3r_data_ingestion_serverless_spark.functions.rounding import round6, round6_sql
from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table, spread

# ---------------------------------------------------------------------------
# tokenizer vocabulary coverage / OOV audit
# ---------------------------------------------------------------------------

_VOCAB_K = 500

_VOCAB_SQL = f"""
WITH toks AS (
  SELECT source, unnest({text.tokens_sql('text')}) AS term FROM documents
),
freq AS (SELECT term, count(*) AS c FROM toks GROUP BY term),
vocab AS (
  SELECT term FROM (
    SELECT term, row_number() OVER (ORDER BY c DESC, term) AS rk FROM freq
  ) WHERE rk <= {_VOCAB_K}
)
SELECT t.source,
       count(*) AS n_tokens,
       CAST(sum(CASE WHEN v.term IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS in_vocab,
       CAST(count(DISTINCT CASE WHEN v.term IS NULL THEN t.term END) AS BIGINT)
         AS distinct_oov,
       {round6_sql(
           "1.0 - CAST(sum(CASE WHEN v.term IS NOT NULL THEN 1 ELSE 0 END)"
           " AS DOUBLE) / count(*)"
       )} AS oov_rate
FROM toks t LEFT JOIN vocab v ON t.term = v.term
GROUP BY t.source
"""


@register("ns_vocab_coverage", _VOCAB_SQL)
def ns_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer vocabulary coverage: freeze the top-500 corpus terms as
    the vocabulary, then report each source's out-of-vocabulary token
    rate and distinct OOV type count — the audit run before committing
    a tokenizer (high OOV on one source → UNK-flooded training text).

    Shape: the vocabulary is a rank-window over the term-frequency agg
    (tie-broken on the term string, so the cutoff is deterministic),
    then BROADCAST back onto the token stream as a left join — the
    corpus-sized side never reshuffles for the vocab probe. At 100 TB
    the frequency agg is the standard map-combining shuffle and the
    rank window runs over the vocabulary-sized table only."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "source", F.explode(text.tokens(F.col("text"))).alias("term")
    )
    freq = toks.groupBy("term").agg(F.count("*").alias("c"))
    vocab = (
        freq.withColumn(
            "rk", F.row_number().over(Window.orderBy(F.desc("c"), F.asc("term")))
        )
        .filter(F.col("rk") <= _VOCAB_K)
        .select("term", F.lit(1).alias("in_v"))
    )
    j = toks.join(F.broadcast(vocab), "term", "left")
    hit = F.col("in_v").isNotNull()
    return j.groupBy("source").agg(
        F.count("*").alias("n_tokens"),
        F.sum(hit.cast("int")).cast("long").alias("in_vocab"),
        F.count_distinct(F.when(~hit, F.col("term"))).cast("long").alias(
            "distinct_oov"
        ),
        round6(1.0 - F.sum(hit.cast("int")).cast("double") / F.count("*")).alias(
            "oov_rate"
        ),
    )


# ---------------------------------------------------------------------------
# Matryoshka truncation recall (short-vector retrieval quality)
# ---------------------------------------------------------------------------

_MRL_DIMS = 16
_MRL_K = 5


def _mrl_sql() -> str:
    full_cos = f"{vectors.dot_sql('q.v', 'c.v')} / (q.nrm * c.nrm)"
    tr = f"list_slice(e.v, 1, {_MRL_DIMS})"
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
n AS (SELECT vec_id, v, {vectors.l2_norm_sql('v')} AS nrm,
             {tr.replace('e.v', 'v')} AS tv
      FROM e),
t AS (SELECT vec_id, v, nrm, tv,
             sqrt(list_reduce(list_transform(tv, x -> x * x),
                              (a, b) -> a + b)) AS tnrm
      FROM n),
q AS (SELECT * FROM t WHERE vec_id % 50 = 0),
full_rank AS (
  SELECT q.vec_id AS query_id, c.vec_id AS match_id,
         row_number() OVER (PARTITION BY q.vec_id
           ORDER BY round({full_cos}, 6) DESC, c.vec_id) AS rk
  FROM q JOIN t c ON c.vec_id != q.vec_id
),
tr_rank AS (
  SELECT q.vec_id AS query_id, c.vec_id AS match_id,
         row_number() OVER (PARTITION BY q.vec_id
           ORDER BY round({vectors.dot_sql('q.tv', 'c.tv')}
                          / (q.tnrm * c.tnrm), 6) DESC, c.vec_id) AS rk
  FROM q JOIN t c ON c.vec_id != q.vec_id
)
SELECT f.query_id,
       CAST(count(*) AS BIGINT) AS n_overlap,
       {round6_sql(f"CAST(count(*) AS DOUBLE) / {_MRL_K}")} AS recall_at_{_MRL_K}
FROM (SELECT query_id, match_id FROM full_rank WHERE rk <= {_MRL_K}) f
JOIN (SELECT query_id, match_id FROM tr_rank WHERE rk <= {_MRL_K}) s
  USING (query_id, match_id)
GROUP BY f.query_id
"""


@register("ns_matryoshka_recall", sql=_mrl_sql())
def ns_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-representation evaluation (Kusupati et al. 2022): how
    much retrieval quality survives truncating embeddings to their
    first 16 of 64 dims? Per query: top-5 overlap between full-vector
    and truncated-vector cosine rankings — the recall@5 an MRL rollout
    measures before serving short vectors (4× memory / bandwidth cut).

    Both rankings run the brute-force broadcast pattern on 6-dp-rounded
    cosines with id tie-breaks (the repo's float-order-free top-k
    idiom); only queries with overlapping hits appear (no overlap → no
    row; the oracle inner join agrees). At scale the truncated ranking
    is the cheap first pass of a two-stage retrieval cascade — same
    plan, 4× narrower scan."""
    e = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    t = e.select(
        "vec_id",
        "v",
        vectors.l2_norm("v").alias("nrm"),
        F.slice(F.col("v"), 1, _MRL_DIMS).alias("tv"),
    ).withColumn(
        "tnrm",
        F.sqrt(
            F.aggregate(
                F.transform(F.col("tv"), lambda x: x * x),
                F.lit(0.0),
                lambda a, b: a + b,
            )
        ),
    )
    q = t.filter(F.col("vec_id") % 50 == 0).select(
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
    full_cos = F.round(
        vectors.cosine("qv", "cv", F.col("qn"), F.col("cn")), 6
    )
    tr_cos = F.round(
        vectors.cosine("qtv", "ctv", F.col("qtn"), F.col("ctn")), 6
    )
    scored = pairs.select(
        "query_id", "match_id", full_cos.alias("fc"), tr_cos.alias("tc")
    )
    wf = Window.partitionBy("query_id").orderBy(F.desc("fc"), F.asc("match_id"))
    wt = Window.partitionBy("query_id").orderBy(F.desc("tc"), F.asc("match_id"))
    ranked = scored.select(
        "query_id",
        "match_id",
        F.row_number().over(wf).alias("rkf"),
        F.row_number().over(wt).alias("rkt"),
    )
    top_full = ranked.filter(F.col("rkf") <= _MRL_K).select("query_id", "match_id")
    top_tr = ranked.filter(F.col("rkt") <= _MRL_K).select("query_id", "match_id")
    overlap = top_full.join(top_tr, ["query_id", "match_id"])
    return overlap.groupBy("query_id").agg(
        F.count("*").cast("long").alias("n_overlap"),
        round6(F.count("*").cast("double") / _MRL_K).alias(f"recall_at_{_MRL_K}"),
    )


# ---------------------------------------------------------------------------
# hard-negative mining for retrieval training
# ---------------------------------------------------------------------------

_HN_POOL = 20


def _hard_negative_sql() -> str:
    from matt3r_data_ingestion_serverless_spark.plans.northstar import _emb_norm_cte

    cos = f"{vectors.dot_sql('q.v', 'c.v')} / (q.nrm * c.nrm)"
    return f"""
WITH {_emb_norm_cte()},
lbl AS (SELECT vec_id, label FROM embeddings),
t AS (SELECT n.vec_id, v, nrm, label FROM n JOIN lbl USING (vec_id)),
q AS (SELECT * FROM t WHERE vec_id % 50 = 0),
ranked AS (
  SELECT q.vec_id AS query_id, q.label AS query_label,
         c.vec_id AS cand_id, c.label AS cand_label,
         round({cos}, 6) AS cs,
         row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY round({cos}, 6) DESC, c.vec_id) AS rk
  FROM q JOIN t c ON c.vec_id != q.vec_id
),
hard AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rk) AS hn
  FROM ranked
  WHERE rk <= {_HN_POOL} AND cand_label != query_label
)
SELECT query_id, CAST(query_label AS INT) AS query_label,
       cand_id AS hard_negative_id,
       CAST(cand_label AS INT) AS negative_label,
       CAST(rk AS INT) AS rank_in_pool, cs AS cos_sim
FROM hard WHERE hn = 1
"""


@register("ns_hard_negative_mining", sql=_hard_negative_sql())
def ns_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (the contrastive-training data op): for each
    query embedding, the highest-ranked neighbour with a DIFFERENT
    label inside the top-20 pool — the near-miss that teaches a
    retriever its decision boundary (random negatives are too easy;
    BM25/ANN hard negatives are how DPR-style training sets are built).

    One ranking pass (6-dp cosine, id tie-break), then a second
    row_number over the label-mismatch survivors picks the first hard
    negative per query — queries whose entire top-20 shares their label
    yield no row (by design; the oracle agrees). At scale the pool
    comes from the IVF/LSH candidate path instead of the brute-force
    broadcast — the mining windows are unchanged."""
    from matt3r_data_ingestion_serverless_spark.plans.northstar import _emb_normed

    lbl = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    t = _emb_normed(spark, sf_dir).join(lbl, "vec_id")
    q = t.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        F.col("label").alias("query_label"),
    )
    c = t.select(
        F.col("vec_id").alias("cand_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
        F.col("label").alias("cand_label"),
    )
    cs = F.round(vectors.cosine("qv", "cv", F.col("qn"), F.col("cn")), 6)
    ranked = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "query_label", "cand_id", "cand_label", cs.alias("cs"))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.desc("cs"), F.asc("cand_id"))
            ),
        )
    )
    hard = ranked.filter(
        (F.col("rk") <= _HN_POOL) & (F.col("cand_label") != F.col("query_label"))
    ).withColumn(
        "hn", F.row_number().over(Window.partitionBy("query_id").orderBy("rk"))
    )
    return hard.filter(F.col("hn") == 1).select(
        "query_id",
        F.col("query_label").cast("int").alias("query_label"),
        F.col("cand_id").alias("hard_negative_id"),
        F.col("cand_label").cast("int").alias("negative_label"),
        F.col("rk").cast("int").alias("rank_in_pool"),
        F.col("cs").alias("cos_sim"),
    )
