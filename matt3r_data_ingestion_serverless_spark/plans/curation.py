"""Corpus-curation queries a large-scale training-data pipeline needs
beyond per-doc scoring: TF-IDF term weighting, vocabulary statistics,
train/eval contamination detection, sketch rollups, embedding
quantization, heavy hitters and PMI. All operate on the `documents`
(or `embeddings`) table and pair with exact DuckDB oracles; duplicate
clusters are in plans/dedup.py.

These extend the north-star set (plans/northstar.py) — same shingle /
hashing fragments (functions/hashing.py), same cross-engine
determinism rules (md5-derived hashes, round(…, 6) on every float that
reaches the result).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.functions import hashing, text
from matt3r_data_ingestion_serverless_spark.plans.northstar import _pin
from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table, spread

TFIDF_TOP_K = 3  # terms kept per document
EVAL_MOD = 97  # doc_id % EVAL_MOD == 0 → held-out eval split
CONTAM_MIN_SHARED = 5  # distinct shared shingles to flag contamination


# ---------------------------------------------------------------------------
# TF-IDF
# ---------------------------------------------------------------------------


@register(
    "ns_tfidf_top_terms",
    sql=f"""
WITH tok AS (
  SELECT doc_id, unnest({text.tokens_sql('text')}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         round(tf.tf * ln(n.n_docs / df.df), 6) AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
             ORDER BY tfidf DESC, term) AS rnk
  FROM scored
)
SELECT doc_id, term, rnk, tfidf FROM ranked WHERE rnk <= {TFIDF_TOP_K}
""",
)
def ns_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF: top-{k} most characteristic terms per document.

    Scale: token explode → two chained hash aggs, both with map-side
    partials. The document-frequency table is vocabulary-sized (≪
    corpus), so its join back onto term frequencies broadcasts; the
    corpus count is a 1-row broadcast cross join, never a collect. The
    final per-doc top-k window repartitions by doc_id — same key as the
    tf agg, so AQE reuses the exchange."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    tok = docs.select("doc_id", F.explode(text.tokens(F.col("text"))).alias("term"))
    # df_t derives FROM tf: without pinning, the explode→agg chain runs
    # twice (once to build the broadcast, once as the probe side). At
    # 100 TB the pinned tf relation is the materialized term-frequency
    # silver table a production run would persist anyway.
    tf = _pin(tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf")))
    df_t = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6).alias(
                "tfidf"
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TFIDF_TOP_K)
        .select("doc_id", "term", "rnk", "tfidf")
    )


# ---------------------------------------------------------------------------
# vocabulary statistics (Heaps-law style curation diagnostics)
# ---------------------------------------------------------------------------


@register(
    "ns_vocab_stats",
    sql=f"""
WITH tok AS (
  SELECT source, unnest({text.tokens_sql('text')}) AS term FROM documents
),
tc AS (SELECT source, term, count(*) AS n FROM tok GROUP BY source, term)
SELECT source,
       CAST(sum(n) AS BIGINT) AS n_tokens,
       count(*) AS n_distinct_terms,
       CAST(count(*) FILTER (WHERE n = 1) AS BIGINT) AS n_hapax,
       round(count(*)::DOUBLE / sum(n), 6) AS type_token_ratio
FROM tc GROUP BY source
""",
)
def ns_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary statistics: token mass, distinct terms,
    hapax legomena, type/token ratio — the Heaps-law diagnostics used to
    spot low-diversity (template/boilerplate-heavy) sources.

    Scale: one token explode feeding a (source, term) hash agg with
    map-side partials — the only wide exchange; the per-source rollup
    then aggregates a vocabulary-sized table down to |sources| rows."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    tok = docs.select("source", F.explode(text.tokens(F.col("text"))).alias("term"))
    tc = tok.groupBy("source", "term").agg(F.count("*").alias("n"))
    return tc.groupBy("source").agg(
        F.sum("n").cast("long").alias("n_tokens"),
        F.count("*").alias("n_distinct_terms"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).cast("long").alias("n_hapax"),
        F.round(F.count("*") / F.sum("n"), 6).alias("type_token_ratio"),
    )


# ---------------------------------------------------------------------------
# train/eval contamination detection
# ---------------------------------------------------------------------------


@register(
    "ns_contamination_overlap",
    sql=f"""
WITH {hashing.hashed_shingles_cte()},
ev AS (SELECT doc_id, unnest(sh) AS s FROM d WHERE doc_id % {EVAL_MOD} = 0),
tr AS (SELECT doc_id, unnest(sh) AS s FROM d WHERE doc_id % {EVAL_MOD} != 0),
hits AS (
  SELECT tr.doc_id AS train_doc_id, ev.doc_id AS eval_doc_id,
         count(DISTINCT tr.s) AS n_shared
  FROM tr JOIN ev USING (s)
  GROUP BY tr.doc_id, ev.doc_id
)
SELECT train_doc_id, eval_doc_id, n_shared
FROM hits WHERE n_shared >= {CONTAM_MIN_SHARED}
""",
)
def ns_contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination check: flag training documents sharing ≥
    {t} distinct 3-gram shingles with any held-out eval document
    (deterministic split: doc_id % {m} == 0 → eval).

    Scale: the eval split is a small fraction of the corpus, so its
    exploded shingle index BROADCASTS; the train side streams through a
    broadcast hash join — the 100 TB corpus is scanned once and never
    shuffled on the shingle key. The per-pair distinct count aggregates
    only joined hits (contamination is rare by construction). Had both
    sides been large, the fallback is the same inverted-index shuffle
    join as ns_ngram_jaccard_topk with stop-shingle (high-df) removal
    to cap posting-list skew."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    d = _pin(hashing.with_hashed_shingles(docs).select("doc_id", "sh"))
    ev = (
        d.filter(F.col("doc_id") % EVAL_MOD == 0)
        .select(F.col("doc_id").alias("eval_doc_id"), F.explode("sh").alias("s"))
    )
    tr = (
        d.filter(F.col("doc_id") % EVAL_MOD != 0)
        .select(F.col("doc_id").alias("train_doc_id"), F.explode("sh").alias("s"))
    )
    return (
        tr.join(F.broadcast(ev), "s")
        .groupBy("train_doc_id", "eval_doc_id")
        .agg(F.count_distinct("s").alias("n_shared"))
        .filter(F.col("n_shared") >= CONTAM_MIN_SHARED)
    )


# ---------------------------------------------------------------------------
# sketch-based estimation
# ---------------------------------------------------------------------------


@register(
    "sketch_hll_rollup",
    sql="""
WITH tok AS MATERIALIZED (
  SELECT source, unnest(string_split(lower(text), ' ')) AS term FROM documents
)
SELECT source,
       count(DISTINCT term) AS exact_distinct_terms,
       TRUE AS within_bounds
FROM tok GROUP BY source
UNION ALL
SELECT 'ALL', count(DISTINCT term), TRUE FROM tok
""",
)
def sketch_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup: per-source HLL sketches of the distinct
    term vocabulary, then a GLOBAL estimate obtained by UNIONING the
    per-source sketches — never re-scanning the corpus. This is the
    100 TB pattern for distinct-count dashboards: materialize small
    partial sketches per partition/day, answer any rollup by merging
    kilobytes (Apache DataSketches HLL via hll_sketch_agg /
    hll_union_agg). Gradeable sketch contract (VERDICT r05 next-step
    3): estimates are engine-specific, so each row carries the EXACT
    distinct count plus a ``within_bounds`` flag asserting the sketch
    estimate sits inside the lgK=14 error envelope (rsd ≈ 0.81 % → 4 %
    is ≈ 5σ, plus absolute slack for tiny sources); the oracle
    recomputes the exact counts and expects TRUE — including for the
    union-merged ALL row, which must estimate the global vocabulary
    without re-scanning."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    tok = docs.select("source", F.explode(text.tokens(F.col("text"))).alias("term"))

    def within(est, exact):
        return F.abs(est - exact) <= 0.04 * exact + 5

    per_source = tok.groupBy("source").agg(
        F.hll_sketch_agg("term", F.lit(14)).alias("sk"),
        F.countDistinct("term").alias("exact_distinct_terms"),
    )
    per_source = _pin(per_source)
    source_rows = per_source.select(
        "source",
        "exact_distinct_terms",
        within(
            F.hll_sketch_estimate("sk").cast("long"),
            F.col("exact_distinct_terms"),
        ).alias("within_bounds"),
    )
    global_row = (
        per_source.agg(F.hll_union_agg("sk").alias("sk"))
        .crossJoin(tok.agg(F.countDistinct("term").alias("exact_distinct_terms")))
        .select(
            F.lit("ALL").alias("source"),
            "exact_distinct_terms",
            within(
                F.hll_sketch_estimate("sk").cast("long"),
                F.col("exact_distinct_terms"),
            ).alias("within_bounds"),
        )
    )
    return source_rows.unionByName(global_row)


# ---------------------------------------------------------------------------
# embedding quantization
# ---------------------------------------------------------------------------


def _quantize_sql() -> str:
    from matt3r_data_ingestion_serverless_spark.functions import vectors

    v = "list_transform(embedding, x -> CAST(x AS DOUBLE))"
    return f"""
WITH e AS (
  SELECT vec_id, {v} AS v,
         list_max(list_transform({v}, x -> abs(x))) / 127.0 AS scale
  FROM embeddings
),
q AS (
  SELECT vec_id, v, scale,
         list_transform(v, x -> CAST(least(greatest(
             floor(x / scale + 0.5), -127), 127) AS BIGINT)) AS qv
  FROM e WHERE scale > 0
)
SELECT vec_id,
       round(scale, 6) AS scale,
       CAST(list_sum(qv) AS BIGINT) AS q_checksum,
       round(sqrt(list_sum(list_transform(range(1, len(v) + 1),
             i -> (v[i] - qv[i] * scale) * (v[i] - qv[i] * scale))))
         / {vectors.l2_norm_sql('v')}, 6) AS rel_err
FROM q
"""


@register("ns_embedding_quantize", sql=_quantize_sql())
def ns_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of the embedding column —
    the 4× storage/bandwidth reduction step before ANN indexing at
    scale — with per-vector reconstruction error as the quality audit.
    Quantizer: scale = max|x|/127, q = clamp(floor(x/scale + .5)) —
    explicit floor arithmetic, not round(), so Spark and DuckDB agree
    on ties by construction.

    Scale: pure per-row higher-order expressions (transform/aggregate
    inside codegen) — zero shuffle, zero Python; the quantized array
    would be written back as the ANN input column."""
    from matt3r_data_ingestion_serverless_spark.functions import vectors

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    v = vectors.as_double(F.col("embedding"))
    e = emb.select(
        "vec_id",
        v.alias("v"),
        (F.array_max(F.transform(v, F.abs)) / 127.0).alias("scale"),
    ).filter(F.col("scale") > 0)
    qv = F.transform(
        F.col("v"),
        lambda x: F.least(
            F.greatest(F.floor(x / F.col("scale") + 0.5), F.lit(-127.0)), F.lit(127.0)
        ).cast("long"),
    )
    q = e.withColumn("qv", qv)
    err2 = F.aggregate(
        F.zip_with(
            F.col("v"),
            F.col("qv"),
            lambda x, qq: (x - qq * F.col("scale")) * (x - qq * F.col("scale")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # the rounded `scale` alias must come LAST: lateral column alias
    # resolution (Spark ≥3.4) binds a later `F.col("scale")` in the same
    # select list to an EARLIER alias of that name — err2 would silently
    # use the rounded scale and corrupt the residuals
    return q.select(
        "vec_id",
        F.aggregate(F.col("qv"), F.lit(0).cast("long"), lambda a, x: a + x).alias(
            "q_checksum"
        ),
        F.round(F.sqrt(err2) / vectors.l2_norm("v"), 6).alias("rel_err"),
        F.round(F.col("scale"), 6).alias("scale"),
    )


# ---------------------------------------------------------------------------
# corpus heavy hitters
# ---------------------------------------------------------------------------


@register(
    "ns_heavy_hitter_terms",
    sql=f"""
WITH tok AS (
  SELECT doc_id, unnest({text.tokens_sql('text')}) AS term FROM documents
),
tc AS (SELECT term, count(*) AS n, count(DISTINCT doc_id) AS df
       FROM tok GROUP BY term),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY n DESC, term) AS rnk FROM tc
)
SELECT rnk, term, n, df FROM ranked WHERE rnk <= 20
""",
)
def ns_heavy_hitter_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-20 heavy-hitter terms (count + document frequency) —
    the stopword/boilerplate discovery pass a curation pipeline runs
    before building filters.

    Scale: token explode → (term) hash agg with map-side partials — the
    distinct-doc count per term rides the same shuffle (partial distinct
    via the agg's internal dedup). The global top-k is a single-partition
    window over the VOCABULARY-sized agg output, not the corpus: Spark
    plans WindowGroupLimit so each partition forwards only its local
    top-20 before the final ordering."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    tok = docs.select("doc_id", F.explode(text.tokens(F.col("text"))).alias("term"))
    tc = tok.groupBy("term").agg(
        F.count("*").alias("n"), F.count_distinct("doc_id").alias("df")
    )
    w = Window.orderBy(F.desc("n"), F.asc("term"))
    return (
        tc.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 20)
        .select("rnk", "term", "n", "df")
    )


# ---------------------------------------------------------------------------
# statistical aggregate parity
# ---------------------------------------------------------------------------


@register(
    "stats_pack",
    sql="""
SELECT event_type,
       round(stddev_samp(value), 6) AS sd_value,
       round(var_pop(value), 6) AS var_value,
       round(corr(value, epoch_us(ts) / 1e12), 6) AS corr_value_time,
       round(covar_samp(value, epoch_us(ts) / 1e12), 6) AS covar_value_time,
       round(avg(value * value) - avg(value) * avg(value), 6) AS var_by_moments
FROM events GROUP BY event_type
""",
)
def stats_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical-aggregate parity pack: sample stddev, population
    variance, Pearson correlation and sample covariance of value vs
    time — per event type. Both engines use numerically-stable
    single-pass updates (Welford-style); the moments identity column
    documents the naive formula they both avoid. Time is scaled to ~1
    (epoch-µs / 1e12) so the 6-dp round sits far above FP-association
    noise.

    Scale: all five are partial-mergeable aggregates — one hash-agg
    exchange on a 5-value key, map-side combine does the heavy pass."""
    events = load_table(spark, sf_dir, "events")
    t = F.unix_micros("ts") / 1e12
    return events.groupBy("event_type").agg(
        F.round(F.stddev_samp("value"), 6).alias("sd_value"),
        F.round(F.var_pop("value"), 6).alias("var_value"),
        F.round(F.corr(F.col("value"), t), 6).alias("corr_value_time"),
        F.round(F.covar_samp(F.col("value"), t), 6).alias("covar_value_time"),
        F.round(
            F.avg(F.col("value") * F.col("value")) - F.avg("value") * F.avg("value"), 6
        ).alias("var_by_moments"),
    )


PMI_VOCAB_K = 30  # top-df terms admitted to the co-occurrence matrix
PMI_MIN_PAIR = 25  # documents containing both terms


@register(
    "ns_pmi_cooccurrence",
    sql=f"""
WITH tok AS (
  SELECT DISTINCT doc_id, unnest({text.distinct_tokens_sql('text')}) AS term
  FROM documents
),
df AS (SELECT term, count(*) AS df FROM tok GROUP BY term),
vocab AS (SELECT term, df FROM df ORDER BY df DESC, term LIMIT {PMI_VOCAB_K}),
vt AS (SELECT t.doc_id, t.term FROM tok t JOIN vocab v ON t.term = v.term),
n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM documents),
pair AS (
  SELECT a.term AS ta, b.term AS tb, CAST(count(*) AS DOUBLE) AS cab
  FROM vt a JOIN vt b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
)
SELECT ta AS term_a, tb AS term_b, CAST(cab AS BIGINT) AS n_docs_both,
       round(ln((cab / n.n) / ((va.df / n.n) * (vb.df / n.n))), 6) AS pmi
FROM pair CROSS JOIN n
JOIN vocab va ON ta = va.term
JOIN vocab vb ON tb = vb.term
WHERE cab >= {PMI_MIN_PAIR}
""",
)
def ns_pmi_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information over document-level term
    co-occurrence, restricted to the top-{k}-df vocabulary — the
    collocation/topic-signal statistic that token-level TF-IDF can't
    see (PMI > 0 ⇒ terms travel together more than independence
    predicts).

    Scale: vocabulary restriction is the whole trick — the
    co-occurrence self-join runs on |vocab| terms per doc, so pair
    cardinality is ≤ |docs|·k², never |vocab|². The df table and the
    corpus count broadcast; min-pair pruning cuts before the log."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    tok = docs.select(
        "doc_id", F.explode(text.distinct_tokens(F.col("text"))).alias("term")
    ).distinct()
    tok = _pin(tok)
    df_t = tok.groupBy("term").agg(F.count("*").alias("df"))
    # lazy checkpoints (r09 fusion pattern): vocab feeds THREE consumers
    # (the vt semi-filter, va, vb) and vt feeds BOTH sides of the
    # co-occurrence self-join — without the plan cut each branch carried
    # the whole explode+distinct+top-k subtree again (30 Exchanges in
    # the returned plan, measured r10). Each checkpoint materializes
    # once inside the final job's cascade; no extra job is launched.
    vocab = df_t.orderBy(F.desc("df"), F.asc("term")).limit(PMI_VOCAB_K).localCheckpoint(
        eager=False
    )
    vt = tok.join(F.broadcast(vocab.select("term")), "term").localCheckpoint(eager=False)
    n = docs.agg(F.count_distinct("doc_id").cast("double").alias("n"))
    a, b = vt.alias("a"), vt.alias("b")
    pair = (
        a.join(b, (F.col("a.doc_id") == F.col("b.doc_id")) & (F.col("a.term") < F.col("b.term")))
        .groupBy(F.col("a.term").alias("ta"), F.col("b.term").alias("tb"))
        .agg(F.count("*").cast("double").alias("cab"))
        .filter(F.col("cab") >= PMI_MIN_PAIR)
    )
    va = vocab.select(F.col("term").alias("ta"), F.col("df").alias("df_a"))
    vb = vocab.select(F.col("term").alias("tb"), F.col("df").alias("df_b"))
    pmi = F.log(
        (F.col("cab") / F.col("n"))
        / ((F.col("df_a") / F.col("n")) * (F.col("df_b") / F.col("n")))
    )
    return (
        pair.crossJoin(F.broadcast(n))
        .join(F.broadcast(va), "ta")
        .join(F.broadcast(vb), "tb")
        .select(
            F.col("ta").alias("term_a"),
            F.col("tb").alias("term_b"),
            F.col("cab").cast("long").alias("n_docs_both"),
            F.round(pmi, 6).alias("pmi"),
        )
    )
