"""LLM training-data preparation breadth: PII masking, SCD2 dimension
history, and document chunking — both pure-Catalyst and Python-UDTF
implementations of the chunker.

These extend the north-star curation set (plans/curation.py) with the
remaining pipeline stages a 100 TB pretraining-data build runs between
raw crawl and tokenizer: redact identifiers and split long documents
into fixed-token training chunks (keep-one near-dup compaction is
ns_dedup_keep_one in plans/dedup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table, spread

CHUNK_TOKENS = 32  # tokens per training chunk


# ---------------------------------------------------------------------------
# PII masking (customer table carries the realistic identifiers:
# phone numbers, addresses, names)
# ---------------------------------------------------------------------------


@register(
    "ns_pii_mask_events",
    sql="""
SELECT e.event_id,
       sha256(CAST(e.user_id AS VARCHAR)) AS user_pseudo,
       regexp_replace(e.props, '[0-9]+(\\.[0-9]+)?', '#', 'g') AS props_redacted,
       len(regexp_extract_all(e.props, '[0-9]+(\\.[0-9]+)?')) AS n_redactions,
       sha256(c.c_name) AS owner_digest
FROM events e
JOIN customer c ON e.user_id % 1500 = c.c_custkey
WHERE e.event_id < 2000
""",
)
def ns_pii_mask_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: pseudonymize user ids with SHA-256 (stable join key,
    no reversible id), redact numeric literals inside the free-text
    `props` JSON, count redactions for audit, and digest the joined
    owner name — the anonymization pass a training-data pipeline runs
    before text leaves the trust boundary.

    Scale: pure Catalyst string expressions — no UDF; the event filter
    pushes into the scan and the customer side broadcasts. RE2-safe
    patterns only (no lookahead), so the same regexes run on any
    engine downstream."""
    e = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    c = load_table(spark, sf_dir, "customer")
    num = r"[0-9]+(\.[0-9]+)?"
    return (
        e.join(F.broadcast(c), e.user_id % 1500 == c.c_custkey)
        .select(
            "event_id",
            F.sha2(F.col("user_id").cast("string"), 256).alias("user_pseudo"),
            F.regexp_replace(F.col("props"), num, "#").alias("props_redacted"),
            F.regexp_count(F.col("props"), F.lit(num)).cast("long").alias("n_redactions"),
            F.sha2(F.col("c_name"), 256).alias("owner_digest"),
        )
    )


# ---------------------------------------------------------------------------
# SCD2 dimension history
# ---------------------------------------------------------------------------

_SCD2_EFF = "1998-01-01"
_SCD2_START = "1992-01-01"


@register(
    "scd2_customer_history",
    sql=f"""
WITH dim AS (
  SELECT c_custkey, c_mktsegment, c_acctbal, '{_SCD2_START}' AS valid_from
  FROM customer WHERE c_custkey <= 1000
),
upd AS (
  SELECT c_custkey, 'DELINQUENT' AS new_seg FROM dim WHERE c_acctbal < 0
)
SELECT d.c_custkey, d.c_mktsegment AS segment, d.valid_from,
       CASE WHEN u.c_custkey IS NOT NULL THEN '{_SCD2_EFF}' ELSE '9999-12-31' END AS valid_to,
       (u.c_custkey IS NULL) AS is_current
FROM dim d LEFT JOIN upd u USING (c_custkey)
UNION ALL
SELECT c_custkey, 'DELINQUENT' AS segment, '{_SCD2_EFF}' AS valid_from,
       '9999-12-31' AS valid_to, TRUE AS is_current
FROM upd
""",
)
def scd2_customer_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 apply: delinquent customers (negative balance) move to
    a new market segment effective 1998-01-01; the old version is closed out,
    the new version opens, untouched customers stay open — full
    dimension history with validity intervals (operators/scd2.py).

    Parity twin of the reference's overwrite-in-place gold merge
    (infer_stationary_states.py:108-124) done history-preserving."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 1000)
    dim = c.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        "c_acctbal",
        F.lit(_SCD2_START).alias("valid_from"),
    )
    updates = dim.filter(F.col("c_acctbal") < 0).select(
        "c_custkey", F.lit("DELINQUENT").alias("segment")
    )
    from matt3r_data_ingestion_serverless_spark.operators.scd2 import scd2_apply

    hist = scd2_apply(dim.drop("c_acctbal"), updates, "c_custkey", ["segment"], _SCD2_EFF)
    return hist.select("c_custkey", "segment", "valid_from", "valid_to", "is_current")


# ---------------------------------------------------------------------------
# document chunking — the tokenize-and-split stage of a training-data
# build. Two implementations, one oracle: pure Catalyst (the scale
# path) and a Python UDTF (the extension-point path).
# ---------------------------------------------------------------------------


def _chunk_sql() -> str:
    k = CHUNK_TOKENS
    return f"""
WITH t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
)
SELECT doc_id,
       CAST(i AS INT) AS chunk_idx,
       CAST(len(list_slice(toks, i * {k} + 1, i * {k} + {k})) AS INT) AS chunk_tokens,
       md5(array_to_string(list_slice(toks, i * {k} + 1, i * {k} + {k}), ' ')) AS chunk_hash
FROM t, unnest(range(0, CAST(ceil(len(toks) / {k}.0) AS BIGINT))) AS u(i)
"""


@register("ns_chunk_documents", sql=_chunk_sql())
def ns_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size token chunking, pure Catalyst: tokens → index range →
    posexplode → slice. Emits (doc_id, chunk_idx, chunk_tokens,
    chunk_hash) where the hash stands in for the chunk payload (keeps
    the oracle row narrow; a real pipeline would carry the text).

    Scale: zero Python, zero shuffle — chunking is a per-row flatMap
    the whole-stage-codegen pipeline executes inside the scan stage.
    This is the plan shape to prefer over the UDTF twin below at 100 TB
    (no serialization boundary, no worker pool)."""
    k = CHUNK_TOKENS
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = F.split(F.lower(F.col("text")), " ")
    n_chunks = F.ceil(F.size(toks) / F.lit(float(k))).cast("int")
    return (
        docs.select("doc_id", toks.alias("toks"), n_chunks.alias("n"))
        .select(
            "doc_id",
            "toks",
            F.explode(F.sequence(F.lit(0), F.col("n") - 1)).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            F.size(F.slice(F.col("toks"), F.col("chunk_idx") * k + 1, k))
            .cast("int")
            .alias("chunk_tokens"),
            F.md5(
                F.concat_ws(" ", F.slice(F.col("toks"), F.col("chunk_idx") * k + 1, k))
            ).alias("chunk_hash"),
        )
    )


@register("udtf_chunk_documents", sql=_chunk_sql())
def udtf_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same chunker as a Python UDTF (lateral table function) — the
    extension point for chunkers Catalyst can't express (real BPE
    tokenizers, sentence-boundary packing, multimodal interleaving).

    Scale notes: a UDTF crosses the JVM↔Python boundary per row batch;
    it holds one document (not one partition) in memory at a time, so
    arbitrarily long documents stream through. Still ~10× slower than
    the built-in twin (ns_chunk_documents) — same oracle guards both,
    so swapping implementations is provably behavior-preserving."""
    import hashlib

    from pyspark.sql.functions import udtf

    k = CHUNK_TOKENS

    @udtf(returnType="chunk_idx int, chunk_tokens int, chunk_hash string")
    class ChunkDoc:
        def eval(self, text: str):  # noqa: ANN001 — UDTF protocol
            toks = text.lower().split(" ")
            for i in range(0, (len(toks) + k - 1) // k):
                piece = toks[i * k : i * k + k]
                yield (
                    i,
                    len(piece),
                    hashlib.md5(" ".join(piece).encode()).hexdigest(),
                )

    spark.udtf.register("chunk_doc_udtf", ChunkDoc)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("docs_for_chunking")
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_idx, c.chunk_tokens, c.chunk_hash
        FROM docs_for_chunking d, LATERAL chunk_doc_udtf(d.text) c
        """
    )


# ---------------------------------------------------------------------------
# sequence packing: greedy streaming pack of chunks into fixed-token
# training sequences
# ---------------------------------------------------------------------------

PACK_TOKENS = 512  # target tokens per packed training sequence


@register(
    "ns_sequence_packing",
    sql=f"""
WITH t AS (
  SELECT doc_id,
         len(string_split(lower(text), ' ')) AS n_tok
  FROM documents
),
c AS (
  SELECT doc_id, n_tok,
         sum(n_tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
),
p AS (
  SELECT doc_id, n_tok,
         CAST(floor((cum - n_tok) / {PACK_TOKENS}) AS BIGINT) AS pack_id
  FROM c
)
SELECT pack_id,
       count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS pack_tokens,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM p GROUP BY pack_id
""",
)
def ns_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing: documents are laid end-to-end in a
    deterministic order and cut into ~512-token training sequences
    (pack_id = floor(preceding-token-mass / 512)) — the concat-and-
    chunk batching step between tokenization and the training loader.

    Scale: one global running sum. A single-ordering cumulative window
    serializes at 100 TB, so production packs WITHIN a partition key
    (shard by hash(doc_id) first, pack per shard — each shard's packs
    are independent); the global form here keeps the oracle exact. The
    agg after the window reuses the same ordering — no extra shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.size(F.split(F.lower(F.col("text")), " ")).cast("long").alias("n_tok"),
    )
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    p = t.select(
        "doc_id",
        "n_tok",
        F.floor((F.sum("n_tok").over(w) - F.col("n_tok")) / PACK_TOKENS).alias("pack_id"),
    )
    return p.groupBy("pack_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("pack_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


# ---------------------------------------------------------------------------
# deterministic corpus shuffle + token-budget selection
# ---------------------------------------------------------------------------

SHUFFLE_SALT = "epoch0"
TOKEN_BUDGET = 20_000


@register(
    "ns_shuffle_deterministic",
    sql=f"""
SELECT doc_id,
       row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR) || '{SHUFFLE_SALT}'),
                          doc_id) AS position
FROM documents
""",
)
def ns_shuffle_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle: position = rank under a
    salted hash of the key. Reproducible across engines, clusters, and
    re-runs (no RNG state); changing the salt per epoch re-shuffles.

    Scale: a total order needs one range-partitioned sort — at 100 TB
    the hash column sorts near-uniformly, so range partitioning is
    balanced by construction (no skew, no sampling surprises). Writers
    then emit shard files in position order; readers stream shards
    sequentially."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(SHUFFLE_SALT)))
    w = Window.orderBy(h, F.col("doc_id"))
    return docs.select("doc_id", F.row_number().over(w).alias("position"))


@register(
    "ns_token_budget_select",
    sql=f"""
WITH scored AS (
  SELECT doc_id,
         len(string_split(lower(text), ' ')) AS n_tok,
         round(len(list_filter(string_split(lower(text), ' '),
                               t -> t IN ('the', 'and', 'of', 'to', 'a', 'in', 'is', 'that')))::DOUBLE
               / len(string_split(lower(text), ' ')), 6) AS quality
  FROM documents
),
ranked AS (
  SELECT doc_id, n_tok, quality,
         sum(n_tok) OVER (ORDER BY quality DESC, doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum_tok
  FROM scored
)
SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok, quality,
       CAST(cum_tok AS BIGINT) AS cum_tok
FROM ranked WHERE cum_tok <= {TOKEN_BUDGET}
""",
)
def ns_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus selection: rank documents by a quality score
    (stopword density as the stand-in signal) and keep the best until
    the training-token budget is spent — the data-mixing step that
    turns 'all of CommonCrawl' into 'the N billion tokens we train on'.

    Scale: global quality ordering = one range sort; the cumulative sum
    reuses that ordering (no second shuffle). For multi-trillion-token
    corpora, bucket by quality decile first and take whole buckets +
    one boundary bucket — avoids the global sort entirely."""
    from matt3r_data_ingestion_serverless_spark.functions import text as tx

    docs = load_table(spark, sf_dir, "documents")
    toks = tx.tokens(F.col("text"))
    scored = docs.select(
        "doc_id",
        F.size(toks).alias("n_tok"),
        F.round(tx.stopword_hits(toks, "en") / F.size(toks), 6).alias("quality"),
    )
    w = Window.orderBy(F.desc("quality"), F.asc("doc_id")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    ranked = scored.withColumn("cum_tok", F.sum("n_tok").over(w))
    return ranked.filter(F.col("cum_tok") <= TOKEN_BUDGET).select(
        "doc_id",
        F.col("n_tok").cast("long").alias("n_tok"),
        "quality",
        F.col("cum_tok").cast("long").alias("cum_tok"),
    )
