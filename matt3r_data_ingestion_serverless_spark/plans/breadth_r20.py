"""Round-4 batch 16: template/boilerplate prefix mining and the
empirical vocabulary growth curve.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.functions import hashing, text
from matt3r_data_ingestion_serverless_spark.functions.rounding import round6, round6_sql
from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table, spread

# ---------------------------------------------------------------------------
# template mining: shared token-prefix clusters (boilerplate detection)
# ---------------------------------------------------------------------------

_TPL_PREFIX = 6  # tokens of prefix that define a "template"


def _template_sql() -> str:
    prefix = f"list_slice({text.tokens_sql('text')}, 1, {_TPL_PREFIX})"
    fp = (
        f"list_reduce(list_prepend(CAST(7 AS BIGINT), "
        f"list_transform({prefix}, t -> ({hashing.md5_hash64_sql('t')}) % {hashing.P31})), "
        f"(a, b) -> (a * 1000003 + b) % {hashing.P31})"
    )
    return f"""
WITH p AS (
  SELECT doc_id, source, {fp} AS prefix_fp,
         len({text.tokens_sql('text')}) AS toklen
  FROM documents
)
SELECT prefix_fp,
       count(*) AS n_docs,
       count(DISTINCT source) AS n_sources,
       CAST(min(doc_id) AS BIGINT) AS example_doc,
       {round6_sql("CAST(sum(toklen) AS DOUBLE) / count(*)")} AS avg_len
FROM p
GROUP BY prefix_fp
HAVING count(*) >= 3
"""


@register("ns_template_mining", sql=_template_sql())
def ns_template_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template/boilerplate mining: documents sharing their first six
    tokens collapse into prefix clusters (polynomial fingerprint over
    md5 token hashes — the ns_content_defined_chunking fold at the
    document head); clusters with ≥ 3 members are the generated/
    templated families a curation pipeline down-weights (scraped
    boilerplate, form letters, log spam share heads long before they
    share full MinHash signatures).

    One scan-stage fingerprint per doc (no shuffle until the
    cluster-size agg), an exact distinct-source count per cluster, and
    min doc_id as the reproducible exemplar. Complements suffix-blind
    near-dup: template families are often below the Jaccard threshold
    but operationally identical."""
    P, B = hashing.P31, 1_000_003
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = text.tokens(F.col("text"))
    prefix_hashes = F.transform(
        F.slice(toks, 1, _TPL_PREFIX), lambda t: hashing.md5_hash64(t) % P
    )
    p = docs.select(
        "doc_id",
        "source",
        F.size(toks).alias("toklen"),
        prefix_hashes.alias("ph"),
    ).select(
        "doc_id",
        "source",
        "toklen",
        F.aggregate(
            F.col("ph"), F.lit(7).cast("long"), lambda a, b: (a * B + b) % P
        ).alias("prefix_fp"),
    )
    return (
        p.groupBy("prefix_fp")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct("source").alias("n_sources"),
            F.min("doc_id").cast("long").alias("example_doc"),
            round6(F.sum("toklen").cast("double") / F.count("*")).alias("avg_len"),
        )
        .filter(F.col("n_docs") >= 3)
    )


# ---------------------------------------------------------------------------
# empirical vocabulary growth curve (Heaps' law, measured)
# ---------------------------------------------------------------------------

_VG_CHECKPOINTS = (50, 100, 200, 500, 1000, 2000)


def _vocab_growth_sql() -> str:
    cps = ", ".join(str(c) for c in _VG_CHECKPOINTS)
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({text.tokens_sql('text')}) AS term FROM documents
),
first_seen AS (SELECT term, min(doc_id) AS fd FROM toks GROUP BY term),
totals AS (
  SELECT doc_id, count(*) AS n_tok FROM toks GROUP BY doc_id
),
cps AS (SELECT unnest([{cps}]) AS checkpoint)
SELECT checkpoint,
       CAST((SELECT count(*) FROM first_seen WHERE fd <= checkpoint) AS BIGINT)
         AS vocab_size,
       CAST((SELECT coalesce(sum(n_tok), 0) FROM totals
             WHERE doc_id <= checkpoint) AS BIGINT) AS tokens_seen
FROM cps
WHERE EXISTS (SELECT 1 FROM totals WHERE doc_id <= checkpoint)
"""


@register("ns_vocab_growth_curve", sql=_vocab_growth_sql())
def ns_vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The measured vocabulary growth curve: distinct terms observed
    after the first N documents (N ∈ {50…2000}, doc_id order), with
    the token mass seen — the EMPIRICAL Heaps' law V(n) ≈ K·nᵝ that
    ns_vocab_stats summarizes with point statistics. Flattening growth
    = saturating corpus (more data adds few new types); linear growth
    flags OCR noise or id-like junk minting fake vocabulary.

    The scalable trick: the curve needs NO per-checkpoint pass —
    min(doc_id) per term (one map-combining agg) gives each term's
    first appearance, and the curve is a ≤-join of the tiny checkpoint
    list against that first-seen table. Exact integers throughout."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", F.explode(text.tokens(F.col("text"))).alias("term"))
    first_seen = toks.groupBy("term").agg(F.min("doc_id").alias("fd"))
    totals = toks.groupBy("doc_id").agg(F.count("*").alias("n_tok"))
    cps = spark.createDataFrame(
        [(c,) for c in _VG_CHECKPOINTS], "checkpoint int"
    )
    vocab = (
        F.broadcast(cps)
        .join(first_seen, F.col("fd") <= F.col("checkpoint"))
        .groupBy("checkpoint")
        .agg(F.count("*").alias("vocab_size"))
    )
    mass = (
        F.broadcast(cps)
        .join(totals, F.col("doc_id") <= F.col("checkpoint"))
        .groupBy("checkpoint")
        .agg(F.sum("n_tok").alias("tokens_seen"))
    )
    return vocab.join(mass, "checkpoint").select(
        "checkpoint",
        F.col("vocab_size").cast("long").alias("vocab_size"),
        F.col("tokens_seen").cast("long").alias("tokens_seen"),
    )
