"""The deduplication domain: exact, canonicalized, MinHash-LSH and
SimHash near-dup detection over the ``documents`` table, the
duplicate clusters (connected components) built from the verified
pairs, and the audits that read them (keep-one compaction, medoids,
cost savings, bucket skew, sketch accuracy, the Jaccard operating
curve, detector agreement, ROUGE-2). Each query is graded against a
DuckDB oracle that derives the same pairs from the documents.

The hashing rules (shingles, MinHash signatures, band keys, Jaccard)
are Spark/DuckDB twins in functions/hashing.py. The plan pieces every
MinHash query starts from are built once, below: the signatures
(minhash_signatures), their band keys (band_keys), the LSH candidate
pairs (lsh_pairs) and the pinned verified pair list (near_dup_pairs);
the oracles read the matching `th, d, s, bk` CTEs
(hashing.band_keys_cte).

Scale: the candidate join is on (band, key) — cardinality ~n_bands ×
n_docs, bucket sizes are small by construction, so the shuffle is
narrow and the quadratic work is confined to within-bucket pairs.
Exact verification runs only on candidates. No O(n²) stage anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.functions import hashing
from matt3r_data_ingestion_serverless_spark.functions.rounding import round6, round6_sql
from matt3r_data_ingestion_serverless_spark.operators.iterate import connected_components, mirror
from matt3r_data_ingestion_serverless_spark.plans.northstar import _pin
from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table, spread

JACCARD_DUP = 0.8  # verified near-duplicate threshold (planted pairs ≥ 0.9)
SIMHASH_MAX_HAM = 4  # max Hamming distance for simhash near-dups


# ---------------------------------------------------------------------------
# exact and canonicalized dedup
# ---------------------------------------------------------------------------


@register(
    "ns_dedup_exact",
    sql="""
SELECT md5(text) AS content_hash,
       min(doc_id) AS keep_doc_id,
       count(*) AS n_copies
FROM documents
GROUP BY md5(text)
""",
)
def ns_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on md5(text), keep the min doc_id per
    content hash. One narrow shuffle on a 16-byte key; at 100 TB the
    map-side partial agg collapses each partition's dups first."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return (
        docs.groupBy(F.md5("text").alias("content_hash"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


_NORM_DEDUP_SQL = """
WITH n AS (
  SELECT doc_id, source,
         md5(text) AS raw_hash,
         md5(regexp_replace(lower(trim(text)), ' +', ' ', 'g')) AS norm_hash
  FROM documents
)
SELECT norm_hash,
       count(*) AS n_copies,
       count(DISTINCT raw_hash) AS n_raw_variants,
       CAST(min(doc_id) AS BIGINT) AS keep_doc_id,
       count(DISTINCT source) AS n_sources
FROM n
GROUP BY norm_hash
HAVING count(*) > 1
"""


@register("ns_dedup_normalized", _NORM_DEDUP_SQL)
def ns_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalized exact dedup: hash AFTER trim → lowercase →
    whitespace-collapse, so docs differing only in case or spacing
    collapse into one group — the normalization pass every curation
    pipeline runs between byte-exact dedup (ns_dedup_exact, which
    these variants evade) and near-dedup (ns_dedup_minhash_lsh, which
    is overkill for them). `n_raw_variants > 1` counts groups where
    normalization did real work — the audit number that justifies the
    pass.

    Normalization is whole-stage-codegen regexp (no UDF; the Arrow-UDF
    twin of this transform is udf_arrow_normalize), then the standard
    one-shuffle hash-groupBy on a 16-byte key."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), " +", " ")
    n = docs.select(
        "doc_id",
        "source",
        F.md5("text").alias("raw_hash"),
        F.md5(norm).alias("norm_hash"),
    )
    return (
        n.groupBy("norm_hash")
        .agg(
            F.count("*").alias("n_copies"),
            F.count_distinct("raw_hash").alias("n_raw_variants"),
            F.min("doc_id").cast("long").alias("keep_doc_id"),
            F.count_distinct("source").alias("n_sources"),
        )
        .filter(F.col("n_copies") > 1)
    )


# ---------------------------------------------------------------------------
# MinHash-LSH and SimHash near-dup pairs
# ---------------------------------------------------------------------------


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(doc_id, sh, sig)``: each document's distinct shingle hashes and
    its MinHash signature. Unpinned: a caller that reads it twice (band
    explode and verify join-back) pins it."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return hashing.with_hashed_shingles(docs).select(
        "doc_id", "sh", hashing.minhash_from_hashes_expr("sh").alias("sig")
    )


def band_keys(sigs: DataFrame) -> DataFrame:
    """``(doc_id, band, key)``: one row per document and LSH band."""
    return sigs.select(
        "doc_id", F.explode(hashing.minhash_band_structs_expr("sig")).alias("bk")
    ).select("doc_id", "bk.band", "bk.key")


def lsh_pairs(bk: DataFrame) -> DataFrame:
    """Distinct candidate pairs ``(doc_a, doc_b)``, doc_a < doc_b, that
    share a band key: the LSH self-join on (band, key)."""
    a, b = bk.alias("a"), bk.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def minhash_lsh_sql() -> str:
    """The oracle of ns_dedup_minhash_lsh: verified (doc_a, doc_b,
    jaccard) pairs. Other oracles embed it as their pair list."""
    return f"""
WITH {hashing.band_keys_cte()},
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bk a JOIN bk b ON a.band = b.band AND a.key = b.key
                           AND a.doc_id < b.doc_id),
v AS (SELECT doc_a, doc_b,
             round({hashing.jaccard_sql('da.sh', 'db.sh')}, 6) AS jaccard
      FROM cand JOIN d da ON doc_a = da.doc_id
                JOIN d db ON doc_b = db.doc_id)
SELECT doc_a, doc_b, jaccard FROM v WHERE jaccard >= {JACCARD_DUP}
"""


@register("ns_dedup_minhash_lsh", sql=minhash_lsh_sql())
def ns_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup: 3-gram shingles → 16 minhashes → 4 bands of
    4 → bucket self-join → exact-Jaccard verification of candidates.

    Scale: the self-join key (band, band_key) has ~4n rows with tiny
    buckets, so the shuffle is linear and within-bucket pair expansion
    is bounded; exact Jaccard touches only candidates. Signature
    computation is pure higher-order functions (no UDF, no shuffle)."""
    # pin shingles+signature together: band explode AND the verify
    # join-back both read this one cached stage
    s = _pin(minhash_signatures(spark, sf_dir))
    cand = lsh_pairs(band_keys(s))
    da = s.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    db = s.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    return (
        cand.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(hashing.jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_DUP)
    )


def near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The verified pair list ``(doc_a, doc_b, jaccard)`` of
    ns_dedup_minhash_lsh, checkpointed eagerly: the MinHash detector
    runs once, and every join, loop round and recursion step after it
    reads the materialized list. The one pin of the pair list; the
    dup clusters, the graph queries and the pair audits start here."""
    return ns_dedup_minhash_lsh(spark, sf_dir).localCheckpoint(eager=True)


def _simhash_sql() -> str:
    fp = hashing.simhash_fingerprint_sql("sh")
    # 4 byte-wide bands over the 32-bit fingerprint for candidate blocking
    bands = ", ".join(
        f"{{'band': {b}, 'key': (fp >> {b * 8}) & 255}}" for b in range(4)
    )
    return f"""
WITH {hashing.hashed_shingles_cte()},
f AS (SELECT doc_id, {fp} AS fp FROM d),
bk AS (SELECT doc_id, fp, unnest([{bands}], recursive := true) FROM f),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                a.fp AS fp_a, b.fp AS fp_b
         FROM bk a JOIN bk b ON a.band = b.band AND a.key = b.key
                           AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b, bit_count(xor(fp_a, fp_b)) AS hamming
FROM cand WHERE bit_count(xor(fp_a, fp_b)) <= {SIMHASH_MAX_HAM}
"""


@register("ns_dedup_simhash", sql=_simhash_sql())
def ns_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 32-bit fingerprint over shingle hashes, blocked
    on the 4 fingerprint bytes, Hamming ≤ 4 verification. Same
    linear-shuffle/bounded-bucket shape as the MinHash path — standard
    simhash byte-block trick (any pair within Hamming 3 shares a byte;
    at 4 the extreme 1-bit-per-band spread is missed — documented LSH
    recall trade-off, identical in the oracle)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    d = hashing.with_hashed_shingles(docs).select("doc_id", "sh")
    f_ = _pin(
        d.select("doc_id", hashing.simhash_fingerprint_expr("sh").alias("fp"))
    )
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright("fp", b * 8).bitwiseAND(F.lit(255)).alias("key"),
            )
            for b in range(4)
        ]
    )
    bk = f_.select("doc_id", "fp", F.explode(bands).alias("bk")).select(
        "doc_id", "fp", "bk.band", "bk.key"
    )
    a, b = bk.alias("a"), bk.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.fp").alias("fp_a"),
            F.col("b.fp").alias("fp_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return cand.select("doc_a", "doc_b", ham.alias("hamming")).filter(
        F.col("hamming") <= SIMHASH_MAX_HAM
    )


# ---------------------------------------------------------------------------
# incremental dedup: new batch vs existing corpus
# ---------------------------------------------------------------------------


def _incremental_dedup_sql() -> str:
    return f"""
WITH {hashing.band_keys_cte()},
cand AS (SELECT DISTINCT b.doc_id AS bid, c.doc_id AS cid
         FROM bk b JOIN bk c ON b.band = c.band AND b.key = c.key
         WHERE b.doc_id % 2 = 1 AND c.doc_id % 2 = 0),
v AS (SELECT bid, cid, round({hashing.jaccard_sql('db.sh', 'dc.sh')}, 6) AS j
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
    s = _pin(minhash_signatures(spark, sf_dir))
    bk = band_keys(s)
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
            "bid", F.round(hashing.jaccard(F.col("sh_b"), F.col("sh_c")), 6).alias("j")
        )
        .filter(F.col("j") >= JACCARD_DUP)
    )
    m = v.groupBy("bid").agg(F.count("*").alias("n"), F.max("j").alias("bj"))
    batch = s.filter(F.col("doc_id") % 2 == 1).select("doc_id")
    return batch.join(m, batch.doc_id == m.bid, "left").select(
        "doc_id",
        F.when(F.col("n").isNotNull(), "drop").otherwise("keep").alias("decision"),
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_corpus_matches"),
        F.col("bj").alias("best_jaccard"),
    )


# ---------------------------------------------------------------------------
# LSH diagnostics: bucket skew, sketch accuracy, the Jaccard curve
# ---------------------------------------------------------------------------


def _lsh_bucket_sql() -> str:
    return f"""
WITH {hashing.band_keys_cte()},
buckets AS (
  SELECT band, key, count(*) AS sz FROM bk GROUP BY band, key
)
SELECT CAST(band AS INT) AS band,
       count(*) AS n_buckets,
       CAST(max(sz) AS BIGINT) AS max_bucket,
       CAST(sum(CASE WHEN sz > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS colliding_buckets,
       CAST(sum(sz * (sz - 1) / 2) AS BIGINT) AS candidate_pairs,
       {round6_sql("CAST(sum(sz) AS DOUBLE) / count(*)")} AS avg_bucket
FROM buckets GROUP BY band
"""


@register("ns_lsh_bucket_stats", sql=_lsh_bucket_sql())
def ns_lsh_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH bucket-skew diagnostics: per band, the bucket count, max and
    mean bucket size, colliding buckets, and the CANDIDATE-PAIR MASS
    Σ s(s−1)/2 — the number that IS the LSH self-join's cost. This is
    the audit run before ns_dedup_minhash_lsh at a new scale: a single
    hot bucket (empty-doc signatures, boilerplate) turns the linear
    band join quadratic, and this table says which band and how bad —
    the input to the salting decision SCALE.md §3 prescribes.

    One banding pass (shared with the dedup pipeline) and one two-level
    agg; everything exact-integer except the rounded mean."""
    bk = band_keys(minhash_signatures(spark, sf_dir))
    buckets = bk.groupBy("band", "key").agg(F.count("*").alias("sz"))
    return buckets.groupBy(F.col("band").cast("int").alias("band")).agg(
        F.count("*").alias("n_buckets"),
        F.max("sz").cast("long").alias("max_bucket"),
        F.sum((F.col("sz") > 1).cast("int")).cast("long").alias("colliding_buckets"),
        F.sum(F.expr("sz * (sz - 1) div 2")).cast("long").alias("candidate_pairs"),
        round6(F.sum("sz").cast("double") / F.count("*")).alias("avg_bucket"),
    )


def _minhash_est_sql() -> str:
    n = hashing.N_MINHASHES
    return f"""
WITH {hashing.band_keys_cte()},
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bk a JOIN bk b ON a.band = b.band AND a.key = b.key
                           AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b,
       round(len(list_filter(range(1, {n} + 1),
             i -> sa.sig[i] = sb.sig[i]))::DOUBLE / {n}, 6) AS est_jaccard,
       round({hashing.jaccard_sql('sa.sh', 'sb.sh')}, 6) AS exact_jaccard
FROM cand JOIN s sa ON doc_a = sa.doc_id
          JOIN s sb ON doc_b = sb.doc_id
"""


@register("ns_minhash_jaccard_est", sql=_minhash_est_sql())
def ns_minhash_jaccard_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based similarity ESTIMATION: for every LSH candidate pair,
    the MinHash estimate of Jaccard (fraction of agreeing signature
    components) side by side with the exact value — the measured
    sketch-accuracy contract a pipeline relies on when it skips exact
    verification at scale.

    Scale: signatures are 16×8 bytes per doc regardless of doc length,
    so the estimate join moves sketch bytes, not shingle sets — at
    100 TB the exact column here is the audit; production reads only
    `est_jaccard`. Candidate generation shares the banded-LSH shape of
    ns_dedup_minhash_lsh (linear shuffle, bounded buckets)."""
    s = _pin(minhash_signatures(spark, sf_dir))
    cand = lsh_pairs(band_keys(s))
    sa = s.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"), F.col("sig").alias("sig_a"))
    sb = s.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"), F.col("sig").alias("sig_b"))
    n_eq = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda m: m,
        )
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(n_eq / hashing.N_MINHASHES, 6).alias("est_jaccard"),
            F.round(hashing.jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("exact_jaccard"),
        )
    )


def _jhist_sql() -> str:
    pairs = minhash_lsh_sql().strip()
    return f"""
WITH pairs AS ({pairs}),
b AS (
  SELECT least(CAST(floor(jaccard * 20) AS BIGINT), 19) AS bin FROM pairs
),
h AS (SELECT bin, count(*) AS n FROM b GROUP BY bin)
SELECT bin,
       {round6_sql("bin * 0.05")} AS bin_lo,
       CAST(n AS BIGINT) AS n_pairs,
       CAST(sum(n) OVER (ORDER BY bin DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS n_pairs_at_or_above
FROM h
"""


@register("ns_pair_jaccard_histogram", _jhist_sql())
def ns_pair_jaccard_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup operating curve: verified near-dup pairs histogrammed
    by exact Jaccard in 0.05 bins, with the cumulative
    pairs-at-or-above count read DESCENDING — exactly the table a
    curator consults to pick the dedup threshold (raise it and this
    many pairs survive). Bins derive from the already-rounded pair
    Jaccards by integer floor; the reverse-cumulative window runs on
    ≤20 rows. Reuses the MinHash-LSH verified pair set — no second
    similarity pass."""
    pairs = ns_dedup_minhash_lsh(spark, sf_dir)
    b = pairs.select(
        F.least(F.floor(F.col("jaccard") * 20).cast("long"), F.lit(19)).alias("bin")
    )
    h = b.groupBy("bin").agg(F.count("*").alias("n"))
    cum = F.sum("n").over(
        Window.orderBy(F.desc("bin")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return h.select(
        "bin",
        round6(F.col("bin") * 0.05).alias("bin_lo"),
        F.col("n").cast("long").alias("n_pairs"),
        cum.cast("long").alias("n_pairs_at_or_above"),
    )


# ---------------------------------------------------------------------------
# pair-set audits: detector agreement, ROUGE-2
# ---------------------------------------------------------------------------


def _agreement_sql() -> str:
    return f"""
WITH mh AS MATERIALIZED (
  SELECT doc_a, doc_b FROM ({minhash_lsh_sql().strip()})
),
sh AS MATERIALIZED (
  SELECT doc_a, doc_b FROM ({_simhash_sql().strip()})
),
mh_n AS (SELECT count(*) AS n FROM mh),
sh_n AS (SELECT count(*) AS n FROM sh),
bothp AS (SELECT count(*) AS n FROM mh JOIN sh USING (doc_a, doc_b))
SELECT mh_n.n AS minhash_pairs, sh_n.n AS simhash_pairs, bothp.n AS agreed_pairs,
       {round6_sql(
           'CAST(bothp.n AS DOUBLE) / (mh_n.n + sh_n.n - bothp.n)'
       )} AS jaccard_agreement_r
FROM mh_n, sh_n, bothp
"""


@register("ns_dedup_method_agreement", sql=_agreement_sql())
def ns_dedup_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Method-comparison eval: how much do the MinHash-LSH and SimHash
    near-dup detectors AGREE at the pair level (intersection and
    Jaccard of their pair sets)? The audit a curation team runs before
    trusting any single detector — low agreement means the threshold
    regimes differ (MinHash verifies exact Jaccard ≥ 0.8; SimHash's
    Hamming ≤ 4 is a looser cosine-ish proxy), so the union/intersection
    choice changes what gets deduped.

    Scale: both detectors are the existing linear-shuffle band-join
    plans; the agreement join runs on the PAIR tables (result-sized,
    tiny)."""
    mh = near_dup_pairs(spark, sf_dir).select("doc_a", "doc_b")
    sh = ns_dedup_simhash(spark, sf_dir).select("doc_a", "doc_b").localCheckpoint(
        eager=True
    )
    # all three counts in ONE action over the outer-joined pair sets
    # (pair-table-sized) — not three separate count jobs
    j = mh.withColumn("_m", F.lit(1)).join(
        sh.withColumn("_s", F.lit(1)), ["doc_a", "doc_b"], "full_outer"
    )
    return j.agg(
        F.count("_m").alias("minhash_pairs"),
        F.count("_s").alias("simhash_pairs"),
        F.count(F.when(F.col("_m").isNotNull() & F.col("_s").isNotNull(), 1)).alias(
            "agreed_pairs"
        ),
    ).select(
        "minhash_pairs",
        "simhash_pairs",
        "agreed_pairs",
        round6(
            F.col("agreed_pairs").cast("double")
            / (F.col("minhash_pairs") + F.col("simhash_pairs") - F.col("agreed_pairs"))
        ).alias("jaccard_agreement_r"),
    )


def _rouge2_sql() -> str:
    return f"""
WITH pairs AS MATERIALIZED (SELECT doc_a, doc_b FROM ({minhash_lsh_sql().strip()})),
w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
bgx AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(ws) - 1, 0) + 1),
                               i -> ws[i] || ' ' || ws[i + 1])) AS g
  FROM w
),
bg AS MATERIALIZED (SELECT doc_id, g, count(*) AS n FROM bgx GROUP BY 1, 2),
tots AS (SELECT doc_id, sum(n) AS total FROM bg GROUP BY 1),
clip AS (
  SELECT p.doc_a, p.doc_b, sum(least(ga.n, gb.n)) AS clipped
  FROM pairs p
  JOIN bg ga ON ga.doc_id = p.doc_a
  JOIN bg gb ON gb.doc_id = p.doc_b AND gb.g = ga.g
  GROUP BY 1, 2
),
m AS (
  SELECT c.doc_a, c.doc_b, c.clipped,
         ta.total AS total_a, tb.total AS total_b,
         CAST(c.clipped AS DOUBLE) / tb.total AS prec,
         CAST(c.clipped AS DOUBLE) / ta.total AS rec
  FROM clip c
  JOIN tots ta ON ta.doc_id = c.doc_a
  JOIN tots tb ON tb.doc_id = c.doc_b
)
SELECT doc_a, doc_b, clipped,
       {round6_sql('prec')} AS rouge2_p_r,
       {round6_sql('rec')} AS rouge2_r_r,
       {round6_sql('2 * prec * rec / (prec + rec)')} AS rouge2_f1_r
FROM m
"""


@register("ns_rouge2_neardup_pairs", sql=_rouge2_sql())
def ns_rouge2_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-2 with clipped counts over the near-dup candidate pairs
    (doc_a as reference): precision/recall/F1 on bigram MULTISETS —
    Σ min(count_a(g), count_b(g)) — which is what separates ROUGE from
    the set-Jaccard the dedup path already computes (repeated boilerplate
    bigrams only count up to their reference multiplicity). The standard
    summarization-eval metric, applied here to audit how much of each
    near-dup is verbatim n-gram overlap.

    Scale: the bigram stage is computed ONLY for pair-member docs — a
    broadcast semi-join of the corpus against the (tiny) distinct pair
    ids — because every downstream join is inner on a pair side; the
    whole-corpus bigram table the oracle nominally builds is never
    needed. The clip join then fans out only (pair × shared-gram) rows —
    pairs come from the LSH band join, never all-pairs. Pairs with zero
    shared bigrams drop out (inner join), which cannot happen for true
    near-dups."""
    pairs = near_dup_pairs(spark, sf_dir).select("doc_a", "doc_b")
    members = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    w = (
        load_table(spark, sf_dir, "documents")
        .join(F.broadcast(members), "doc_id", "left_semi")
        .select("doc_id", F.split("text", " ").alias("ws"))
    )
    bg = (
        w.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, greatest(size(ws) - 1, 0)),"
                    " i -> concat(ws[i - 1], ' ', ws[i]))"
                )
            ).alias("g"),
        )
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    tots = bg.groupBy("doc_id").agg(F.sum("n").alias("total"))
    ga = bg.select(
        F.col("doc_id").alias("doc_a"), "g", F.col("n").alias("na")
    )
    gb = bg.select(
        F.col("doc_id").alias("b_id"), F.col("g").alias("gb"), F.col("n").alias("nb")
    )
    clip = (
        pairs.join(ga, "doc_a")
        .join(gb, (F.col("doc_b") == F.col("b_id")) & (F.col("g") == F.col("gb")))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.least("na", "nb")).alias("clipped"))
    )
    ta = tots.select(F.col("doc_id").alias("doc_a"), F.col("total").alias("total_a"))
    tb = tots.select(F.col("doc_id").alias("doc_b"), F.col("total").alias("total_b"))
    m = (
        clip.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "clipped",
            (F.col("clipped").cast("double") / F.col("total_b")).alias("prec"),
            (F.col("clipped").cast("double") / F.col("total_a")).alias("rec"),
        )
    )
    return m.select(
        "doc_a",
        "doc_b",
        "clipped",
        round6(F.col("prec")).alias("rouge2_p_r"),
        round6(F.col("rec")).alias("rouge2_r_r"),
        round6(
            2 * F.col("prec") * F.col("rec") / (F.col("prec") + F.col("rec"))
        ).alias("rouge2_f1_r"),
    )


# ---------------------------------------------------------------------------
# duplicate clusters: connected components over the verified pairs
# ---------------------------------------------------------------------------


def dup_clusters_ctes() -> str:
    """Shared recursive-CTE prefix: near-dup pairs → undirected edges →
    transitive closure → min-reachable-id labels (`lbl(node,
    cluster_id)`). Callers append their own final SELECT (and any extra
    CTEs, prefixed with a comma)."""
    pairs = minhash_lsh_sql().strip()
    return f"""
WITH RECURSIVE pairs AS ({pairs}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
reach AS (
  SELECT src AS node, dst AS r FROM edges
  UNION
  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.node
),
lbl AS (
  SELECT node, least(min(r), node) AS cluster_id
  FROM reach GROUP BY node
)"""


def _dup_clusters_sql() -> str:
    # undirected transitive closure by recursive CTE, then min reachable
    # id per node = cluster id (DuckDB explores the closure; fine at
    # oracle scale — the Spark side is the one that must scale)
    return f"""
{dup_clusters_ctes()}
SELECT node AS doc_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM lbl
"""


@register("ns_dup_clusters", sql=_dup_clusters_sql())
def ns_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resolve near-dup PAIRS (MinHash-LSH verified, Jaccard ≥ 0.8) into
    duplicate CLUSTERS: each document labeled with the min doc_id
    reachable through the dup graph (connected components), plus the
    cluster size — the unit a dedup pipeline keeps one representative
    from.

    Scale: iterative min-label propagation with pointer jumping
    (operators/iterate.py:connected_components) — per round one shuffle
    join on the edge list + one hash agg; dup clusters are shallow
    (pairwise-similar groups → diameter ≤ ~2), so 2–4 rounds suffice."""
    return _dup_clusters_from_pairs(near_dup_pairs(spark, sf_dir))


def _dup_clusters_from_pairs(pairs: DataFrame) -> DataFrame:
    """Connected-components labels ``(doc_id, cluster_id,
    cluster_size)`` over the pinned pair list (near_dup_pairs), which a
    caller that also reads the pairs (medoid election) shares. The
    mirrored edge list is an explode over that checkpoint, so it needs
    no pin of its own: a second checkpoint cost each caller a job."""
    edges = mirror(pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")))
    labels = connected_components(
        edges.select(F.col("src").alias("node")).distinct(), edges
    )
    w = Window.partitionBy("cluster_id")
    return labels.select(
        F.col("node").alias("doc_id"),
        "cluster_id",
        F.count("*").over(w).alias("cluster_size"),
    )


def _cluster_hist_sql() -> str:
    return f"""
{dup_clusters_ctes()},
cl AS (
  SELECT cluster_id, count(*) AS cluster_size
  FROM lbl GROUP BY cluster_id
)
SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       count(*) AS n_clusters
FROM cl GROUP BY cluster_size
"""


@register("cluster_size_histogram", sql=_cluster_hist_sql())
def cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of duplicate-cluster sizes — the dedup-health
    metric: a heavy tail here means boilerplate/template contamination
    (huge clusters), a flat 2-spike means true near-dup pairs. Pure
    counts over the connected-components labels.

    Scale: two tiny aggs on the pairs-sized label table; the corpus
    never re-enters."""
    labels = ns_dup_clusters(spark, sf_dir)
    cl = labels.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return cl.groupBy(F.col("cluster_size").cast("long").alias("cluster_size")).agg(
        F.count("*").alias("n_clusters")
    )


@register("sql_recursive_components", sql=_dup_clusters_sql())
def sql_recursive_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components via Spark's native WITH RECURSIVE (4.0+) —
    the declarative twin of ns_dup_clusters' iterative min-label loop.
    The pinned near-dup pairs (near_dup_pairs) are passed to spark.sql
    as a DataFrame argument — PySpark drops the view it registers for
    them once the query is analysed — and the closure +
    min-reachable-label runs entirely in SQL, matching the DuckDB
    oracle's recursive CTE shape.

    Scale: each recursion step is one shuffle join (frontier × edges),
    exactly what the manual loop issues. Spark (4.1) only supports
    UNION ALL recursion — no cross-step dedup — so an undirected
    closure must be DEPTH-BOUNDED to terminate: dup-cluster graphs are
    near-cliques (every surviving pair passed a Jaccard check), so
    diameter ≤ 4 hops reaches the whole component; the per-step
    DISTINCT bounds the frontier and the final GROUP BY collapses the
    multi-path duplicates. For deep/chain-shaped graphs use the
    iterative min-label loop (ns_dup_clusters), which converges by
    fixed point instead of depth."""
    # The recursive plan references `edges` once per iteration: reading
    # the pinned pair list keeps the MinHash-LSH pipeline out of every
    # step.
    return spark.sql(
        """
WITH RECURSIVE
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM {pairs}
  UNION SELECT doc_b, doc_a FROM {pairs}
),
reach AS (
  SELECT src AS node, dst AS r, 1 AS depth FROM edges
  UNION ALL
  SELECT DISTINCT e.src, reach.r, reach.depth + 1
  FROM edges e JOIN reach ON e.dst = reach.node
  WHERE reach.depth < 4
),
lbl AS (
  SELECT node, least(min(r), node) AS cluster_id
  FROM reach GROUP BY node
)
SELECT node AS doc_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM lbl
""",
        pairs=near_dup_pairs(spark, sf_dir).select("doc_a", "doc_b"),
    )


# ---------------------------------------------------------------------------
# cluster consumers: keep-one compaction, medoids, cost savings
# ---------------------------------------------------------------------------


def _keep_one_sql() -> str:
    return f"""
{dup_clusters_ctes()},
cl AS (
  SELECT node AS doc_id, cluster_id,
         count(*) OVER (PARTITION BY cluster_id) AS cluster_size
  FROM lbl
)
SELECT d.doc_id, d.source,
       CAST(coalesce(cl.cluster_size, 1) AS BIGINT) AS n_merged
FROM documents d
LEFT JOIN cl ON d.doc_id = cl.doc_id
WHERE cl.doc_id IS NULL OR cl.doc_id = cl.cluster_id
"""


@register("ns_dedup_keep_one", sql=_keep_one_sql())
def ns_dedup_keep_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus compaction after duplicate-cluster resolution: every
    document outside a dup cluster survives; inside a cluster only the
    min-id representative survives, annotated with how many documents
    it absorbed (`n_merged`) — the provenance a dedup pipeline keeps.

    Scale: the cluster table is pairs-sized (≪ corpus — only docs that
    collided in LSH), so both the representative filter and the
    corpus join broadcast; the full corpus is scanned exactly once."""
    clusters = ns_dup_clusters(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.join(F.broadcast(clusters), "doc_id", "left")
        .filter(F.col("cluster_id").isNull() | (F.col("doc_id") == F.col("cluster_id")))
        .select(
            "doc_id",
            "source",
            F.coalesce(F.col("cluster_size"), F.lit(1)).cast("long").alias("n_merged"),
        )
    )


def _medoids_sql() -> str:
    return f"""
{dup_clusters_ctes()},
inc AS (
  SELECT node, sum(jaccard) AS s FROM (
    SELECT doc_a AS node, jaccard FROM pairs
    UNION ALL SELECT doc_b, jaccard FROM pairs
  ) GROUP BY node
),
m AS (
  SELECT l.cluster_id, l.node, coalesce(inc.s, 0) AS s,
         count(*) OVER (PARTITION BY l.cluster_id) AS cluster_size,
         row_number() OVER (
           PARTITION BY l.cluster_id
           ORDER BY floor(coalesce(inc.s, 0) * 1e6 + 0.5) DESC, l.node
         ) AS rk
  FROM lbl l LEFT JOIN inc ON inc.node = l.node
)
SELECT cluster_id, node AS medoid_doc_id, cluster_size,
       {round6_sql('s')} AS medoid_score_r
FROM m WHERE rk = 1
"""


@register("ns_dup_cluster_medoids", sql=_medoids_sql())
def ns_dup_cluster_medoids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Medoid election per duplicate cluster: the member with the
    highest total Jaccard to its verified neighbours (ties → lowest id)
    — the representative a dedup pipeline KEEPS, chosen as "most
    central copy" rather than ns_dedup_keep_one's arbitrary-min-id rule.
    The ranking compares micro-rounded incident sums so a float
    summation-order ulp can never flip the election.

    Scale: cluster labels come from the iterative min-label components,
    fed the SAME pinned pair list (near_dup_pairs) the incident sums
    read, so the MinHash detector runs once, not twice; incident sums
    are one groupBy over both pair directions; the election is one
    window over cluster-sized partitions. Nothing rescans the corpus."""
    pairs = near_dup_pairs(spark, sf_dir)
    lbl = _dup_clusters_from_pairs(pairs).select(
        F.col("doc_id").alias("node"), "cluster_id", "cluster_size"
    )
    inc = (
        pairs.select(F.col("doc_a").alias("node"), "jaccard")
        .union(pairs.select(F.col("doc_b").alias("node"), "jaccard"))
        .groupBy("node")
        .agg(F.sum("jaccard").alias("s"))
    )
    m = lbl.join(inc, "node", "left").withColumn(
        "s", F.coalesce("s", F.lit(0.0))
    )
    wr = Window.partitionBy("cluster_id").orderBy(
        F.desc(F.floor(F.col("s") * 1e6 + 0.5)), F.asc("node")
    )
    return (
        m.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") == 1)
        .select(
            "cluster_id",
            F.col("node").alias("medoid_doc_id"),
            "cluster_size",
            round6(F.col("s")).alias("medoid_score_r"),
        )
    )


def _savings_sql() -> str:
    return f"""
{dup_clusters_ctes()},
joined AS (
  SELECT d.doc_id, d.n_chars, l.cluster_id
  FROM documents d LEFT JOIN lbl l ON l.node = d.doc_id
)
SELECT count(*) AS n_docs,
       sum(CASE WHEN cluster_id IS NOT NULL AND doc_id != cluster_id
                THEN 1 ELSE 0 END) AS n_dropped,
       sum(n_chars) AS chars_total,
       sum(CASE WHEN cluster_id IS NOT NULL AND doc_id != cluster_id
                THEN n_chars ELSE 0 END) AS chars_saved,
       {round6_sql(
           "CAST(sum(CASE WHEN cluster_id IS NOT NULL AND doc_id != cluster_id"
           " THEN n_chars ELSE 0 END) AS DOUBLE) / sum(n_chars)"
       )} AS save_ratio_r
FROM joined
"""


@register("ns_dedup_cost_savings", sql=_savings_sql())
def ns_dedup_cost_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup ledger: with keep-one-per-cluster (the min-id
    representative = the cluster label), how many documents and
    characters does the near-dup pass actually delete? The number a
    curation team reports when justifying the dedup stage's compute —
    storage/training-token savings, not pair counts.

    Scale: cluster labels from the iterative components; one broadcast
    join against the (tiny) label table and a single aggregate."""
    lbl = ns_dup_clusters(spark, sf_dir).select(
        F.col("doc_id").alias("node"), "cluster_id"
    )
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    j = d.join(
        F.broadcast(lbl), d.doc_id == F.col("node"), "left"
    )
    dropped = F.col("cluster_id").isNotNull() & (F.col("doc_id") != F.col("cluster_id"))
    return j.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(dropped, 1).otherwise(0)).alias("n_dropped"),
        F.sum("n_chars").alias("chars_total"),
        F.sum(F.when(dropped, F.col("n_chars")).otherwise(0)).alias("chars_saved"),
        round6(
            F.sum(F.when(dropped, F.col("n_chars")).otherwise(0)).cast("double")
            / F.sum("n_chars")
        ).alias("save_ratio_r"),
    )
