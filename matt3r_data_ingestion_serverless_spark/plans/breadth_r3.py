"""Round-3 breadth: language-model-flavored corpus statistics (unigram
surprisal, bigram next-word tables, char entropy, BPE pair counts), a
self-evaluating LSH quality gate, spatial grid density, and the
remaining modern-SQL surface (LATERAL correlated subqueries, multiset
INTERSECT/EXCEPT ALL, SQL PIVOT).

Each query demonstrates a capability the earlier families don't:
statistical language modelling over the documents corpus (the scoring
signals an LLM-data pipeline ranks/filter by), eval-harness composition
(grading one operator's output against another's inside the engine),
and privacy audits kept in exact integer arithmetic so the cross-engine
oracle is bit-stable.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table, spread

# ---------------------------------------------------------------------------
# modern SQL surface
# ---------------------------------------------------------------------------


@register(
    "lateral_topk_nations",
    sql="""
SELECT n_name, s.s_name, round(s.s_acctbal, 6) AS acctbal
FROM nation,
LATERAL (SELECT s_name, s_acctbal FROM supplier
         WHERE s_nationkey = n_nationkey
         ORDER BY s_acctbal DESC, s_suppkey
         LIMIT 2) s
""",
)
def lateral_topk_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (SQL:1999 lateral derived table):
    per-nation top-2 suppliers by account balance, written as the user
    would in ANSI SQL rather than the window-function rewrite
    (topk_per_group covers that form; this grades the parser/planner
    surface). Catalyst rewrites the lateral into a ranked join — the
    physical plan is the same one shuffle the window form produces, so
    the 100 TB cost model is unchanged; the win is that migrating SQL
    ports verbatim."""
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation_lat_v")
    load_table(spark, sf_dir, "supplier").createOrReplaceTempView("supplier_lat_v")
    return spark.sql(
        """
SELECT n_name, s.s_name, round(s.s_acctbal, 6) AS acctbal
FROM nation_lat_v,
LATERAL (SELECT s_name, s_acctbal FROM supplier_lat_v
         WHERE s_nationkey = n_nationkey
         ORDER BY s_acctbal DESC, s_suppkey
         LIMIT 2) s
"""
    )


@register(
    "set_ops_multiset",
    sql="""
WITH a AS (SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'),
     b AS (SELECT o_orderpriority FROM orders WHERE o_totalprice > 150000)
SELECT 'intersect_all' AS op, o_orderpriority, count(*) AS n
FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b) GROUP BY o_orderpriority
UNION ALL
SELECT 'except_all' AS op, o_orderpriority, count(*) AS n
FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b) GROUP BY o_orderpriority
""",
)
def set_ops_multiset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset set operations (INTERSECT ALL / EXCEPT ALL): bag
    semantics with multiplicities min(m,n) and max(0, m−n) — the
    variant plain set_ops can't express. Spark plans both as a single
    hash aggregation over tagged counts per key (one shuffle on the
    compared columns); no sort, no distinct explosion. The duplicate-
    preserving forms matter for reconciliation workloads (row-level
    diffing of two loads of the same feed)."""
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "F").select("o_orderpriority")
    b = o.filter(F.col("o_totalprice") > 150000).select("o_orderpriority")
    inter = (
        a.intersectAll(b)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
        .select(F.lit("intersect_all").alias("op"), "o_orderpriority", "n")
    )
    exc = (
        a.exceptAll(b)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
        .select(F.lit("except_all").alias("op"), "o_orderpriority", "n")
    )
    return inter.unionByName(exc)


@register(
    "sql_pivot_monthly_flag",
    sql="""
SELECT CAST(month(l_shipdate) AS INT) AS ship_month,
       CAST(coalesce(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
                     FILTER (l_returnflag = 'A'), 0) AS BIGINT) AS a_cents,
       CAST(coalesce(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
                     FILTER (l_returnflag = 'N'), 0) AS BIGINT) AS n_cents,
       CAST(coalesce(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
                     FILTER (l_returnflag = 'R'), 0) AS BIGINT) AS r_cents
FROM lineitem
GROUP BY 1
""",
)
def sql_pivot_monthly_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL PIVOT clause: monthly revenue (integer cents) spread across
    the three return flags as columns — the relational transpose the
    reference hand-rolls with per-channel dict writes (SURVEY A1).
    Unlike the DataFrame pivot in a1_timestamp_pivot, this grades the
    SQL-syntax surface; the explicit IN list is what makes it
    scale-safe (no second pass to discover pivot values). Physically
    it is one hash aggregation with three conditional sums — the same
    plan the oracle's FILTER clauses describe."""
    li = load_table(spark, sf_dir, "lineitem")
    li.select(
        F.month("l_shipdate").cast("int").alias("ship_month"),
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("cents"),
    ).createOrReplaceTempView("li_pivot_v")
    return spark.sql(
        """
SELECT ship_month,
       coalesce(A, CAST(0 AS BIGINT)) AS a_cents,
       coalesce(N, CAST(0 AS BIGINT)) AS n_cents,
       coalesce(R, CAST(0 AS BIGINT)) AS r_cents
FROM li_pivot_v
PIVOT (sum(cents) FOR l_returnflag IN ('A' AS A, 'N' AS N, 'R' AS R))
"""
    )


# ---------------------------------------------------------------------------
# language-model corpus statistics (documents table)
# ---------------------------------------------------------------------------

_TOKS_CTE = """
toks AS (
  SELECT doc_id, tok
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
  WHERE tok <> ''
)
"""


@register(
    "ns_unigram_surprisal",
    sql=f"""
WITH {_TOKS_CTE},
vocab AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
tot AS (SELECT sum(cnt) AS total FROM vocab)
SELECT doc_id, count(*) AS n_tokens,
       round(avg(-ln(cnt / (SELECT total FROM tot))), 6) AS avg_surprisal
FROM toks JOIN vocab USING (tok)
GROUP BY doc_id
""",
)
def ns_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model scoring: per-document mean token
    surprisal −ln p(tok) under the corpus-wide unigram distribution —
    the classic cheap "naturalness" signal LLM pipelines use to rank
    and filter pretraining text (high surprisal ⇒ rare-token soup).

    Scale: one tokenize+explode scan, a hash agg for the vocabulary,
    then the vocabulary broadcasts back onto the token stream (it is
    Heaps-law sublinear in the corpus) and a second hash agg by doc_id
    — two shuffles total, no sort. The corpus total is a 1-row
    broadcast. Rounding to 6 dp absorbs summation-order differences
    between engines (errors are ~1e-13 relative)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    vocab = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    scored = (
        toks.join(F.broadcast(vocab), "tok")
        .crossJoin(F.broadcast(total))
        .select("doc_id", (-F.log(F.col("cnt") / F.col("total"))).alias("surprisal"))
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.round(F.avg("surprisal"), 6).alias("avg_surprisal"),
    )


@register(
    "ns_bigram_next_word",
    sql=f"""
WITH pos AS (
  SELECT doc_id, unnest(l) AS tok, generate_subscripts(l, 1) AS pos
  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
),
pairs AS (
  SELECT a.tok AS w1, b.tok AS w2, count(*) AS cnt
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  WHERE a.tok <> '' AND b.tok <> ''
  GROUP BY a.tok, b.tok
),
tot AS (SELECT w1, sum(cnt) AS w1_pairs FROM pairs GROUP BY w1),
top_w1 AS (SELECT w1, w1_pairs FROM tot ORDER BY w1_pairs DESC, w1 LIMIT 20),
best AS (
  SELECT w1, w2, cnt,
         row_number() OVER (PARTITION BY w1 ORDER BY cnt DESC, w2) AS rn
  FROM pairs
)
SELECT b.w1, t.w1_pairs, b.w2 AS next_word, b.cnt AS pair_count,
       round(b.cnt / t.w1_pairs, 6) AS p_next
FROM best b JOIN top_w1 t USING (w1)
WHERE b.rn = 1
""",
)
def ns_bigram_next_word(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language model: for the 20 most frequent left-words, the
    single most likely next word and its conditional probability — the
    n-gram statistic behind classic LM smoothing and modern corpus
    diagnostics (template/boilerplate detection shows up as p_next≈1).

    Spark forms adjacent pairs WITHOUT a positional self-join: the
    token array is zipped with its own tail (zip_with over two slices)
    inside one projection, so pair extraction is a scan stage; only the
    pair-count hash agg shuffles. The oracle uses the equivalent
    positional self-join — same bag of pairs, integer counts, exact
    parity. Ties break lexicographically for determinism."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    pairs = (
        docs.select(
            F.explode(
                F.expr(
                    "zip_with(slice(split(text, ' '), 1, greatest(size(split(text, ' ')) - 1, 0)),"
                    "         slice(split(text, ' '), 2, greatest(size(split(text, ' ')) - 1, 0)),"
                    "         (a, b) -> struct(a AS w1, b AS w2))"
                )
            ).alias("pr")
        )
        .select("pr.w1", "pr.w2")
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("cnt"))
    )
    tot = pairs.groupBy("w1").agg(F.sum("cnt").alias("w1_pairs"))
    top_w1 = tot.orderBy(F.desc("w1_pairs"), F.asc("w1")).limit(20)
    w = Window.partitionBy("w1").orderBy(F.desc("cnt"), F.asc("w2"))
    best = pairs.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return best.join(F.broadcast(top_w1), "w1").select(
        "w1",
        "w1_pairs",
        F.col("w2").alias("next_word"),
        F.col("cnt").alias("pair_count"),
        F.round(F.col("cnt") / F.col("w1_pairs"), 6).alias("p_next"),
    )


@register(
    "ns_char_entropy",
    sql="""
WITH chars AS (
  SELECT doc_id, ch, count(*) AS c
  FROM (SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents)
  WHERE ch <> ' '
  GROUP BY doc_id, ch
),
tot AS (SELECT doc_id, sum(c) AS n FROM chars GROUP BY doc_id)
SELECT doc_id, CAST(n AS BIGINT) AS n_chars_counted,
       count(*) AS distinct_chars,
       round(-sum((c / n) * ln(c / n)), 6) AS entropy_nats
FROM chars JOIN tot USING (doc_id)
GROUP BY doc_id, n
""",
)
def ns_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document (whitespace
    excluded) — the quality signal that flags mojibake, binary spill,
    and repeated-character padding (entropy collapses) without any
    language resource.

    Scale: chars never explode through a shuffle — the per-document
    character histogram is computed in one explode + hash agg keyed
    (doc_id, ch) whose cardinality is ≤ alphabet × docs, then a tiny
    per-doc agg folds the histogram into entropy. Σ over ≤ ~40 distinct
    characters keeps cross-engine float drift far below the 6-dp
    round."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    chars = (
        docs.select("doc_id", F.explode(F.split("text", "")).alias("ch"))
        .filter((F.col("ch") != " ") & (F.col("ch") != ""))
        .groupBy("doc_id", "ch")
        .agg(F.count("*").alias("c"))
    )
    tot = chars.groupBy("doc_id").agg(F.sum("c").alias("n"))
    j = chars.join(tot, "doc_id")
    p = F.col("c") / F.col("n")
    return j.groupBy("doc_id", "n").agg(
        F.count("*").alias("distinct_chars"),
        F.round(-F.sum(p * F.log(p)), 6).alias("entropy_nats"),
    ).select(
        "doc_id",
        F.col("n").cast("long").alias("n_chars_counted"),
        "distinct_chars",
        "entropy_nats",
    )


@register(
    "ns_bpe_pair_counts",
    sql=f"""
WITH {_TOKS_CTE},
tpos AS (
  SELECT doc_id, unnest(l) AS tok, generate_subscripts(l, 1) AS tpos
  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
),
cpos AS (
  SELECT doc_id, tpos, unnest(string_split(tok, '')) AS ch,
         generate_subscripts(string_split(tok, ''), 1) AS pos
  FROM tpos WHERE tok <> ''
)
SELECT a.ch AS c1, b.ch AS c2, count(*) AS cnt
FROM cpos a JOIN cpos b
  ON a.doc_id = b.doc_id AND a.tpos = b.tpos AND b.pos = a.pos + 1
GROUP BY a.ch, b.ch
ORDER BY cnt DESC, c1, c2
LIMIT 30
""",
)
def ns_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first iteration of byte-pair-encoding tokenizer training:
    corpus-wide adjacent character-pair frequencies within tokens, top
    30 — the pair-count table a distributed BPE trainer recomputes per
    merge step. Pairs never cross token boundaries (BPE's word-boundary
    rule).

    Spark keeps the whole pair extraction inside one scan stage: split
    to tokens, split tokens to chars, zip each char list with its tail
    — arrays all the way, no positional self-join, no intermediate
    shuffle. Only the (c1, c2) hash agg shuffles, and its cardinality
    is alphabet², i.e. tiny. The oracle's rowid positional join is the
    semantics spec, not the plan."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    pairs = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .select(
            F.explode(
                F.expr(
                    "zip_with(slice(split(tok, ''), 1, greatest(size(split(tok, '')) - 1, 0)),"
                    "         slice(split(tok, ''), 2, greatest(size(split(tok, '')) - 1, 0)),"
                    "         (a, b) -> struct(a AS c1, b AS c2))"
                )
            ).alias("pr")
        )
        .select("pr.c1", "pr.c2")
    )
    return (
        pairs.groupBy("c1", "c2")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("c1"), F.asc("c2"))
        .limit(30)
    )


# ---------------------------------------------------------------------------
# LSH quality eval — the engine grading its own approximate operator
# ---------------------------------------------------------------------------


def _lsh_eval_sql() -> str:
    from matt3r_data_ingestion_serverless_spark.functions import vectors
    from matt3r_data_ingestion_serverless_spark.plans.northstar import COSINE_DUP

    cos_ab = f"{vectors.dot_sql('na.v', 'nb.v')} / (na.nrm * nb.nrm)"
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
n AS (SELECT vec_id, v, {vectors.l2_norm_sql('v')} AS nrm FROM e),
truth AS (
  SELECT na.vec_id AS vec_a, nb.vec_id AS vec_b
  FROM n na JOIN n nb ON na.vec_id < nb.vec_id
  WHERE round({cos_ab}, 6) >= {COSINE_DUP}
),
bk AS (SELECT vec_id, unnest({vectors.srp_band_keys_sql('v')}, recursive := true) FROM n),
cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         FROM bk a JOIN bk b ON a.band = b.band AND a.key = b.key
                           AND a.vec_id < b.vec_id),
lsh AS (
  SELECT vec_a, vec_b
  FROM cand JOIN n na ON vec_a = na.vec_id
            JOIN n nb ON vec_b = nb.vec_id
  WHERE round({cos_ab}, 6) >= {COSINE_DUP}
),
j AS (
  SELECT coalesce(t.vec_a, l.vec_a) AS vec_a,
         (t.vec_a IS NOT NULL) AS in_truth, (l.vec_a IS NOT NULL) AS in_lsh
  FROM truth t FULL JOIN lsh l ON t.vec_a = l.vec_a AND t.vec_b = l.vec_b
)
SELECT count(*) FILTER (in_truth) AS n_true,
       count(*) FILTER (in_lsh) AS n_lsh,
       count(*) FILTER (in_truth AND in_lsh) AS tp,
       count(*) FILTER (in_lsh AND NOT in_truth) AS fp,
       count(*) FILTER (in_truth AND NOT in_lsh) AS fn,
       round(count(*) FILTER (in_truth AND in_lsh)
             / greatest(count(*) FILTER (in_lsh), 1), 6) AS precision_,
       round(count(*) FILTER (in_truth AND in_lsh)
             / greatest(count(*) FILTER (in_truth), 1), 6) AS recall_
FROM j
"""


@register("ns_lsh_eval_prf", sql=_lsh_eval_sql())
def ns_lsh_eval_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine grading its own approximate operator: exact all-pairs
    cosine near-dup (blocked-BLAS full corpus) as ground truth vs the
    SRP-LSH bucketed variant, reported as precision/recall — the eval
    harness every production dedup pipeline runs on a sampled shard
    before trusting LSH parameters at 100 TB. Precision is 1.0 by
    construction (LSH candidates are re-scored exactly); recall is the
    knob the band/bit parameters trade against candidate volume.

    Scale stance: ground truth is quadratic and exists ONLY for eval on
    a bounded sample (here the sf corpus); the LSH side is the
    production path. Both sides reduce to one boolean full-outer join
    on pair keys + a counting agg."""
    from matt3r_data_ingestion_serverless_spark.operators.ann import (
        blocked_cosine_pairs,
    )
    from matt3r_data_ingestion_serverless_spark.plans.northstar import (
        COSINE_DUP,
        ns_embedding_neardup_lsh,
    )

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    truth = (
        blocked_cosine_pairs(emb, emb, COSINE_DUP)
        .filter(F.col("query_id") < F.col("match_id"))
        .select(F.col("query_id").alias("vec_a"), F.col("match_id").alias("vec_b"))
    )
    lsh = ns_embedding_neardup_lsh(spark, sf_dir).select("vec_a", "vec_b")
    j = truth.withColumn("in_truth", F.lit(True)).join(
        lsh.withColumn("in_lsh", F.lit(True)), ["vec_a", "vec_b"], "full_outer"
    )
    in_t = F.coalesce(F.col("in_truth"), F.lit(False))
    in_l = F.coalesce(F.col("in_lsh"), F.lit(False))
    tp = F.sum(F.when(in_t & in_l, 1).otherwise(0))
    n_true = F.sum(F.when(in_t, 1).otherwise(0))
    n_lsh = F.sum(F.when(in_l, 1).otherwise(0))
    return j.agg(
        n_true.alias("n_true"),
        n_lsh.alias("n_lsh"),
        tp.alias("tp"),
        F.sum(F.when(in_l & ~in_t, 1).otherwise(0)).alias("fp"),
        F.sum(F.when(in_t & ~in_l, 1).otherwise(0)).alias("fn"),
        F.round(tp / F.greatest(n_lsh, F.lit(1)), 6).alias("precision_"),
        F.round(tp / F.greatest(n_true, F.lit(1)), 6).alias("recall_"),
    )


# ---------------------------------------------------------------------------
# geographic grid density
# ---------------------------------------------------------------------------


@register(
    "geo_grid_density",
    sql="""
SELECT CAST((event_id % 1000) // 100 AS INT) AS cell_x,
       CAST((user_id % 1000) // 100 AS INT) AS cell_y,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2
""",
)
def geo_grid_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial grid binning: events bucketed into a 10×10 grid with
    per-cell event and distinct-device counts — the density rollup a
    telemetry fleet map runs over the decoded GPS channel
    (parse_canserver_filtered_log.py:172-179). Cells derive from the
    same integer generators geo_haversine_path's synthetic coordinates
    use, so the binning is exact integer floor-division in both
    engines (production uses a geohash/S2 cell id the same way: one
    deterministic cell key per row).

    Scale: a single hash agg keyed on the cell id — the cell key IS the
    partition key, so density maps shard perfectly; distinct-user uses
    Spark's partial HLL-free exact path (count distinct rewrites to a
    two-stage agg)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.select(
            F.floor((F.col("event_id") % 1000) / 100).cast("int").alias("cell_x"),
            F.floor((F.col("user_id") % 1000) / 100).cast("int").alias("cell_y"),
            "user_id",
        )
        .groupBy("cell_x", "cell_y")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


# ---------------------------------------------------------------------------
# winnowing fingerprints + model-scored quality + corpus-mix diagnostics
# ---------------------------------------------------------------------------

_WINNOW_K = 3  # token k-gram width (shared with the near-dup shingles)
_WINNOW_W = 4  # winnowing window: guarantee = W + K - 1 tokens


def _winnow_grams_sql() -> str:
    from matt3r_data_ingestion_serverless_spark.functions import hashing, text

    P = hashing.P31
    th = (
        f"list_transform({text.tokens_sql('text')}, "
        f"t -> ({hashing.md5_hash64_sql('t')}) % {P})"
    )
    B = hashing.TOKEN_B
    comb = f"(((th[i] * {B} + th[i+1]) % {P}) * {B} + th[i+2]) % {P}"
    return (
        f"th AS (SELECT doc_id, {th} AS th FROM documents),\n"
        f"g AS (SELECT doc_id, list_transform("
        f"range(1, greatest(len(th) - {_WINNOW_K - 1}, 0) + 1), i -> {comb}) AS gs FROM th)"
    )


@register(
    "ns_winnow_fingerprints",
    sql=f"""
WITH {{grams}},
pos AS (
  SELECT doc_id, unnest(gs) AS h, generate_subscripts(gs, 1) AS pos, len(gs) AS n
  FROM g
),
wmin AS (
  SELECT doc_id, pos, n,
         min(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND {_WINNOW_W - 1} FOLLOWING) AS fp
  FROM pos
),
fps AS (
  SELECT DISTINCT doc_id, fp
  FROM wmin WHERE pos <= n - {_WINNOW_W} + 1
)
SELECT doc_id, count(*) AS n_fingerprints,
       CAST(min(fp) AS BIGINT) AS min_fp, CAST(max(fp) AS BIGINT) AS max_fp,
       CAST(sum(fp) % 2147483647 AS BIGINT) AS fp_checksum
FROM fps GROUP BY doc_id
""".format(grams=_winnow_grams_sql()),
)
def ns_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03): hash every token 3-gram, slide a window of 4 adjacent
    gram hashes, keep each window's minimum — the selected set is a
    position-robust fingerprint with a guarantee: any shared run of
    W+K−1 = 6 tokens yields at least one shared fingerprint. This is
    the local-fingerprint alternative to MinHash for partial-overlap /
    plagiarism-style detection (MinHash estimates global similarity;
    winnowing finds shared substrings).

    Spark plan: posexplode the gram-hash array, one window min per doc
    (partition = doc_id — the same single shuffle every per-doc stage
    uses), distinct, then a per-doc summary agg. Integer arithmetic end
    to end (md5-derived 31-bit hashes), so the oracle is bit-exact."""
    from matt3r_data_ingestion_serverless_spark.functions import hashing, text

    P = hashing.P31
    docs = spread(load_table(spark, sf_dir, "documents"))
    staged = docs.withColumn(
        "_th",
        F.transform(text.tokens(F.col("text")), lambda t: hashing.md5_hash64(t) % P),
    )
    k = F.size(F.col("_th")) - (_WINNOW_K - 1)

    def comb(i):
        th = lambda off: F.element_at(F.col("_th"), i + F.lit(off))  # noqa: E731
        B = hashing.TOKEN_B
        return ((th(0) * B + th(1)) % P * B + th(2)) % P

    grams = F.when(k >= 1, F.transform(F.sequence(F.lit(1), k), comb)).otherwise(
        F.array().cast("array<long>")
    )
    pos = staged.select(
        "doc_id", F.posexplode(grams).alias("pos0", "h")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "h")
    wn = Window.partitionBy("doc_id")
    wmin = pos.select(
        "doc_id",
        "pos",
        F.count("*").over(wn).alias("n"),
        F.min("h")
        .over(wn.orderBy("pos").rowsBetween(0, _WINNOW_W - 1))
        .alias("fp"),
    )
    fps = (
        wmin.filter(F.col("pos") <= F.col("n") - _WINNOW_W + 1)
        .select("doc_id", "fp")
        .distinct()
    )
    return fps.groupBy("doc_id").agg(
        F.count("*").alias("n_fingerprints"),
        F.min("fp").cast("long").alias("min_fp"),
        F.max("fp").cast("long").alias("max_fp"),
        (F.sum("fp") % F.lit(2147483647)).cast("long").alias("fp_checksum"),
    )


# fixed, public-shape quality-classifier weights (intercept, mean token
# length, type/token ratio, ln n_tokens) — the point is the scoring
# pipeline, not the fit
_LR_W0, _LR_W1, _LR_W2, _LR_W3 = -3.0, 0.45, 1.2, 0.35


@register(
    "ns_quality_lr_score",
    sql=f"""
WITH feats AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_tokens,
         (len(text) - (len(string_split(text, ' ')) - 1))
           / CAST(len(string_split(text, ' ')) AS DOUBLE) AS mean_tok_len,
         len(list_distinct(string_split(text, ' ')))
           / CAST(len(string_split(text, ' ')) AS DOUBLE) AS ttr
  FROM documents WHERE len(text) > 0
),
z AS (
  SELECT doc_id, n_tokens,
         {_LR_W0} + {_LR_W1} * mean_tok_len + {_LR_W2} * ttr
           + {_LR_W3} * ln(n_tokens) AS z
  FROM feats
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       round(1.0 / (1.0 + exp(-z)), 6) AS p_quality,
       ntile(10) OVER (ORDER BY round(z, 6) DESC, doc_id) AS decile
FROM z
""",
)
def ns_quality_lr_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring: a fixed-weight logistic regression
    over cheap text features (mean token length, type/token ratio, log
    doc length) producing a calibrated-looking p_quality and a corpus
    decile — the fasttext-classifier-shaped stage LLM pipelines run
    between heuristic filters and expensive scoring. Weights are
    literals (config-as-code): scoring is a pure projection, so the
    whole feature+score pass is one scan stage in codegen; only the
    decile ranking costs a (single-column, aggregated-width) sort.
    Ties in the decile order break on doc_id, making ntile assignment
    engine-deterministic."""
    docs = spread(load_table(spark, sf_dir, "documents")).filter(
        F.length("text") > 0
    )
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    # mean token length from pure counters: (chars - spaces) / tokens
    mean_tok_len = (F.length("text") - (n_tokens - 1)) / n_tokens.cast("double")
    ttr = F.size(F.array_distinct(toks)) / n_tokens.cast("double")
    z = (
        F.lit(_LR_W0)
        + F.lit(_LR_W1) * mean_tok_len
        + F.lit(_LR_W2) * ttr
        + F.lit(_LR_W3) * F.log(n_tokens.cast("double"))
    )
    scored = docs.select(
        "doc_id", n_tokens.cast("long").alias("n_tokens"), z.alias("z")
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("z"))), 6).alias("p_quality"),
        # rank on the ROUNDED score: raw z can differ by a libm ulp
        # across engines, which would flip near-tie ordering; rounding
        # collapses those to exact ties broken by doc_id
        F.ntile(10)
        .over(Window.orderBy(F.desc(F.round(F.col("z"), 6)), F.asc("doc_id")))
        .alias("decile"),
    )


@register(
    "ns_lang_mix_kl",
    sql="""
WITH per_source AS (
  SELECT source, lang, count(*) AS n FROM documents GROUP BY source, lang
),
src_tot AS (SELECT source, sum(n) AS ns FROM per_source GROUP BY source),
corpus AS (SELECT lang, sum(n) AS nc FROM per_source GROUP BY lang),
tot AS (SELECT sum(nc) AS nt FROM corpus)
SELECT source, CAST(ns AS BIGINT) AS n_docs,
       round(sum((n / ns) * ln((n / ns) / (nc / (SELECT nt FROM tot)))), 6)
         AS kl_nats
FROM per_source
JOIN src_tot USING (source)
JOIN corpus USING (lang)
GROUP BY source, ns
""",
)
def ns_lang_mix_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-composition drift: KL divergence of each source's language
    distribution from the corpus-wide mix — the dataset-card diagnostic
    that flags a source skewing the training mixture (KL≈0 ⇒ source
    mirrors the corpus). All distributions reduce to one (source, lang)
    hash agg whose cardinality is sources×languages — trivially
    broadcastable; the KL fold sums over ≤ |languages| terms per source
    so cross-engine float drift is far below the 6-dp round."""
    docs = load_table(spark, sf_dir, "documents")
    per_source = docs.groupBy("source", "lang").agg(F.count("*").alias("n"))
    src_tot = per_source.groupBy("source").agg(F.sum("n").alias("ns"))
    corpus = per_source.groupBy("lang").agg(F.sum("n").alias("nc"))
    tot = corpus.agg(F.sum("nc").alias("nt"))
    p = F.col("n") / F.col("ns")
    q = F.col("nc") / F.col("nt")
    return (
        per_source.join(F.broadcast(src_tot), "source")
        .join(F.broadcast(corpus), "lang")
        .crossJoin(F.broadcast(tot))
        .groupBy("source", "ns")
        .agg(F.round(F.sum(p * F.log(p / q)), 6).alias("kl_nats"))
        .select("source", F.col("ns").cast("long").alias("n_docs"), "kl_nats")
    )


# ---------------------------------------------------------------------------
# grouped-aggregate Pandas UDAF — the one UDF flavor the rest of the
# registry doesn't exercise (scalar pandas_udf, mapInPandas,
# applyInPandas, applyInPandasWithState, and a UDTF all appear elsewhere)
# ---------------------------------------------------------------------------


@register(
    "udaf_gini_by_type",
    sql="""
WITH c AS (
  SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events WHERE value > 0
),
r AS (
  SELECT event_type, cents,
         row_number() OVER (PARTITION BY event_type ORDER BY cents) AS i,
         count(*) OVER (PARTITION BY event_type) AS n,
         sum(cents) OVER (PARTITION BY event_type) AS tot
  FROM c
)
SELECT event_type,
       CAST(max(n) AS BIGINT) AS n_values,
       round(sum((2 * i - n - 1) * cents) / (1.0 * max(n) * max(tot)), 6) AS gini
FROM r GROUP BY event_type
""",
)
def udaf_gini_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration of spend per event type, computed by a
    GROUPED-AGGREGATE pandas UDF (Series → scalar): each group's values
    arrive as one Arrow batch and the sorted-index formula
    Σ(2i−n−1)·x₍ᵢ₎ / (n·Σx) runs vectorized in numpy with an exact
    int64 numerator — only the final division is float, so the 6-dp
    round is stable against the oracle's window-function formulation.

    Scale stance: a grouped-agg UDAF ships WHOLE groups to Python — the
    right tool when the statistic needs the full sorted group (Gini,
    trimmed means) and group sizes are bounded (here: rows per
    event_type ≪ executor memory). For unbounded groups, decompose to
    the window form the oracle uses instead. One shuffle on the group
    key either way."""
    @F.pandas_udf("double")
    def _gini(v: pd.Series) -> float:
        x = np.sort(v.to_numpy(np.int64))
        n = len(x)
        num = int(((2 * np.arange(1, n + 1, dtype=np.int64) - n - 1) * x).sum())
        return num / (n * int(x.sum()))

    # Spark disallows mixing a grouped-agg pandas UDF with JVM
    # aggregates in one agg() — the count rides along as a second
    # pandas aggregate (same Arrow batch, no extra pass).
    @F.pandas_udf("long")
    def _n(v: pd.Series) -> int:
        return len(v)

    e = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    cents = F.round(F.col("value") * 100, 0).cast("long")
    return (
        e.select("event_type", cents.alias("cents"))
        .groupBy("event_type")
        .agg(
            _n(F.col("cents")).alias("n_values"),
            F.round(_gini(F.col("cents")), 6).alias("gini"),
        )
    )


# ---------------------------------------------------------------------------
# repetition filters and privacy audits
# ---------------------------------------------------------------------------


@register(
    "ns_repetition_filter",
    sql="""
WITH pos AS (
  SELECT doc_id, unnest(l) AS tok, generate_subscripts(l, 1) AS pos
  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
),
pairs AS (
  SELECT a.doc_id, a.tok AS w1, b.tok AS w2, count(*) AS cnt
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  WHERE a.tok <> '' AND b.tok <> ''
  GROUP BY a.doc_id, a.tok, b.tok
)
SELECT doc_id,
       CAST(sum(cnt) AS BIGINT) AS n_bigrams,
       count(*) AS n_distinct_bigrams,
       round(1.0 - count(*) / CAST(sum(cnt) AS DOUBLE), 6) AS dup_bigram_frac,
       round(max(cnt) / CAST(sum(cnt) AS DOUBLE), 6) AS top_bigram_share
FROM pairs GROUP BY doc_id
""",
)
def ns_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition signals (the Gopher/C4-style quality
    rules): duplicate-bigram fraction and the share of the single most
    frequent bigram — template/boilerplate and generated-loop text
    score high on both and get dropped before pretraining.

    Spark extracts bigrams by zipping the token array with its own tail
    (scan-stage, no positional join), then two hash aggs: (doc, bigram)
    counts and the per-doc rollup — both hash by doc_id, so AQE plans
    them on one shuffle's partitioning. Ratios are exact-integer
    divisions rounded once."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    pairs = (
        docs.select(
            "doc_id",
            F.explode(
                F.expr(
                    "zip_with(slice(split(text, ' '), 1, greatest(size(split(text, ' ')) - 1, 0)),"
                    "         slice(split(text, ' '), 2, greatest(size(split(text, ' ')) - 1, 0)),"
                    "         (a, b) -> struct(a AS w1, b AS w2))"
                )
            ).alias("pr"),
        )
        .select("doc_id", "pr.w1", "pr.w2")
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
        .groupBy("doc_id", "w1", "w2")
        .agg(F.count("*").alias("cnt"))
    )
    tot = F.sum("cnt")
    return pairs.groupBy("doc_id").agg(
        tot.cast("long").alias("n_bigrams"),
        F.count("*").alias("n_distinct_bigrams"),
        F.round(F.lit(1.0) - F.count("*") / tot.cast("double"), 6).alias(
            "dup_bigram_frac"
        ),
        F.round(F.max("cnt") / tot.cast("double"), 6).alias("top_bigram_share"),
    )


_KANON_K = 5


@register(
    "ns_kanonymity_audit",
    sql=f"""
WITH qi AS (
  SELECT event_type, CAST(hour(ts) AS INT) AS hour_of_day,
         CAST(user_id % 10 AS INT) AS region, count(*) AS grp_n
  FROM events GROUP BY 1, 2, 3
)
SELECT count(*) AS n_groups,
       count(*) FILTER (grp_n < {_KANON_K}) AS n_groups_below_k,
       CAST(min(grp_n) AS BIGINT) AS min_group_size,
       round(coalesce(sum(grp_n) FILTER (grp_n < {_KANON_K}), 0)
             / CAST(sum(grp_n) AS DOUBLE), 6) AS frac_rows_at_risk
FROM qi
""",
)
def ns_kanonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (k = {k}) over the quasi-identifier tuple
    (event_type, hour-of-day, coarse region): how many equivalence
    classes are smaller than k and what fraction of rows they expose —
    the release gate run before publishing any per-group rollup, and
    the companion to ns_pii_mask_events' column-level scrub.

    Scale: one hash agg on the QI tuple, then a single-row summary —
    group cardinality is bounded by the QI domain product, never the
    row count.""".replace("{k}", str(_KANON_K))
    e = load_table(spark, sf_dir, "events")
    qi = e.groupBy(
        "event_type",
        F.hour("ts").cast("int").alias("hour_of_day"),
        (F.col("user_id") % 10).cast("int").alias("region"),
    ).agg(F.count("*").alias("grp_n"))
    below = F.col("grp_n") < _KANON_K
    return qi.agg(
        F.count("*").alias("n_groups"),
        F.sum(F.when(below, 1).otherwise(0)).alias("n_groups_below_k"),
        F.min("grp_n").cast("long").alias("min_group_size"),
        F.round(
            F.sum(F.when(below, F.col("grp_n")).otherwise(0))
            / F.sum("grp_n").cast("double"),
            6,
        ).alias("frac_rows_at_risk"),
    )


_DP_SCALE = 2.0  # Laplace scale b = sensitivity/epsilon = 1/0.5


def _dp_noise_sql(key: str) -> str:
    from matt3r_data_ingestion_serverless_spark.functions import hashing

    u = f"((({hashing.md5_hash64_sql(key)}) % 1000000 + 1000000) % 1000000 + 0.5) / 1000000.0"
    return (
        f"-{_DP_SCALE} * sign({u} - 0.5) * ln(1.0 - 2.0 * abs({u} - 0.5))"
    )


@register(
    "ns_dp_noisy_counts",
    sql=f"""
WITH c AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS true_n
  FROM events GROUP BY 1, 2
)
SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
       CAST(true_n AS BIGINT) AS true_n,
       round(true_n + {_dp_noise_sql("concat(event_type, '|', strftime(day, '%Y-%m-%d'))")}, 6)
         AS noisy_n
FROM c
""",
)
def ns_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differential-privacy-shaped release: per (event_type, day) counts
    plus Laplace(b=2) noise drawn by INVERSE-CDF from a deterministic
    md5-derived uniform — so the release is reproducible across engines
    and runs (a keyed-PRNG noise stream, the pattern DP libraries use
    for auditable releases; true randomness would just swap the seed
    source). The true count rides along because the oracle needs it —
    a production release would drop it.

    Scale: one hash agg, then pure per-row noise arithmetic in codegen;
    nothing about the noise couples rows, so the release parallelizes
    like any projection."""
    from matt3r_data_ingestion_serverless_spark.functions import hashing

    e = load_table(spark, sf_dir, "events")
    c = e.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.count("*").alias("true_n"))
    key = F.concat(F.col("event_type"), F.lit("|"), F.col("day"))
    u = (
        ((hashing.md5_hash64(key) % 1000000 + 1000000) % 1000000).cast("double")
        + 0.5
    ) / 1000000.0
    noise = (
        F.lit(-_DP_SCALE)
        * F.signum(u - 0.5)
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(u - 0.5))
    )
    return c.select(
        "event_type",
        "day",
        F.col("true_n").cast("long").alias("true_n"),
        F.round(F.col("true_n") + noise, 6).alias("noisy_n"),
    )
