"""Round-3 batch 1: incremental view maintenance (partial-aggregate
merge), deterministic weight-proportional sampling, Pareto-frontier
curation, and distributed BPE merge rounds.

All four are batch operators a 100 TB training-data pipeline runs
routinely; each keeps every hot-path value integer-exact so the DuckDB
oracle hash-matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from matt3r_data_ingestion_serverless_spark.functions.hashing import (
    md5_hash64,
    md5_hash64_sql,
)
from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table, spread

# ---------------------------------------------------------------------------
# incremental view maintenance: snapshot ⊕ delta partial-aggregate merge
# ---------------------------------------------------------------------------

_IVM_SQL = """
SELECT user_id % 97 AS ubucket, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events
GROUP BY 1, 2
"""


@register("ivm_delta_agg_maintenance", _IVM_SQL)
def ivm_delta_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: a materialized per-key aggregate is
    brought up to date by aggregating ONLY the delta rows and merging the
    two partial-aggregate tables — never rescanning the snapshot's base
    data. count/sum are commutative monoids, so merge = union + re-sum;
    the oracle is the one-pass recompute over everything, proving the
    algebra exact.

    Here the snapshot/delta frontier is the midpoint of the event-time
    range ((min+max) div 2, integer µs — deterministic). In production
    the snapshot side is the stored view: maintenance cost is
    O(|delta| + |touched keys|), which is what makes per-key views
    affordable at 100 TB (the delta is GB while the base is TB).
    Values aggregate as integer cents — associative and engine-exact,
    per the money-mean determinism rule (SCALE.md §7)."""
    ev = load_table(spark, sf_dir, "events").select(
        F.unix_micros("ts").alias("us"),
        (F.col("user_id") % 97).alias("ubucket"),
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    ext = ev.agg(F.min("us").alias("mn"), F.max("us").alias("mx")).select(
        F.expr("(mn + mx) div 2").alias("cut")
    )
    ev = ev.crossJoin(F.broadcast(ext))

    def partial(side: DataFrame) -> DataFrame:
        return side.groupBy("ubucket", "event_type").agg(
            F.count("*").alias("n_events"), F.sum("cents").alias("sum_cents")
        )

    snapshot = partial(ev.filter(F.col("us") < F.col("cut")))
    delta = partial(ev.filter(F.col("us") >= F.col("cut")))
    return (
        snapshot.unionByName(delta)
        .groupBy("ubucket", "event_type")
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.sum("sum_cents").cast("long").alias("sum_cents"),
        )
    )


# ---------------------------------------------------------------------------
# weight-proportional deterministic sampling
# ---------------------------------------------------------------------------

_DOC_HASH_SQL = md5_hash64_sql("cast(doc_id AS VARCHAR)")

_WPS_SQL = f"""
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_sampled,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars_sampled
FROM documents
WHERE ({_DOC_HASH_SQL} % 2000) < least(n_chars, 1000)
GROUP BY lang
"""


@register("ns_sample_weight_proportional", _WPS_SQL)
def ns_sample_weight_proportional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional Bernoulli sampling with a deterministic coin:
    doc i is kept iff md5(doc_id) mod 2000 < min(n_chars, 1000), i.e.
    inclusion probability ∝ its length, capped at 50 %. Longer documents
    carry more training tokens, so token-budget-proportional selection
    is the standard corpus-thinning move; the hash coin (vs rand()) makes
    the sample a pure function of the row key — identical across
    engines, re-runs, and cluster layouts, and trivially incremental
    (new batches sample themselves without coordination). Map-side
    filter, one narrow agg — scan-stage cost at any scale; integer
    arithmetic end to end."""
    docs = load_table(spark, sf_dir, "documents")
    coin = md5_hash64(F.col("doc_id").cast("string")) % 2000
    return (
        docs.filter(coin < F.least(F.col("n_chars"), F.lit(1000)))
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_sampled"),
            F.sum("n_chars").cast("long").alias("sum_chars_sampled"),
        )
    )


# ---------------------------------------------------------------------------
# Pareto frontier (skyline) over length × token count
# ---------------------------------------------------------------------------

_PARETO_SQL = r"""
WITH tok AS (
  SELECT n_chars,
         len(list_filter(string_split_regex(text, '\s+'), w -> w <> '')) AS n_tokens
  FROM documents WHERE n_chars > 0
),
g AS (SELECT n_chars, n_tokens, count(*) AS n_docs FROM tok GROUP BY 1, 2),
mx AS (SELECT *, max(n_tokens) OVER (PARTITION BY n_chars) AS mt FROM g),
pts AS (SELECT n_chars, n_tokens, n_docs FROM mx WHERE n_tokens = mt),
runm AS (
  SELECT *, max(n_tokens) OVER (ORDER BY n_chars DESC
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS rm
  FROM pts
)
SELECT CAST(n_chars AS BIGINT) AS n_chars,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_docs AS BIGINT) AS n_docs
FROM runm WHERE rm IS NULL OR n_tokens > rm
"""


@register("docs_pareto_frontier", _PARETO_SQL)
def docs_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline: the documents no other document weakly dominates on
    (n_chars, whitespace-token count) — the multi-objective shortlist
    pattern for curation (\"longest AND densest\" candidates without
    hand-picking a scalar trade-off). A point survives iff it holds the
    token maximum among its own char-length AND strictly beats the
    running token maximum over all longer documents.

    Scale shape: the O(n) part is one hash agg to (n_chars, n_tokens)
    points; the global ordered window then runs over at most
    |distinct n_chars| rows (thousands, not billions), so the
    single-partition window is a deliberately tiny reduction — the
    standard sort-based skyline sweep, not a full-data sort."""
    docs = spread(load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0))
    toks = F.size(F.filter(F.split("text", r"\s+"), lambda w: w != ""))
    g = (
        docs.select(F.col("n_chars"), toks.alias("n_tokens"))
        .groupBy("n_chars", "n_tokens")
        .agg(F.count("*").alias("n_docs"))
    )
    from pyspark.sql import Window

    per_chars = Window.partitionBy("n_chars")
    pts = g.withColumn("mt", F.max("n_tokens").over(per_chars)).filter(
        F.col("n_tokens") == F.col("mt")
    )
    sweep = (
        Window.orderBy(F.desc("n_chars"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    runm = pts.withColumn("rm", F.max("n_tokens").over(sweep))
    return runm.filter(F.col("rm").isNull() | (F.col("n_tokens") > F.col("rm"))).select(
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_docs").cast("long").alias("n_docs"),
    )


# ---------------------------------------------------------------------------
# distributed BPE merge rounds
# ---------------------------------------------------------------------------

_BPE_WORDS = 16  # first N words per document (bounded training window)
_BPE_MAX_WORD = 12  # drop longer words (URLs, concatenations)


def _bpe_sql() -> str:
    # the pair counts, the winning pair and each round's strings are
    # MATERIALIZED: each is named several times downstream, and inlining
    # would re-tokenize the corpus once per reference, per round
    rounds = []
    prev = "s0"
    for r in (1, 2):
        rounds.append(
            f"""
a{r} AS (SELECT string_split(trim(s, '|'), '||') AS a FROM {prev}),
c{r} AS MATERIALIZED (
  SELECT u.x AS x, u.y AS y, count(*) AS cnt FROM (
    SELECT unnest(list_transform(range(1, len(a)),
                                 i -> struct_pack(x := a[i], y := a[i+1]))) AS u
    FROM a{r}
  ) GROUP BY 1, 2
),
p{r} AS MATERIALIZED (SELECT x, y, cnt FROM c{r} ORDER BY cnt DESC, x, y LIMIT 1),
s{r} AS MATERIALIZED (
  SELECT replace(s, (SELECT '|' || x || '||' || y || '|' FROM p{r}),
                    (SELECT '|' || x || y || '|' FROM p{r})) AS s
  FROM {prev}
)"""
        )
        prev = f"s{r}"
    body = ",".join(rounds)
    return rf"""
WITH words AS (
  SELECT unnest(list_slice(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                                       w -> len(w) BETWEEN 1 AND {_BPE_MAX_WORD}),
                           1, {_BPE_WORDS})) AS w
  FROM documents WHERE n_chars > 0
),
s0 AS MATERIALIZED (
  SELECT '|' || rtrim(regexp_replace(w, '(.)', '\1||', 'g'), '|') || '|' AS s
  FROM words
),{body}
SELECT CAST(1 AS BIGINT) AS rnd, x AS sym_a, y AS sym_b,
       CAST(cnt AS BIGINT) AS pair_count,
       (SELECT CAST(count(*) AS BIGINT) FROM c1) AS n_distinct_pairs
FROM p1
UNION ALL
SELECT CAST(2 AS BIGINT), x, y, CAST(cnt AS BIGINT),
       (SELECT CAST(count(*) AS BIGINT) FROM c2)
FROM p2
"""


_PAIRS_EXPR = (
    "CASE WHEN size(a) >= 2 THEN transform(sequence(1, size(a) - 1),"
    " i -> struct(element_at(a, i) AS x, element_at(a, i + 1) AS y))"
    " ELSE array() END"
)


@register("ns_bpe_merge_rounds", _bpe_sql())
def ns_bpe_merge_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two rounds of byte-pair-encoding merges computed distributedly —
    the inner loop of tokenizer training. Words become symbol strings
    '|c||c||…|'; each round counts adjacent symbol pairs (explode +
    hash agg), picks the most frequent pair (ties resolve to the
    lexicographically smallest — identical in both engines), and applies
    the merge as a literal, non-overlapping left-to-right string replace,
    which IS greedy BPE ('|l||l||l||l|' → '|ll||ll|', runs of 3 leave a
    singleton).

    Scale shape per round: one scan-stage explode, one partial-agg
    shuffle whose key space is bounded by |vocab|² (≤ ~1k rows here),
    then a ONE-ROW collect of the winning pair inlined as a literal into
    the next round's replace — the broadcast-codebook pattern
    (cf. ns_ann_pq_adc_topk), not a hot-path collect. Round count is a
    constant, so lineage stays O(rounds). The training window (first 16
    words of ≤ 12 chars per doc) bounds per-doc work the way production
    tokenizer training subsamples its corpus."""
    docs = spread(load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0))
    words = docs.select(
        F.explode(
            F.slice(
                F.filter(
                    F.split(F.lower("text"), "[^a-z]+"),
                    lambda w: (F.length(w) >= 1) & (F.length(w) <= _BPE_MAX_WORD),
                ),
                1,
                _BPE_WORDS,
            )
        ).alias("w")
    )
    syms = words.select(
        F.concat(
            F.lit("|"),
            F.expr("trim(TRAILING '|' FROM regexp_replace(w, '(.)', '$1||'))"),
            F.lit("|"),
        ).alias("s")
    )

    def pair_counts(sdf: DataFrame) -> DataFrame:
        arr = sdf.select(F.split(F.expr("trim(BOTH '|' FROM s)"), r"\|\|").alias("a"))
        pairs = arr.select(F.explode(F.expr(_PAIRS_EXPR)).alias("p"))
        return (
            pairs.select(F.col("p.x").alias("x"), F.col("p.y").alias("y"))
            .groupBy("x", "y")
            .agg(F.count("*").alias("cnt"))
            # |vocab|²-bounded rows; pin so top-1 + count don't re-explode
            .localCheckpoint(eager=True)
        )
    out_rows = []
    cur = syms
    for rnd in (1, 2):
        counts = pair_counts(cur)
        top = counts.orderBy(F.desc("cnt"), "x", "y").limit(1).collect()[0]
        n_distinct = counts.count()
        out_rows.append((rnd, top.x, top.y, top.cnt, n_distinct))
        pat = f"|{top.x}||{top.y}|"
        rep = f"|{top.x}{top.y}|"
        cur = cur.select(
            F.expr(
                "replace(s, {p}, {r})".format(
                    p=_sql_str(pat), r=_sql_str(rep)
                )
            ).alias("s")
        )
    schema = T.StructType(
        [
            T.StructField("rnd", T.LongType()),
            T.StructField("sym_a", T.StringType()),
            T.StructField("sym_b", T.StringType()),
            T.StructField("pair_count", T.LongType()),
            T.StructField("n_distinct_pairs", T.LongType()),
        ]
    )
    return spark.createDataFrame(out_rows, schema)


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"
