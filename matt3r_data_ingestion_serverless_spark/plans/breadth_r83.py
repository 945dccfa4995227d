"""Round-4 batch 11: n-gram novelty scoring, Allen interval algebra,
greedy max-coverage selection, and prefix-cache LCP savings.

Four operator families for the LLM-curation and temporal-reasoning
surface: per-document shingle novelty (the memorization/duplication
inverse of contamination checks), the full 13-relation Allen interval
classification between per-user activity spans, 3-round greedy
max-coverage document selection (the submodular data-selection
primitive), and word-level longest-common-prefix against the corpus
(what a prefix-caching LLM server would save per document).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.functions import hashing
from matt3r_data_ingestion_serverless_spark.functions.rounding import round6, round6_sql
from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table, spread

# ---------------------------------------------------------------------------
# per-document shingle novelty
# ---------------------------------------------------------------------------


def _novelty_sql() -> str:
    return f"""
WITH {hashing.hashed_shingles_cte()},
x AS (SELECT doc_id, unnest(sh) AS g FROM d),
cnt AS (SELECT g, count(*) AS nd FROM x GROUP BY g),
per AS (
  SELECT x.doc_id,
         count(*) AS n_shingles,
         sum(CASE WHEN cnt.nd = 1 THEN 1 ELSE 0 END) AS n_unique
  FROM x JOIN cnt USING (g) GROUP BY x.doc_id
)
SELECT doc_id, n_shingles, n_unique,
       {round6_sql('n_unique / n_shingles')} AS novelty_r
FROM per
"""


@register("ns_ngram_novelty", sql=_novelty_sql())
def ns_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the share of a doc's DISTINCT 3-gram
    shingles that appear in NO other document — 1.0 means fully novel
    text, ~0 means the doc is stitched from corpus boilerplate. The
    per-doc inverse of contamination/duplication checks: curation
    pipelines upweight high-novelty docs and route low-novelty ones to
    the dedup path.

    Scale: explode distinct shingles (linear), one groupBy(shingle) for
    document frequency, one shuffle back keyed on the shingle to
    re-join, and a final per-doc aggregate. No pairwise anything — the
    novelty statistic needs only shingle document-frequency, the same
    reusable profile TF-IDF builds."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    # materialize the shingle arrays BEFORE exploding: explode over the
    # raw higher-order-function expression re-evaluates the md5
    # transform per OUTPUT row (measured 89 s at sf0.1 — ~50× the
    # pinned cost), and AQE coalesces the tiny byte volume to one
    # partition, serializing it too
    d = (
        hashing.with_hashed_shingles(docs)
        .select("doc_id", "sh")
        .localCheckpoint(eager=True)
    )
    x = d.select("doc_id", F.explode("sh").alias("g"))
    cnt = x.groupBy("g").agg(F.count(F.lit(1)).alias("nd"))
    per = (
        x.join(cnt, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("nd") == 1, 1).otherwise(0)).alias("n_unique"),
        )
    )
    return per.select(
        "doc_id",
        "n_shingles",
        "n_unique",
        round6(F.col("n_unique") / F.col("n_shingles")).alias("novelty_r"),
    )


# ---------------------------------------------------------------------------
# Allen interval algebra over per-user activity spans
# ---------------------------------------------------------------------------

# identical CASE text in both dialects: branch order resolves the
# boundary-equality overlaps between relations, so it must match
_ALLEN_CASE = """CASE
  WHEN a_s = b_s AND a_e = b_e THEN 'equals'
  WHEN a_e < b_s THEN 'before'
  WHEN b_e < a_s THEN 'after'
  WHEN a_e = b_s THEN 'meets'
  WHEN b_e = a_s THEN 'met_by'
  WHEN a_s = b_s AND a_e < b_e THEN 'starts'
  WHEN a_s = b_s THEN 'started_by'
  WHEN a_e = b_e AND a_s > b_s THEN 'finishes'
  WHEN a_e = b_e THEN 'finished_by'
  WHEN a_s > b_s AND a_e < b_e THEN 'during'
  WHEN a_s < b_s AND a_e > b_e THEN 'contains'
  WHEN a_s < b_s THEN 'overlaps'
  ELSE 'overlapped_by'
END"""

_ALLEN_SQL = f"""
WITH spans AS (
  SELECT user_id, event_type,
         epoch_us(min(ts)) AS s, epoch_us(max(ts)) AS e
  FROM events GROUP BY 1, 2
)
SELECT a.user_id,
       a.event_type AS type_a, b.event_type AS type_b,
       a.s AS a_s, a.e AS a_e, b.s AS b_s, b.e AS b_e,
       {_ALLEN_CASE} AS relation
FROM spans a JOIN spans b
  ON a.user_id = b.user_id AND a.event_type < b.event_type
"""


@register("interval_allen_relations", sql=_ALLEN_SQL)
def interval_allen_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Allen interval algebra: classify each user's pair of
    event-type activity spans ([first, last] occurrence, µs precision)
    into one of the 13 Allen relations — the temporal-reasoning
    vocabulary (before/meets/overlaps/starts/during/finishes + inverses
    + equals) that interval joins, conflict detection, and temporal KB
    queries are built from. Both engines evaluate the IDENTICAL CASE
    ladder on integer epoch-µs, so boundary-equality branches resolve
    the same way.

    Scale: one groupBy(user, type) for the spans, then a self equi-join
    on user_id — per-user pair expansion is types², a constant (5 types
    → 10 rows); never a time-range join."""
    spans = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(
            F.unix_micros(F.min("ts")).alias("s"),
            F.unix_micros(F.max("ts")).alias("e"),
        )
    )
    a = spans.select(
        "user_id",
        F.col("event_type").alias("type_a"),
        F.col("s").alias("a_s"),
        F.col("e").alias("a_e"),
    )
    b = spans.select(
        "user_id",
        F.col("event_type").alias("type_b"),
        F.col("s").alias("b_s"),
        F.col("e").alias("b_e"),
    )
    return (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .select(
            "user_id",
            "type_a",
            "type_b",
            "a_s",
            "a_e",
            "b_s",
            "b_e",
            F.expr(_ALLEN_CASE).alias("relation"),
        )
    )


# ---------------------------------------------------------------------------
# greedy max-coverage document selection (3 rounds)
# ---------------------------------------------------------------------------

_COVER_ROUNDS = 3


def _greedy_cover_sql() -> str:
    return f"""
WITH {hashing.hashed_shingles_cte()},
w1 AS (
  SELECT doc_id, sh, len(sh) AS gain FROM d
  ORDER BY gain DESC, doc_id LIMIT 1
),
r2 AS (
  SELECT d.doc_id, list_filter(d.sh, x -> NOT list_contains(w1.sh, x)) AS rem
  FROM d, w1 WHERE d.doc_id != w1.doc_id
),
w2 AS (
  SELECT doc_id, rem, len(rem) AS gain FROM r2
  ORDER BY gain DESC, doc_id LIMIT 1
),
r3 AS (
  SELECT r2.doc_id, list_filter(r2.rem, x -> NOT list_contains(w2.rem, x)) AS rem
  FROM r2, w2 WHERE r2.doc_id != w2.doc_id
),
w3 AS (
  SELECT doc_id, len(rem) AS gain FROM r3
  ORDER BY gain DESC, doc_id LIMIT 1
)
SELECT 1 AS pick_round, doc_id, gain FROM w1
UNION ALL SELECT 2, doc_id, gain FROM w2
UNION ALL SELECT 3, doc_id, gain FROM w3
"""


@register("ns_greedy_max_coverage", sql=_greedy_cover_sql())
def ns_greedy_max_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy max-coverage data selection: 3 rounds of "pick the
    document covering the most not-yet-covered distinct shingles"
    (ties → lowest doc_id) — the textbook (1−1/e)-approximate
    submodular selection that coverage-maximizing corpus subsetting,
    facility location, and exemplar picking all reduce to.

    Spark-first: each round is one scan computing array_except(sh,
    covered) sizes + a TakeOrdered top-1; the covered set (≤ rounds ×
    max-doc-shingles ints) rides a 1-row broadcast cross join. Each
    round's remainder is checkpointed so round r scans rem_{{r-1}}, not
    a growing expression. At corpus scale the classic lazy-greedy /
    threshold variants cut rescans; the per-round plan (scan + top-1)
    is already the distributed shape they optimize. The oracle unrolls
    the same 3 rounds as chained CTEs."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    # LAZY checkpoints throughout the greedy loop (r09's fusion pattern):
    # each checkpoint still truncates the plan (round r scans rem_{r-1},
    # not a growing expression) and still materializes exactly once (the
    # RDD is cached on first computation; the top-1 and the remainder
    # join read the same cache), but no per-round materialization JOB is
    # launched — the final union drives the whole 3-round cascade.
    rem = (
        hashing.with_hashed_shingles(docs)
        .select("doc_id", F.col("sh").alias("rem"))
        .localCheckpoint(eager=False)
    )
    picks = []
    for rnd in range(1, _COVER_ROUNDS + 1):
        win = (
            rem.select("doc_id", "rem", F.size("rem").alias("gain"))
            .orderBy(F.desc("gain"), F.asc("doc_id"))
            .limit(1)
            .localCheckpoint(eager=False)
        )
        picks.append(
            win.select(F.lit(rnd).alias("pick_round"), "doc_id", F.col("gain"))
        )
        if rnd < _COVER_ROUNDS:
            w = win.select(
                F.col("doc_id").alias("w_id"), F.col("rem").alias("w_sh")
            )
            rem = (
                rem.join(F.broadcast(w))
                .filter(F.col("doc_id") != F.col("w_id"))
                .select(
                    "doc_id", F.array_except("rem", "w_sh").alias("rem")
                )
                .localCheckpoint(eager=False)
            )
    out = picks[0]
    for p in picks[1:]:
        out = out.union(p)
    return out


# ---------------------------------------------------------------------------
# prefix-cache LCP savings
# ---------------------------------------------------------------------------


def _lcp_sql() -> str:
    # LCP(a,b) = first mismatch position - 1; list_zip pads the shorter
    # side with NULL, IS DISTINCT FROM turns the pad into a mismatch,
    # and position 0 (no mismatch) means the arrays are equal
    lcp = (
        "CASE WHEN {b} IS NULL THEN 0 ELSE coalesce(nullif(list_position("
        "list_transform(list_zip({a}, {b}), p -> p[1] IS DISTINCT FROM p[2]),"
        " true), 0) - 1, least(len({a}), len({b}))) END"
    )
    return f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
),
nb AS (
  SELECT doc_id, words,
         lag(words)  OVER win AS prev,
         lead(words) OVER win AS nxt
  FROM w
  WINDOW win AS (PARTITION BY words[1] ORDER BY words)
)
SELECT doc_id, CAST(len(words) AS BIGINT) AS n_words,
       CAST(greatest({lcp.format(a='words', b='prev')},
                     {lcp.format(a='words', b='nxt')}) AS BIGINT) AS max_lcp,
       {round6_sql("greatest(" + lcp.format(a='words', b='prev') + ", "
                   + lcp.format(a='words', b='nxt') + ") / len(words)")}
         AS save_ratio_r
FROM nb
"""


@register("ns_prefix_cache_lcp", sql=_lcp_sql())
def ns_prefix_cache_lcp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-cache savings: each document's longest common word-prefix
    with ANY other document — exactly what an LLM serving layer with
    prefix caching (or a prefix-compressed index) saves per request.
    Computed exactly without pairwise comparison via the classic sorted-
    neighbour property: the max LCP of a string against a set is
    attained at one of its lexicographic neighbours, so ONE sort and a
    lag/lead window replace the n² scan. Partitioning by the first word
    keeps the window distributed AND exact — a doc whose best partner
    shares ≥ 1 prefix word lives in the same partition, and any
    cross-partition pair has LCP 0 by construction. Tied (identical)
    word arrays give full-length LCP under any tie order, so the
    nondeterministic tie placement never changes the result."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("words")
    )
    win = Window.partitionBy(F.element_at("words", 1)).orderBy("words")
    nb = docs.select(
        "doc_id",
        "words",
        F.lag("words").over(win).alias("prev"),
        F.lead("words").over(win).alias("nxt"),
    )

    def lcp(b: str):
        mism = F.zip_with(
            F.col("words"), F.col(b), lambda x, y: ~x.eqNullSafe(y)
        )
        pos = F.array_position(mism, True)  # 0 = no mismatch
        return (
            F.when(F.col(b).isNull(), F.lit(0))
            .when(pos > 0, pos - 1)
            .otherwise(F.least(F.size("words"), F.size(b)))
        )

    best = F.greatest(lcp("prev"), lcp("nxt"))
    return nb.select(
        "doc_id",
        F.size("words").cast("long").alias("n_words"),
        best.cast("long").alias("max_lcp"),
        round6(best / F.size("words")).alias("save_ratio_r"),
    )
