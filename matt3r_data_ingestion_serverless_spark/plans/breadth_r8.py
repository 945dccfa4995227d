"""Round-4 batch 4: exact global quantiles over a value histogram,
bitmap-index distinct counting, length-bucketed batch packing,
stratified k-fold assignment, BOM explosion rollup, and preference-pair
mining — more of the relational + ML-prep surface, each exact-integer
deterministic with a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.functions import text
from matt3r_data_ingestion_serverless_spark.functions.rounding import round6, round6_sql
from matt3r_data_ingestion_serverless_spark.operators.iterate import frontier_loop
from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table, spread

# ---------------------------------------------------------------------------
# exact global quantiles via the value-histogram pattern
# ---------------------------------------------------------------------------

_QUANTS = (0.5, 0.9, 0.99)

_EGQ_SQL = f"""
WITH vc AS (
  SELECT CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents,
         count(*) AS c
  FROM lineitem GROUP BY 1
),
cum AS (
  SELECT cents, c,
         sum(c) OVER (ORDER BY cents
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM vc
),
tot AS (SELECT sum(c) AS n FROM vc),
qs AS (SELECT unnest([{", ".join(str(q) for q in _QUANTS)}]) AS q)
SELECT q, min(cents) AS value_cents
FROM qs, cum, tot
WHERE cum >= ceil(q * n)
GROUP BY q
"""


@register("exact_global_quantiles", _EGQ_SQL)
def exact_global_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT global p50/p90/p99 without a global sort: aggregate the
    money-grained column into a value histogram (distinct cents →
    count, one map-combining shuffle), take a running sum over the
    HISTOGRAM, and pick the first value whose cumulative count reaches
    ⌈q·n⌉.

    This is the 100 TB exact-quantile pattern for bounded-cardinality
    values (prices, durations in ms, lengths): the single-partition
    window runs over distinct values — thousands of rows — while the
    raw data never sorts. Contrast percentile() (per-group sort of raw
    rows) and approx_percentile (sketch, not exact). Threshold
    semantics are defined by the shared ⌈q·n⌉ formula, not an engine's
    quantile function, so both sides agree by construction.
    """
    li = load_table(spark, sf_dir, "lineitem")
    vc = li.groupBy(
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("cents")
    ).agg(F.count("*").alias("c"))
    cum = vc.select(
        "cents",
        F.sum("c")
        .over(Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum"),
    )
    tot = vc.agg(F.sum("c").alias("n"))
    qs = spark.createDataFrame([(q,) for q in _QUANTS], "q double")
    return (
        cum.crossJoin(F.broadcast(tot))
        .join(F.broadcast(qs), F.col("cum") >= F.ceil(F.col("q") * F.col("n")))
        .groupBy("q")
        .agg(F.min("cents").alias("value_cents"))
    )


# ---------------------------------------------------------------------------
# bitmap-index distinct counting (Spark 3.5 bitmap aggregates)
# ---------------------------------------------------------------------------

_BITMAP_SQL = """
SELECT c_mktsegment, count(DISTINCT c_custkey) AS n_customers,
       count(DISTINCT c_nationkey) AS n_nations
FROM customer GROUP BY c_mktsegment
"""


@register("bitmap_distinct_counts", _BITMAP_SQL)
def bitmap_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counts via bitmap indexes (bitmap_bit_position /
    bitmap_construct_agg / bitmap_count, Spark 3.5): each (group,
    32k-bucket) collapses to a 4 KB bitmap map-side, buckets OR-merge
    in the shuffle, and the final count sums per-bucket popcounts.

    At 100 TB this beats count(DISTINCT): the shuffle carries fixed-size
    bitmaps per bucket instead of one row per distinct value, and
    bitmaps OR-merge associatively (the same trick backing Iceberg
    puffin/ClickHouse groupBitmap). The oracle is plain COUNT(DISTINCT)
    — identical results because bitmaps are exact, unlike HLL."""
    c = load_table(spark, sf_dir, "customer")
    c.createOrReplaceTempView("cust_bm")
    # each counted column buckets by ITS OWN bitmap_bucket_number —
    # bucketing nations by the custkey's bucket would popcount the same
    # nation once per custkey bucket (latent once a segment exceeds 32k
    # customers). The bitmap domain is 1-based, so the 0-based nation
    # key shifts by +1 or key 0 silently vanishes.
    return spark.sql(
        """
        WITH cust AS (
          SELECT c_mktsegment, sum(cnt) AS n_customers FROM (
            SELECT c_mktsegment,
                   bitmap_count(bitmap_construct_agg(
                       bitmap_bit_position(c_custkey))) AS cnt
            FROM cust_bm
            GROUP BY c_mktsegment, bitmap_bucket_number(c_custkey)
          ) GROUP BY c_mktsegment
        ),
        nat AS (
          SELECT c_mktsegment, sum(cnt) AS n_nations FROM (
            SELECT c_mktsegment,
                   bitmap_count(bitmap_construct_agg(
                       bitmap_bit_position(c_nationkey + 1))) AS cnt
            FROM cust_bm
            GROUP BY c_mktsegment, bitmap_bucket_number(c_nationkey + 1)
          ) GROUP BY c_mktsegment
        )
        SELECT c_mktsegment, n_customers, n_nations
        FROM cust JOIN nat USING (c_mktsegment)
        """
    )


# ---------------------------------------------------------------------------
# length-bucketed batch packing (padding-efficiency audit)
# ---------------------------------------------------------------------------

_LB_BUCKET_TOKENS = 64
_LB_BATCH = 32

_LB_SQL = f"""
WITH t AS (
  SELECT doc_id, len({text.tokens_sql('text')}) AS toklen
  FROM documents
),
b AS (
  SELECT doc_id, toklen, toklen // {_LB_BUCKET_TOKENS} AS bucket,
         row_number() OVER (PARTITION BY toklen // {_LB_BUCKET_TOKENS}
                            ORDER BY toklen DESC, doc_id) AS rn
  FROM t
),
batches AS (
  SELECT bucket, (rn - 1) // {_LB_BATCH} AS batch_id,
         count(*) AS n, max(toklen) AS max_len, sum(toklen) AS actual
  FROM b GROUP BY 1, 2
)
SELECT CAST(bucket AS INT) AS bucket,
       count(*) AS n_batches,
       CAST(sum(n) AS BIGINT) AS n_docs,
       CAST(sum(max_len * n) AS BIGINT) AS padded_tokens,
       CAST(sum(actual) AS BIGINT) AS actual_tokens,
       {round6_sql(
           "1.0 - CAST(sum(actual) AS DOUBLE) / sum(max_len * n)"
       )} AS waste_ratio
FROM batches GROUP BY bucket
"""


@register("ns_length_bucketing_batches", _LB_SQL)
def ns_length_bucketing_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed training-batch packing: docs bucket by token
    length (64-token bands), sort long-first inside each bucket, cut
    into batches of 32, and pad every sequence in a batch to the
    batch max — the standard dataloader trick that cuts padding FLOPs
    versus random batching. Emits the per-bucket padding-waste audit
    (padded vs actual token mass) an LLM-training pipeline uses to tune
    bucket width.

    Scale: one window sort per bucket (the partition key), then two
    hash aggs reusing the same bucket hash; tie-break on doc_id makes
    batch membership a total order, reproducible across engines.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    t = docs.select("doc_id", F.size(text.tokens(F.col("text"))).alias("toklen"))
    b = t.select(
        "doc_id",
        "toklen",
        F.expr(f"toklen div {_LB_BUCKET_TOKENS}").alias("bucket"),
        F.row_number()
        .over(
            Window.partitionBy(F.expr(f"toklen div {_LB_BUCKET_TOKENS}")).orderBy(
                F.desc("toklen"), F.asc("doc_id")
            )
        )
        .alias("rn"),
    )
    batches = b.groupBy(
        "bucket", F.expr(f"(rn - 1) div {_LB_BATCH}").alias("batch_id")
    ).agg(
        F.count("*").alias("n"),
        F.max("toklen").alias("max_len"),
        F.sum("toklen").alias("actual"),
    )
    padded = F.sum(F.col("max_len") * F.col("n"))
    return batches.groupBy(F.col("bucket").cast("int").alias("bucket")).agg(
        F.count("*").alias("n_batches"),
        F.sum("n").alias("n_docs"),
        padded.alias("padded_tokens"),
        F.sum("actual").alias("actual_tokens"),
        round6(1.0 - F.sum("actual").cast("double") / padded).alias("waste_ratio"),
    )


# ---------------------------------------------------------------------------
# stratified k-fold assignment (leakage-safe CV splits)
# ---------------------------------------------------------------------------

_KFOLDS = 5

_KFOLD_SQL = f"""
WITH a AS (
  SELECT event_type,
         (row_number() OVER (PARTITION BY event_type ORDER BY event_id) - 1)
           % {_KFOLDS} AS fold,
         CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events
)
SELECT event_type, CAST(fold AS INT) AS fold,
       count(*) AS n_rows,
       CAST(sum(cents) AS BIGINT) AS sum_cents
FROM a GROUP BY 1, 2
"""


@register("stratified_kfold_assign", _KFOLD_SQL)
def stratified_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified k-fold assignment: within each stratum (event type),
    rows take folds round-robin in a deterministic total order, so
    every fold holds n/k of EACH stratum (the class-balance guarantee
    plain random splits lose on skewed data). Emits the fold × stratum
    balance audit — counts within 1 of each other by construction.

    Scale: one window shuffle keyed by the stratum; at extreme stratum
    skew the md5-rank variant (ns_sample_stratified) replaces
    row_number with a hash permutation — same contract, no sort."""
    ev = load_table(spark, sf_dir, "events")
    a = ev.select(
        "event_type",
        (
            (
                F.row_number().over(
                    Window.partitionBy("event_type").orderBy("event_id")
                )
                - 1
            )
            % _KFOLDS
        )
        .cast("int")
        .alias("fold"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    return a.groupBy("event_type", "fold").agg(
        F.count("*").alias("n_rows"), F.sum("cents").alias("sum_cents")
    )


# ---------------------------------------------------------------------------
# BOM explosion (hierarchical rollup with path-product quantities)
# ---------------------------------------------------------------------------

_BOM_DEPTH = 3
_BOM_ROOTS = 50

_BOM_SQL = f"""
WITH RECURSIVE price AS (
  SELECT p_partkey, CAST(round(p_retailprice * 100, 0) AS BIGINT) AS cents
  FROM part
),
edges AS (
  SELECT p.p_partkey AS parent, c.p_partkey AS child,
         (c.p_partkey % 3) + 1 AS qty
  FROM part p JOIN part c
    ON c.p_partkey IN (2 * p.p_partkey, 2 * p.p_partkey + 1)
),
walk(root, node, units, lvl) AS (
  SELECT p_partkey, p_partkey, CAST(1 AS BIGINT), 0
  FROM part WHERE p_partkey <= {_BOM_ROOTS}
  UNION ALL
  SELECT w.root, e.child, w.units * e.qty, w.lvl + 1
  FROM walk w JOIN edges e ON e.parent = w.node
  WHERE w.lvl < {_BOM_DEPTH}
)
SELECT root,
       count(*) AS n_nodes,
       CAST(sum(units) AS BIGINT) AS total_units,
       CAST(sum(units * price.cents) AS BIGINT) AS rollup_cents
FROM walk JOIN price ON walk.node = price.p_partkey
GROUP BY root
"""


@register("bom_explosion_rollup", _BOM_SQL)
def bom_explosion_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bill-of-materials explosion — the classic hierarchical rollup: a
    part DAG (children 2p / 2p+1, a synthetic-but-deterministic binary
    hierarchy over the real part table) exploded 3 levels down from
    each root assembly, path quantities MULTIPLYING along the way, then
    cost and unit rollups per root. The recursive pattern behind
    where-used queries, org-chart rollups and account trees.

    Spark-first: level-synchronous iterative joins (one per depth) with
    the running (root, node, units) frontier unioned level by level —
    the same driver-loop-but-distributed-data shape as graph_bfs_levels;
    the oracle is the recursive CTE carrying the unit product. Edges
    derive from a self-join pruned by the key predicate (broadcast —
    parts is dimension-sized)."""
    p = load_table(spark, sf_dir, "part")
    price = p.select(
        "p_partkey", F.round(F.col("p_retailprice") * 100, 0).cast("long").alias("cents")
    )
    keys = p.select("p_partkey")
    # candidate children by EXPLODE + equi-join existence check — an OR
    # join predicate would plan a nested-loop over part×part (measured
    # 2.5 s at sf0.1; 0.4 s this way, and O(n) instead of O(n²))
    cand = keys.select(
        F.col("p_partkey").alias("parent"),
        F.explode(
            F.array(2 * F.col("p_partkey"), 2 * F.col("p_partkey") + 1)
        ).alias("child"),
    )
    edges = (
        cand.join(keys, cand.child == keys.p_partkey)
        .select("parent", "child", ((F.col("child") % 3) + 1).alias("qty"))
        .localCheckpoint(eager=True)
    )
    roots = keys.filter(F.col("p_partkey") <= _BOM_ROOTS).select(
        F.col("p_partkey").alias("root"),
        F.col("p_partkey").alias("node"),
        F.lit(1).cast("long").alias("units"),
    )

    def step(frontier: DataFrame, _depth: int, _seen: DataFrame) -> DataFrame:
        return frontier.join(edges, frontier.node == edges.parent).select(
            "root",
            F.col("child").alias("node"),
            (F.col("units") * F.col("qty")).alias("units"),
        )

    walk = frontier_loop(roots, step, _BOM_DEPTH)
    return (
        walk.join(price, walk.node == price.p_partkey)
        .groupBy("root")
        .agg(
            F.count("*").alias("n_nodes"),
            F.sum("units").alias("total_units"),
            F.sum(F.col("units") * F.col("cents")).alias("rollup_cents"),
        )
    )


# ---------------------------------------------------------------------------
# preference-pair mining (chosen/rejected construction for DPO-style data)
# ---------------------------------------------------------------------------

_PREF_SQL = """
SELECT source, lang,
       arg_max(doc_id, n_chars * 1000000000 + doc_id) AS chosen_id,
       arg_min(doc_id, n_chars * 1000000000 + doc_id) AS rejected_id,
       CAST(max(n_chars) - min(n_chars) AS BIGINT) AS margin_chars,
       count(*) AS n_candidates
FROM documents
GROUP BY source, lang
HAVING count(*) >= 2
"""


@register("ns_preference_pairs", _PREF_SQL)
def ns_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair construction (the DPO/RLHF data shape): within
    each (source, lang) candidate group, pick the highest- and
    lowest-scoring document as the chosen/rejected pair with the score
    margin — here scored by length as a deterministic stand-in for a
    reward model's output column.

    One hash aggregate: arg_max/arg_min on a composite integer key
    (score ‖ doc_id) — partial argmax merges map-side, so groups never
    materialize; ties are impossible because the key embeds the unique
    id. Groups with a single candidate can't form a pair and drop via
    HAVING."""
    docs = load_table(spark, sf_dir, "documents")
    key = F.col("n_chars") * F.lit(1_000_000_000) + F.col("doc_id")
    return (
        docs.groupBy("source", "lang")
        .agg(
            F.max_by("doc_id", key).alias("chosen_id"),
            F.min_by("doc_id", key).alias("rejected_id"),
            (F.max("n_chars") - F.min("n_chars")).cast("long").alias("margin_chars"),
            F.count("*").alias("n_candidates"),
        )
        .filter(F.col("n_candidates") >= 2)
    )


# ---------------------------------------------------------------------------
# kNN classification over the embedding corpus
# ---------------------------------------------------------------------------

_KNN_K = 5


def _knn_sql() -> str:
    from matt3r_data_ingestion_serverless_spark.functions import vectors
    from matt3r_data_ingestion_serverless_spark.plans.northstar import _emb_norm_cte

    cos = f"{vectors.dot_sql('q.v', 't.v')} / (q.nrm * t.nrm)"
    return f"""
WITH {_emb_norm_cte()},
lbl AS (SELECT vec_id, label FROM embeddings),
q AS (SELECT n.vec_id, v, nrm, label FROM n JOIN lbl USING (vec_id)
      WHERE n.vec_id % 10 = 0),
t AS (SELECT n.vec_id, v, nrm, label FROM n JOIN lbl USING (vec_id)
      WHERE n.vec_id % 10 != 0),
scored AS (
  SELECT q.vec_id AS query_id, q.label AS true_label, t.label AS nbr_label,
         t.vec_id AS nbr_id, round({cos}, 6) AS cs
  FROM q JOIN t ON TRUE
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cs DESC, nbr_id) AS rk
  FROM scored
),
votes AS (
  SELECT query_id, true_label, nbr_label, count(*) AS c, min(nbr_id) AS first_nbr
  FROM ranked WHERE rk <= {_KNN_K}
  GROUP BY 1, 2, 3
)
SELECT query_id, CAST(true_label AS INT) AS true_label,
       CAST(arg_max(nbr_label, c * 1000000 - nbr_label) AS INT) AS pred_label,
       CAST(max(c) AS BIGINT) AS top_votes,
       (arg_max(nbr_label, c * 1000000 - nbr_label) = true_label) AS correct
FROM votes GROUP BY query_id, true_label
"""


@register("ns_knn_classify", sql=_knn_sql())
def ns_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN classification: every held-out embedding (vec_id % 10 = 0)
    takes the majority label of its 5 nearest training neighbours by
    cosine — the lazy-learning baseline every embedding-quality audit
    starts with (and the label-propagation primitive for weakly
    labeled corpora).

    Composition on the ANN machinery: brute-force scores (the corpus is
    broadcast-joinable here; at scale the IVF/LSH candidate path from
    ns_ann_ivf_topk slots in unchanged), per-query top-k window, then a
    majority vote as arg_max over (votes ‖ −label) — the composite
    integer key makes the tie-break (fewest-first label) explicit and
    engine-exact. Ranking uses the 6-dp-rounded cosine with neighbour-id
    tie-break, the repo's standard for float-order-free top-k."""
    from matt3r_data_ingestion_serverless_spark.functions import vectors
    from matt3r_data_ingestion_serverless_spark.plans.northstar import _emb_normed

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    n = _emb_normed(spark, sf_dir).join(emb, "vec_id")
    q = n.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        F.col("label").alias("true_label"),
    )
    t = n.filter(F.col("vec_id") % 10 != 0).select(
        F.col("vec_id").alias("nbr_id"),
        F.col("v").alias("tv"),
        F.col("nrm").alias("tn"),
        F.col("label").alias("nbr_label"),
    )
    cs = F.round(
        vectors.cosine("qv", "tv", F.col("qn"), F.col("tn")), 6
    )
    scored = F.broadcast(q).crossJoin(t).select(
        "query_id", "true_label", "nbr_label", "nbr_id", cs.alias("cs")
    )
    rk = F.row_number().over(
        Window.partitionBy("query_id").orderBy(F.desc("cs"), F.asc("nbr_id"))
    )
    top = scored.withColumn("rk", rk).filter(F.col("rk") <= _KNN_K)
    votes = top.groupBy("query_id", "true_label", "nbr_label").agg(
        F.count("*").alias("c")
    )
    vote_key = F.col("c") * 1_000_000 - F.col("nbr_label")
    return (
        votes.groupBy("query_id", "true_label")
        .agg(
            F.max_by("nbr_label", vote_key).cast("int").alias("pred_label"),
            F.max("c").alias("top_votes"),
        )
        .select(
            "query_id",
            F.col("true_label").cast("int").alias("true_label"),
            "pred_label",
            "top_votes",
            (F.col("pred_label") == F.col("true_label")).alias("correct"),
        )
    )
