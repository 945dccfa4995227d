"""Round-3 batch 4: feature-store point-in-time correctness (SCD2 PIT
join), iterative distributed ML (two Lloyd iterations of k-means over
the embeddings, fully deterministic via micro-unit distances and
rounded centroids), and a Zipf-law corpus diagnostic.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.functions import vectors
from matt3r_data_ingestion_serverless_spark.functions.rounding import round6, round6_sql
from matt3r_data_ingestion_serverless_spark.operators.ann import blocked_label_maxsim
from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table, spread

# ---------------------------------------------------------------------------
# point-in-time join against the SCD2 dimension history
# ---------------------------------------------------------------------------


def _scd2_pit_sql() -> str:
    from matt3r_data_ingestion_serverless_spark.plans.llmprep import (
        _SCD2_EFF,
        _SCD2_START,
    )

    return f"""
WITH dim AS (
  SELECT c_custkey, c_mktsegment, c_acctbal, '{_SCD2_START}' AS valid_from
  FROM customer WHERE c_custkey <= 1000
),
upd AS (
  SELECT c_custkey, 'DELINQUENT' AS new_seg FROM dim WHERE c_acctbal < 0
),
hist AS (
  SELECT d.c_custkey, d.c_mktsegment AS segment, d.valid_from,
         CASE WHEN u.c_custkey IS NOT NULL THEN '{_SCD2_EFF}'
              ELSE '9999-12-31' END AS valid_to
  FROM dim d LEFT JOIN upd u USING (c_custkey)
  UNION ALL
  SELECT c_custkey, 'DELINQUENT' AS segment, '{_SCD2_EFF}' AS valid_from,
         '9999-12-31' AS valid_to
  FROM upd
)
SELECT h.segment, CAST(year(o.o_orderdate) AS INT) AS order_year,
       count(*) AS n_orders,
       CAST(sum(CAST(round(o.o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM orders o
JOIN hist h ON o.o_custkey = h.c_custkey
           AND strftime(o.o_orderdate, '%Y-%m-%d') >= h.valid_from
           AND strftime(o.o_orderdate, '%Y-%m-%d') < h.valid_to
WHERE o.o_custkey <= 1000
GROUP BY 1, 2
"""


@register("scd2_pit_join", sql=_scd2_pit_sql())
def scd2_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (PIT) join: every order is attributed to the
    dimension version that was valid ON ITS ORDER DATE — the
    feature-store correctness rule that prevents training-serving
    leakage (an order must never see a segment assigned later). Built
    on scd2_customer_history's validity intervals with a half-open
    [valid_from, valid_to) containment predicate, so each fact row
    matches exactly one version.

    Scale: equi-join on the business key carries the pair matching;
    the range predicate is a residual filter on the joined row — no
    interval index needed because versions-per-key is tiny (SCD2
    history depth). Dates compare as ISO strings: identical
    lexicographic and chronological order, no timezone surface."""
    from matt3r_data_ingestion_serverless_spark.plans.llmprep import (
        scd2_customer_history,
    )

    hist = scd2_customer_history(spark, sf_dir).select(
        "c_custkey", "segment", "valid_from", "valid_to"
    )
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 1000)
    od = F.date_format("o_orderdate", "yyyy-MM-dd")
    j = o.join(
        hist,
        (o.o_custkey == hist.c_custkey)
        & (od >= hist.valid_from)
        & (od < hist.valid_to),
    )
    return j.groupBy(
        "segment", F.year("o_orderdate").cast("int").alias("order_year")
    ).agg(
        F.count("*").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
        .cast("long")
        .alias("revenue_cents"),
    )


# ---------------------------------------------------------------------------
# k-means (2 Lloyd iterations) over the embeddings table
# ---------------------------------------------------------------------------

_KM_K = 8


def _kmeans_sql() -> str:
    def d2(v: str, c: str) -> str:
        return (
            f"{vectors.dot_sql(v, v)} - 2 * {vectors.dot_sql(v, c)}"
            f" + {vectors.dot_sql(c, c)}"
        )

    d2u = f"CAST(floor(({d2('e.v', 'c.c')}) * 1e6 + 0.5) AS BIGINT)"
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
c0 AS (SELECT vec_id AS cid, v AS c FROM e WHERE vec_id < {_KM_K}),
j1 AS (SELECT e.vec_id, c.cid, {d2u} AS d2u FROM e CROSS JOIN c0 c),
a1 AS (SELECT vec_id, cid FROM
        (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2u, cid) AS rn
         FROM j1) WHERE rn = 1),
m AS (
  SELECT cid, dim, {round6_sql("avg(val)")} AS val
  FROM (SELECT a1.cid, generate_subscripts(e.v, 1) AS dim, unnest(e.v) AS val
        FROM a1 JOIN e USING (vec_id))
  GROUP BY cid, dim
),
c1 AS (SELECT cid, list(val ORDER BY dim) AS c FROM m GROUP BY cid),
j2 AS (SELECT e.vec_id, c.cid, {d2u} AS d2u FROM e CROSS JOIN c1 c),
a2 AS (SELECT vec_id, cid, d2u FROM
        (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2u, cid) AS rn
         FROM j2) WHERE rn = 1)
SELECT cid, count(*) AS n_members,
       CAST(sum(d2u) AS BIGINT) AS inertia_micro
FROM a2 GROUP BY cid
"""


@register("kmeans_embeddings", sql=_kmeans_sql())
def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Lloyd iterations of k-means (K = 8) over the embedding
    corpus — the iterative-ML primitive behind IVF index training and
    SemDeDup-style semantic clustering, run entirely as DataFrame ops:
    assign = broadcast(centroids) × corpus with an argmin window;
    update = posexplode to (cluster, dim) cells, mean per cell, rebuild
    arrays. Reports per-cluster size and inertia after the second
    assignment.

    Determinism across engines, the hard part of distributed iterative
    ML: (1) squared distances quantize to integer MICRO-UNITS before
    the argmin, so a last-ulp fold difference can't flip an assignment;
    (2) updated centroids round to 6 dp (shared sign·floor formula)
    before iteration 2, so both engines re-assign against bit-identical
    centroids; (3) argmin ties break on cluster id. Seeding is the
    first K vec_ids (deterministic; k-means++ would randomize).

    Scale: per iteration one broadcast of K×d doubles + one corpus scan
    (assignment is map-side) + one (K×d)-cell hash agg for the update —
    the canonical Spark k-means shape; corpus never self-joins."""
    e = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", vectors.as_double(F.col("embedding")).alias("v")
    )
    c0 = e.filter(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("c")
    )

    def d2u_col():
        d2 = (
            vectors.dot("v", "v")
            - F.lit(2.0) * vectors.dot("v", "c")
            + vectors.dot("c", "c")
        )
        return F.floor(d2 * 1e6 + 0.5).cast("long")

    def assign(cents: DataFrame) -> DataFrame:
        j = e.crossJoin(F.broadcast(cents)).select(
            "vec_id", "cid", d2u_col().alias("d2u")
        )
        w = Window.partitionBy("vec_id").orderBy("d2u", "cid")
        return (
            j.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )

    a1 = assign(c0)
    cells = (
        a1.join(e, "vec_id")
        .select("cid", F.posexplode("v").alias("dim0", "val"))
        .groupBy("cid", F.col("dim0").alias("dim"))
        .agg(round6(F.avg("val")).alias("val"))
    )
    c1 = cells.groupBy("cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "val"))), lambda s: s["val"]
        ).alias("c")
    )
    a2 = assign(c1)
    return a2.groupBy("cid").agg(
        F.count("*").alias("n_members"),
        F.sum("d2u").cast("long").alias("inertia_micro"),
    )


# ---------------------------------------------------------------------------
# Zipf-law corpus diagnostic
# ---------------------------------------------------------------------------

_ZIPF_TOP = 200


@register(
    "ns_zipf_slope",
    sql=f"""
WITH toks AS (
  SELECT tok FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
  WHERE tok <> ''
),
vocab AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
ranked AS (
  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS rnk
  FROM vocab
)
SELECT count(*) AS n_terms,
       {round6_sql("regr_slope(ln(cnt), ln(rnk))")} AS zipf_slope,
       {round6_sql("regr_r2(ln(cnt), ln(rnk))")} AS r2
FROM ranked WHERE rnk <= {_ZIPF_TOP}
""",
)
def ns_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit over the top-200 vocabulary: the OLS slope of
    ln(frequency) on ln(rank) — natural language sits near −1, while
    generated/templated corpora flatten toward 0, making the slope a
    one-number corpus-health check on any new data source.

    Scale: the vocabulary agg is the only wide stage; ranking the top
    slice is a window over an already-aggregated, Heaps-law-bounded
    table; the regression is one tiny agg. Ranks tie-break on the
    token so both engines rank identically."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
    )
    ranked = vocab.select(
        "cnt",
        F.row_number().over(Window.orderBy(F.desc("cnt"), F.asc("tok"))).alias("rnk"),
    ).filter(F.col("rnk") <= _ZIPF_TOP)
    return ranked.agg(
        F.count("*").alias("n_terms"),
        round6(F.expr("regr_slope(ln(CAST(cnt AS DOUBLE)), ln(CAST(rnk AS DOUBLE)))")).alias(
            "zipf_slope"
        ),
        round6(F.expr("regr_r2(ln(CAST(cnt AS DOUBLE)), ln(CAST(rnk AS DOUBLE)))")).alias(
            "r2"
        ),
    )


# ---------------------------------------------------------------------------
# SemDeDup-style semantic dedup + training-shard balance audit
# ---------------------------------------------------------------------------

_SEM_TAU = 0.4  # cosine threshold (synthetic near-dup pairs sit ≈ 0.4-0.51)


def _semdedup_sql() -> str:
    def d2(v: str, c: str) -> str:
        return (
            f"{vectors.dot_sql(v, v)} - 2 * {vectors.dot_sql(v, c)}"
            f" + {vectors.dot_sql(c, c)}"
        )

    d2u = f"CAST(floor(({d2('e.v', 'c.c')}) * 1e6 + 0.5) AS BIGINT)"
    cos = f"{vectors.dot_sql('x.v', 'y.v')} / (x.nrm * y.nrm)"
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
c0 AS (SELECT vec_id AS cid, v AS c FROM e WHERE vec_id < {_KM_K}),
j1 AS (SELECT e.vec_id, c.cid, {d2u} AS d2u FROM e CROSS JOIN c0 c),
a1 AS (SELECT vec_id, cid FROM
        (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2u, cid) AS rn
         FROM j1) WHERE rn = 1),
n AS (SELECT a1.cid, e.vec_id, e.v, {vectors.l2_norm_sql('e.v')} AS nrm
      FROM a1 JOIN e USING (vec_id)),
dropped AS (
  SELECT DISTINCT y.cid, y.vec_id
  FROM n x JOIN n y ON x.cid = y.cid AND x.vec_id < y.vec_id
  WHERE round({cos}, 6) >= {_SEM_TAU}
)
SELECT n.cid, count(*) AS n_members,
       count(d.vec_id) AS n_dropped,
       count(*) - count(d.vec_id) AS n_kept
FROM n LEFT JOIN dropped d ON n.cid = d.cid AND n.vec_id = d.vec_id
GROUP BY n.cid
"""


@register("ns_semdedup_clusters", sql=_semdedup_sql())
def ns_semdedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication that first
    PARTITIONS the corpus by k-means cluster, then runs pairwise cosine
    only WITHIN clusters, dropping every vector that has a
    more-canonical (lower-id) near-twin. The clustering bounds the
    quadratic term — pair cost is Σ|cluster|², not |corpus|² — which is
    the entire reason this scales where brute-force near-dup doesn't.
    Reuses the deterministic one-iteration assignment from
    kmeans_embeddings (micro-unit distances, id tie-breaks).

    Scale: assignment is a broadcast scan; the within-cluster self-join
    hashes on cid, so each cluster's pairs materialize on one
    partition — balanced as long as clusters are (for skewed clusters,
    sub-split by an LSH band the way ns_embedding_neardup_lsh does).
    Keep/drop counts per cluster are the dataset-card numbers a
    curation run reports."""
    e = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", vectors.as_double(F.col("embedding")).alias("v")
    )
    c0 = e.filter(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("c")
    )
    d2 = (
        vectors.dot("v", "v")
        - F.lit(2.0) * vectors.dot("v", "c")
        + vectors.dot("c", "c")
    )
    j = e.crossJoin(F.broadcast(c0)).select(
        "vec_id", "cid", F.floor(d2 * 1e6 + 0.5).cast("long").alias("d2u")
    )
    w = Window.partitionBy("vec_id").orderBy("d2u", "cid")
    a1 = (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid")
    )
    n = a1.join(e, "vec_id")

    # Within-cluster scoring runs as ONE matmul per cluster via
    # applyInPandas (Arrow batch → BLAS) instead of a pair self-join
    # with a per-pair codegen fold — identical output (same 6-dp round
    # as the oracle), ~2× wall-clock at sf0.1 and the gap widens with
    # cluster size. The groupBy ships each cluster to one task: exactly
    # the Σ|cluster|² locality the algorithm is built around.
    def _dropped_in_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy(np.int64)
        order = np.argsort(ids)
        ids = ids[order]
        X = np.stack(pdf["v"].to_numpy())[order].astype(np.float64)
        nrm = np.linalg.norm(X, axis=1)
        sims = np.round((X @ X.T) / np.outer(nrm, nrm), 6)
        i, j = np.triu_indices(len(ids), k=1)
        hit = sims[i, j] >= _SEM_TAU
        out = np.unique(ids[j[hit]])
        return pd.DataFrame(
            {"cid": np.full(len(out), pdf["cid"].iloc[0], dtype=np.int64), "vec_id": out}
        )

    dropped = (
        n.groupBy("cid")
        .applyInPandas(_dropped_in_cluster, "cid long, vec_id long")
        .withColumn("is_dropped", F.lit(1))
    )
    return (
        n.select("cid", "vec_id")
        .join(dropped, ["cid", "vec_id"], "left")
        .groupBy("cid")
        .agg(
            F.count("*").alias("n_members"),
            F.sum(F.coalesce(F.col("is_dropped"), F.lit(0))).alias("n_dropped"),
            (F.count("*") - F.sum(F.coalesce(F.col("is_dropped"), F.lit(0)))).alias(
                "n_kept"
            ),
        )
    )


_N_SHARDS = 16


def _shard_balance_sql() -> str:
    from matt3r_data_ingestion_serverless_spark.functions import hashing

    h = hashing.md5_hash64_sql("CAST(doc_id AS VARCHAR)")
    return f"""
WITH s AS (
  SELECT (({h}) % {_N_SHARDS} + {_N_SHARDS}) % {_N_SHARDS} AS shard,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents
),
per AS (
  SELECT shard, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
  FROM s GROUP BY shard
)
SELECT CAST(shard AS INT) AS shard, n_docs, total_tokens,
       {round6_sql("total_tokens / (sum(total_tokens) OVER () / " + str(_N_SHARDS) + ".0)")}
         AS load_factor
FROM per
"""


@register("ns_shard_balance_audit", sql=_shard_balance_sql())
def ns_shard_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard balance audit: documents hash into 16 shards by
    md5(doc_id) and each shard reports doc count, token mass, and its
    load factor vs the ideal equal split — the pre-flight check before
    a distributed training run, where one hot shard stalls every data-
    parallel worker at the epoch barrier. Hash sharding bounds the
    factor near 1; the audit catches both hash-function accidents and
    pathological length skew.

    Scale: one scan + one 16-row hash agg; the window over 16 rows is
    free. The same md5 keying makes the shard assignment reproducible
    across engines and runs (no repartition() nondeterminism)."""
    from matt3r_data_ingestion_serverless_spark.functions import hashing

    docs = load_table(spark, sf_dir, "documents")
    shard = (
        (hashing.md5_hash64(F.col("doc_id").cast("string")) % _N_SHARDS + _N_SHARDS)
        % _N_SHARDS
    ).cast("int")
    per = (
        docs.select(
            shard.alias("shard"), F.size(F.split("text", " ")).alias("n_tokens")
        )
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
    )
    ideal = F.sum("total_tokens").over(Window.partitionBy()) / float(_N_SHARDS)
    return per.select(
        "shard",
        "n_docs",
        "total_tokens",
        round6(F.col("total_tokens") / ideal).alias("load_factor"),
    )


# ---------------------------------------------------------------------------
# leaderboard rank movement
# ---------------------------------------------------------------------------


@register(
    "window_rank_shift",
    sql="""
WITH monthly AS (
  SELECT CAST(month(l.l_shipdate) AS INT) AS m, p.p_brand AS brand,
         CAST(sum(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS revenue_cents
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1, 2
),
ranked AS (
  SELECT m, brand, revenue_cents,
         CAST(dense_rank() OVER (PARTITION BY m
                                 ORDER BY revenue_cents DESC, brand) AS INT) AS rnk
  FROM monthly
)
SELECT m, brand, revenue_cents, rnk,
       CAST(lag(rnk) OVER (PARTITION BY brand ORDER BY m) AS INT) AS prev_rnk,
       CAST(lag(rnk) OVER (PARTITION BY brand ORDER BY m) - rnk AS INT) AS shift
FROM ranked
""",
)
def window_rank_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leaderboard movement: brands ranked by monthly revenue, then each
    brand's month-over-month rank change — a window OVER a window (rank
    within month, lag within brand), the composition reporting stacks
    are built from. Positive shift = climbed the board.

    Scale: the monthly rollup shrinks the fact table to |months×brands|
    rows before any window runs, so both window passes (and their two
    different partition keys) shuffle only the aggregate — the
    aggregate-before-window rule pct_of_parent_rollup also follows.
    All-integer outputs; rank ties break on brand."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    monthly = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(
            F.month("l_shipdate").cast("int").alias("m"),
            F.col("p_brand").alias("brand"),
        )
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("long"))
            .cast("long")
            .alias("revenue_cents")
        )
    )
    wm = Window.partitionBy("m").orderBy(F.desc("revenue_cents"), F.asc("brand"))
    ranked = monthly.withColumn("rnk", F.dense_rank().over(wm).cast("int"))
    wb = Window.partitionBy("brand").orderBy("m")
    prev = F.lag("rnk").over(wb).cast("int")
    return ranked.select(
        "m", "brand", "revenue_cents", "rnk",
        prev.alias("prev_rnk"), (prev - F.col("rnk")).cast("int").alias("shift"),
    )


# ---------------------------------------------------------------------------
# late-interaction (ColBERT-style) multi-vector MaxSim retrieval
# ---------------------------------------------------------------------------


def _maxsim_sql() -> str:
    from matt3r_data_ingestion_serverless_spark.functions import vectors

    cos = f"{vectors.dot_sql('a.v', 'b.v')} / (a.nrm * b.nrm)"
    # cosines quantize to integer MICRO-UNITS before the max: the sum of
    # per-vector bests is then exact bigint arithmetic. (A first version
    # summed 6-dp-rounded doubles and re-rounded — but that sum lands on
    # a 6-dp boundary BY CONSTRUCTION, so partial-sum order flipped the
    # last digit between runs. Quantize-then-integer kills the class.)
    return f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
n AS (SELECT vec_id, label, v, {vectors.l2_norm_sql('v')} AS nrm FROM e),
best AS (
  SELECT a.label AS label_a, b.label AS label_b, a.vec_id,
         max(CAST(floor(({cos}) * 1e6 + 0.5) AS BIGINT)) AS best_micro
  FROM n a JOIN n b ON a.label != b.label
  GROUP BY a.label, b.label, a.vec_id
)
SELECT label_a, label_b, count(*) AS n_query_vecs,
       CAST(sum(best_micro) AS BIGINT) AS maxsim_sum_micro,
       round(sum(best_micro) / CAST(count(*) AS DOUBLE), 6) AS maxsim_avg_micro
FROM best GROUP BY label_a, label_b
"""


@register("ns_colbert_maxsim", sql=_maxsim_sql())
def ns_colbert_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction retrieval scoring (ColBERT's MaxSim, Khattab &
    Zaharia 2020): treating each label group as a MULTI-VECTOR document,
    the relevance of document B to query A is Σ over A's vectors of the
    best cosine against ANY of B's vectors — token-level matching that
    single-vector cosine collapses away. Reported for every ordered
    label pair (the score is asymmetric by construction).

    Execution is the corpus×corpus block-pair pattern
    (operators/ann.py blocked_label_maxsim — the VERDICT r05 fix for
    the full-corpus driver collect + broadcast this query first
    shipped): each
    block-pair task scores one bounded GEMM and emits per-(query
    vector, target label) PARTIAL maxima of the micro-quantized cosine;
    max is idempotent, so a groupBy(vec, label_a, label_b).max
    completes the exact per-vector best, and a final label-pair hash
    agg sums the bests — exact bigint sums, engine-stable argmax, no
    driver-side collect of any table. The oracle is the plain pair-join
    formulation of the same quantized math."""
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    partial = blocked_label_maxsim(
        emb, id_col="vec_id", label_col="label", vec_col="embedding"
    )
    best = partial.groupBy("vec_id", "label_a", "label_b").agg(
        F.max("best_micro").alias("best_micro")
    )
    return (
        best.groupBy("label_a", "label_b")
        .agg(
            F.count(F.lit(1)).alias("n_query_vecs"),
            F.sum("best_micro").alias("ss"),
        )
        .select(
            "label_a",
            "label_b",
            "n_query_vecs",
            F.col("ss").cast("long").alias("maxsim_sum_micro"),
            F.round(F.col("ss") / F.col("n_query_vecs").cast("double"), 6).alias(
                "maxsim_avg_micro"
            ),
        )
    )


# ---------------------------------------------------------------------------
# GROUPING_ID markers + gaps-and-islands activity streaks
# ---------------------------------------------------------------------------


@register(
    "grouping_id_rollup",
    sql="""
SELECT coalesce(o_orderstatus, '<total>') AS status,
       coalesce(o_orderpriority, '<total>') AS priority,
       CAST(grouping(o_orderstatus) AS INT) AS g_status,
       CAST(grouping(o_orderpriority) AS INT) AS g_priority,
       count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
""",
)
def grouping_id_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with GROUPING() markers: the only reliable way to tell a
    subtotal row from a data row whose key is genuinely NULL — the
    marker columns (0 = real key, 1 = rolled up) are what reporting
    layers switch on; coalescing the keys to '<total>' then makes the
    output join- and hash-stable. rollup_returns covers the aggregate
    shape; this grades the GROUPING metadata surface itself.

    Scale: a rollup is one hash agg producing all grouping sets in a
    single pass (each input row expands to its set combinations
    map-side) — no per-level re-scan."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
            F.count("*").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
            .cast("long")
            .alias("revenue_cents"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("<total>")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("<total>")).alias("priority"),
            "g_status",
            "g_priority",
            "n_orders",
            "revenue_cents",
        )
    )


@register(
    "user_activity_streaks",
    sql="""
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
),
isl AS (
  SELECT user_id, d,
         d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d) AS INT)
           AS island
  FROM days
),
streaks AS (
  SELECT user_id, island, count(*) AS len,
         strftime(min(d), '%Y-%m-%d') AS streak_start
  FROM isl GROUP BY user_id, island
),
best AS (
  SELECT user_id, len AS longest_streak_days, streak_start,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY len DESC, streak_start) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n_streaks
  FROM streaks
)
SELECT user_id, CAST(longest_streak_days AS BIGINT) AS longest_streak_days,
       streak_start, CAST(n_streaks AS BIGINT) AS n_streaks
FROM best WHERE rn = 1
""",
)
def user_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: each user's longest run of CONSECUTIVE active
    days, via the classic date-minus-row_number island key (consecutive
    dates collapse to one constant) — the retention/engagement streak
    metric, and the canonical SQL pattern the windowed-run family (W2)
    generalizes to calendar granularity.

    Scale: the distinct-day shrink runs first (activity collapses to
    ≤ 365 rows/user/year no matter the event volume), then one window
    partition per user and two tiny aggs — all on the same user_id
    hash. Ties for longest streak break on earliest start date."""
    e = load_table(spark, sf_dir, "events")
    days = e.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    isl = days.select(
        "user_id",
        "d",
        F.date_sub("d", F.row_number().over(w)).alias("island"),
    )
    streaks = isl.groupBy("user_id", "island").agg(
        F.count("*").alias("len"),
        F.date_format(F.min("d"), "yyyy-MM-dd").alias("streak_start"),
    )
    wb = Window.partitionBy("user_id").orderBy(F.desc("len"), F.asc("streak_start"))
    best = streaks.select(
        "user_id",
        F.col("len").cast("long").alias("longest_streak_days"),
        "streak_start",
        F.row_number().over(wb).alias("rn"),
        F.count("*").over(Window.partitionBy("user_id")).cast("long").alias("n_streaks"),
    )
    return best.filter(F.col("rn") == 1).drop("rn")


# ---------------------------------------------------------------------------
# interval-complement (idle-gap) algebra
# ---------------------------------------------------------------------------

_BUSY_US = 300 * 1_000_000  # each purchase opens a 5-minute busy window


@register(
    "interval_complement_gaps",
    sql=f"""
WITH busy AS (
  SELECT user_id, epoch_us(ts) AS s_us, epoch_us(ts) + {_BUSY_US} AS e_us
  FROM events WHERE event_type = 'purchase'
),
flagged AS (
  SELECT user_id, s_us, e_us,
         CASE WHEN s_us > max(e_us) OVER
                (PARTITION BY user_id ORDER BY s_us, e_us
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              OR max(e_us) OVER
                (PARTITION BY user_id ORDER BY s_us, e_us
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
              THEN 1 ELSE 0 END AS new_grp
  FROM busy
),
merged AS (
  SELECT user_id, grp, min(s_us) AS s_us, max(e_us) AS e_us
  FROM (SELECT *, sum(new_grp) OVER
          (PARTITION BY user_id ORDER BY s_us, e_us
           ROWS UNBOUNDED PRECEDING) AS grp
        FROM flagged)
  GROUP BY user_id, grp
),
gaps AS (
  SELECT user_id, e_us,
         lead(s_us) OVER (PARTITION BY user_id ORDER BY s_us) AS next_s
  FROM merged
)
SELECT user_id,
       count(*) AS n_busy_intervals,
       count(next_s) AS n_gaps,
       CAST(coalesce(sum(next_s - e_us), 0) AS BIGINT) AS total_gap_us,
       CAST(coalesce(max(next_s - e_us), 0) AS BIGINT) AS max_gap_us
FROM gaps GROUP BY user_id
""",
)
def interval_complement_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-set COMPLEMENT: each purchase opens a 5-minute busy
    window; overlapping windows coalesce (operators/temporal.py, the
    J2 merge generalized), and the complement within each user's span
    — the idle gaps — is read off lead(start) − end. Interval algebra's
    third operation after join (range_interval_join) and union
    (j2_interval_coalesce); utilization/idle reporting is exactly this
    complement.

    Scale: one shuffle on user_id feeds the coalesce windows, the gap
    lead, AND the final agg (same hash). Pure integer µs arithmetic."""
    from matt3r_data_ingestion_serverless_spark.operators.temporal import (
        coalesce_intervals,
    )

    e = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    busy = e.select(
        "user_id",
        F.unix_micros("ts").alias("s_us"),
        (F.unix_micros("ts") + _BUSY_US).alias("e_us"),
    )
    merged = coalesce_intervals(busy, key="user_id", start="s_us", end="e_us")
    w = Window.partitionBy("user_id").orderBy("s_us")
    gaps = merged.select(
        "user_id",
        "e_us",
        (F.lead("s_us").over(w) - F.col("e_us")).alias("gap_us"),
    )
    return gaps.groupBy("user_id").agg(
        F.count("*").alias("n_busy_intervals"),
        F.count("gap_us").alias("n_gaps"),
        F.coalesce(F.sum("gap_us"), F.lit(0)).cast("long").alias("total_gap_us"),
        F.coalesce(F.max("gap_us"), F.lit(0)).cast("long").alias("max_gap_us"),
    )


# ---------------------------------------------------------------------------
# filter-cascade attrition audit + sequence pattern matching
# ---------------------------------------------------------------------------

_CASCADE_MIN_TOKENS = 40
_CASCADE_LANGS = ("en", "de", "es", "fr")
_CASCADE_MAX_DUP_FRAC = 0.3


@register(
    "ns_filter_cascade_audit",
    sql=f"""
WITH f AS (
  SELECT doc_id,
         len(string_split(text, ' ')) >= {_CASCADE_MIN_TOKENS} AS pass_len,
         lang IN {str(tuple(_CASCADE_LANGS))} AS pass_lang,
         (1.0 - len(list_distinct(list_transform(
             range(1, greatest(len(string_split(text, ' ')) - 1, 0) + 1),
             i -> string_split(text, ' ')[i] || chr(31)
                  || string_split(text, ' ')[i + 1])))
          / CAST(greatest(len(string_split(text, ' ')) - 1, 1) AS DOUBLE))
           <= {_CASCADE_MAX_DUP_FRAC} AS pass_rep
  FROM documents
)
SELECT count(*) AS n_input,
       count(*) FILTER (pass_len) AS after_len,
       count(*) FILTER (pass_len AND pass_lang) AS after_lang,
       count(*) FILTER (pass_len AND pass_lang AND pass_rep) AS after_rep,
       count(*) FILTER (pass_len AND NOT TRUE) + count(*) FILTER (NOT pass_len)
         AS dropped_len,
       count(*) FILTER (pass_len AND NOT pass_lang) AS dropped_lang,
       count(*) FILTER (pass_len AND pass_lang AND NOT pass_rep) AS dropped_rep
FROM f
""",
)
def ns_filter_cascade_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-cascade attrition audit: the dataset-card table every
    curation run publishes — how many documents each ORDERED filter
    stage (min length → allowed language → repetition cap) removed,
    and the survivor count after each. Attribution is first-failing-
    stage, so the dropped_* columns sum with the final survivors back
    to the input count.

    Scale: ONE scan computes every stage's boolean per row (no
    per-stage re-read — the naive pipeline materializes between
    stages); the audit is a single-row conditional-count agg. The
    repetition signal reuses the duplicate-bigram fraction
    (ns_repetition_filter) computed array-side."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = F.split("text", " ")
    n_tok = F.size(toks)
    pairs = F.expr(
        "array_distinct(zip_with(slice(split(text, ' '), 1, greatest(size(split(text, ' ')) - 1, 0)),"
        " slice(split(text, ' '), 2, greatest(size(split(text, ' ')) - 1, 0)),"
        " (a, b) -> struct(a AS w1, b AS w2)))"
    )
    dup_frac = F.lit(1.0) - F.size(pairs) / F.greatest(n_tok - 1, F.lit(1)).cast(
        "double"
    )
    f = docs.select(
        (n_tok >= _CASCADE_MIN_TOKENS).alias("pass_len"),
        F.col("lang").isin(*_CASCADE_LANGS).alias("pass_lang"),
        (dup_frac <= _CASCADE_MAX_DUP_FRAC).alias("pass_rep"),
    )
    c = lambda cond: F.sum(F.when(cond, 1).otherwise(0))  # noqa: E731
    pl, pg, pr = F.col("pass_len"), F.col("pass_lang"), F.col("pass_rep")
    return f.agg(
        F.count("*").alias("n_input"),
        c(pl).alias("after_len"),
        c(pl & pg).alias("after_lang"),
        c(pl & pg & pr).alias("after_rep"),
        c(~pl).alias("dropped_len"),
        c(pl & ~pg).alias("dropped_lang"),
        c(pl & pg & ~pr).alias("dropped_rep"),
    )


_SEQ_PATTERN = "e{2,}p"  # ≥2 consecutive errors immediately before a purchase


@register(
    "event_pattern_match",
    sql=f"""
WITH seq AS (
  SELECT user_id,
         array_to_string(list(left(event_type, 1) ORDER BY ts, event_id), '')
           AS s
  FROM events GROUP BY user_id
)
SELECT user_id, CAST(len(s) AS BIGINT) AS n_events,
       CAST(len(regexp_extract_all(s, '{_SEQ_PATTERN}')) AS BIGINT) AS n_matches
FROM seq
WHERE len(regexp_extract_all(s, '{_SEQ_PATTERN}')) > 0
""",
)
def event_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern matching (the MATCH_RECOGNIZE use case, which
    Spark lacks) via string algebra: each user's event history folds to
    a compact symbol string — one char per event, time-ordered — and
    the pattern "two-or-more errors immediately followed by a purchase"
    becomes one regex, counted per user. Symbol-string
    encoding turns arbitrary sequence patterns (quantifiers,
    alternation, anchors) into regexp engine work at one byte per
    event.

    Scale: one shuffle (the per-user ordered collect); the symbol
    string is |events-per-user| BYTES — far smaller than the rows it
    encodes — and the regex scan is linear. For unbounded histories,
    window the collect by month and overlap one pattern-length."""
    e = load_table(spark, sf_dir, "events")
    seq = e.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.unix_micros("ts").alias("ts_us"),
                            F.col("event_id").alias("event_id"),
                            F.substring("event_type", 1, 1).alias("c"),
                        )
                    )
                ),
                lambda s: s["c"],
            ),
            "",
        ).alias("s")
    )
    n_matches = F.size(F.expr(f"regexp_extract_all(s, '{_SEQ_PATTERN}', 0)"))
    return seq.select(
        "user_id",
        F.length("s").cast("long").alias("n_events"),
        n_matches.cast("long").alias("n_matches"),
    ).filter(F.col("n_matches") > 0)
