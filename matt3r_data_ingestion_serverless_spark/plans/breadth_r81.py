"""Round-4 batch 9: kNN-distance outliers, bounded weighted shortest
paths, DAG longest-path layering, and Haar wavelet details.

Four operator families that deepen the ANN / graph / time-series
surface: the distance-to-kth-neighbour outlier score (Ramaswamy et
al.) on the blocked-GEMM scale path, Bellman-Ford shortest distances
over the weighted near-dup graph (hop-bounded so the oracle is a
recursive CTE), critical-path layering of the duplication DAG, and the
unnormalised Haar wavelet transform of the hourly event-count series
(all-integer details — zero float risk).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.functions import vectors
from matt3r_data_ingestion_serverless_spark.operators.ann import blocked_kth_nn_sim
from matt3r_data_ingestion_serverless_spark.operators.iterate import frontier_loop
from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table, spread

# ---------------------------------------------------------------------------
# kNN-distance outlier scores (blocked GEMM)
# ---------------------------------------------------------------------------

_KNN_K = 3


def _knn_outlier_sql() -> str:
    cos = f"{vectors.dot_sql('a.v', 'b.v')} / (a.nrm * b.nrm)"
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
n AS (SELECT vec_id, label, v, {vectors.l2_norm_sql('v')} AS nrm FROM e),
ranked AS (
  SELECT a.vec_id, a.label, round({cos}, 6) AS sim,
         row_number() OVER (PARTITION BY a.vec_id
                            ORDER BY round({cos}, 6) DESC, b.vec_id) AS rk
  FROM n a JOIN n b ON b.vec_id != a.vec_id
)
SELECT vec_id, CAST(label AS INT) AS label, sim AS kth_sim
FROM ranked WHERE rk = {_KNN_K}
"""


@register("ns_knn_outlier_scores", sql=_knn_outlier_sql())
def ns_knn_outlier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance-to-kth-neighbour outlier score: each embedding's 3rd
    highest cosine against the rest of the corpus — a LOW kth similarity
    means the item has no dense neighbourhood (the classic kNN outlier
    statistic, the embedding-hygiene twin of ns_embedding_norm_audit).

    Scale: the same distributed blocked GEMM as the DBSCAN ε-graph
    (operators/ann.py) — rows replicate to B(B+1)/2 block-pairs via a
    broadcast equi-join, dense BLAS per pair, and each task emits only
    its per-item partial top-k (np.partition), so the shuffle back is
    ≤ n·B·k rows. The final merge is one groupBy(vec_id) over ≤ B·k
    candidates per item. FLOPs stay O(n²·d) — intrinsic to the exact
    kNN statistic; the SRP-LSH candidate source is the documented
    drop-in when approximate recall suffices. Since the kth-largest of
    the candidate multiset is tie-safe (equal VALUES give the same kth
    value under any tie order), the row_number tiebreak in the oracle
    never leaks into the result."""
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    kth = blocked_kth_nn_sim(emb, _KNN_K)
    labels = emb.select("vec_id", F.col("label").cast("int").alias("label"))
    return kth.join(F.broadcast(labels), "vec_id").select(
        "vec_id", "label", F.col("kth_sim")
    )


# ---------------------------------------------------------------------------
# weighted near-dup graph: shared edge derivation
# ---------------------------------------------------------------------------
#
# Edge weight = 10001 - floor(jaccard·10⁴ + .5): a near-identical pair
# (jaccard → 1) costs ~1, a borderline pair (0.6) costs ~4000 — so a
# shortest path prefers chains of tight duplicates. All-integer weights
# make path sums exact in both engines (no float summation order).

_MAX_HOPS = 4
_W_SQL = "10001 - CAST(floor(jaccard * 10000 + 0.5) AS BIGINT)"


def _weighted_edges(spark: SparkSession, sf_dir: str, *, mirror: bool) -> DataFrame:
    from matt3r_data_ingestion_serverless_spark.plans.northstar import (
        ns_dedup_minhash_lsh,
    )

    w = (F.lit(10001) - F.floor(F.col("jaccard") * 10000 + 0.5).cast("long")).alias("w")
    e1 = ns_dedup_minhash_lsh(spark, sf_dir).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"), w
    )
    if mirror:
        e1 = e1.union(
            e1.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
        )
    return e1.localCheckpoint(eager=True)


def _sssp_sql() -> str:
    from matt3r_data_ingestion_serverless_spark.plans.northstar import _minhash_lsh_sql

    return f"""
WITH RECURSIVE pairs AS ({_minhash_lsh_sql().strip()}),
e0 AS (SELECT doc_a AS src, doc_b AS dst, {_W_SQL} AS w FROM pairs),
edges AS (SELECT src, dst, w FROM e0 UNION ALL SELECT dst, src, w FROM e0),
seed AS (SELECT min(src) AS s FROM edges),
walk(node, dist, lvl) AS (
  SELECT s, CAST(0 AS BIGINT), 0 FROM seed WHERE s IS NOT NULL
  UNION
  SELECT e.dst, wk.dist + e.w, wk.lvl + 1
  FROM walk wk JOIN edges e ON e.src = wk.node
  WHERE wk.lvl < {_MAX_HOPS}
)
SELECT node AS doc_id, min(dist) AS dist FROM walk GROUP BY node
"""


@register("graph_sssp_bounded", sql=_sssp_sql())
def graph_sssp_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest distances (≤ 4 hops) from the
    lowest-id document through the near-dup graph — "what is the
    cheapest duplication chain reaching this doc?", the weighted twin of
    graph_bfs_levels' hop counts.

    Spark-first frontier Bellman-Ford (operators/iterate.py:
    frontier_loop): each round relaxes only edges out of nodes IMPROVED
    last round (frontier join edges → per-node min → anti-join against
    every earlier frontier), so round r's best equals the
    exact min over ≤ r-edge paths while the shuffle stays
    frontier-sized, never graph-sized. Integer weights keep path sums
    exact; the oracle is a hop-bounded recursive CTE taking min(dist).
    At 100 TB the per-round cost is one shuffle on the frontier hash —
    the standard Pregel layout (GraphX/GraphFrames run this exact
    loop)."""
    edges = _weighted_edges(spark, sf_dir, mirror=True)
    seed = (
        edges.agg(F.min("src").alias("node"))
        .filter(F.col("node").isNotNull())
        .withColumn("dist", F.lit(0).cast("long"))
    )

    def relax(frontier: DataFrame, _rnd: int, seen: DataFrame) -> DataFrame:
        cand = (
            frontier.alias("f")
            .join(edges.alias("e"), F.col("f.node") == F.col("e.src"))
            .select(
                F.col("e.dst").alias("node"),
                (F.col("f.dist") + F.col("e.w")).alias("dist"),
            )
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
        # improved nodes only: no earlier frontier reached them as cheaply
        return cand.alias("c").join(
            seen.alias("s"),
            (F.col("c.node") == F.col("s.node")) & (F.col("s.dist") <= F.col("c.dist")),
            "left_anti",
        )

    best = frontier_loop(seed, relax, _MAX_HOPS)
    return best.groupBy(F.col("node").alias("doc_id")).agg(F.min("dist").alias("dist"))


def _topo_sql() -> str:
    from matt3r_data_ingestion_serverless_spark.plans.northstar import _minhash_lsh_sql

    return f"""
WITH RECURSIVE pairs AS ({_minhash_lsh_sql().strip()}),
edges AS (SELECT doc_a AS src, doc_b AS dst, {_W_SQL} AS w FROM pairs),
nodes AS (SELECT doc_a AS n FROM pairs UNION SELECT doc_b FROM pairs),
walk(node, dist, lvl) AS (
  SELECT n, CAST(0 AS BIGINT), 0 FROM nodes
  UNION
  SELECT e.dst, wk.dist + e.w, wk.lvl + 1
  FROM walk wk JOIN edges e ON e.src = wk.node
  WHERE wk.lvl < {_MAX_HOPS}
)
SELECT node AS doc_id, max(dist) AS max_dist, CAST(max(lvl) AS INT) AS max_depth
FROM walk GROUP BY node
"""


@register("graph_topo_longest_path", sql=_topo_sql())
def graph_topo_longest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest-path layering of the duplication DAG (near-dup edges
    directed low→high id are acyclic by construction): per node, the
    max-weight path and the max depth over chains of ≤ 4 edges ending
    at it — the critical-path / topological-level primitive behind
    build-graph scheduling and lineage-depth audits.

    Spark-first per-level DP: frontier r holds each node's max distance
    over exactly-r-edge paths (optimal substructure per hop count —
    pruning to the per-node max each round is exact); the accumulated
    union's final groupBy-max gives the ≤-4-edge answer. Each round is
    one frontier-sized shuffle. The oracle enumerates the same bounded
    walks in a recursive CTE."""
    edges = _weighted_edges(spark, sf_dir, mirror=False)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select("dst"))
        .distinct()
        .select("node", F.lit(0).cast("long").alias("dist"), F.lit(0).alias("lvl"))
    )

    def extend(frontier: DataFrame, lvl: int, _seen: DataFrame) -> DataFrame:
        return (
            frontier.alias("f")
            .join(edges.alias("e"), F.col("f.node") == F.col("e.src"))
            .select(
                F.col("e.dst").alias("node"),
                (F.col("f.dist") + F.col("e.w")).alias("dist"),
            )
            .groupBy("node")
            .agg(F.max("dist").alias("dist"))
            .withColumn("lvl", F.lit(lvl))
        )

    acc = frontier_loop(nodes, extend, _MAX_HOPS)
    return acc.groupBy("node").agg(
        F.max("dist").alias("max_dist"),
        F.max("lvl").cast("int").alias("max_depth"),
    ).select(F.col("node").alias("doc_id"), "max_dist", "max_depth")


# ---------------------------------------------------------------------------
# Haar wavelet details of the hourly event-count series
# ---------------------------------------------------------------------------

_HAAR_SLOTS = 512  # first 512 hours of the series (power of two)
_HAAR_LEVELS = 6  # block sizes 2..64

# dense hourly-count frame, shared with breadth_r82's Hurst R/S:
# s(slot BIGINT in [0, 512), n BIGINT) anchored at the series' first hour
_SLOTS_CTE_SQL = f"""ev AS (
  SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h FROM events
),
t0 AS (SELECT min(h) AS h0 FROM ev),
c AS (
  SELECT ev.h - t0.h0 AS slot, count(*) AS n
  FROM ev, t0 WHERE ev.h - t0.h0 < {_HAAR_SLOTS} GROUP BY 1
),
s AS (
  SELECT r.range AS slot, coalesce(c.n, 0) AS n
  FROM range({_HAAR_SLOTS}) r LEFT JOIN c ON c.slot = r.range
)"""


def hourly_slots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense (slot, n) hourly event counts for the first 512 hours —
    the Spark twin of _SLOTS_CTE_SQL. Missing hours materialize as 0
    via a broadcast join against spark.range (at 100 TB the same frame
    is per-device: range ⨯ device dimension, still broadcast-sized)."""
    ev = load_table(spark, sf_dir, "events").select(
        F.floor(F.unix_seconds("ts") / 3600).cast("long").alias("h")
    )
    h0 = ev.agg(F.min("h").alias("h0"))
    c = (
        ev.join(F.broadcast(h0))
        .select((F.col("h") - F.col("h0")).alias("slot"))
        .filter(F.col("slot") < _HAAR_SLOTS)
        .groupBy("slot")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        spark.range(_HAAR_SLOTS)
        .select(F.col("id").alias("slot"))
        .join(c, "slot", "left")
        .select("slot", F.coalesce("n", F.lit(0)).alias("n"))
    )


_HAAR_SQL = f"""
WITH {_SLOTS_CTE_SQL},
lv AS (
  SELECT slot, n, l.level
  FROM s CROSS JOIN (SELECT unnest([{",".join(str(l) for l in range(1, _HAAR_LEVELS + 1))}]) AS level) l
)
SELECT level,
       CAST(slot // (1 << level) AS BIGINT) AS pos,
       sum(n) AS n_events,
       sum(CASE WHEN slot % (1 << level) < (1 << (level - 1)) THEN n ELSE -n END)
         AS detail
FROM lv GROUP BY 1, 2
"""


@register("ts_haar_coefficients", sql=_HAAR_SQL)
def ts_haar_coefficients(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unnormalised Haar wavelet details of the hourly event-count
    series (first 512 hours): at each dyadic level, detail =
    Σ(left half) − Σ(right half) of the block — the multi-resolution
    burst detector (a large |detail| at level L flags an activity shift
    at the 2^L-hour scale) and the transform behind wavelet-compressed
    series synopses. All-integer arithmetic end to end: counts sum
    exactly, so no cross-engine float risk anywhere.

    Scale: one scan → hour bucketing → one groupBy(level, pos) over an
    exploded 6-level array; the dense 512-slot frame is a broadcast
    range join. At 100 TB the same plan holds with the series keyed per
    device — the explode factor is the (constant) level count."""
    s = hourly_slots(spark, sf_dir)
    lv = s.select(
        "slot",
        "n",
        F.explode(
            F.array(*[F.lit(l) for l in range(1, _HAAR_LEVELS + 1)])
        ).alias("level"),
    )
    # F.shiftleft needs a literal shift; the SQL form takes a column
    blk = F.expr("shiftleft(1, level)")
    half = F.expr("shiftleft(1, level - 1)")
    return (
        lv.select(
            "level",
            F.floor(F.col("slot") / blk).cast("long").alias("pos"),
            "n",
            F.when(F.pmod("slot", blk) < half, F.col("n"))
            .otherwise(-F.col("n"))
            .alias("signed_n"),
        )
        .groupBy("level", "pos")
        .agg(F.sum("n").alias("n_events"), F.sum("signed_n").alias("detail"))
    )
