"""The graph query domain: traversal, centrality, triangle structure,
peeling, matching and link prediction over the near-dup graph (the
verified MinHash-LSH pairs of plans/dedup.py), each graded against
a DuckDB oracle that derives the same graph from the documents.
graph_link_prediction runs on the lineitem part co-purchase graph
instead.

Every query starts from the shared pieces below: the pinned edge list
(near_dup_edges), per-node degrees (degrees) and the oriented triangle
list (triangles). The convergence loops go through operators/iterate.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.functions.rounding import round6, round6_sql
from matt3r_data_ingestion_serverless_spark.operators.iterate import (
    connected_components,
    frontier_loop,
    mirror,
)
from matt3r_data_ingestion_serverless_spark.plans.dedup import (
    dup_clusters_ctes,
    minhash_lsh_sql,
    near_dup_pairs,
)
from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# the near-dup graph: edge list, degrees, triangles
# ---------------------------------------------------------------------------


def near_dup_edges(spark: SparkSession, sf_dir: str, *, mirrored: bool = False) -> DataFrame:
    """The near-dup graph as an edge list ``(src, dst, jaccard)`` over
    the pinned pair list (near_dup_pairs): each verified pair once with
    src < dst, or in both directions when ``mirrored``."""
    pairs = near_dup_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"), "jaccard"
    )
    return mirror(pairs) if mirrored else pairs


def degrees(edges: DataFrame) -> DataFrame:
    """``(node, degree)``: the number of edges leaving each node. Over a
    mirrored edge list that is the undirected degree."""
    return edges.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("degree"))


def triangles(edges: DataFrame) -> DataFrame:
    """``(a, b, c)``, a < b < c, once per triangle of a src < dst edge
    list: the wedge a→b→c closed by the edge a→c. Both joins key on a
    node id; on skewed graphs, orienting low → high degree bounds the
    wedge fan-out at O(m^1.5)."""
    ab = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    bc = edges.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    ac = edges.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    return ab.join(bc, "b").join(ac, ["a", "c"]).select("a", "b", "c")


def _lowest_node(edges: DataFrame) -> DataFrame:
    """The lowest source node as a 1-row ``(node)`` frame, the seed of
    the traversals; empty for an empty graph. It stays a DataFrame
    (cross-join broadcast), so the plan has no driver-side collect."""
    return edges.agg(F.min("src").alias("node")).filter(F.col("node").isNotNull())


# ---------------------------------------------------------------------------
# BFS hop levels over the near-dup graph
# ---------------------------------------------------------------------------

_BFS_MAX_HOPS = 4


def _bfs_sql() -> str:
    pairs = minhash_lsh_sql().strip()
    return f"""
WITH RECURSIVE pairs AS ({pairs}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
seed AS (SELECT min(src) AS s FROM edges),
walk(node, lvl) AS (
  SELECT s, 0 FROM seed WHERE s IS NOT NULL
  UNION
  SELECT e.dst, w.lvl + 1
  FROM walk w JOIN edges e ON e.src = w.node
  WHERE w.lvl < {_BFS_MAX_HOPS}
)
SELECT node AS doc_id, CAST(min(lvl) AS INT) AS hop
FROM walk GROUP BY node
"""


@register("graph_bfs_levels", sql=_bfs_sql())
def graph_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS hop distance (≤ 4 hops) from the lowest-id document through
    the near-dup graph — "how far does this duplication neighbourhood
    extend from a seed?", the traversal primitive behind contamination
    blast-radius and lineage queries (beside ns_dup_clusters' components
    and graph_pagerank's scores on the same edge list).

    Spark-first iterative BFS (operators/iterate.py:frontier_loop): the
    frontier expands by one join-per-level against the localCheckpointed
    edge list, anti-joined against the visited set so each node is
    labeled with its FIRST (minimal) level; ≤ 4 rounds of (join +
    distinct + anti-join), each a bounded shuffle on the frontier —
    never the whole graph. The oracle is a depth-bounded recursive CTE
    taking min(level) per node.
    """
    edges = near_dup_edges(spark, sf_dir, mirrored=True)
    seed = _lowest_node(edges).withColumn("hop", F.lit(0))

    def step(frontier: DataFrame, hop: int, seen: DataFrame) -> DataFrame:
        return (
            frontier.join(edges, frontier.node == edges.src)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(seen, "node", "left_anti")
            .withColumn("hop", F.lit(hop))
        )

    return frontier_loop(seed, step, _BFS_MAX_HOPS).select(
        F.col("node").alias("doc_id"), F.col("hop").cast("int").alias("hop")
    )


# ---------------------------------------------------------------------------
# weighted near-dup graph: shortest and longest paths
# ---------------------------------------------------------------------------
#
# Edge weight = 10001 - floor(jaccard·10⁴ + .5): a near-identical pair
# (jaccard → 1) costs ~1, a borderline pair (0.6) costs ~4000 — so a
# shortest path prefers chains of tight duplicates. All-integer weights
# make path sums exact in both engines (no float summation order).

_MAX_HOPS = 4
_W_SQL = "10001 - CAST(floor(jaccard * 10000 + 0.5) AS BIGINT)"


def _weighted_edges(spark: SparkSession, sf_dir: str, *, mirrored: bool) -> DataFrame:
    w = (F.lit(10001) - F.floor(F.col("jaccard") * 10000 + 0.5).cast("long")).alias("w")
    return near_dup_edges(spark, sf_dir, mirrored=mirrored).select("src", "dst", w)


def _sssp_sql() -> str:
    return f"""
WITH RECURSIVE pairs AS ({minhash_lsh_sql().strip()}),
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
    edges = _weighted_edges(spark, sf_dir, mirrored=True)
    seed = _lowest_node(edges).withColumn("dist", F.lit(0).cast("long"))

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
    return f"""
WITH RECURSIVE pairs AS ({minhash_lsh_sql().strip()}),
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
    edges = _weighted_edges(spark, sf_dir, mirrored=False)
    nodes = degrees(mirror(edges)).select(
        "node", F.lit(0).cast("long").alias("dist"), F.lit(0).alias("lvl")
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
# bipartiteness (odd-cycle detection) via parity BFS
# ---------------------------------------------------------------------------

_BIP_HOPS = 6


def _bipartite_sql() -> str:
    return f"""
WITH RECURSIVE pairs AS MATERIALIZED ({minhash_lsh_sql().strip()}),
edges AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
seed AS (SELECT min(src) AS s FROM edges),
walk(node, par, lvl) AS (
  SELECT s, 0, 0 FROM seed WHERE s IS NOT NULL
  UNION
  SELECT e.dst, 1 - w.par, w.lvl + 1
  FROM walk w JOIN edges e ON e.src = w.node
  WHERE w.lvl < {_BIP_HOPS}
)
SELECT node AS doc_id,
       max(CASE WHEN par = 0 THEN 1 ELSE 0 END) = 1 AS even_reach,
       max(CASE WHEN par = 1 THEN 1 ELSE 0 END) = 1 AS odd_reach,
       max(CASE WHEN par = 0 THEN 1 ELSE 0 END) = 1
         AND max(CASE WHEN par = 1 THEN 1 ELSE 0 END) = 1 AS odd_cycle_witness
FROM walk GROUP BY node
"""


@register("graph_bipartite_check", sql=_bipartite_sql())
def graph_bipartite_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-colorability probe of the near-dup component around the lowest
    doc id: parity BFS (≤ 6 hops) labels each reached node with the
    path parities that reach it — a node reachable at BOTH parities
    witnesses an odd cycle, so the component is not bipartite (dup
    graphs full of triangles fail immediately; a clean
    mirror-translation corpus would pass). The bounded-hop frontier
    loop is the same Pregel shape as graph_bfs_levels with (node,
    parity) as the vertex key.

    Scale: frontier-sized joins per round against the checkpointed
    edge list; the visited set is keyed (node, parity) so each state
    expands at most once."""
    edges = near_dup_edges(spark, sf_dir, mirrored=True)
    seed = _lowest_node(edges).withColumn("par", F.lit(0))

    def step(frontier: DataFrame, _hop: int, seen: DataFrame) -> DataFrame:
        return (
            frontier.alias("f")
            .join(edges.alias("e"), F.col("f.node") == F.col("e.src"))
            .select(F.col("e.dst").alias("node"), (1 - F.col("f.par")).alias("par"))
            .distinct()
            .join(seen, ["node", "par"], "left_anti")
        )

    visited = frontier_loop(seed, step, _BIP_HOPS)
    even = F.max(F.when(F.col("par") == 0, 1).otherwise(0)) == 1
    odd = F.max(F.when(F.col("par") == 1, 1).otherwise(0)) == 1
    return visited.groupBy("node").agg(
        even.alias("even_reach"), odd.alias("odd_reach"), (even & odd).alias("odd_cycle_witness")
    ).select(F.col("node").alias("doc_id"), "even_reach", "odd_reach", "odd_cycle_witness")


# ---------------------------------------------------------------------------
# PageRank (fixed iterations) over the near-dup graph
# ---------------------------------------------------------------------------

_PR_DAMP = 0.85
_PR_ITERS = 3


def _pagerank_sql() -> str:
    pairs = minhash_lsh_sql().strip()
    it = """
r{k} AS (
  SELECT e.t AS node,
         (1 - {d}) / max(n.n) + {d} * sum(r{p}.r / deg.deg) AS r
  FROM edges e
  JOIN r{p} ON e.s = r{p}.node
  JOIN deg ON e.s = deg.s
  CROSS JOIN n
  GROUP BY e.t
)"""
    iters = ",".join(
        it.format(k=k, p=k - 1, d=_PR_DAMP) for k in range(1, _PR_ITERS + 1)
    )
    return f"""
WITH pairs AS ({pairs}),
edges AS (
  SELECT doc_a AS s, doc_b AS t FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
nodes AS (SELECT DISTINCT s AS node FROM edges),
n AS (SELECT count(*)::DOUBLE AS n FROM nodes),
deg AS (SELECT s, count(*)::DOUBLE AS deg FROM edges GROUP BY s),
r0 AS (SELECT node, 1.0 / n.n AS r FROM nodes CROSS JOIN n),
{iters}
SELECT node AS doc_id, round(r, 6) AS pagerank
FROM r{_PR_ITERS}
"""


@register("graph_pagerank", sql=_pagerank_sql())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 fixed power iterations, damping 0.85) over the
    near-dup graph: rank the most central documents in each duplicate
    neighborhood — the canonical-representative signal when min-id
    (ns_dedup_keep_one) is too arbitrary. Every node here has degree
    ≥ 1 (the graph IS the pair list), so there is no dangling-mass
    term.

    Scale: each iteration is one join of the rank vector against the
    edge list (both hashed on the same key — the exchange is reused)
    plus a hash agg. Fixed iteration count, deterministic at 6 dp;
    full convergence at 100 TB pairs with the iterative-checkpoint
    pattern ns_dup_clusters uses."""
    edges = near_dup_edges(spark, sf_dir, mirrored=True)
    # The edge list CARRIES the source degree, and n is a bounded
    # 1-value scalar (same arithmetic: Python float division IS IEEE
    # double division), so each iteration is one join + hash agg — plan
    # size O(iters). Re-attaching deg (broadcast build) and n (crossJoin
    # of a 1-row agg) inside every iteration held 36 Exchanges / 22
    # scans and ~2.4 s of driver planning (measured).
    deg = degrees(edges)
    ed = edges.join(
        deg.select(F.col("node").alias("src"), F.col("degree").cast("double").alias("deg")),
        "src",
    )
    n_nodes = deg.count()
    r = deg.select("node", F.lit(1.0 / n_nodes).alias("r"))
    for _ in range(_PR_ITERS):
        r = (
            ed.join(r, ed.src == r.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(
                (
                    F.lit((1 - _PR_DAMP) / n_nodes)
                    + _PR_DAMP * F.sum(F.col("r") / F.col("deg"))
                ).alias("r")
            )
        )
    return r.select(F.col("node").alias("doc_id"), F.round("r", 6).alias("pagerank"))


def _triangles_sql() -> str:
    pairs = minhash_lsh_sql().strip()
    return f"""
WITH pairs AS ({pairs}),
e AS (SELECT doc_a AS s, doc_b AS t FROM pairs)
SELECT e1.s AS a, e1.t AS b, e2.t AS c
FROM e e1
JOIN e e2 ON e1.t = e2.s
JOIN e e3 ON e3.s = e1.s AND e3.t = e2.t
"""


@register("graph_triangles", sql=_triangles_sql())
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle enumeration over the near-dup graph (edges canonical
    a<b, so each triangle lists once as a<b<c) — the clustering-
    coefficient primitive that separates tight dup cliques from
    accidental chains."""
    return triangles(near_dup_edges(spark, sf_dir))


# ---------------------------------------------------------------------------
# HITS (2 iterations) over the directed near-dup graph
# ---------------------------------------------------------------------------


def _hits_sql() -> str:
    pairs = minhash_lsh_sql().strip()
    return f"""
WITH pairs AS ({pairs}),
edges AS (SELECT doc_a AS s, doc_b AS t FROM pairs),
nodes AS (SELECT DISTINCT node FROM
          (SELECT s AS node FROM edges UNION SELECT t FROM edges)),
a1r AS (SELECT t AS node, count(*) * 1000000 AS v FROM edges GROUP BY t),
a1 AS (SELECT node, (v * 1000000) // (SELECT max(v) FROM a1r) AS v FROM a1r),
h1r AS (SELECT e.s AS node, sum(a1.v) AS v
        FROM edges e JOIN a1 ON e.t = a1.node GROUP BY e.s),
h1 AS (SELECT node, (v * 1000000) // (SELECT max(v) FROM h1r) AS v FROM h1r),
a2r AS (SELECT e.t AS node, sum(h1.v) AS v
        FROM edges e JOIN h1 ON e.s = h1.node GROUP BY e.t),
a2 AS (SELECT node, (v * 1000000) // (SELECT max(v) FROM a2r) AS v FROM a2r),
h2r AS (SELECT e.s AS node, sum(a2.v) AS v
        FROM edges e JOIN a2 ON e.t = a2.node GROUP BY e.s),
h2 AS (SELECT node, (v * 1000000) // (SELECT max(v) FROM h2r) AS v FROM h2r)
SELECT n.node AS doc_id,
       CAST(coalesce(ideg.d, 0) AS BIGINT) AS in_deg,
       CAST(coalesce(odeg.d, 0) AS BIGINT) AS out_deg,
       CAST(coalesce(a2.v, 0) AS BIGINT) AS auth_micro,
       CAST(coalesce(h2.v, 0) AS BIGINT) AS hub_micro
FROM nodes n
LEFT JOIN (SELECT t, count(*) AS d FROM edges GROUP BY t) ideg ON n.node = ideg.t
LEFT JOIN (SELECT s, count(*) AS d FROM edges GROUP BY s) odeg ON n.node = odeg.s
LEFT JOIN a2 ON n.node = a2.node
LEFT JOIN h2 ON n.node = h2.node
"""


@register("graph_hits_hubs_authorities", _hits_sql())
def graph_hits_hubs_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg) hubs-and-authorities, two full iterations over
    the near-dup graph directed low-id → high-id (the citation-style
    orientation that keeps hubs and authorities distinct — symmetric
    edges would collapse them). Every half-step renormalizes by the
    current MAX via TRUE integer division (v·10⁶ // max), so scores
    stay exact int64 through both iterations — no float ever enters,
    unlike the classic L2 normalization. Each half-step is one
    edge-list join + hash agg on the same key (the exchange is reused
    across steps), the same shape as graph_pagerank; max() is a 1-row
    broadcast."""
    edges = near_dup_edges(spark, sf_dir)
    in_deg = degrees(edges.select(F.col("dst").alias("src")))
    out_deg = degrees(edges)

    def normalize(raw: DataFrame) -> DataFrame:
        # Checkpoint the half-step's raw scores FIRST: `raw` is consumed
        # twice (the max subquery and the projection), and each of the
        # four chained half-steps consumed its predecessor's WHOLE plan
        # twice more — the returned plan held 178 Exchanges / 96 scans /
        # 276 aggregates of duplicated subtrees (measured, r10). With
        # the lazy checkpoint each half-step is one join + one hash agg
        # over a materialized table: plan size O(steps), the pagerank
        # treatment. The 1-row max broadcast is bounded at any scale.
        raw = raw.localCheckpoint(eager=False)
        mx = raw.agg(F.max("v").alias("mx"))
        return raw.crossJoin(F.broadcast(mx)).select(
            "node", F.expr("(v * 1000000) div mx").alias("v")
        )

    def half_step(scores: DataFrame, frm: str, to: str) -> DataFrame:
        # each node's new score: the sum over its edges of the scores at
        # their other (`frm`) end
        return normalize(
            edges.join(scores, edges[frm] == scores.node)
            .groupBy(F.col(to).alias("node"))
            .agg(F.sum("v").alias("v"))
        )

    a1 = normalize(in_deg.select("node", (F.col("degree") * 1000000).alias("v")))
    h1 = half_step(a1, "dst", "src")
    a2 = half_step(h1, "src", "dst")
    h2 = half_step(a2, "dst", "src")
    out = (
        degrees(mirror(edges))
        .select("node")
        .join(in_deg.withColumnRenamed("degree", "in_deg"), "node", "left")
        .join(out_deg.withColumnRenamed("degree", "out_deg"), "node", "left")
        .join(a2.withColumnRenamed("v", "auth"), "node", "left")
        .join(h2.withColumnRenamed("v", "hub"), "node", "left")
    )
    return out.select(
        F.col("node").alias("doc_id"),
        F.coalesce("in_deg", F.lit(0)).cast("long").alias("in_deg"),
        F.coalesce("out_deg", F.lit(0)).cast("long").alias("out_deg"),
        F.coalesce("auth", F.lit(0)).cast("long").alias("auth_micro"),
        F.coalesce("hub", F.lit(0)).cast("long").alias("hub_micro"),
    )


# ---------------------------------------------------------------------------
# per-node clustering coefficient over the near-dup graph
# ---------------------------------------------------------------------------


def _clustering_sql() -> str:
    pairs = minhash_lsh_sql().strip()
    return f"""
WITH pairs AS ({pairs}),
e AS (SELECT doc_a AS s, doc_b AS t FROM pairs),
und AS (SELECT s, t FROM e UNION SELECT t, s FROM e),
deg AS (SELECT s AS node, count(*) AS d FROM und GROUP BY s),
tri AS (
  SELECT e1.s AS a, e1.t AS b, e2.t AS c
  FROM e e1 JOIN e e2 ON e1.t = e2.s
  JOIN e e3 ON e3.s = e1.s AND e3.t = e2.t
),
per_node AS (
  SELECT node, count(*) AS t FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) GROUP BY node
)
SELECT deg.node AS doc_id, CAST(deg.d AS INT) AS degree,
       CAST(coalesce(per_node.t, 0) AS BIGINT) AS n_triangles,
       CASE WHEN deg.d >= 2 THEN {round6_sql(
           "2.0 * coalesce(per_node.t, 0) / (CAST(deg.d AS DOUBLE) * (deg.d - 1))"
       )} END AS clustering_coef
FROM deg LEFT JOIN per_node ON deg.node = per_node.node
"""


@register("graph_clustering_coefficient", sql=_clustering_sql())
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node clustering coefficient 2T_v/(d_v(d_v−1)) over the
    near-dup graph: coefficient ≈ 1 = the node sits in a tight dup
    CLIQUE (safe to keep one representative), ≈ 0 at degree ≥ 2 = a
    CHAIN/star (transitive merging would over-collapse distinct docs)
    — the per-node readout behind ns_dup_clusters' keep-one decisions,
    refining graph_triangles' global count.

    Triangles enumerate once on canonical a<b<c edges (two single-key
    joins), each triangle credits its three corners via an explode, and
    degrees come from the mirrored edge list — no per-node
    neighborhood materialization. Nodes with degree < 2 have no defined
    coefficient (NULL)."""
    edges = near_dup_edges(spark, sf_dir)
    corners = triangles(edges).select(F.explode(F.array("a", "b", "c")).alias("node"))
    per_node = corners.groupBy("node").agg(F.count("*").alias("t"))
    j = degrees(mirror(edges)).join(per_node, "node", "left")
    d = F.col("degree")
    t = F.coalesce(F.col("t"), F.lit(0))
    coef = 2.0 * t / (d.cast("double") * (d - 1))
    return j.select(
        F.col("node").alias("doc_id"),
        d.cast("int").alias("degree"),
        t.cast("long").alias("n_triangles"),
        F.when(d >= 2, round6(coef)).alias("clustering_coef"),
    )


# ---------------------------------------------------------------------------
# open triads: near-dup transitivity violations
# ---------------------------------------------------------------------------


def _triads_sql() -> str:
    pairs = minhash_lsh_sql().strip()
    return f"""
WITH pairs AS ({pairs}),
und AS (
  SELECT doc_a AS s, doc_b AS t FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
deg AS (SELECT s, count(*) AS d FROM und GROUP BY s),
paths AS (SELECT CAST(sum(d * (d - 1)) AS BIGINT) // 2 AS n_paths2 FROM deg),
tri AS (
  SELECT count(*) AS n_triangles
  FROM pairs e1
  JOIN pairs e2 ON e1.doc_b = e2.doc_a
  JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
)
SELECT CAST(p.n_paths2 AS BIGINT) AS n_paths2,
       CAST(t.n_triangles AS BIGINT) AS n_triangles,
       CAST(p.n_paths2 - 3 * t.n_triangles AS BIGINT) AS n_open_triads,
       {round6_sql(
           "CASE WHEN p.n_paths2 = 0 THEN 0.0"
           " ELSE 3.0 * t.n_triangles / p.n_paths2 END"
       )} AS global_clustering
FROM paths p CROSS JOIN tri t
"""


@register("graph_open_triads", _triads_sql())
def graph_open_triads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-triad audit of the near-dup graph: a~b and b~c with a≁c —
    exactly where greedy dedup-by-chaining (connected components)
    merges documents that are NOT mutually similar, so the open-triad
    count is the transitivity-violation exposure of ns_dup_clusters
    and the global clustering coefficient (3T / paths₂) its quality
    score. Paths-of-length-2 come from the degree identity Σd(d−1)/2 —
    one agg, no path enumeration; only the (already canonical a<b<c)
    triangle count joins. All exact int64."""
    edges = near_dup_edges(spark, sf_dir)
    d = F.col("degree")
    paths = degrees(mirror(edges)).agg((F.sum(d * (d - 1)) / 2).cast("long").alias("n_paths2"))
    tri = triangles(edges).agg(F.count("*").alias("n_triangles"))
    j = paths.crossJoin(F.broadcast(tri))
    cc = F.when(F.col("n_paths2") == 0, F.lit(0.0)).otherwise(
        3.0 * F.col("n_triangles") / F.col("n_paths2")
    )
    return j.select(
        F.col("n_paths2").cast("long").alias("n_paths2"),
        F.col("n_triangles").cast("long").alias("n_triangles"),
        (F.col("n_paths2") - 3 * F.col("n_triangles")).cast("long").alias("n_open_triads"),
        round6(cc).alias("global_clustering"),
    )


# ---------------------------------------------------------------------------
# k-truss edge support (one peel round)
# ---------------------------------------------------------------------------

_TRUSS_K = 3  # keep edges in ≥ k-2 = 1 triangle


def _ktruss_sql() -> str:
    return f"""
WITH e AS MATERIALIZED (
  SELECT doc_a AS a, doc_b AS b FROM ({minhash_lsh_sql().strip()})
),
tri AS (
  -- oriented wedge (a<b<c) closed by (a,c): each triangle found once
  SELECT e1.a, e1.b, e2.b AS c
  FROM e e1 JOIN e e2 ON e1.b = e2.a
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
),
sup AS (
  SELECT a, b, count(*) AS support FROM (
    SELECT a, b FROM tri
    UNION ALL SELECT b AS a, c AS b FROM tri
    UNION ALL SELECT a, c AS b FROM tri
  ) GROUP BY a, b
)
SELECT e.a AS doc_a, e.b AS doc_b,
       coalesce(s.support, 0) AS n_triangles,
       coalesce(s.support, 0) >= {_TRUSS_K - 2} AS in_truss
FROM e LEFT JOIN sup s ON s.a = e.a AND s.b = e.b
"""


@register("graph_ktruss_edges", sql=_ktruss_sql())
def graph_ktruss_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge triangle support + the k=3 truss membership flag over the
    near-dup graph: an edge is in the 3-truss iff it closes at least
    one triangle — the cohesive-subgraph criterion (Cohen's k-truss)
    one step past graph_triangles' global count, and the first peel
    round of the full truss decomposition. Wedges orient a<b<c so each
    triangle is found exactly once and each of its three edges gets one
    support credit."""
    edges = near_dup_edges(spark, sf_dir)
    tri = triangles(edges)
    sup = (
        tri.select("a", "b")
        .union(tri.select(F.col("b").alias("a"), F.col("c").alias("b")))
        .union(tri.select("a", F.col("c").alias("b")))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("support"))
    )
    support = F.coalesce("support", F.lit(0))
    return (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .join(sup, ["a", "b"], "left")
        .select(
            F.col("a").alias("doc_a"),
            F.col("b").alias("doc_b"),
            support.alias("n_triangles"),
            (support >= _TRUSS_K - 2).alias("in_truss"),
        )
    )


# ---------------------------------------------------------------------------
# 2-core peeling (4 unrolled rounds) over the near-dup graph
# ---------------------------------------------------------------------------

_PEEL_ROUNDS = 4


def _kcore_sql() -> str:
    pairs = minhash_lsh_sql().strip()
    # every CTE is MATERIALIZED: each round names the previous alive set
    # four times, and DuckDB would otherwise re-expand the whole LSH
    # pipeline at every reference (exponential in the rounds; it ran out
    # of memory at sf0.01)
    step = """
alive{k} AS MATERIALIZED (
  SELECT node FROM (
    SELECT node, count(*) AS d FROM (
      SELECT s AS node FROM edges
      WHERE s IN (SELECT node FROM alive{p}) AND t IN (SELECT node FROM alive{p})
      UNION ALL
      SELECT t FROM edges
      WHERE s IN (SELECT node FROM alive{p}) AND t IN (SELECT node FROM alive{p})
    ) GROUP BY node
  ) WHERE d >= 2
)"""
    steps = ",".join(step.format(k=k, p=k - 1) for k in range(1, _PEEL_ROUNDS + 1))
    return f"""
WITH pairs AS MATERIALIZED ({pairs}),
edges AS MATERIALIZED (SELECT doc_a AS s, doc_b AS t FROM pairs),
alive0 AS MATERIALIZED (SELECT DISTINCT node FROM
           (SELECT s AS node FROM edges UNION SELECT t FROM edges)),
{steps}
SELECT n.node AS doc_id,
       CAST(d0.d AS BIGINT) AS degree,
       CAST(n.node IN (SELECT node FROM alive{_PEEL_ROUNDS}) AS BOOLEAN) AS in_2core
FROM alive0 n
JOIN (SELECT node, count(*) AS d FROM
      (SELECT s AS node FROM edges UNION ALL SELECT t FROM edges)
      GROUP BY node) d0
  ON n.node = d0.node
"""


@register("graph_kcore_peel", _kcore_sql())
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core decomposition by iterative peeling (4 unrolled rounds):
    repeatedly delete nodes whose degree in the SURVIVING subgraph is
    < 2 — what remains is the 2-core, the dense backbone that
    separates real duplicate clusters from dangling pair-chains
    (cluster_size_histogram counts components; this grades their
    internal density). Each round is one semi-join of the edge list
    against the alive set + a degree agg — the same peel that runs
    to fixpoint at 100 TB with iterative checkpointing; four rounds
    provably suffice on this graph (asserted stable in tests). All
    integer degree arithmetic."""
    edges = near_dup_edges(spark, sf_dir).select("src", "dst")
    deg0 = degrees(mirror(edges))
    alive = deg0.select("node")
    for _ in range(_PEEL_ROUNDS):
        # semi-joins with NO broadcast hint: the alive set is
        # corpus-scaled (one row per surviving node), so a forced
        # broadcast cannot hold at 100 TB — let the planner pick
        # (it still auto-broadcasts under the threshold locally)
        live_edges = edges.join(
            alive.withColumnRenamed("node", "src"), "src", "left_semi"
        ).join(alive.withColumnRenamed("node", "dst"), "dst", "left_semi")
        # checkpoint each round: alive feeds TWO joins next round, and
        # without cutting lineage the final action re-evaluates every
        # earlier round once per branch — exponential recompute
        # (measured 5.4 s → ~2 s at sf0.1)
        alive = (
            degrees(mirror(live_edges))
            .filter(F.col("degree") >= 2)
            .select("node")
            .localCheckpoint(eager=True)
        )
    core = alive.withColumn("in_core", F.lit(True))
    return (
        deg0.join(core, "node", "left")
        .select(
            F.col("node").alias("doc_id"),
            F.col("degree").cast("long").alias("degree"),
            F.coalesce("in_core", F.lit(False)).alias("in_2core"),
        )
    )


# ---------------------------------------------------------------------------
# degree assortativity of the near-dup graph
# ---------------------------------------------------------------------------


def _assortativity_sql() -> str:
    pairs = minhash_lsh_sql().strip()
    return f"""
WITH pairs AS ({pairs}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
deg AS (SELECT src AS node, count(*) AS d FROM edges GROUP BY src),
de AS (
  SELECT du.d AS x, dv.d AS y
  FROM edges e JOIN deg du ON e.src = du.node JOIN deg dv ON e.dst = dv.node
),
m AS (
  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
  FROM de
)
SELECT CAST(n AS BIGINT) AS n_directed_edges,
       CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
            THEN {round6_sql(
                "CAST(n * sxy - sx * sy AS DOUBLE)"
                " / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))"
                " * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))"
            )} END AS assortativity
FROM m
"""


@register("graph_assortativity", sql=_assortativity_sql())
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the near-dup graph — the Pearson
    correlation of endpoint degrees over all directed edges (Newman
    2002): positive = hubs attach to hubs (one mega-dup-cluster
    forming), negative = hub-and-spoke (template plus variants). A
    one-number structural health check for the dedup graph, beside
    PageRank/triangles/components on the same edges.

    Exact int64 degree power sums over the edge list (two broadcast
    joins of the degree table), one fixed double formula, NULL for
    degenerate (regular) graphs."""
    edges = near_dup_edges(spark, sf_dir, mirrored=True)
    deg = degrees(edges)
    # NO broadcast hints on the degree table: it is one row per node —
    # corpus-scaled, so a forced broadcast cannot hold at 100 TB (the
    # graph_kcore_peel r09 fix). The planner still auto-broadcasts under
    # threshold locally; at scale these become plain shuffle joins.
    de = (
        edges.join(
            deg.select(F.col("node").alias("src"), F.col("degree").alias("x")),
            "src",
        )
        .join(
            deg.select(F.col("node").alias("dst"), F.col("degree").alias("y")),
            "dst",
        )
        .select("x", "y")
    )
    m = de.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    vx = n * F.col("sxx") - sx * sx
    vy = n * F.col("syy") - sy * sy
    r = (n * F.col("sxy") - sx * sy).cast("double") / (
        F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double"))
    )
    return m.select(
        n.cast("long").alias("n_directed_edges"),
        F.when((vx > 0) & (vy > 0), round6(r)).alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# power-law exponent MLE over dup-graph degrees
# ---------------------------------------------------------------------------


def _powerlaw_sql() -> str:
    return f"""
WITH pairs AS MATERIALIZED ({minhash_lsh_sql().strip()}),
deg AS (
  SELECT node, count(*) AS d FROM (
    SELECT doc_a AS node FROM pairs UNION ALL SELECT doc_b FROM pairs
  ) GROUP BY node
)
SELECT count(*) AS n_nodes,
       max(d) AS max_degree,
       {round6_sql('1.0 + count(*) / sum(ln(d / 0.5))')} AS alpha_r
FROM deg
"""


@register("graph_powerlaw_alpha", sql=_powerlaw_sql())
def graph_powerlaw_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous power-law exponent MLE (Clauset-Shalizi-Newman, dmin=1)
    over the near-dup graph's degree distribution:
    α = 1 + n / Σ ln(dᵢ/(dmin−½)) — the heavy-tail diagnostic that says
    whether duplication concentrates in hub documents (small α) or
    spreads evenly (large α), which decides whether dedup should
    special-case boilerplate hubs.

    Scale: degrees are one groupBy over the mirrored edge list; the MLE
    is a single aggregate of ln-degrees (round6 absorbs the summation
    order of the one float sum)."""
    deg = degrees(mirror(near_dup_edges(spark, sf_dir)))
    return deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.max("degree").alias("max_degree"),
        round6(
            1.0 + F.count(F.lit(1)) / F.sum(F.log(F.col("degree") / 0.5))
        ).alias("alpha_r"),
    )


# ---------------------------------------------------------------------------
# modularity of the duplicate-cluster partition
# ---------------------------------------------------------------------------


def _modularity_sql() -> str:
    return f"""
{dup_clusters_ctes()},
deg AS (SELECT src AS node, count(*) AS d FROM edges GROUP BY src),
m AS (SELECT count(*) // 2 AS m FROM edges),
dc AS (
  SELECT l.cluster_id, sum(deg.d) AS d_c, count(*) AS n_nodes
  FROM lbl l JOIN deg ON l.node = deg.node
  GROUP BY l.cluster_id
)
SELECT CAST(max(m.m) AS BIGINT) AS n_edges,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(d_c * d_c) AS BIGINT) AS sum_dc2,
       {round6_sql(
           "1.0 - CAST(sum(d_c * d_c) AS DOUBLE)"
           " / (4.0 * CAST(max(m.m) AS DOUBLE) * max(m.m))"
       )} AS modularity
FROM dc CROSS JOIN m
"""


@register("graph_modularity_clusters", _modularity_sql())
def graph_modularity_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity Q of the duplicate-cluster partition over the
    near-dup graph. Clusters are connected components, so every edge
    is intra-community and Q reduces to 1 − Σ_c (d_c/2m)² — the
    degree-balance term that distinguishes a few giant hubs (low Q)
    from many balanced clusters (Q→1); the partition-quality number
    beside cluster_size_histogram and graph_kcore_peel's density.
    Degree sums and Σd_c² are exact int64; Q is one double expression.
    The components labeling (operators/iterate.py) and the degree agg
    both read the one pinned mirrored edge list, so the MinHash
    detector runs once: two hash aggs and a broadcast on top of the
    labeling loop."""
    edges = near_dup_edges(spark, sf_dir, mirrored=True).select("src", "dst")
    deg = degrees(edges)
    m = edges.agg((F.count("*") / 2).cast("long").alias("m"))
    lbl = connected_components(deg.select("node"), edges)
    dc = lbl.join(deg, "node").groupBy("cluster_id").agg(F.sum("degree").alias("d_c"))
    agg = dc.crossJoin(F.broadcast(m)).groupBy("m").agg(
        F.count("*").alias("n_clusters"),
        F.sum(F.col("d_c") * F.col("d_c")).alias("sum_dc2"),
    )
    q = 1.0 - F.col("sum_dc2").cast("double") / (
        4.0 * F.col("m").cast("double") * F.col("m")
    )
    return agg.select(
        F.col("m").cast("long").alias("n_edges"),
        F.col("n_clusters").cast("long").alias("n_clusters"),
        F.col("sum_dc2").cast("long").alias("sum_dc2"),
        round6(q).alias("modularity"),
    )


# ---------------------------------------------------------------------------
# locally-dominant-edge greedy matching
# ---------------------------------------------------------------------------

_MATCH_ROUNDS = 5
# strict total edge order packed into one BIGINT: heavier first, then
# (doc_a, doc_b) — doc ids stay < 10^6 at every graded SF
_ORD_SQL = (
    "(10000 - CAST(floor(jaccard * 10000 + 0.5) AS BIGINT)) * 1000000000000"
    " + doc_a * 1000000 + doc_b"
)


def _matching_sql() -> str:
    # every CTE is MATERIALIZED: the round-r stages reference their
    # predecessors up to 3x (dominance joins + the NOT IN pair), and an
    # inlining planner would otherwise re-evaluate the whole minhash
    # pipeline 3^rounds times
    ctes = [
        f"pairs AS MATERIALIZED ({minhash_lsh_sql().strip()})",
        f"e0 AS MATERIALIZED (SELECT doc_a, doc_b, {_ORD_SQL} AS ord FROM pairs)",
    ]
    sel = []
    for r in range(1, _MATCH_ROUNDS + 1):
        p = r - 1
        ctes.append(
            f"""v{r} AS MATERIALIZED (
  SELECT node, min(ord) AS mo FROM (
    SELECT doc_a AS node, ord FROM e{p}
    UNION ALL SELECT doc_b, ord FROM e{p}
  ) GROUP BY node
)"""
        )
        ctes.append(
            f"""s{r} AS MATERIALIZED (
  SELECT e.doc_a, e.doc_b, e.ord FROM e{p} e
  JOIN v{r} va ON va.node = e.doc_a AND va.mo = e.ord
  JOIN v{r} vb ON vb.node = e.doc_b AND vb.mo = e.ord
)"""
        )
        ctes.append(
            f"""m{r} AS MATERIALIZED (SELECT doc_a AS node FROM s{r} UNION SELECT doc_b FROM s{r})"""
        )
        ctes.append(
            f"""e{r} AS MATERIALIZED (
  SELECT e.* FROM e{p} e
  WHERE e.doc_a NOT IN (SELECT node FROM m{r})
    AND e.doc_b NOT IN (SELECT node FROM m{r})
)"""
        )
        sel.append(f"SELECT {r} AS round, doc_a, doc_b FROM s{r}")
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL ".join(sel)


@register("graph_local_dominant_matching", sql=_matching_sql())
def graph_local_dominant_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parallel greedy maximum-weight matching over the near-dup graph
    via locally dominant edges (Preis; Manne–Bisseling): per round,
    every edge that is the best-ranked edge of BOTH its endpoints joins
    the matching, its endpoints leave the graph, repeat. Under a strict
    total edge order (weight desc, then ids — packed into one BIGINT)
    the result equals the SEQUENTIAL greedy matching, but each round is
    fully data-parallel — the standard way to pair up duplicate docs
    for pairwise merging without a driver-side loop over edges.

    Scale: each round is one groupBy(node) for per-vertex minima, two
    equi-joins to test dominance, and an anti-join to drop matched
    endpoints — all frontier-sized shuffles; rounds needed is
    O(log E) in expectation, here fixed at 5 (both engines compute the
    identical 5-round prefix, converged or not)."""
    ordc = (
        (
            F.lit(10000) - F.floor(F.col("jaccard") * 10000 + 0.5).cast("long")
        )
        * F.lit(1_000_000_000_000)
        + F.col("src") * 1_000_000
        + F.col("dst")
    ).alias("ord")
    edges = near_dup_edges(spark, sf_dir).select("src", "dst", ordc)

    def dominant(live: DataFrame, rnd: int) -> DataFrame:
        vmin = mirror(live).groupBy(F.col("src").alias("node")).agg(F.min("ord").alias("mo"))
        va = vmin.select(F.col("node").alias("src"), F.col("mo").alias("mo_a"))
        vb = vmin.select(F.col("node").alias("dst"), F.col("mo").alias("mo_b"))
        return (
            live.join(va, "src")
            .join(vb, "dst")
            .filter((F.col("ord") == F.col("mo_a")) & (F.col("ord") == F.col("mo_b")))
            .select(
                F.lit(rnd).alias("round"), F.col("src").alias("doc_a"), F.col("dst").alias("doc_b")
            )
        )

    def step(_picked: DataFrame, rnd: int, seen: DataFrame) -> DataFrame:
        # every endpoint matched so far leaves the graph
        matched = seen.select(F.col("doc_a").alias("node")).union(seen.select("doc_b"))
        live = edges.join(
            matched.withColumnRenamed("node", "src"), "src", "left_anti"
        ).join(matched.withColumnRenamed("node", "dst"), "dst", "left_anti")
        return dominant(live, rnd + 1)

    return frontier_loop(dominant(edges, 1), step, _MATCH_ROUNDS - 1)


# ---------------------------------------------------------------------------
# link prediction: neighborhood Jaccard over the part co-purchase graph
# ---------------------------------------------------------------------------

_LP_MIN_JACCARD = 0.2
_LP_MIN_COOCCUR = 2


def _link_pred_sql() -> str:
    return f"""
WITH e0 AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
  FROM e0 a JOIN e0 b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= {_LP_MIN_COOCCUR}
),
edges AS (
  SELECT part_a AS src, part_b AS dst FROM pairs
  UNION SELECT part_b, part_a FROM pairs
),
deg AS (SELECT src AS node, count(*) AS d FROM edges GROUP BY src),
common AS (
  SELECT e1.src AS u, e2.src AS v, count(*) AS cn
  FROM edges e1 JOIN edges e2
    ON e1.dst = e2.dst AND e1.src < e2.src
  GROUP BY 1, 2
),
cand AS (
  SELECT c.u, c.v, c.cn, du.d AS du, dv.d AS dv
  FROM common c
  JOIN deg du ON c.u = du.node
  JOIN deg dv ON c.v = dv.node
  WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.src = c.u AND e.dst = c.v)
)
SELECT u AS part_a, v AS part_b, CAST(cn AS BIGINT) AS common_neighbors,
       {round6_sql("CAST(cn AS DOUBLE) / (du + dv - cn)")} AS nbr_jaccard
FROM cand
WHERE CAST(cn AS DOUBLE) / (du + dv - cn) >= {_LP_MIN_JACCARD}
"""


@register("graph_link_prediction", sql=_link_pred_sql())
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by neighborhood Jaccard over the part
    CO-PURCHASE graph (parts sharing >= 2 distinct orders): for
    NON-adjacent part pairs sharing co-purchase neighbours, score
    |N(u)∩N(v)|/|N(u)∪N(v)| — the classic "triangle-closing"
    recommender candidate generator (Amazon's people-also-bought).

    The r07 version ran this over the MinHash-LSH near-dup graph and
    was VACUOUS AT EVERY SF (r08 finding): LSH banding recovers dup
    clusters as complete cliques, so every wedge's endpoints are
    already adjacent and the non-adjacency anti-join leaves zero
    candidates structurally — no threshold can fix a graph whose
    triangles always close. Co-purchase edges carry no such closure, so
    the query grades non-trivial rows at sf0.01/sf0.1/sf1 (2076 / 1390
    / 161 measured).

    Shape: per-order part pairs from ONE equi-self-join on l_orderkey
    (per-key fan-out bounded by lines-per-order, a constant ≤ C(7,2));
    the >= 2-order HAVING makes the edge list collision-sparse (~4k
    edges at every SF); common neighbours come from one self-join of
    that edge list on the shared endpoint, degrees broadcast back,
    existing edges anti-joined away. Work is Σ deg² over a sparse
    graph. The Jaccard |N(u)∪N(v)| = du + dv − cn stays exact-integer
    under the single rounded division."""
    e0 = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = e0.select("l_orderkey", F.col("l_partkey").alias("part_a"))
    b = e0.select("l_orderkey", F.col("l_partkey").alias("part_b"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= _LP_MIN_COOCCUR)
        .select(F.col("part_a").alias("src"), F.col("part_b").alias("dst"))
    )
    edges = mirror(pairs).localCheckpoint(eager=True)
    deg = degrees(edges)
    e1 = edges.select(F.col("src").alias("u"), F.col("dst").alias("mid"))
    e2 = edges.select(F.col("src").alias("v"), F.col("dst").alias("mid"))
    common = (
        e1.join(e2, "mid")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("cn"))
    )
    cand = (
        common.join(edges, (common.u == edges.src) & (common.v == edges.dst), "left_anti")
        .join(F.broadcast(deg.select(F.col("node").alias("u"), F.col("degree").alias("du"))), "u")
        .join(F.broadcast(deg.select(F.col("node").alias("v"), F.col("degree").alias("dv"))), "v")
    )
    jac = F.col("cn").cast("double") / (F.col("du") + F.col("dv") - F.col("cn"))
    return cand.filter(jac >= _LP_MIN_JACCARD).select(
        F.col("u").alias("part_a"),
        F.col("v").alias("part_b"),
        F.col("cn").cast("long").alias("common_neighbors"),
        round6(jac).alias("nbr_jaccard"),
    )
