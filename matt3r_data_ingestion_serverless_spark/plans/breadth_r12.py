"""Round-4 batch 8: multiple linear regression via distributed normal
equations (integer Cramer solve) and DBSCAN density clustering over the
embedding corpus — two more "stats package inside the engine"
operators, exact-deterministic and oracle-paired.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.functions import vectors
from matt3r_data_ingestion_serverless_spark.functions.rounding import round6, round6_sql
from matt3r_data_ingestion_serverless_spark.operators.iterate import connected_components
from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table, spread

# ---------------------------------------------------------------------------
# multiple OLS via normal equations + Cramer's rule
# ---------------------------------------------------------------------------

# y = order cents; x1 = order month (1-12); x2 = priority code (1-5);
# x3 = 1 (intercept). Solve (X'X)b = X'y by Cramer — the three 3×3
# determinants expand from EXACT int64 moment sums with one fixed
# double formula, so both engines agree bit-for-bit.

_DET = (
    "({a11} * ({a22} * {a33} - {a23} * {a32})"
    " - {a12} * ({a21} * {a33} - {a23} * {a31})"
    " + {a13} * ({a21} * {a32} - {a22} * {a31}))"
)


def _det(c1, c2, c3):
    """det of the 3×3 whose COLUMNS are c1,c2,c3 (each a 3-tuple of SQL
    expressions, rows = the normal-equation rows)."""
    return _DET.format(
        a11=c1[0], a12=c2[0], a13=c3[0],
        a21=c1[1], a22=c2[1], a23=c3[1],
        a31=c1[2], a32=c2[2], a33=c3[2],
    )


def _ols_sql() -> str:
    # the moment sums are exact int64 (all < 2^53, so the double
    # conversion is exact); the determinant EXPANSION runs in double —
    # int64 would overflow at sxy·sxp·n scale — with one fixed formula,
    # identical per engine.
    x = ("sxx", "sxp", "sx")   # column for b1 (x1=month)
    p = ("sxp", "spp", "sp")   # column for b2 (x2=priority)
    o = ("sx", "sp", "nf")     # column for b0 (intercept)
    y = ("sxy", "spy", "sy")   # RHS
    d = _det(x, p, o)
    return f"""
WITH t AS (
  SELECT CAST(month(o_orderdate) AS BIGINT) AS x,
         CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS p,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS y
  FROM orders
),
m AS (
  SELECT count(*) AS n,
         CAST(count(*) AS DOUBLE) AS nf,
         CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(p) AS DOUBLE) AS sp,
         CAST(sum(y) AS DOUBLE) AS sy,
         CAST(sum(x * x) AS DOUBLE) AS sxx, CAST(sum(p * p) AS DOUBLE) AS spp,
         CAST(sum(x * p) AS DOUBLE) AS sxp,
         CAST(sum(x * y) AS DOUBLE) AS sxy, CAST(sum(p * y) AS DOUBLE) AS spy
  FROM t
)
SELECT CAST(n AS BIGINT) AS n,
       {round6_sql(f"{_det(y, p, o)} / {d}")} AS b_month,
       {round6_sql(f"{_det(x, y, o)} / {d}")} AS b_priority,
       {round6_sql(f"{_det(x, p, y)} / {d}")} AS b_intercept
FROM m
"""


@register("ols_normal_equations", sql=_ols_sql())
def ols_normal_equations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple linear regression (order value ~ month + priority +
    intercept) by DISTRIBUTED NORMAL EQUATIONS: one scan accumulates the
    nine exact-int64 moment sums (n, Σx, Σp, Σy, Σx², Σp², Σxp, Σxy,
    Σpy) with map-side combine — 100 TB of orders shuffles ONE row —
    then Cramer's rule solves the 3×3 system on that row. This is how
    closed-form regression actually runs at warehouse scale (the
    k-feature generalization accumulates the k² Gram entries the same
    way); the iterative-SGD alternative needs passes, this needs one.

    Determinism: every determinant expands from exact integers with one
    fixed arithmetic formula — the only doubles are three final
    divisions, identical per engine. Extends regression_aggregates'
    built-in single-feature regr_slope to the multi-feature case Spark
    has no built-in for."""
    o = load_table(spark, sf_dir, "orders")
    t = o.select(
        F.month("o_orderdate").cast("long").alias("x"),
        F.substring("o_orderpriority", 1, 1).cast("long").alias("p"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("y"),
    )
    m = t.agg(
        F.count("*").alias("n"),
        F.count("*").cast("double").alias("nf"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("p").cast("double").alias("sp"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("p") * F.col("p")).cast("double").alias("spp"),
        F.sum(F.col("x") * F.col("p")).cast("double").alias("sxp"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("p") * F.col("y")).cast("double").alias("spy"),
    )
    x = ("sxx", "sxp", "sx")
    p = ("sxp", "spp", "sp")
    one = ("sx", "sp", "nf")
    y = ("sxy", "spy", "sy")
    den = F.expr(_det(x, p, one))
    return m.select(
        F.col("n").cast("long").alias("n"),
        round6(F.expr(_det(y, p, one)) / den).alias("b_month"),
        round6(F.expr(_det(x, y, one)) / den).alias("b_priority"),
        round6(F.expr(_det(x, p, y)) / den).alias("b_intercept"),
    )


# ---------------------------------------------------------------------------
# DBSCAN over embeddings (density clustering, cosine metric)
# ---------------------------------------------------------------------------

_DBSCAN_EPS = 0.30  # cosine-similarity threshold for "within ε"
_DBSCAN_MINPTS = 4  # neighbors (excluding self) to be a core point


def _dbscan_sql() -> str:
    from matt3r_data_ingestion_serverless_spark.plans.northstar import _emb_norm_cte

    cos = f"round({vectors.dot_sql('a.v', 'b.v')} / (a.nrm * b.nrm), 6)"
    return f"""
WITH RECURSIVE {_emb_norm_cte()},
nb AS (
  SELECT a.vec_id AS u, b.vec_id AS w
  FROM n a JOIN n b ON a.vec_id != b.vec_id
  WHERE {cos} >= {_DBSCAN_EPS}
),
deg AS (SELECT u, count(*) AS k FROM nb GROUP BY u),
core AS (SELECT u FROM deg WHERE k >= {_DBSCAN_MINPTS}),
ce AS (
  SELECT nb.u AS src, nb.w AS dst FROM nb
  JOIN core c1 ON nb.u = c1.u JOIN core c2 ON nb.w = c2.u
),
reach AS (
  SELECT src AS node, dst AS r FROM ce
  UNION
  SELECT e.src, reach.r FROM ce e JOIN reach ON e.dst = reach.node
),
lbl AS (
  SELECT node, least(min(r), node) AS cluster_id FROM reach GROUP BY node
  UNION ALL
  SELECT u, u FROM core
  WHERE u NOT IN (SELECT node FROM reach)
),
border AS (
  SELECT nb.u AS node, min(lbl.cluster_id) AS cluster_id
  FROM nb JOIN lbl ON nb.w = lbl.node
  WHERE nb.u NOT IN (SELECT u FROM core)
  GROUP BY nb.u
)
SELECT vec_id,
       CASE WHEN l.cluster_id IS NOT NULL THEN 'core'
            WHEN b.cluster_id IS NOT NULL THEN 'border'
            ELSE 'noise' END AS role,
       coalesce(l.cluster_id, b.cluster_id, -1) AS cluster_id
FROM n
LEFT JOIN lbl l ON n.vec_id = l.node
LEFT JOIN border b ON n.vec_id = b.node
"""


@register("ns_dbscan_clusters", sql=_dbscan_sql())
def ns_dbscan_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN over the embedding corpus (cosine ≥ 0.3 as the ε-ball,
    minPts 4): core points by neighbour degree, clusters = connected
    components of the core-core graph
    (operators/iterate.py:connected_components, as in ns_dup_clusters),
    borders adopt the min cluster of
    their core neighbours, the rest is noise — density clustering,
    the OTHER clustering family beside centroid k-means and SemDeDup
    (finds non-convex groups, needs no k).

    Scale: the ε-neighbour graph is the expensive part. ε = 0.3 sits
    far BELOW the near-dup regime, where SRP-LSH banding loses recall
    (measured on this corpus: the 4×8 band join finds only ~7 % of
    cos ≥ 0.3 pairs), so an exact ε-graph cannot ride the LSH
    candidate source — instead the pair generation is a distributed
    blocked GEMM (operators/ann.py:blocked_cosine_edges): rows
    replicate to B(B+1)/2 block-pairs via a broadcast equi-join and
    each pair scores as dense BLAS in applyInPandas. No
    BroadcastNestedLoopJoin (pinned in tests/test_plan_shapes.py);
    shuffle volume n·(B+1)·d, work sharded evenly, only qualifying
    edges shuffle back. FLOPs stay O(n²·d) — intrinsic to an EXACT
    low-threshold ε-graph; when ε is in the near-dup regime the LSH
    band join slots in as a drop-in candidate source. Everything
    downstream (degree count, label propagation, border adoption) is
    the same bounded-shuffle plan. Border tie-break = MIN core cluster
    label, which is partitioning-independent (plain DBSCAN's border
    assignment is visit-order-dependent — unacceptable in a
    distributed engine)."""
    from matt3r_data_ingestion_serverless_spark.operators.ann import (
        blocked_cosine_edges,
    )
    from matt3r_data_ingestion_serverless_spark.plans.northstar import (
        _pin,
    )

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    # the role assignment only needs the full id universe — a pruned
    # vec_id scan, NOT the pinned normalized-vector table (_emb_normed
    # would persist vectors+norms just to list ids)
    ids = emb.select("vec_id")
    # mirror=True: both edge directions come out of the scoring task
    # itself, so the GEMM stage materializes exactly ONCE into the pin
    # (a union-with-self would scan the applyInPandas stage twice)
    nb = _pin(blocked_cosine_edges(emb, _DBSCAN_EPS, mirror=True))
    core = nb.groupBy("u").agg(F.count("*").alias("k")).filter(
        F.col("k") >= _DBSCAN_MINPTS
    ).select("u")
    ce = (
        nb.join(core, "u")
        .join(core.select(F.col("u").alias("w")), "w")
        .select(F.col("u").alias("src"), F.col("w").alias("dst"))
        .localCheckpoint(eager=True)
    )
    labels = connected_components(core.select(F.col("u").alias("node")), ce)
    border = (
        nb.join(core, "u", "left_anti")
        .join(labels.select(F.col("node").alias("w"), "cluster_id"), "w")
        .groupBy(F.col("u").alias("node"))
        .agg(F.min("cluster_id").alias("b_cluster"))
    )
    out = (
        ids
        .join(labels.withColumnRenamed("node", "vec_id"), "vec_id", "left")
        .join(border.withColumnRenamed("node", "vec_id"), "vec_id", "left")
    )
    return out.select(
        "vec_id",
        F.when(F.col("cluster_id").isNotNull(), "core")
        .when(F.col("b_cluster").isNotNull(), "border")
        .otherwise("noise")
        .alias("role"),
        F.coalesce("cluster_id", "b_cluster", F.lit(-1)).alias("cluster_id"),
    )
