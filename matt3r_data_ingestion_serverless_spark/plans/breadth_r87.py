"""Round-4 batch 15: merge-on-read deletes and k-center coreset
selection.

Two operator families: equality-delete tombstones on the
manifest-tracked lakehouse table (j16 — DELETE without rewriting a
single data file), farthest-first k-center selection over embeddings
(the diversity-coreset primitive active learning and exemplar
selection use).
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.functions import vectors
from matt3r_data_ingestion_serverless_spark.functions.rounding import round6, round6_sql
from matt3r_data_ingestion_serverless_spark.plans.breadth_r69 import (
    _build_table,
    _final_select,
)
from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table, spread

# ---------------------------------------------------------------------------
# j16: merge-on-read equality delete
# ---------------------------------------------------------------------------

_J16_SQL = f"""
WITH t AS (
  SELECT o_orderkey AS k, o_custkey, o_totalprice, o_orderstatus
  FROM orders WHERE o_orderkey % 4 <> 3
)
SELECT k, o_custkey, {round6_sql('o_totalprice')} AS total_r, o_orderstatus,
       0 AS files_rewritten
FROM t WHERE o_custkey % 5 <> 0
"""


@register("j16_lakehouse_merge_on_read_delete", sql=_J16_SQL)
def j16_lakehouse_merge_on_read_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE: ``delete_where`` commits a key-tombstone
    file and the new snapshot's DATA file list is byte-identical to the
    parent's — the graded ``files_rewritten`` column is computed from
    the two manifests and must hash as 0, proving no data bytes were
    rewritten (Iceberg equality deletes / Delta deletion vectors,
    key-level form). ``read()`` anti-joins the broadcast-sized
    tombstones; compaction (graded separately in j10) is what
    eventually folds them in.

    Scale: the delete costs one column-pruned scan + O(matching keys)
    written; read amplification is one broadcast anti-join until the
    next compaction — the standard merge-on-read trade, measured here
    instead of asserted."""
    tbl, root, _cut = _build_table(spark, sf_dir)
    try:
        before = [f["path"] for f in tbl.manifest()["file_list"]]
        tbl.delete_where(F.col("o_custkey") % 5 == 0, keys=["k"])
        after = [f["path"] for f in tbl.manifest()["file_list"]]
        rewritten = len(set(before) ^ set(after))
        out = _final_select(tbl.read()).withColumn(
            "files_rewritten", F.lit(rewritten)
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# farthest-first k-center coreset
# ---------------------------------------------------------------------------

_KCENTER_ROUNDS = 4


def _kcenter_sql() -> str:
    cos = f"round({vectors.dot_sql('n.v', 'c.v')} / (n.nrm * c.nrm), 6)"
    ctes = [
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        f"n AS MATERIALIZED (SELECT vec_id, v, {vectors.l2_norm_sql('v')} AS nrm FROM e)",
        # round 1: deterministic seed = lowest id; best similarity so
        # far starts at -inf (represented as NULL handled via joins)
        "s1 AS MATERIALIZED (SELECT vec_id, v, nrm FROM n ORDER BY vec_id LIMIT 1)",
        f"""b1 AS MATERIALIZED (
  SELECT n.vec_id, n.v, n.nrm, {cos} AS best
  FROM n JOIN s1 c ON n.vec_id != c.vec_id
)""",
    ]
    sel = ["SELECT 1 AS pick_round, vec_id, NULL AS min_sim_r FROM s1"]
    for r in range(2, _KCENTER_ROUNDS + 1):
        p = r - 1
        ctes.append(
            f"""s{r} AS MATERIALIZED (
  SELECT vec_id, v, nrm, best FROM b{p} ORDER BY best ASC, vec_id ASC LIMIT 1
)"""
        )
        sel.append(f"SELECT {r}, vec_id, {round6_sql('best')} FROM s{r}")
        if r < _KCENTER_ROUNDS:
            ctes.append(
                f"""b{r} AS MATERIALIZED (
  SELECT n.vec_id, n.v, n.nrm, greatest(n.best, {cos}) AS best
  FROM b{p} n JOIN s{r} c ON n.vec_id != c.vec_id
)"""
            )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL ".join(sel)


@register("ns_kcenter_coreset", sql=_kcenter_sql())
def ns_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Farthest-first k-center selection (Gonzalez): seed at the lowest
    id, then repeatedly pick the point with the LOWEST max-cosine to the
    selected set (= farthest in angle; ties → lowest id) — the
    2-approximate k-center coreset that diversity sampling, active
    learning batches, and exemplar selection reduce to. ``min_sim_r``
    records how close the chosen point was to the selection at pick
    time (its coverage radius).

    Scale: the running "best similarity to any selected point" column
    updates INCREMENTALLY — each round is one broadcast 1-row cross
    join + greatest(), then a TakeOrdered top-1 — so round r never
    rescans the r-1 previous centers, and per-round cost is one map
    stage over the corpus. The oracle unrolls the same rounds as
    MATERIALIZED CTEs."""
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    n = (
        emb.select("vec_id", vectors.as_double(F.col("embedding")).alias("v"))
        .withColumn("nrm", vectors.l2_norm("v"))
        .localCheckpoint(eager=True)
    )
    seed = n.orderBy("vec_id").limit(1).localCheckpoint(eager=True)
    picks = [
        seed.select(
            F.lit(1).alias("pick_round"),
            "vec_id",
            F.lit(None).cast("double").alias("min_sim_r"),
        )
    ]
    cos = F.round(
        vectors.cosine("v", "cv", F.col("nrm"), F.col("cnrm")), 6
    )
    cur = seed
    best = None
    for r in range(2, _KCENTER_ROUNDS + 1):
        c = cur.select(
            F.col("vec_id").alias("cid"),
            F.col("v").alias("cv"),
            F.col("nrm").alias("cnrm"),
        )
        base = best if best is not None else n
        scored = (
            base.join(F.broadcast(c))
            .filter(F.col("vec_id") != F.col("cid"))
            .select(
                "vec_id",
                "v",
                "nrm",
                (
                    F.greatest(F.col("best"), cos)
                    if best is not None
                    else cos
                ).alias("best"),
            )
            .localCheckpoint(eager=True)
        )
        cur = scored.orderBy(F.asc("best"), F.asc("vec_id")).limit(1).localCheckpoint(
            eager=True
        )
        picks.append(
            cur.select(
                F.lit(r).alias("pick_round"),
                "vec_id",
                round6(F.col("best")).alias("min_sim_r"),
            )
        )
        best = scored
    out = picks[0]
    for p in picks[1:]:
        out = out.union(p)
    return out
