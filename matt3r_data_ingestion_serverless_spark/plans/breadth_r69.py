"""Round-3 batch: manifest-tracked lakehouse table surface (VERDICT r02
next-step 3) — MERGE INTO with key-range file pruning, snapshot time
travel, and stats-based file-skipping scans, graded against the plain
full-outer-join oracle.

The table format itself lives in operators/lakehouse.py; these queries
build a real table under a scratch dir, drive commits through it, and
return the read-back snapshot — so the graded rows went through the
actual writer/manifest/pruning path, not a simulation of it. The
reference's closest analogue is the S3 existence-check + skip-on-overlap
merge (parse_canserver_filtered_log.py:327-344): its "manifest" is the
S3 key listing, its "file stats" the hour encoded in the key name.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.functions.rounding import round6, round6_sql
from matt3r_data_ingestion_serverless_spark.operators.lakehouse import LakehouseTable
from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.session import scratch_dir
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# shared fixtures: base table + merge batch over orders
# ---------------------------------------------------------------------------
#
# base   = orders with o_orderkey % 4 <> 3  (so the batch has INSERT rows)
# batch  = the lowest decile of the keyspace (o_orderkey <= max/10), price
#          bumped by 1000.0 and status 'U'; rows with o_custkey % 7 = 0
#          are DELETEs. The batch is a contiguous key slice on purpose:
#          the base is written as 16 key-range-clustered files, so the manifest
#          prunes ~14/16 data files from the merge — the property that
#          makes a 100 TB merge cost O(batch), not O(table).


def _base_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .select(
            F.col("o_orderkey").alias("k"),
            "o_custkey",
            "o_totalprice",
            "o_orderstatus",
        )
        .filter(F.col("k") % 4 != 3)
    )


def _key_range(sf_dir: str, col: str) -> tuple[int, int]:
    """Exact int64 [min, max] of an orders column straight from the
    parquet FOOTER — zero Spark jobs (the same stats discipline the
    lakehouse manifests use)."""
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, "orders.parquet")
    if not os.path.isfile(path):
        raise ValueError(
            f"{path} is not a single parquet file: footer key extents (the "
            "merges' source_intervals, which must COMPLETELY cover the batch "
            "keys) are read from one file's footer"
        )
    meta = pq.ParquetFile(path).metadata
    idx = next(i for i in range(meta.num_columns) if meta.schema.column(i).name == col)
    stats = [meta.row_group(rg).column(idx).statistics for rg in range(meta.num_row_groups)]
    return int(min(s.min for s in stats)), int(max(s.max for s in stats))


def _key_minmax(sf_dir: str) -> tuple[int, int]:
    return _key_range(sf_dir, "o_orderkey")


def _batch_df(spark: SparkSession, sf_dir: str, cut: int) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= cut)
        .select(
            F.col("o_orderkey").alias("k"),
            "o_custkey",
            (F.col("o_totalprice") + F.lit(1000.0)).alias("o_totalprice"),
            F.lit("U").alias("o_orderstatus"),
        )
    )


def _build_table(spark: SparkSession, sf_dir: str) -> tuple[LakehouseTable, str, int]:
    """v1 = 16 key-range-clustered files. The split points come from the
    orders parquet FOOTER's exact int64 [min, max] (equi-width over a
    near-uniform keyspace ≈ the old repartitionByRange(16) equi-depth
    layout), so the create is ONE job — create_bucketed's observe()-
    stats write — instead of three (range-boundary sampling job + write
    + per-file stats harvest job). Same manifest contract: 16 files
    with disjoint k ranges and exact per-file stats; merge pruning
    behaves identically (the batch decile still touches ~2/16 files)."""
    root = scratch_dir("lakehouse_")
    lo, hi = _key_minmax(sf_dir)
    boundaries = sorted({lo + (hi - lo) * i // 16 for i in range(1, 16)})
    boundaries = [b for b in boundaries if lo < b <= hi]
    tbl = LakehouseTable.create_bucketed(
        _base_df(spark, sf_dir),
        root,
        key="k",
        boundaries=boundaries,
        stats_cols=["k"],
    )
    return tbl, root, hi // 10


def _standard_merge(tbl: LakehouseTable, spark: SparkSession, sf_dir: str, cut: int):
    # source_intervals: the batch is BY CONSTRUCTION the keys in
    # [min_key, cut] (a filter on the key column), so the caller knows a
    # complete interval cover without a Spark job — the same contract
    # cdc_streamed_apply's footer-derived covers use. o_orderkey is a
    # non-null primary key, so the null-key hazard does not apply.
    tbl.merge(
        _batch_df(spark, sf_dir, cut),
        keys=["k"],
        update_cols=["o_totalprice", "o_orderstatus"],
        delete_condition=F.col("o_custkey") % 7 == 0,
        source_intervals=[(_key_minmax(sf_dir)[0], cut)],
    )


_SHARED_MERGED: dict[str, tuple[LakehouseTable, str, int]] = {}


def _shared_merged_table(
    spark: SparkSession, sf_dir: str
) -> tuple[LakehouseTable, str, int]:
    """Process-shared READ-ONLY fixture (VERDICT r06 next-step 7):
    v1 = the 16-file range-clustered base, v2 = the standard merge.
    Queries that only READ committed snapshots (time travel j7, file
    skipping j8, snapshot diff j15) share one build instead of each
    paying create + merge + rm-rf per run; mutation queries
    (j6, j9-j14, j16, j17) keep private builds. The dir lives until
    process exit, so the returned DataFrames stay lazy — no
    localCheckpoint materialization either."""
    got = _SHARED_MERGED.get(sf_dir)
    if got is not None and os.path.isdir(got[1]):
        return got
    tbl, root, cut = _build_table(spark, sf_dir)
    _standard_merge(tbl, spark, sf_dir, cut)
    _SHARED_MERGED[sf_dir] = (tbl, root, cut)
    return tbl, root, cut


def _final_select(df: DataFrame) -> DataFrame:
    return df.select(
        "k",
        "o_custkey",
        round6(F.col("o_totalprice")).alias("total_r"),
        "o_orderstatus",
    )


_MERGED_SQL = f"""
WITH cut AS (
  SELECT CAST(floor(max(o_orderkey) / 10) AS BIGINT) AS c FROM orders
), t AS (
  SELECT o_orderkey AS k, o_custkey, o_totalprice, o_orderstatus
  FROM orders WHERE o_orderkey % 4 <> 3
), s AS (
  SELECT o_orderkey AS k, o_custkey,
         o_totalprice + 1000.0 AS o_totalprice,
         'U' AS o_orderstatus,
         (o_custkey % 7 = 0) AS del
  FROM orders, cut WHERE o_orderkey <= cut.c
), m AS (
  SELECT coalesce(t.k, s.k) AS k,
         coalesce(t.o_custkey, s.o_custkey) AS o_custkey,
         CASE WHEN s.k IS NULL THEN t.o_totalprice ELSE s.o_totalprice END AS o_totalprice,
         CASE WHEN s.k IS NULL THEN t.o_orderstatus ELSE s.o_orderstatus END AS o_orderstatus,
         s.k IS NOT NULL AND s.del AS del
  FROM t FULL JOIN s ON t.k = s.k
  WHERE s.k IS NULL OR NOT s.del
)
SELECT k, o_custkey, {round6_sql('o_totalprice')} AS total_r, o_orderstatus
FROM m
"""


@register("j6_lakehouse_merge", sql=_MERGED_SQL)
def j6_lakehouse_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO a manifest-tracked parquet table with key-range file
    pruning (operators/lakehouse.py): UPDATE price/status on match,
    DELETE matched rows where o_custkey % 7 = 0, INSERT the rest. The
    graded rows are the post-commit snapshot read back through the new
    manifest, so pruning, commit, and read-path all sit on the graded
    path; the oracle is the plain full-outer-join MERGE semantics.

    Scale: the batch is a contiguous key decile, the base is written
    range-clustered on the key, so only ~2/16 data files are read back
    and rewritten — every other file carries into the new snapshot by
    reference (manifest metadata only). That is the Iceberg/Delta
    merge-cost contract without the package dependency."""
    tbl, _root, cut = _build_table(spark, sf_dir)
    _standard_merge(tbl, spark, sf_dir, cut)
    # lazy read over the committed snapshot; the scratch dir lives until
    # process exit (few MB) instead of paying a localCheckpoint
    # materialization pass just to rmtree early
    return _final_select(tbl.read())


@register(
    "j7_lakehouse_time_travel",
    sql=f"""
SELECT o_orderkey AS k, o_custkey,
       {round6_sql('o_totalprice')} AS total_r, o_orderstatus
FROM orders WHERE o_orderkey % 4 <> 3
""",
)
def j7_lakehouse_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot isolation: after the merge commits v2, ``read(version=1)``
    still returns the exact pre-merge table — commits never mutate or
    delete prior snapshots' files, only publish a new manifest
    (operators/lakehouse.py:_commit, atomic rename). The oracle is the
    base table itself: time travel must be byte-faithful, not
    approximate."""
    tbl, _root, _cut = _shared_merged_table(spark, sf_dir)
    return _final_select(tbl.read(version=1))


@register(
    "j8_lakehouse_file_skipping",
    sql=f"""
WITH cut AS (
  SELECT CAST(floor(max(o_orderkey) / 10) AS BIGINT) AS c FROM orders
)
SELECT o_orderstatus,
       count(*) AS n,
       {round6_sql('sum(CAST(o_totalprice AS DECIMAL(18,2)))::DOUBLE')} AS total_r
FROM orders, cut
WHERE o_orderkey % 4 <> 3 AND o_orderkey BETWEEN 1 AND cut.c
GROUP BY o_orderstatus
""",
)
def j8_lakehouse_file_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats-based file skipping: a bounded scan consults the manifest's
    per-file min/max and opens only overlapping files (here ~2/16 — the
    table is range-clustered on k), then applies the exact row predicate
    on top, exactly like Iceberg manifest pruning feeding parquet
    row-group pushdown. The aggregate proves the pruned scan loses no
    rows vs the oracle's full-table filter."""
    tbl, _root, cut = _shared_merged_table(spark, sf_dir)
    pruned = tbl.scan({"k": (1, cut)}, version=1).filter(F.col("k").between(1, cut))
    return pruned.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        round6(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double")
        ).alias("total_r"),
    )
