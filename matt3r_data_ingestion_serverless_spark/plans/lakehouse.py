"""The lakehouse query domain: the manifest-tracked parquet table of
operators/lakehouse.py driven through MERGE INTO with key-range file
pruning, time travel, schema evolution, compaction, a streamed merge,
optimistic concurrency, vacuum, change-data feed, merge-on-read
deletes, write-audit-publish, z-order clustering and metadata-only
aggregation, plus the parquet-footer audit and the Morton layout
rollup. Each query builds a real table under a scratch dir, drives its
commits through it and returns the read-back snapshot, graded against
a DuckDB oracle over the raw tables.

Every table lives in a ``session.scratch_dir``, removed at process
exit, so each query returns a lazy read of its snapshot: nothing is
checkpointed and nothing is removed early.

The reference's closest analogue is the S3 existence-check +
skip-on-overlap merge (parse_canserver_filtered_log.py:327-344): its
"manifest" is the S3 key listing, its "file stats" the hour encoded in
the key name.
"""

from __future__ import annotations

import io
import os
import types
from datetime import datetime, timezone

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.functions.rounding import round6, round6_sql
from matt3r_data_ingestion_serverless_spark.functions.zorder import zorder2, zorder2_scaled
from matt3r_data_ingestion_serverless_spark.operators.lakehouse import LakehouseTable
from matt3r_data_ingestion_serverless_spark.operators.stationary import stationary_intervals
from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.plans.telemetry import (
    STATIONARY_MIN_DUR_S,
    STATIONARY_THRESHOLD,
    STATIONARY_TRIM_S,
)
from matt3r_data_ingestion_serverless_spark.session import scratch_dir
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table
from matt3r_data_ingestion_serverless_spark.streaming.pipeline import run_once


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


def _key_range(sf_dir: str, table: str, col: str) -> tuple:
    """Exact [min, max] of a column of ``<table>.parquet`` straight from
    the parquet FOOTER's row-group stats — zero Spark jobs (the same
    stats discipline the lakehouse manifests use). Ints for the orders
    keys, naive UTC datetimes for events.ts."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    if not os.path.isfile(path):
        raise ValueError(
            f"{path} is not a single parquet file: footer key extents (the "
            "merges' source_intervals, which must COMPLETELY cover the batch "
            "keys) are read from one file's footer"
        )
    meta = pq.ParquetFile(path).metadata
    idx = next(i for i in range(meta.num_columns) if meta.schema.column(i).name == col)
    stats = [meta.row_group(rg).column(idx).statistics for rg in range(meta.num_row_groups)]
    return min(s.min for s in stats), max(s.max for s in stats)


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


def _build_table(spark: SparkSession, sf_dir: str) -> tuple[LakehouseTable, int, int]:
    """``(table, lo, cut)``: v1 = 16 key-range-clustered files, ``lo``
    the lowest order key and ``cut`` = max key // 10, the batch's top
    key. The split points come from the orders parquet FOOTER's exact
    int64 [min, max] (equi-width over a near-uniform keyspace ≈ the old
    repartitionByRange(16) equi-depth layout), so the create is ONE job
    — create_bucketed's observe()-stats write — instead of three
    (range-boundary sampling job + write + per-file stats harvest job).
    Same manifest contract: 16 files with disjoint k ranges and exact
    per-file stats; merge pruning behaves identically (the batch decile
    still touches ~2/16 files)."""
    lo, hi = _key_range(sf_dir, "orders", "o_orderkey")
    boundaries = sorted({lo + (hi - lo) * i // 16 for i in range(1, 16)})
    boundaries = [b for b in boundaries if lo < b <= hi]
    tbl = LakehouseTable.create_bucketed(
        _base_df(spark, sf_dir),
        scratch_dir("lakehouse_"),
        key="k",
        boundaries=boundaries,
        stats_cols=["k"],
    )
    return tbl, lo, hi // 10


def _standard_merge(tbl: LakehouseTable, batch: DataFrame, lo: int, cut: int) -> None:
    """UPDATE price/status on match, DELETE matched rows with
    o_custkey % 7 = 0, INSERT the rest. source_intervals: the batch is
    BY CONSTRUCTION keys in [lo, cut] (a filter on the key column; any
    part of it, like a streamed micro-batch, too), so the caller knows a
    complete interval cover without a Spark job — the same contract
    cdc_streamed_apply's footer-derived covers use. o_orderkey is a
    non-null primary key, so the null-key hazard does not apply."""
    tbl.merge(
        batch,
        keys=["k"],
        update_cols=["o_totalprice", "o_orderstatus"],
        delete_condition=F.col("o_custkey") % 7 == 0,
        source_intervals=[(lo, cut)],
    )


def _memo(build):
    """Process-shared READ-ONLY fixture: ``build(spark, sf_dir)`` returns
    a tuple whose first item is the table; it runs once per sf_dir and
    again only if the table's dir is gone. Queries that only read
    committed snapshots share one build instead of each paying its
    create (+ merge) per run. The dir lives until process exit, so the
    returned DataFrames stay lazy."""
    memo: dict[str, tuple] = {}

    def get(spark: SparkSession, sf_dir: str) -> tuple:
        got = memo.get(sf_dir)
        if got is None or not os.path.isdir(got[0].path):
            got = memo[sf_dir] = build(spark, sf_dir)
        return got

    get.memo = memo
    return get


@_memo
def _shared_merged_table(spark: SparkSession, sf_dir: str) -> tuple[LakehouseTable, int, int]:
    """v1 = the 16-file range-clustered base, v2 = the standard merge;
    read by time travel (j7), file skipping (j8), snapshot diff (j15)
    and the metadata aggregates (j19, j21)."""
    tbl, lo, cut = _build_table(spark, sf_dir)
    _standard_merge(tbl, _batch_df(spark, sf_dir, cut), lo, cut)
    return tbl, lo, cut


def _final_select(df: DataFrame) -> DataFrame:
    return df.select(
        "k",
        "o_custkey",
        round6(F.col("o_totalprice")).alias("total_r"),
        "o_orderstatus",
    )


# the oracle's one-shot MERGE of the batch into the base: target t,
# source s, merged snapshot m
_MERGE_CTE = """
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
)"""

_MERGED_SQL = f"""{_MERGE_CTE}
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
    tbl, lo, cut = _build_table(spark, sf_dir)
    _standard_merge(tbl, _batch_df(spark, sf_dir, cut), lo, cut)
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
    tbl, _lo, _cut = _shared_merged_table(spark, sf_dir)
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
    tbl, _lo, cut = _shared_merged_table(spark, sf_dir)
    pruned = tbl.scan({"k": (1, cut)}, version=1).filter(F.col("k").between(1, cut))
    return pruned.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        round6(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double")
        ).alias("total_r"),
    )


# ---------------------------------------------------------------------------
# lakehouse lifecycle
# ---------------------------------------------------------------------------


@register(
    "j9_lakehouse_schema_evolution",
    sql="""
WITH cut AS (
  SELECT CAST(floor(max(o_orderkey) / 10) AS BIGINT) AS c FROM orders
), t AS (
  SELECT o_orderkey AS k, o_custkey, o_orderstatus
  FROM orders WHERE o_orderkey % 4 <> 3
), s AS (
  SELECT o_orderkey AS k, o_custkey,
         'U' AS o_orderstatus,
         't' || CAST(o_orderkey AS VARCHAR) AS tag
  FROM orders, cut WHERE o_orderkey <= cut.c
)
SELECT coalesce(t.k, s.k) AS k,
       coalesce(t.o_custkey, s.o_custkey) AS o_custkey,
       CASE WHEN s.k IS NULL THEN t.o_orderstatus ELSE s.o_orderstatus END AS o_orderstatus,
       s.tag AS tag
FROM t FULL JOIN s ON t.k = s.k
""",
)
def j9_lakehouse_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution without rewriting history: the merge batch
    carries a column the table has never seen (``tag``); with
    ``evolve_schema=True`` the column joins the snapshot schema, rows in
    data files the merge did NOT touch project it as null via the
    manifest schema on read (operators/lakehouse.py:read) — no old file
    is rewritten, no mergeSchema footer sweep. The oracle is the plain
    full-outer join where target-only rows carry tag NULL."""
    tbl, lo, cut = _build_table(spark, sf_dir)
    batch = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= cut)
        .select(
            F.col("o_orderkey").alias("k"),
            "o_custkey",
            F.lit("U").alias("o_orderstatus"),
            F.concat(F.lit("t"), F.col("o_orderkey").cast("string")).alias("tag"),
        )
    )
    tbl.merge(
        batch,
        keys=["k"],
        update_cols=["o_orderstatus", "tag"],
        evolve_schema=True,
        # batch keys are BY CONSTRUCTION in [lo, cut] — a complete
        # cover known without a Spark job (see _standard_merge)
        source_intervals=[(lo, cut)],
    )
    return tbl.read().select("k", "o_custkey", "o_orderstatus", "tag")


@register("j10_lakehouse_compaction", sql=_MERGED_SQL)
def j10_lakehouse_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE after MERGE: compaction bin-packs the post-merge
    snapshot (untouched-by-reference files + fresh merge output) into 4
    files and commits a new snapshot — the graded rows prove compaction
    is content-neutral (same oracle as j6), while `history()` records
    create → merge → compact. At 100 TB this is the periodic pass that
    keeps streaming-ingest file counts bounded so manifest pruning and
    scan planning stay cheap."""
    tbl, lo, cut = _build_table(spark, sf_dir)
    _standard_merge(tbl, _batch_df(spark, sf_dir, cut), lo, cut)
    tbl.compact(target_files=4)
    assert [m["operation"] for m in tbl.history()] == ["create", "merge", "compact"]
    return _final_select(tbl.read())


@register("j11_streamed_lakehouse_merge", sql=_MERGED_SQL)
def j11_streamed_lakehouse_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lakehouse as a STREAMING sink: the merge batch lands as two
    key-disjoint files, a foreachBatch stream applies each micro-batch
    through LakehouseTable.merge (touched-file pruning per batch), and
    the final snapshot must equal the one-shot MERGE oracle — the
    at-least-once + idempotent-upsert contract (T3) carried onto the
    table format. Key-disjoint batches commute, so arrival order cannot
    perturb the graded rows."""
    tbl, lo, cut = _build_table(spark, sf_dir)
    stage = scratch_dir("lh_stream_")
    batch = _batch_df(spark, sf_dir, cut)
    land = f"{stage}/land"
    for m in range(2):
        batch.filter(F.col("k") % 2 == m).coalesce(1).write.mode(
            "append"
        ).parquet(land)

    def apply_batch(bdf: DataFrame, _bid: int) -> None:
        _standard_merge(tbl, bdf, lo, cut)

    src = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(land)
    )
    run_once(src, apply_batch)
    return _final_select(tbl.read())


# ---------------------------------------------------------------------------
# j12: two concurrent writers — both commits must survive
# ---------------------------------------------------------------------------

_J12_SQL = f"""{_MERGE_CTE}, b AS (
  SELECT o_orderkey AS k, o_custkey, o_totalprice, 'N' AS o_orderstatus
  FROM orders, cut WHERE o_orderkey % 4 = 3 AND o_orderkey > cut.c * 8
)
SELECT k, o_custkey, {round6_sql('o_totalprice')} AS total_r, o_orderstatus FROM m
UNION ALL
SELECT k, o_custkey, {round6_sql('o_totalprice')} AS total_r, o_orderstatus FROM b
"""


def _writer_b_batch(spark: SparkSession, sf_dir: str, cut: int) -> DataFrame:
    """Pure inserts, key-disjoint from writer A's decile batch: the
    high-key tail of the keys the base table excludes."""
    return (
        load_table(spark, sf_dir, "orders")
        .filter((F.col("o_orderkey") % 4 == 3) & (F.col("o_orderkey") > cut * 8))
        .select(
            F.col("o_orderkey").alias("k"),
            "o_custkey",
            "o_totalprice",
            F.lit("N").alias("o_orderstatus"),
        )
    )


@register("j12_lakehouse_concurrent_merge", sql=_J12_SQL)
def j12_lakehouse_concurrent_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimistic concurrency on the graded path: writer A's merge is
    interrupted at the instant before it publishes by writer B's whole
    merge (a second handle on the same table) committing first. A's
    put-if-absent ``os.link`` fails with :class:`CommitConflictError`,
    A reclaims its orphaned attempt, re-reads the FRESH snapshot,
    recomputes the touched-file set, and retries — so the final table
    contains BOTH writers' changes as versions 2 and 3 (the Delta/
    Iceberg commit-conflict contract; the pre-fix ``os.rename`` would
    have silently erased B's commit). The batches are key-disjoint, so
    the outcome is order-independent and the oracle is the one-shot
    composition of both merges over the base.

    Scale: conflict resolution costs one manifest re-read plus a replay
    of the LOSER's batch-sized work — never a table rewrite; winners
    pay nothing."""
    tbl_a, lo, cut = _build_table(spark, sf_dir)
    tbl_b = LakehouseTable(spark, tbl_a.path)
    batch_b = _writer_b_batch(spark, sf_dir, cut)
    fired = {"done": False}
    orig_commit = tbl_a._commit

    def racing_commit(self, version, operation, files, schema_json=None):
        if operation == "merge" and not fired["done"]:
            fired["done"] = True
            tbl_b.merge(batch_b, keys=["k"])
        return orig_commit(version, operation, files, schema_json=schema_json)

    tbl_a._commit = types.MethodType(racing_commit, tbl_a)
    _standard_merge(tbl_a, _batch_df(spark, sf_dir, cut), lo, cut)
    assert fired["done"] and tbl_a.current_version() == 3
    assert [m["operation"] for m in tbl_a.history()] == ["create", "merge", "merge"]
    return _final_select(tbl_a.read())


# ---------------------------------------------------------------------------
# j13: vacuum retention — current snapshot intact, horizon enforced
# ---------------------------------------------------------------------------


@register("j13_lakehouse_vacuum", sql=_MERGED_SQL)
def j13_lakehouse_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM on the graded path: merge → compact → vacuum(retain 1)
    reclaims every data file referenced only by the create/merge
    snapshots, then the graded rows are the post-vacuum CURRENT read —
    same oracle as the merge itself, proving vacuum never touches live
    files. Time travel past the horizon raises a clear 'vacuumed'
    error (asserted here) and history() starts at the horizon instead
    of crashing — the retention contract every lakehouse documents.

    Scale: vacuum is manifest-diff + file deletes — O(files reclaimed)
    metadata ops, no data read."""
    tbl, lo, cut = _build_table(spark, sf_dir)
    _standard_merge(tbl, _batch_df(spark, sf_dir, cut), lo, cut)
    tbl.compact(target_files=4)
    dropped = tbl.vacuum(retain_versions=1)
    assert dropped, "superseded create/merge files must be reclaimed"
    assert [m["version"] for m in tbl.history()] == [3]
    try:
        tbl.read(version=1)
        raise AssertionError("time travel past the vacuum horizon must raise")
    except ValueError as e:
        assert "vacuumed" in str(e)
    return _final_select(tbl.read())


# ---------------------------------------------------------------------------
# j14: WHEN-MATCHED-only merge (insert=False) with full pruning
# ---------------------------------------------------------------------------


@register(
    "j14_lakehouse_matched_only_merge",
    sql=f"""
SELECT o_orderkey AS k, o_custkey,
       {round6_sql('o_totalprice')} AS total_r, o_orderstatus
FROM orders WHERE o_orderkey % 4 <> 3
""",
)
def j14_lakehouse_matched_only_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE with insert=False whose batch is key-disjoint from the
    whole table: manifest pruning eliminates every target file, and the
    WHEN-MATCHED-only contract means NO source row may appear — the
    committed snapshot is byte-identical to the base (the ADVICE r03
    fast-path fix: pre-fix, the no-hit branch inserted the whole batch
    regardless of ``insert``). The batch also carries a column the
    table lacks, proving the committed schema stays the TABLE's instead
    of narrowing/widening to the source's. The oracle is the untouched
    base table."""
    tbl, _lo, cut = _build_table(spark, sf_dir)
    mx = cut * 10
    disjoint = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= cut)
        .select(
            (F.col("o_orderkey") + 10 * mx).alias("k"),  # beyond every stat range
            "o_custkey",
            F.lit(0.0).alias("o_totalprice"),
            F.lit("Z").alias("o_orderstatus"),
            F.lit("extra").alias("not_a_table_column"),
        )
    )
    tbl.merge(
        disjoint,
        keys=["k"],
        update_cols=["o_totalprice", "o_orderstatus"],
        insert=False,
    )
    assert tbl.current_version() == 2
    pruned, total = tbl.last_merge_pruned
    assert pruned == total, "disjoint batch must prune every file"
    return _final_select(tbl.read())


# ---------------------------------------------------------------------------
# j15: snapshot diff — the change-data-feed read (Delta CDF / Iceberg
# changelog) derived from two committed snapshots
# ---------------------------------------------------------------------------

_J15_SQL = f"""{_MERGE_CTE}
SELECT coalesce(t.k, m.k) AS k,
       CASE WHEN t.k IS NULL THEN 'insert'
            WHEN m.k IS NULL THEN 'delete'
            ELSE 'update' END AS change_type,
       {round6_sql('t.o_totalprice')} AS old_total_r,
       {round6_sql('m.o_totalprice')} AS new_total_r,
       t.o_orderstatus AS old_status,
       m.o_orderstatus AS new_status
FROM t FULL JOIN m ON t.k = m.k
WHERE t.k IS NULL OR m.k IS NULL
   OR t.o_totalprice <> m.o_totalprice
   OR t.o_orderstatus <> m.o_orderstatus
"""


@register("j15_lakehouse_snapshot_diff", sql=_J15_SQL)
def j15_lakehouse_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed read: the row-level diff between two committed
    snapshots of the lakehouse table (v1 = create, v2 = the pruned
    MERGE), classified insert / update / delete with old and new
    values — Delta's table_changes / Iceberg's changelog scan derived
    from time travel alone, so ANY two retained versions can be
    diffed after the fact (no CDC capture at write time required).
    The oracle recomputes both states from orders and diffs them.

    Scale: one full-outer join of the two snapshot reads, keyed on the
    primary key. With the manifest at hand this prunes to the files
    that CHANGED between the versions (identical carried-by-reference
    files cannot contribute diff rows — same file ⇒ same rows on both
    sides); here both snapshots are read in full because the graded
    contract is the row-level result, and the join is the one
    irreducible shuffle either way."""
    tbl, _lo, _cut = _shared_merged_table(spark, sf_dir)
    old = tbl.read(version=1).select(
        F.col("k").alias("k_old"),
        F.col("o_totalprice").alias("p_old"),
        F.col("o_orderstatus").alias("s_old"),
    )
    new = tbl.read(version=2).select(
        F.col("k").alias("k_new"),
        F.col("o_totalprice").alias("p_new"),
        F.col("o_orderstatus").alias("s_new"),
    )
    return (
        old.join(new, old.k_old == new.k_new, "full_outer")
        .filter(
            F.col("k_old").isNull()
            | F.col("k_new").isNull()
            | (F.col("p_old") != F.col("p_new"))
            | (F.col("s_old") != F.col("s_new"))
        )
        .select(
            F.coalesce("k_old", "k_new").alias("k"),
            F.when(F.col("k_old").isNull(), "insert")
            .when(F.col("k_new").isNull(), "delete")
            .otherwise("update")
            .alias("change_type"),
            round6(F.col("p_old")).alias("old_total_r"),
            round6(F.col("p_new")).alias("new_total_r"),
            F.col("s_old").alias("old_status"),
            F.col("s_new").alias("new_status"),
        )
    )


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
    tbl, _lo, _cut = _build_table(spark, sf_dir)
    before = [f["path"] for f in tbl.manifest()["file_list"]]
    tbl.delete_where(F.col("o_custkey") % 5 == 0, keys=["k"])
    after = [f["path"] for f in tbl.manifest()["file_list"]]
    rewritten = len(set(before) ^ set(after))
    return _final_select(tbl.read()).withColumn("files_rewritten", F.lit(rewritten))


# ---------------------------------------------------------------------------
# j17: write-audit-publish
# ---------------------------------------------------------------------------

_J17_SQL = f"""
SELECT o_orderkey AS k, o_custkey, {round6_sql('o_totalprice')} AS total_r,
       o_orderstatus, 1 AS main_was_unchanged
FROM orders
"""


@register("j17_lakehouse_write_audit_publish", sql=_J17_SQL)
def j17_lakehouse_write_audit_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish on the manifest table: the missing quarter
    of orders lands as a STAGED append (data files written, no commit),
    an audit confirms the main snapshot is byte-identical to before
    (the graded ``main_was_unchanged`` flag hashes as 1) while
    ``read_staged`` already sees the union, then ``publish`` adds the
    staged files with a metadata-only optimistic commit — Iceberg's WAP
    pattern, the safe-ingestion topology where bad batches are caught
    before any reader can observe them.

    Scale: staging cost = the append's write; the audit reads whatever
    the validation query needs; publish moves ZERO data bytes (one
    manifest link)."""
    tbl, _lo, _cut = _build_table(spark, sf_dir)
    base_rows = tbl.read().count()
    staged_batch = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 4 == 3)
        .select(
            F.col("o_orderkey").alias("k"),
            "o_custkey",
            "o_totalprice",
            "o_orderstatus",
        )
    )
    token = tbl.stage_append(staged_batch)
    unchanged = int(tbl.read().count() == base_rows)
    staged_total = tbl.read_staged(token).count()
    tbl.publish(token)
    return _final_select(tbl.read()).withColumn(
        "main_was_unchanged",
        F.lit(unchanged * int(tbl.read().count() == staged_total)),
    )


# ---------------------------------------------------------------------------
# Z-order clustering: multi-dimensional file skipping from 1-D stats
# ---------------------------------------------------------------------------

_Z_BITS = 8  # bits per dimension: a 256x256 z-grid, z in [0, 65536)
_Z_FILES = 16


def _zorder_layout(
    df: DataFrame, a: str, a_range: tuple, b: str, b_range: tuple, prefix: str
) -> LakehouseTable:
    """``df`` written as ``_Z_FILES`` key-range buckets of
    z = morton(a, b), each key scaled over its [lo, hi] range, so every
    file's manifest stats bound an (a, b) RECTANGLE."""
    zmax = 1 << (2 * _Z_BITS)
    return LakehouseTable.create_bucketed(
        df.withColumn(
            "z", zorder2_scaled(F.col(a), *a_range, F.col(b), *b_range, _Z_BITS)
        ),
        scratch_dir(prefix),
        key="z",
        boundaries=[zmax * i // _Z_FILES for i in range(1, _Z_FILES)],
        stats_cols=["z", a, b],
    )


_J18_SQL = """
WITH r AS (
  SELECT min(o_orderkey) AS lo1, max(o_orderkey) AS hi1,
         min(o_custkey)  AS lo2, max(o_custkey)  AS hi2
  FROM orders
)
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(o_orderkey) AS BIGINT) AS sum_k1,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust
FROM orders, r
WHERE o_orderkey <= r.lo1 + (r.hi1 - r.lo1) // 8
  AND o_custkey  <= r.lo2 + (r.hi2 - r.lo2) // 8
GROUP BY o_orderstatus
"""


@_memo
def _zorder_table(spark: SparkSession, sf_dir: str) -> tuple[LakehouseTable, tuple]:
    """``(table, box)``: orders clustered on z = morton(o_orderkey,
    o_custkey), and the graded 2-D box, 1/64 of the key plane."""
    r1 = _key_range(sf_dir, "orders", "o_orderkey")
    r2 = _key_range(sf_dir, "orders", "o_custkey")
    df = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderstatus")
    tbl = _zorder_layout(df, "o_orderkey", r1, "o_custkey", r2, "zorder_")
    return tbl, tuple((lo, lo + (hi - lo) // 8) for lo, hi in (r1, r2))


@register("j18_lakehouse_zorder_skipping", _J18_SQL)
def j18_lakehouse_zorder_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dimensional file skipping via Z-ORDER clustering
    (functions/zorder.py + operators/lakehouse.py — Delta's OPTIMIZE
    ZORDER BY in manifest-table form): orders is written as key-range
    buckets of the Morton code of (o_orderkey, o_custkey), so each
    file's plain per-column min/max stats bound a RECTANGLE in key
    space, and a 2-D box predicate prunes files on BOTH columns —
    range-clustering on one key alone would scan every file for any
    second-key predicate. The graded rows are the bounded scan + exact
    row filter, matched against the oracle's full-table filter; the
    pruning ratio itself is pinned in tests/test_lakehouse.py
    (box of 1/64 of the key plane → a strict minority of the 16 files
    opened).

    Scale: the z-value is five shift-or-mask ops per key inside
    whole-stage codegen (no UDF); the write is the one-job exact-slot
    bucketed writer; the scan is manifest-stat pruning — at 100 TB the
    2-D box reads O(box-overlapping z-tiles), not O(table)."""
    tbl, box = _zorder_table(spark, sf_dir)
    (k1lo, k1hi), (k2lo, k2hi) = box
    pruned = tbl.scan({"o_orderkey": (k1lo, k1hi), "o_custkey": (k2lo, k2hi)})
    return (
        pruned.filter(
            F.col("o_orderkey").between(k1lo, k1hi)
            & F.col("o_custkey").between(k2lo, k2hi)
        )
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("o_orderkey").cast("long").alias("sum_k1"),
            F.count_distinct("o_custkey").cast("long").alias("n_cust"),
        )
    )


# ---------------------------------------------------------------------------
# metadata-only aggregation: count/min/max answered from the manifest
# ---------------------------------------------------------------------------

_J19_SQL = """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(o_orderkey) AS BIGINT) AS min_k,
       CAST(max(o_orderkey) AS BIGINT) AS max_k
FROM orders
WHERE o_orderkey % 4 <> 3
"""


@register("j19_metadata_only_agg", _J19_SQL)
def j19_metadata_only_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only aggregation (Iceberg's scan-less COUNT/MIN/MAX,
    Delta's stats-backed ANSWER FROM METADATA): count(*), min(key),
    max(key) over the lakehouse snapshot are read from the MANIFEST —
    per-file row counts summed, per-file [lo, hi] stats folded — with
    ZERO data files opened and zero Spark jobs. At 100 TB this is the
    difference between a millisecond catalog lookup and a full-table
    scan; correctness holds because the same commit protocol that
    publishes the files publishes their exact stats (the collision
    guard in _write_bucketed_files falls back to the per-file harvest
    precisely so manifest stats NEVER disagree with the bytes on disk).
    The oracle recomputes the aggregates by scanning the raw table."""
    tbl, _lo, _cut = _shared_merged_table(spark, sf_dir)
    man = tbl.manifest(1)  # v1 = the base snapshot (orders, %4 <> 3)
    entries = man["file_list"]
    n_rows = sum(e["rows"] for e in entries)
    lo = min(e["stats"]["k"][0] for e in entries)
    hi = max(e["stats"]["k"][1] for e in entries)
    return spark.createDataFrame(
        [(n_rows, int(lo), int(hi))], "n_rows long, min_k long, max_k long"
    )


# ---------------------------------------------------------------------------
# Z-order on the TELEMETRY domain: (device, time) silver-signal layout
# ---------------------------------------------------------------------------
#
# j18 proves the z-order mechanism on TPC-H keys; the reference's actual
# 100 TB pain point is the (device_id, ts) signal scan (SURVEY §1.3):
# "give me channel X for device set D over time range T". A layout
# clustered on time alone scans every device's files for any device
# predicate, and vice versa. Clustering files by the Morton code of
# (device_hash, ts_sec) bounds every file's extent in BOTH dimensions,
# so a (device-set x time-range) read prunes with plain 1-D min/max
# manifest stats on each.

_ZSIG_HASH_MOD = 1 << 16
# the graded cohort + window: 3 devices (present at every SF — user ids
# are dense from 0), one week of the ~30-day span
_ZSIG_DEVICES = (7, 23, 101)
_ZSIG_T0 = "2024-01-08 00:00:00"
_ZSIG_T1 = "2024-01-15 00:00:00"

_J20_SQL = f"""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_devices
FROM events
WHERE user_id IN {_ZSIG_DEVICES}
  AND ts >= TIMESTAMP '{_ZSIG_T0}' AND ts < TIMESTAMP '{_ZSIG_T1}'
GROUP BY event_type
"""


def _footer_ts_extent_utc(sf_dir: str) -> tuple[int, int]:
    """[t_lo, t_hi) whole-second extent of events.ts from the parquet
    footer (``_key_range``, zero Spark jobs). Footer stat datetimes are
    naive UTC; calling .timestamp() on them naive applies the MACHINE
    timezone and shifts the extent off the UTC-epoch ts_sec domain on
    non-UTC hosts (ADVICE r08) — pin tzinfo=UTC explicitly, matching
    _zsig_window."""
    lo, hi = _key_range(sf_dir, "events", "ts")
    t_lo = int(lo.replace(tzinfo=timezone.utc).timestamp())
    t_hi = int(hi.replace(tzinfo=timezone.utc).timestamp()) + 1
    return t_lo, t_hi


@_memo
def _zsignals_table(spark: SparkSession, sf_dir: str) -> tuple[LakehouseTable, dict, tuple]:
    """``(table, hashes, (t_lo, t_hi))``: events clustered on
    z = morton(device_hash, ts_sec), the cohort's device-hash points
    and the footer time extent."""
    ev = load_table(spark, sf_dir, "events")
    dev_hash = F.pmod(F.xxhash64("user_id"), F.lit(_ZSIG_HASH_MOD)).cast("long")
    ts_sec = F.floor(F.unix_micros("ts") / F.lit(1_000_000)).cast("long")
    base = ev.select(
        "user_id",
        dev_hash.alias("device_hash"),
        ts_sec.alias("ts_sec"),
        # exact event time survives into the silver layout so temporal
        # operators (j22's W2 sessionization) reproduce the flat-layout
        # result bit-for-bit; clustering/stats still use ts_sec
        F.unix_micros("ts").alias("ts_us"),
        "event_type",
        "value",
    )
    extent = _footer_ts_extent_utc(sf_dir)
    tbl = _zorder_layout(
        base, "device_hash", (0, _ZSIG_HASH_MOD - 1), "ts_sec", extent, "zsignals_"
    )
    # the cohort's hash points, from one bounded 3-row job (the hash is
    # a JVM expression; nothing data-sized is collected)
    hashes = {
        r.user_id: r.h
        for r in spark.createDataFrame(
            [(d,) for d in _ZSIG_DEVICES], "user_id long"
        )
        .select("user_id", dev_hash.alias("h"))
        .collect()
    }
    return tbl, hashes, extent


def _zsig_window() -> tuple[int, int]:
    to_s = lambda s: int(
        datetime.strptime(s, "%Y-%m-%d %H:%M:%S").replace(tzinfo=timezone.utc).timestamp()
    )
    return to_s(_ZSIG_T0), to_s(_ZSIG_T1)


def _cohort_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cohort's week from the z-clustered silver table: the
    per-device (device_hash point x week) bounds prune files as a
    DISJUNCTION — scan_any opens the deduped union of overlapping files
    in ONE reader (k point-lookups cost one scan job, not k scans + a
    union) — then the exact row filter. ``w0`` and ``w1`` are whole
    seconds, so the ts_sec bounds keep exactly the rows of
    [w0, w1) in ts_us."""
    tbl, hashes, _ext = _zsignals_table(spark, sf_dir)
    w0, w1 = _zsig_window()
    return tbl.scan_any(
        [{"device_hash": (h, h), "ts_sec": (w0, w1 - 1)} for h in hashes.values()]
    ).filter(
        F.col("user_id").isin(*_ZSIG_DEVICES)
        & (F.col("ts_sec") >= w0)
        & (F.col("ts_sec") < w1)
    )


@register("j20_telemetry_zorder_scan", _J20_SQL)
def j20_telemetry_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(device-set x time-range) signal read over the z-clustered
    telemetry layout: the cohort scan (``_cohort_scan``) and one
    aggregate. The oracle runs the same predicate over the raw events
    table — identical rows prove the pruned read lost nothing;
    tests/test_lakehouse.py pins the pruning ratio (each point-scan
    opens a strict minority of the 16 files) and that the cohort union
    covers exactly.

    Scale: this is the reference's hot path at 100 TB — the z layout
    answers a device-cohort week from O(cohort x overlapping z-tiles)
    files, where a pure time layout reads the whole fleet's week and a
    pure device layout reads each device's full history."""
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    return _cohort_scan(spark, sf_dir).groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(cents).cast("long").alias("sum_cents"),
        F.count_distinct("user_id").cast("long").alias("n_devices"),
    )


# ---------------------------------------------------------------------------
# metadata count WITH RESIDUAL: predicate-bearing count from stats
# ---------------------------------------------------------------------------

_J21_SQL = """
SELECT CAST(count(*) AS BIGINT) AS n_rows
FROM orders
WHERE o_orderkey % 4 <> 3
  AND o_orderkey <= (SELECT max(o_orderkey) // 2 FROM orders)
"""


@register("j21_metadata_count_residual", _J21_SQL)
def j21_metadata_count_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate-bearing metadata count (Iceberg's count-with-residual,
    VERDICT r07 next-step 6): count rows with o_orderkey in the lower
    HALF of the key space over the range-clustered lakehouse snapshot.
    Files fully inside the range are counted from manifest row counts
    (zero bytes read); only the boundary file(s) straddling the cut get
    an exact residual scan — tests/test_lakehouse.py pins <= 2 data
    files opened and boobytraps the full-table read. The oracle
    recomputes the count by scanning raw orders.

    Scale: a half-keyspace count at 100 TB is O(boundary files) = ~1
    file per range endpoint for a range-clustered layout, vs half the
    table for a scan — the same stats-fold as j19 but composable with
    arbitrary key-range predicates."""
    tbl, _lo, _cut = _shared_merged_table(spark, sf_dir)
    man = tbl.manifest(1)
    # the midpoint mirrors the oracle's subquery over RAW orders (the
    # table filters k % 4 <> 3, whose max may differ), so it comes from
    # the raw parquet footer — exact int64 stats, zero Spark jobs
    _, k_hi = _key_range(sf_dir, "orders", "o_orderkey")
    k_lo = min(e["stats"]["k"][0] for e in man["file_list"])
    mid = k_hi // 2
    full_rows, residual, _n_boundary = tbl.count_where_range("k", k_lo, mid, version=1)
    return residual.filter(F.col("k") <= mid).agg(
        (F.count(F.lit(1)) + F.lit(full_rows)).cast("long").alias("n_rows")
    )


# ---------------------------------------------------------------------------
# z-ordered SILVER layout under a temporal operator (VERDICT r08 #7)
# ---------------------------------------------------------------------------

def _j22_sql() -> str:
    trim_us = int(STATIONARY_TRIM_S * 1e6)
    min_us = int(STATIONARY_MIN_DUR_S * 1e6)
    return f"""
WITH f AS (
  SELECT user_id, ts, value FROM events
  WHERE user_id IN {_ZSIG_DEVICES}
    AND ts >= TIMESTAMP '{_ZSIG_T0}' AND ts < TIMESTAMP '{_ZSIG_T1}'
),
z AS (
  SELECT user_id, ts,
         CASE WHEN value <= {STATIONARY_THRESHOLD} THEN 1 ELSE 0 END AS zz
  FROM f
), c AS (
  SELECT user_id, ts, zz,
         CASE WHEN zz <> lag(zz, 1, -1) OVER (PARTITION BY user_id ORDER BY ts)
              THEN 1 ELSE 0 END AS chg
  FROM z
), r AS (
  SELECT user_id, ts, zz,
         sum(chg) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS run_id
  FROM c
), g AS (
  SELECT user_id, min(epoch_us(ts)) AS s_us, max(epoch_us(ts)) AS e_us
  FROM r WHERE zz = 1 GROUP BY user_id, run_id
)
SELECT user_id,
       s_us + {trim_us} AS start_us,
       e_us - {trim_us} AS end_us,
       round((e_us - s_us) / 1e6, 6) AS duration_s
FROM g
WHERE e_us - s_us >= {min_us}
"""


@register("j22_zorder_silver_stationary", _j22_sql())
def j22_zorder_silver_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 zero-run sessionization for a device cohort, read from the
    z-clustered SILVER telemetry table instead of the flat events scan
    (SURVEY §7.2 M6: the silver signals(device, ts) zone ships
    z-ordered with the scan_any read path under the W1/W2-shaped
    queries). The cohort scan (``_cohort_scan``) prunes the
    morton-bucketed files as a disjunction; the SAME
    stationary_intervals operator as w2_stationary_intervals runs on the
    survivors — the silver layout carries exact ts_us, so the intervals
    are bit-identical to the flat-layout plan (tests/test_lakehouse.py
    pins equality AND the pruning ratio). The oracle sessionizes the
    raw events table under the identical cohort/window predicate.

    Scale: this is the reference's W2 inference shaped for 100 TB —
    per-device weekly sessionization should open O(cohort x z-tiles)
    files, not the fleet's week (time layout) or each device's full
    history (device layout); the sessionization work after the prune
    is proportional to the cohort's rows only."""
    sig = _cohort_scan(spark, sf_dir).select(
        "user_id", F.timestamp_micros("ts_us").alias("ts"), "value"
    )
    return stationary_intervals(
        sig,
        key="user_id",
        ts="ts",
        speed="value",
        zero_threshold=STATIONARY_THRESHOLD,
        min_duration_s=STATIONARY_MIN_DUR_S,
        trim_s=STATIONARY_TRIM_S,
    )


# ---------------------------------------------------------------------------
# lakehouse file-stats audit (distributed parquet footer scan)
# ---------------------------------------------------------------------------

_FS_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_FS_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{t}' AS table_name, count(*) AS n_rows,
       (SELECT CAST(count(*) AS INT) FROM information_schema.columns
        WHERE table_name = '{t}') AS n_columns
FROM {t}"""
    for t in _FS_TABLES
)


@register("lakehouse_file_stats", _FS_SQL)
def lakehouse_file_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed parquet FOOTER audit — the compaction planner's
    input: every table file's row count and column count read from the
    parquet metadata alone (no data pages decoded), via
    `binaryFile` scan → per-file pyarrow footer parse in mapInPandas.
    This is how a table-maintenance job inventories millions of files
    (row-group sizing, small-file detection — sources/tables.py's
    _maybe_compact makes exactly this decision per file) without
    scanning a byte of column data.

    The oracle cannot see file paths (it runs on registered views), so
    it cross-checks the footer numbers against full-scan counts — the
    footer MUST agree with the data. At scale the binaryFile listing
    parallelizes per file and each task reads only its footer bytes."""

    def parse_footers(batches):
        for pdf in batches:
            out = []
            for path, content in zip(pdf["path"], pdf["content"]):
                meta = pq.ParquetFile(io.BytesIO(content)).metadata
                name = path.rsplit("/", 1)[-1].replace(".parquet", "")
                out.append((name, meta.num_rows, meta.num_columns))
            yield pd.DataFrame(out, columns=["table_name", "n_rows", "n_columns"])

    files = spark.read.format("binaryFile").load(
        [f"{sf_dir}/{t}.parquet" for t in _FS_TABLES]
    )
    return files.select("path", "content").mapInPandas(
        parse_footers, "table_name string, n_rows long, n_columns int"
    )


# ---------------------------------------------------------------------------
# Z-order (Morton) layout clustering
# ---------------------------------------------------------------------------


def _morton_sql(x: str, y: str) -> str:
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i})")
    return " + ".join(terms)


@register(
    "morton_zorder_layout",
    sql=f"""
WITH coded AS (
  SELECT l_partkey % 256 AS x, l_suppkey % 256 AS y,
         ({_morton_sql("(l_partkey % 256)", "(l_suppkey % 256)")}) >> 8
           AS zbucket
  FROM lineitem
)
SELECT zbucket, count(*) AS n_rows,
       min(x) AS min_x, max(x) AS max_x, min(y) AS min_y, max(y) AS max_y,
       (max(x) - min(x)) + (max(y) - min(y)) AS minmax_span
FROM coded GROUP BY zbucket
""",
)
def morton_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout clustering: interleave the bits of two filter
    columns into a Morton code and bucket rows by its prefix — the
    multi-dimensional file-clustering every lakehouse (Delta OPTIMIZE
    ZORDER, Iceberg sort orders) uses so min/max file statistics prune
    on BOTH columns. The per-bucket min/max extents this query emits
    ARE the skipping index: each 256th-prefix bucket covers a ≤16-wide
    slab in x AND y (verified by minmax_span), whereas ingestion-order
    files cover the full 0-255 range and prune nothing. The Spark side
    is functions/zorder.zorder2 (x's bits on the odd positions), the
    oracle the per-bit shift-and-mask sum ``_morton_sql`` spells out.
    At scale the zbucket becomes repartitionByRange key +
    sortWithinPartitions before the parquet write."""
    li = load_table(spark, sf_dir, "lineitem")
    x = (F.col("l_partkey") % 256).cast("long")
    y = (F.col("l_suppkey") % 256).cast("long")
    coded = li.select(
        x.alias("x"), y.alias("y"), F.shiftright(zorder2(x, y, _Z_BITS), 8).alias("zbucket")
    )
    span = (F.max("x") - F.min("x")) + (F.max("y") - F.min("y"))
    return coded.groupBy("zbucket").agg(
        F.count("*").alias("n_rows"),
        F.min("x").alias("min_x"),
        F.max("x").alias("max_x"),
        F.min("y").alias("min_y"),
        F.max("y").alias("max_y"),
        span.alias("minmax_span"),
    )
