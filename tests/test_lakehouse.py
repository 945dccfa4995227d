"""Checks of the lakehouse queries (plans/lakehouse.py) the DuckDB
oracle cannot see: pruning ratios, row equality against brute-force
filters over the raw tables, fixture sharing, scratch cleanup, cached
RDDs and footer reads."""

from __future__ import annotations

import atexit
import os
import random
import shutil
import time
from datetime import timezone

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.functions.zorder import zorder2, zorder2_py
from matt3r_data_ingestion_serverless_spark.operators.lakehouse import LakehouseTable
from matt3r_data_ingestion_serverless_spark.operators.stationary import stationary_intervals
from matt3r_data_ingestion_serverless_spark.plans import lakehouse
from matt3r_data_ingestion_serverless_spark.plans.lakehouse import (
    _FS_TABLES,
    _J18_SQL,
    _J19_SQL,
    _Z_FILES,
    _ZSIG_DEVICES,
    _footer_ts_extent_utc,
    _key_range,
    _shared_merged_table,
    _zorder_table,
    _zsig_window,
    _zsignals_table,
    j6_lakehouse_merge,
    j7_lakehouse_time_travel,
    j8_lakehouse_file_skipping,
    j12_lakehouse_concurrent_merge,
    j13_lakehouse_vacuum,
    j14_lakehouse_matched_only_merge,
    j15_lakehouse_snapshot_diff,
    j16_lakehouse_merge_on_read_delete,
    j17_lakehouse_write_audit_publish,
    j18_lakehouse_zorder_skipping,
    j19_metadata_only_agg,
    j20_telemetry_zorder_scan,
    j21_metadata_count_residual,
    j22_zorder_silver_stationary,
    lakehouse_file_stats,
)
from matt3r_data_ingestion_serverless_spark.plans.telemetry import (
    STATIONARY_MIN_DUR_S,
    STATIONARY_THRESHOLD,
    STATIONARY_TRIM_S,
)
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE
from tests.oracle_harness import compare, duckdb_con


# -- z-order clustering -------------------------------------------------------


def test_zorder2_matches_python_twin(spark):
    rng = random.Random(7)
    rows = [(rng.randrange(1 << 16), rng.randrange(1 << 16)) for _ in range(200)]
    rows += [(0, 0), (65535, 65535), (65535, 0), (0, 65535), (1, 2)]
    df = spark.createDataFrame(rows, "a long, b long").withColumn(
        "z", zorder2(F.col("a"), F.col("b"), 16)
    )
    for r in df.collect():
        assert r.z == zorder2_py(r.a, r.b, 16), (r.a, r.b)


def _morton_ref(x: int, y: int) -> int:
    acc = 0
    for i in range(8):
        acc |= ((x >> i) & 1) << (2 * i + 1)
        acc |= ((y >> i) & 1) << (2 * i)
    return acc


def test_morton_interleave_matches_python_reference(spark):
    """morton_zorder_layout's 8-bit code is zorder2 at bits=8."""
    pts = [(0, 0), (255, 255), (1, 0), (0, 1), (170, 85), (200, 13)]
    df = spark.createDataFrame(pts, "x long, y long").select(
        "x", "y", zorder2(F.col("x"), F.col("y"), 8).alias("m")
    )
    for x, y, m in df.collect():
        assert m == _morton_ref(x, y), (x, y)


def test_zorder_scan_prunes_both_dimensions(spark):
    """The point of z-clustering: a predicate on EITHER key prunes
    files from the same one-column manifest stats — a 1-D range layout
    prunes only its own key."""
    tbl, box = _zorder_table(spark, SF_SMOKE)
    (k1lo, k1hi), (k2lo, k2hi) = box
    total = len(tbl.manifest()["file_list"])
    assert total == _Z_FILES
    # 2-D box of 1/64 of the plane: strict minority of files opened
    read_2d, _ = tbl.files_scanned({"o_orderkey": (k1lo, k1hi), "o_custkey": (k2lo, k2hi)})
    assert read_2d < total / 2, (read_2d, total)
    # each 1-D predicate alone also prunes (the z-curve bounds BOTH)
    read_k1, _ = tbl.files_scanned({"o_orderkey": (k1lo, k1hi)})
    read_k2, _ = tbl.files_scanned({"o_custkey": (k2lo, k2hi)})
    assert read_k1 < total, read_k1
    assert read_k2 < total, read_k2
    assert read_2d <= min(read_k1, read_k2)


def test_zorder_scan_loses_no_rows(spark):
    tbl, box = _zorder_table(spark, SF_SMOKE)
    (k1lo, k1hi), (k2lo, k2hi) = box
    expect = (
        load_table(spark, SF_SMOKE, "orders")
        .filter(
            F.col("o_orderkey").between(k1lo, k1hi)
            & F.col("o_custkey").between(k2lo, k2hi)
        )
        .count()
    )
    got = j18_lakehouse_zorder_skipping(spark, SF_SMOKE).agg(F.sum("n")).first()[0]
    assert got == expect and expect > 0


def test_zorder_oracle_parity(spark):
    con = duckdb_con(SF_SMOKE)
    problems = compare(j18_lakehouse_zorder_skipping(spark, SF_SMOKE), con, _J18_SQL)
    assert problems == []


# -- metadata-only aggregation -------------------------------------------------


def test_metadata_only_agg_opens_no_data_files(spark):
    """The whole point: the aggregate is answered from the manifest.
    Boobytrap the snapshot read — the query must never call it."""
    orig = LakehouseTable.read
    LakehouseTable.read = None  # any data read -> TypeError
    try:
        row = j19_metadata_only_agg(spark, SF_SMOKE).first()
    finally:
        LakehouseTable.read = orig
    assert row.n_rows > 0 and row.min_k <= row.max_k


def test_metadata_only_agg_oracle_parity(spark):
    con = duckdb_con(SF_SMOKE)
    assert compare(j19_metadata_only_agg(spark, SF_SMOKE), con, _J19_SQL) == []


# -- telemetry z-order (j20) --------------------------------------------------


def test_zsignals_scan_prunes_both_dimensions(spark):
    """The telemetry layout's point of existence: a device-hash POINT
    prunes files, a time RANGE prunes files, and their conjunction
    opens a strict minority of the layout — from the same one-column
    min/max manifest stats."""
    tbl, hashes, (t_lo, t_hi) = _zsignals_table(spark, SF_SMOKE)
    total = tbl.files_scanned({"device_hash": (0, 1 << 16)})[1]
    assert total == _Z_FILES
    w0, w1 = _zsig_window()
    for h in hashes.values():
        # device dimension alone prunes
        dev_only, _ = tbl.files_scanned({"device_hash": (h, h)})
        assert dev_only < total
        # conjunction prunes at least as hard, to a strict minority
        both, _ = tbl.files_scanned({"device_hash": (h, h), "ts_sec": (w0, w1 - 1)})
        assert both <= dev_only
        assert both <= total // 4, (both, total)
    # time dimension alone prunes too (a 1/8 slice of the span)
    t_cut = t_lo + (t_hi - t_lo) // 8
    time_only, _ = tbl.files_scanned({"ts_sec": (t_lo, t_cut)})
    assert time_only < total


def test_zsignals_scan_loses_no_rows(spark):
    """Manifest pruning is a superset guarantee: the pruned scan plus
    the exact filter must equal the brute-force filter over the raw
    table, row for row."""
    w0, w1 = _zsig_window()
    got = {
        (r.event_type, r.n, r.sum_cents, r.n_devices)
        for r in j20_telemetry_zorder_scan(spark, SF_SMOKE).collect()
    }
    ev = load_table(spark, SF_SMOKE, "events")
    ts_sec = F.floor(F.unix_micros("ts") / F.lit(1_000_000))
    brute = (
        ev.filter(F.col("user_id").isin(*_ZSIG_DEVICES) & (ts_sec >= w0) & (ts_sec < w1))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long")).cast("long").alias("sum_cents"),
            F.count_distinct("user_id").cast("long").alias("n_devices"),
        )
    )
    want = {(r.event_type, r.n, r.sum_cents, r.n_devices) for r in brute.collect()}
    assert got == want and len(got) > 0


# -- metadata count with residual (j21) ----------------------------------------


def test_count_residual_opens_at_most_boundary_files(spark):
    """Half-keyspace count: every fully-covered file is counted from
    manifest stats; at most the file(s) straddling the cut are read.
    The full-table read is boobytrapped to prove it is never called."""
    tbl, _lo, _cut = _shared_merged_table(spark, SF_SMOKE)
    man = tbl.manifest(1)
    k_lo = min(e["stats"]["k"][0] for e in man["file_list"])
    _, k_hi = _key_range(SF_SMOKE, "orders", "o_orderkey")
    full, _residual, n_boundary = tbl.count_where_range("k", k_lo, k_hi // 2, version=1)
    assert n_boundary <= 2, n_boundary
    assert full > 0
    orig = LakehouseTable.read
    LakehouseTable.read = None  # any full-table read -> TypeError
    try:
        row = j21_metadata_count_residual(spark, SF_SMOKE).first()
    finally:
        LakehouseTable.read = orig
    assert row.n_rows > 0


def test_count_residual_equals_brute_force(spark):
    _, k_hi = _key_range(SF_SMOKE, "orders", "o_orderkey")
    brute = (
        load_table(spark, SF_SMOKE, "orders")
        .filter((F.col("o_orderkey") % 4 != 3) & (F.col("o_orderkey") <= k_hi // 2))
        .count()
    )
    assert j21_metadata_count_residual(spark, SF_SMOKE).first().n_rows == brute


def test_count_residual_refuses_tombstoned_snapshots(spark, tmp_path):
    """Merge-on-read deletes make manifest row counts overcount — the
    stats fold must refuse loudly, not return a stale number."""
    root = str(tmp_path / "tomb")
    tbl = LakehouseTable.create(
        spark.range(0, 100).withColumnRenamed("id", "k"), root, stats_cols=["k"]
    )
    tbl.delete_where(F.col("k") == 5, keys=["k"])
    with pytest.raises(ValueError, match="tombstones"):
        tbl.count_where_range("k", 0, 50)


def test_scan_any_opens_exact_union_of_per_bounds_sets(spark):
    """scan_any's disjunctive prune must open exactly the union of the
    per-bounds file sets — never more (no pruning lost to the union)
    and never fewer (no rows lost) — in one reader."""
    tbl, hashes, _ext = _zsignals_table(spark, SF_SMOKE)
    w0, w1 = _zsig_window()
    bounds_list = [
        {"device_hash": (h, h), "ts_sec": (w0, w1 - 1)} for h in hashes.values()
    ]
    man = tbl.manifest()
    union_paths = set()
    for b in bounds_list:
        union_paths.update(e["path"] for e in tbl._split_by_range(man, b)[0])
    n_any, total = tbl.files_scanned_any(bounds_list)
    assert n_any == len(union_paths)
    assert n_any < total  # the disjunction still prunes
    per_scan_rows = 0
    for b in bounds_list:
        per_scan_rows += tbl.scan(b).count()
    # union read covers at least each individual scan's rows (files
    # shared between bounds are read once but contain all their rows)
    assert tbl.scan_any(bounds_list).count() >= per_scan_rows / len(bounds_list)


# -- z-ordered silver layout under W2 (j22) -----------------------------------


def test_j22_silver_stationary_equals_flat_layout(spark):
    """The z-clustered silver read must reproduce the flat-layout W2
    sessionization BIT-FOR-BIT on the cohort/window (the silver table
    carries exact ts_us, so there is no resolution loss)."""
    got = sorted(
        (r.user_id, r.start_us, r.end_us, r.duration_s)
        for r in j22_zorder_silver_stationary(spark, SF_SMOKE).collect()
    )
    w0, w1 = _zsig_window()
    us = F.unix_micros("ts")
    flat = stationary_intervals(
        load_table(spark, SF_SMOKE, "events").filter(
            F.col("user_id").isin(*_ZSIG_DEVICES)
            & (us >= w0 * 1_000_000)
            & (us < w1 * 1_000_000)
        ),
        key="user_id",
        ts="ts",
        speed="value",
        zero_threshold=STATIONARY_THRESHOLD,
        min_duration_s=STATIONARY_MIN_DUR_S,
        trim_s=STATIONARY_TRIM_S,
    )
    want = sorted(
        (r.user_id, r.start_us, r.end_us, r.duration_s) for r in flat.collect()
    )
    assert got == want and len(got) > 0


def test_j22_silver_read_prunes_files(spark):
    """The cohort W2 read opens a strict minority of the silver
    layout's files (the whole point of shipping the silver zone
    z-clustered)."""
    tbl, hashes, _ext = _zsignals_table(spark, SF_SMOKE)
    w0, w1 = _zsig_window()
    n_opened, total = tbl.files_scanned_any(
        [{"device_hash": (h, h), "ts_sec": (w0, w1 - 1)} for h in hashes.values()]
    )
    assert total == _Z_FILES
    assert n_opened <= total // 2, (n_opened, total)


# -- merge-on-read delete (j16) and write-audit-publish (j17) -----------------


def test_j16_no_rewrite_and_rows(spark):
    rows = j16_lakehouse_merge_on_read_delete(spark, SF_SMOKE).collect()
    base = load_table(spark, SF_SMOKE, "orders").collect()
    want = {
        r.o_orderkey
        for r in base
        if r.o_orderkey % 4 != 3 and r.o_custkey % 5 != 0
    }
    assert {r.k for r in rows} == want
    assert all(r.files_rewritten == 0 for r in rows)
    assert all(r.o_custkey % 5 != 0 for r in rows)


def test_j17_full_orders_and_audit_flag(spark):
    rows = j17_lakehouse_write_audit_publish(spark, SF_SMOKE).collect()
    orders = load_table(spark, SF_SMOKE, "orders").collect()
    assert {r.k for r in rows} == {r.o_orderkey for r in orders}
    assert all(r.main_was_unchanged == 1 for r in rows)


# -- footer reads ---------------------------------------------------------------


def test_file_stats_match_pyarrow_direct(spark):
    got = {r.table_name: r for r in lakehouse_file_stats(spark, SF_SMOKE).collect()}
    assert set(got) == set(_FS_TABLES)
    for t in _FS_TABLES:
        m = pq.ParquetFile(f"{SF_SMOKE}/{t}.parquet").metadata
        assert (got[t].n_rows, got[t].n_columns) == (m.num_rows, m.num_columns), t


def test_zsignals_footer_extent_is_utc():
    meta = pq.ParquetFile(os.path.join(SF_SMOKE, "events.parquet")).metadata
    idx = next(
        i for i in range(meta.num_columns) if meta.schema.column(i).name == "ts"
    )
    stats = [
        meta.row_group(rg).column(idx).statistics for rg in range(meta.num_row_groups)
    ]
    want_lo = int(min(s.min for s in stats).replace(tzinfo=timezone.utc).timestamp())
    want_hi = (
        int(max(s.max for s in stats).replace(tzinfo=timezone.utc).timestamp()) + 1
    )

    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"  # UTC-5/-4: naive .timestamp() shifts
    time.tzset()
    try:
        assert _footer_ts_extent_utc(SF_SMOKE) == (want_lo, want_hi)
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()


def test_key_range_refuses_a_directory_layout(tmp_path):
    """One footer gives the merges' complete source_intervals cover; an
    orders.parquet directory must fail loudly instead."""
    (tmp_path / "orders.parquet").mkdir()
    pq.write_table(pa.table({"o_orderkey": [1]}), tmp_path / "orders.parquet" / "part-0.parquet")
    with pytest.raises(ValueError, match="source_intervals"):
        _key_range(str(tmp_path), "orders", "o_orderkey")


# -- shared fixtures, scratch cleanup and cached RDDs ---------------------------


def test_lakehouse_readonly_queries_share_one_fixture(spark):
    """j7/j8/j15 never mutate past v2, so they read ONE process-shared
    seeded table (VERDICT r06 next-step 7) instead of each paying
    create + merge + rm-rf per run."""
    memo = lakehouse._shared_merged_table.memo
    sf = "/root/testdata/sf0.001"
    memo.pop(sf, None)
    a = j7_lakehouse_time_travel(spark, sf)
    root1 = memo[sf][0].path
    b = j8_lakehouse_file_skipping(spark, sf)
    c = j15_lakehouse_snapshot_diff(spark, sf)
    assert memo[sf][0].path == root1  # no rebuild
    # all three still produce rows through the one fixture
    assert a.count() > 0 and b.count() > 0 and c.count() > 0
    # and the fixture survives the reads (read-only contract)
    assert os.path.isdir(root1)


def test_j6_scratch_dir_registered_before_the_merge_fails(spark, monkeypatch):
    """The lakehouse_ scratch dir is registered for removal when it is
    made, so a merge that raises still leaves nothing behind at exit."""
    registered = []
    monkeypatch.setattr(atexit, "register", lambda fn, *a, **kw: registered.extend(a[:1]))
    monkeypatch.setattr(LakehouseTable, "merge", lambda *a, **kw: 1 / 0)
    with pytest.raises(ZeroDivisionError):
        j6_lakehouse_merge(spark, SF_SMOKE)
    roots = [p for p in registered if os.path.basename(str(p)).startswith("lakehouse_")]
    assert len(roots) == 1 and os.path.isdir(roots[0])
    shutil.rmtree(roots[0])


def test_mutation_queries_cache_no_rdd(spark):
    """The mutation queries return a lazy read of their snapshot (the
    table dir lives until process exit) instead of pinning it with an
    eager checkpoint that nothing ever unpersists."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    kept = [
        q(spark, SF_SMOKE)
        for q in (
            j12_lakehouse_concurrent_merge,
            j13_lakehouse_vacuum,
            j14_lakehouse_matched_only_merge,
            j16_lakehouse_merge_on_read_delete,
            j17_lakehouse_write_audit_publish,
        )
    ]
    assert set(jsc.getPersistentRDDs().keySet().toArray()) - before == set()
    assert all(df.count() > 0 for df in kept)
