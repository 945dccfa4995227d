"""Tests for the z-order, metadata-only aggregation and z-ordered
silver queries (plans/breadth_r100.py)."""

from __future__ import annotations

from matt3r_data_ingestion_serverless_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


# -- z-order clustering -------------------------------------------------------


def test_zorder2_matches_python_twin(spark):
    import random

    from pyspark.sql import functions as F

    from matt3r_data_ingestion_serverless_spark.functions.zorder import (
        zorder2,
        zorder2_py,
    )

    rng = random.Random(7)
    rows = [(rng.randrange(1 << 16), rng.randrange(1 << 16)) for _ in range(200)]
    rows += [(0, 0), (65535, 65535), (65535, 0), (0, 65535), (1, 2)]
    df = spark.createDataFrame(rows, "a long, b long").withColumn(
        "z", zorder2(F.col("a"), F.col("b"))
    )
    for r in df.collect():
        assert r.z == zorder2_py(r.a, r.b), (r.a, r.b)


def test_zorder_scan_prunes_both_dimensions(spark):
    """The point of z-clustering: a predicate on EITHER key prunes
    files from the same one-column manifest stats — a 1-D range layout
    prunes only its own key."""
    from matt3r_data_ingestion_serverless_spark.plans.breadth_r100 import (
        _ZORDER_FILES,
        _zorder_table,
    )

    tbl, _root, box = _zorder_table(spark, SF_SMOKE)
    (k1lo, k1hi), (k2lo, k2hi) = box
    total = len(tbl.manifest()["file_list"])
    assert total == _ZORDER_FILES
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
    from pyspark.sql import functions as F

    from matt3r_data_ingestion_serverless_spark.plans.breadth_r100 import (
        _zorder_table,
        j18_lakehouse_zorder_skipping,
    )

    tbl, _root, box = _zorder_table(spark, SF_SMOKE)
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
    from tests.oracle_harness import compare, duckdb_con

    from matt3r_data_ingestion_serverless_spark.plans.breadth_r100 import (
        _J18_SQL,
        j18_lakehouse_zorder_skipping,
    )

    con = duckdb_con(SF_SMOKE)
    problems = compare(j18_lakehouse_zorder_skipping(spark, SF_SMOKE), con, _J18_SQL)
    assert problems == []


# -- metadata-only aggregation -------------------------------------------------


def test_metadata_only_agg_opens_no_data_files(spark):
    """The whole point: the aggregate is answered from the manifest.
    Boobytrap the snapshot read — the query must never call it."""
    from matt3r_data_ingestion_serverless_spark.operators.lakehouse import (
        LakehouseTable,
    )
    from matt3r_data_ingestion_serverless_spark.plans.breadth_r100 import (
        j19_metadata_only_agg,
    )

    orig = LakehouseTable.read
    LakehouseTable.read = None  # any data read -> TypeError
    try:
        row = j19_metadata_only_agg(spark, SF_SMOKE).first()
    finally:
        LakehouseTable.read = orig
    assert row.n_rows > 0 and row.min_k <= row.max_k


def test_metadata_only_agg_oracle_parity(spark):
    from tests.oracle_harness import compare, duckdb_con

    from matt3r_data_ingestion_serverless_spark.plans.breadth_r100 import (
        _J19_SQL,
        j19_metadata_only_agg,
    )

    con = duckdb_con(SF_SMOKE)
    assert compare(j19_metadata_only_agg(spark, SF_SMOKE), con, _J19_SQL) == []


# -- telemetry z-order (j20) --------------------------------------------------


def test_zsignals_scan_prunes_both_dimensions(spark):
    """The telemetry layout's point of existence: a device-hash POINT
    prunes files, a time RANGE prunes files, and their conjunction
    opens a strict minority of the layout — from the same one-column
    min/max manifest stats."""
    from matt3r_data_ingestion_serverless_spark.plans.breadth_r100 import (
        _ZSIG_FILES,
        _zsig_window,
        _zsignals_table,
    )

    tbl, _root, hashes, (t_lo, t_hi) = _zsignals_table(spark, SF_SMOKE)
    total = tbl.files_scanned({"device_hash": (0, 1 << 16)})[1]
    assert total == _ZSIG_FILES
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
    from pyspark.sql import functions as F

    from matt3r_data_ingestion_serverless_spark.plans.breadth_r100 import (
        _ZSIG_DEVICES,
        _zsig_window,
        j20_telemetry_zorder_scan,
    )

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
    from matt3r_data_ingestion_serverless_spark.operators.lakehouse import (
        LakehouseTable,
    )
    from matt3r_data_ingestion_serverless_spark.plans.breadth_r100 import (
        _key_range,
        j21_metadata_count_residual,
    )
    from matt3r_data_ingestion_serverless_spark.plans.breadth_r69 import (
        _shared_merged_table,
    )

    tbl, _root, _cut = _shared_merged_table(spark, SF_SMOKE)
    man = tbl.manifest(1)
    k_lo = min(e["stats"]["k"][0] for e in man["file_list"])
    _, k_hi = _key_range(SF_SMOKE, "o_orderkey")
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
    from pyspark.sql import functions as F

    from matt3r_data_ingestion_serverless_spark.plans.breadth_r100 import (
        _key_range,
        j21_metadata_count_residual,
    )

    _, k_hi = _key_range(SF_SMOKE, "o_orderkey")
    brute = (
        load_table(spark, SF_SMOKE, "orders")
        .filter((F.col("o_orderkey") % 4 != 3) & (F.col("o_orderkey") <= k_hi // 2))
        .count()
    )
    assert j21_metadata_count_residual(spark, SF_SMOKE).first().n_rows == brute


def test_count_residual_refuses_tombstoned_snapshots(spark, tmp_path):
    """Merge-on-read deletes make manifest row counts overcount — the
    stats fold must refuse loudly, not return a stale number."""
    import pytest
    from pyspark.sql import functions as F

    from matt3r_data_ingestion_serverless_spark.operators.lakehouse import (
        LakehouseTable,
    )

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
    from matt3r_data_ingestion_serverless_spark.plans.breadth_r100 import (
        _zsig_window,
        _zsignals_table,
    )

    tbl, _root, hashes, _ext = _zsignals_table(spark, SF_SMOKE)
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
    from pyspark.sql import functions as F

    from matt3r_data_ingestion_serverless_spark.operators.stationary import (
        stationary_intervals,
    )
    from matt3r_data_ingestion_serverless_spark.plans.breadth_r100 import (
        _ZSIG_DEVICES,
        _zsig_window,
        j22_zorder_silver_stationary,
    )
    from matt3r_data_ingestion_serverless_spark.plans.telemetry import (
        STATIONARY_MIN_DUR_S,
        STATIONARY_THRESHOLD,
        STATIONARY_TRIM_S,
    )

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
    from matt3r_data_ingestion_serverless_spark.plans.breadth_r100 import (
        _ZSIG_FILES,
        _zsig_window,
        _zsignals_table,
    )

    tbl, _root, hashes, _ext = _zsignals_table(spark, SF_SMOKE)
    w0, w1 = _zsig_window()
    n_opened, total = tbl.files_scanned_any(
        [{"device_hash": (h, h), "ts_sec": (w0, w1 - 1)} for h in hashes.values()]
    )
    assert total == _ZSIG_FILES
    assert n_opened <= total // 2, (n_opened, total)
