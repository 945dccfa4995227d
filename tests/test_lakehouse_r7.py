"""Round-7 lakehouse hardening (ADVICE r06): the bucketed plain write
must never record a manifest that disagrees with the bytes on disk.

The exact-slot fast path assumes one file per non-empty bucket with
file part-index == bucket id. ADVICE r06 found the guard only covered
the MISSING-index half of a routing divergence; a COLLISION — a task
emitting more than one file, e.g. because the (user-supplied) session
sets spark.sql.files.maxRecordsPerFile — silently orphaned the extra
files: the manifest listed one file with the full bucket row count and
read() returned a fraction of the rows.
"""

from __future__ import annotations

import pytest

from matt3r_data_ingestion_serverless_spark.operators import lakehouse as lh
from matt3r_data_ingestion_serverless_spark.operators.lakehouse import LakehouseTable
from tests.conftest import SF_SMOKE


@pytest.fixture
def max_records_10(spark):
    old = spark.conf.get("spark.sql.files.maxRecordsPerFile", "0")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "10")
    yield
    spark.conf.set("spark.sql.files.maxRecordsPerFile", old)


def _hundred(spark):
    return spark.createDataFrame(
        [(i, 0, float(i)) for i in range(1, 101)], "id int, seq int, v double"
    )


def test_bucketed_create_survives_max_records_per_file(
    spark, tmp_path, max_records_10
):
    """ADVICE r06 high repro: maxRecordsPerFile=10 makes every bucket
    task emit multiple part files sharing one part index. Pre-fix the
    manifest said rows=100 while read() returned ~30; now the collision
    guard routes the commit through the per-file harvest and every row
    survives."""
    t = LakehouseTable.create_bucketed(
        _hundred(spark),
        str(tmp_path / "b"),
        key="id",
        boundaries=[26, 51, 76],
        stats_cols=["id"],
        keys=["id"],
        version_col="seq",
    )
    man = t.manifest()
    assert man["rows"] == 100
    assert t.read().count() == 100
    # the manifest must list every file on disk (harvest path), and the
    # per-file row counts must sum to the total — no orphans
    assert sum(e["rows"] for e in man["file_list"]) == 100
    assert len(man["file_list"]) > 4  # >1 file per bucket proves the split
    # stats still usable for pruning: key 30 found via its span
    t.merge(
        spark.createDataFrame([(30, 1, 999.0)], "id int, seq int, v double"),
        ["id"],
        version_col="seq",
    )
    assert t.read().filter("id = 30").first().v == 999.0
    assert t.read().count() == 100


def test_bucketed_merge_rewrite_survives_max_records_per_file(
    spark, tmp_path, max_records_10
):
    """Same collision inside merge()'s bucketed rewrite path."""
    t = LakehouseTable.create(_hundred(spark), str(tmp_path / "t"), stats_cols=["id"])
    src = spark.createDataFrame(
        [(i, 1, float(-i)) for i in range(1, 101, 2)], "id int, seq int, v double"
    )
    t.merge(src, ["id"], version_col="seq")
    assert t.read().count() == 100
    assert t.read().filter("id = 51").first().v == -51.0
    man = t.manifest()
    assert sum(e["rows"] for e in man["file_list"]) == 100


def test_bucketed_write_orphan_file_at_empty_bucket_falls_back(
    spark, tmp_path, monkeypatch
):
    """ADVICE r06 low (symmetry): a part file at an index whose bucket
    is EMPTY (another bucket's rows routed onto it) must also trip the
    harvest fallback — the old per-index loop skipped empty buckets and
    never saw the orphan."""
    real = lh._hash_slots

    def swapped(n):
        out = list(real(n))
        if n >= 2:  # route bucket 0's rows onto partition 1's slot
            out[0] = out[1]
        return out

    monkeypatch.setattr(lh, "_hash_slots", swapped)
    lh._HASH_SLOT_MEMO.clear()
    try:
        # bucket 1 (ids 26..50) stays empty; bucket 0 lands on index 1
        df = spark.createDataFrame(
            [(i, 0, float(i)) for i in list(range(1, 26)) + list(range(51, 101))],
            "id int, seq int, v double",
        )
        t = LakehouseTable.create_bucketed(
            df,
            str(tmp_path / "o"),
            key="id",
            boundaries=[26, 51, 76],
            stats_cols=["id"],
        )
        man = t.manifest()
        assert man["rows"] == 75
        assert t.read().count() == 75
        assert sum(e["rows"] for e in man["file_list"]) == 75
    finally:
        lh._HASH_SLOT_MEMO.clear()


# -- source_intervals: footer-stat touched-file hints -------------------------


def test_merge_source_intervals_prunes_and_resolves(spark, tmp_path):
    """A complete [lo, hi] cover of the batch keys lets merge() find
    touched files by pure interval overlap — same result as the scan
    path, and untouched files carried by reference."""
    base = spark.createDataFrame(
        [(i, 0, float(i)) for i in range(1, 101)], "id int, seq int, v double"
    ).repartitionByRange(4, "id")
    t = LakehouseTable.create(base, str(tmp_path / "t"), stats_cols=["id"])
    src = spark.createDataFrame(
        [(5, 1, -5.0), (7, 1, -7.0)], "id int, seq int, v double"
    )
    t.merge(src, ["id"], version_col="seq", source_intervals=[(5, 7)])
    pruned, total = t.last_merge_pruned
    assert total == 4 and pruned >= 2  # only the low-key file(s) touched
    assert t.read().count() == 100
    assert t.read().filter("id = 5").first().v == -5.0
    assert t.read().filter("id = 7").first().v == -7.0
    assert t.read().filter("id = 50").first().v == 50.0


def test_merge_source_intervals_skips_the_batch_scan(spark, tmp_path):
    """With intervals supplied the touched-file pass must launch ZERO
    jobs over the source: boobytrap the batch's .agg (what the scan
    path calls) and assert the merge still completes."""
    base = spark.createDataFrame(
        [(i, 0, float(i)) for i in range(1, 101)], "id int, seq int, v double"
    ).repartitionByRange(4, "id")
    t = LakehouseTable.create(base, str(tmp_path / "t"), stats_cols=["id"])
    src = spark.createDataFrame([(3, 1, -3.0)], "id int, seq int, v double")
    src.agg = None  # the scan path would call source_df.agg(...) → TypeError
    t.merge(src, ["id"], version_col="seq", source_intervals=[(3, 3)])
    assert t.read().filter("id = 3").first().v == -3.0
    # and without the hint the boobytrap DOES trip — pins that the scan
    # path really goes through .agg, so the assertion above is meaningful
    src2 = spark.createDataFrame([(4, 1, -4.0)], "id int, seq int, v double")
    src2.agg = None
    with pytest.raises(TypeError):
        t.merge(src2, ["id"], version_col="seq")


def test_merge_source_intervals_statless_files_conservatively_touched(
    spark, tmp_path
):
    """A file with no stats on the key cannot be proven disjoint —
    interval pruning must treat it as touched."""
    base = spark.createDataFrame(
        [(i, 0, float(i)) for i in range(1, 51)], "id int, seq int, v double"
    )
    t = LakehouseTable.create(base, str(tmp_path / "t"), stats_cols=["v"])  # no id stats
    src = spark.createDataFrame([(10, 1, -10.0)], "id int, seq int, v double")
    t.merge(src, ["id"], version_col="seq", source_intervals=[(10, 10)])
    pruned, total = t.last_merge_pruned
    assert pruned == 0  # nothing provably disjoint
    assert t.read().filter("id = 10").first().v == -10.0
    assert t.read().count() == 50


# -- shared read-only fixture + snapshot scan ---------------------------------


def test_scan_accepts_version(spark, tmp_path):
    """scan(bounds, version=N) composes time travel with file skipping:
    the bounded read consults the HISTORICAL manifest."""
    base = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 101)], "id int, v double"
    ).repartitionByRange(4, "id")
    t = LakehouseTable.create(base, str(tmp_path / "t"), stats_cols=["id"])
    t.merge(
        spark.createDataFrame([(5, -5.0)], "id int, v double"), ["id"],
        update_cols=["v"],
    )
    assert t.scan({"id": (1, 10)}).filter("id = 5").first().v == -5.0
    assert t.scan({"id": (1, 10)}, version=1).filter("id = 5").first().v == 5.0
    # the bounded historical scan still prunes: high-key files unopened
    assert t.scan({"id": (1, 10)}, version=1).count() <= 25


def test_lakehouse_readonly_queries_share_one_fixture(spark):
    """j7/j8/j15 never mutate past v2, so they read ONE process-shared
    seeded table (VERDICT r06 next-step 7) instead of each paying
    create + merge + rm-rf per run."""
    from matt3r_data_ingestion_serverless_spark.plans import breadth_r69 as r69
    from matt3r_data_ingestion_serverless_spark.plans.breadth_r80 import (
        j15_lakehouse_snapshot_diff,
    )

    sf = "/root/testdata/sf0.001"
    r69._SHARED_MERGED.pop(sf, None)
    a = r69.j7_lakehouse_time_travel(spark, sf)
    root1 = r69._SHARED_MERGED[sf][1]
    b = r69.j8_lakehouse_file_skipping(spark, sf)
    c = j15_lakehouse_snapshot_diff(spark, sf)
    assert r69._SHARED_MERGED[sf][1] == root1  # no rebuild
    # all three still produce rows through the one fixture
    assert a.count() > 0 and b.count() > 0 and c.count() > 0
    # and the fixture survives the reads (read-only contract)
    import os

    assert os.path.isdir(root1)




def test_j6_scratch_dir_registered_before_the_merge_fails(spark, monkeypatch):
    """The lakehouse_ scratch dir is registered for removal when it is
    made, so a merge that raises still leaves nothing behind at exit."""
    import atexit
    import os
    import shutil

    from matt3r_data_ingestion_serverless_spark.plans.breadth_r69 import j6_lakehouse_merge

    registered = []
    monkeypatch.setattr(atexit, "register", lambda fn, *a, **kw: registered.extend(a[:1]))
    monkeypatch.setattr(LakehouseTable, "merge", lambda *a, **kw: 1 / 0)
    with pytest.raises(ZeroDivisionError):
        j6_lakehouse_merge(spark, SF_SMOKE)
    roots = [p for p in registered if os.path.basename(str(p)).startswith("lakehouse_")]
    assert len(roots) == 1 and os.path.isdir(roots[0])
    shutil.rmtree(roots[0])


def test_key_minmax_refuses_a_directory_layout(tmp_path):
    """One footer gives the merges' complete source_intervals cover; an
    orders.parquet directory must fail loudly instead."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from matt3r_data_ingestion_serverless_spark.plans.breadth_r69 import _key_minmax

    (tmp_path / "orders.parquet").mkdir()
    pq.write_table(pa.table({"o_orderkey": [1]}), tmp_path / "orders.parquet" / "part-0.parquet")
    with pytest.raises(ValueError, match="source_intervals"):
        _key_minmax(str(tmp_path))
