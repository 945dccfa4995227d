"""Round-7 batch 1: z-order clustering, metadata-only aggregation and
the z-ordered silver telemetry layout over the lakehouse table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from matt3r_data_ingestion_serverless_spark.plans.breadth_r69 import _key_range
from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.session import scratch_dir
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# Z-order clustering: multi-dimensional file skipping from 1-D stats
# ---------------------------------------------------------------------------

_ZORDER_BITS = 8  # 256x256 z-grid; z in [0, 65536)
_ZORDER_FILES = 16

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

_ZORDER_TABLES: dict[str, tuple] = {}


def _zorder_table(spark: SparkSession, sf_dir: str):
    """Process-shared z-clustered orders table: files are key-range
    buckets of z = morton(o_orderkey, o_custkey), so every file's
    manifest stats bound BOTH keys to a rectangle."""
    got = _ZORDER_TABLES.get(sf_dir)
    if got is not None:
        import os

        if os.path.isdir(got[1]):
            return got
    from pyspark.sql import functions as F

    from matt3r_data_ingestion_serverless_spark.functions.zorder import zorder2_scaled
    from matt3r_data_ingestion_serverless_spark.operators.lakehouse import (
        LakehouseTable,
    )

    lo1, hi1 = _key_range(sf_dir, "o_orderkey")
    lo2, hi2 = _key_range(sf_dir, "o_custkey")
    df = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus")
        .withColumn(
            "z",
            zorder2_scaled(
                F.col("o_orderkey"), lo1, hi1,
                F.col("o_custkey"), lo2, hi2,
                _ZORDER_BITS,
            ),
        )
    )
    zmax = 1 << (2 * _ZORDER_BITS)
    boundaries = [zmax * i // _ZORDER_FILES for i in range(1, _ZORDER_FILES)]
    root = scratch_dir("zorder_")
    tbl = LakehouseTable.create_bucketed(
        df,
        root,
        key="z",
        boundaries=boundaries,
        stats_cols=["z", "o_orderkey", "o_custkey"],
    )
    box = (
        (lo1, lo1 + (hi1 - lo1) // 8),
        (lo2, lo2 + (hi2 - lo2) // 8),
    )
    _ZORDER_TABLES[sf_dir] = (tbl, root, box)
    return _ZORDER_TABLES[sf_dir]


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
    pruning ratio itself is pinned in tests/test_breadth_r100.py
    (box of 1/64 of the key plane → a strict minority of the 16 files
    opened).

    Scale: the z-value is five shift-or-mask ops per key inside
    whole-stage codegen (no UDF); the write is the one-job exact-slot
    bucketed writer; the scan is manifest-stat pruning — at 100 TB the
    2-D box reads O(box-overlapping z-tiles), not O(table)."""
    from pyspark.sql import functions as F

    tbl, _root, box = _zorder_table(spark, sf_dir)
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
    from matt3r_data_ingestion_serverless_spark.plans.breadth_r69 import (
        _shared_merged_table,
    )

    tbl, _root, _cut = _shared_merged_table(spark, sf_dir)
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

_ZSIG_BITS = 8
_ZSIG_FILES = 16
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

_ZSIG_TABLES: dict[str, tuple] = {}


def _footer_ts_extent_utc(sf_dir: str) -> tuple[int, int]:
    """[t_lo, t_hi) whole-second extent of events.ts from the parquet
    footer row-group stats (zero Spark jobs, same stats discipline as
    j18's _key_range). Footer stat datetimes are naive UTC; calling
    .timestamp() on them naive applies the MACHINE timezone and shifts
    the extent off the UTC-epoch ts_sec domain on non-UTC hosts
    (ADVICE r08) — pin tzinfo=UTC explicitly, matching _zsig_window."""
    import os as _os
    from datetime import timezone as _tz

    import pyarrow.parquet as pq

    meta = pq.ParquetFile(_os.path.join(sf_dir, "events.parquet")).metadata
    idx = next(i for i in range(meta.num_columns) if meta.schema.column(i).name == "ts")
    stats = [
        meta.row_group(rg).column(idx).statistics for rg in range(meta.num_row_groups)
    ]
    t_lo = int(min(s.min for s in stats).replace(tzinfo=_tz.utc).timestamp())
    t_hi = int(max(s.max for s in stats).replace(tzinfo=_tz.utc).timestamp()) + 1
    return t_lo, t_hi


def _zsignals_table(spark: SparkSession, sf_dir: str):
    """Process-shared z-clustered telemetry table: files are key-range
    buckets of z = morton(device_hash, ts_sec), so each file's manifest
    stats bound a (device-hash x time) rectangle."""
    got = _ZSIG_TABLES.get(sf_dir)
    if got is not None:
        import os

        if os.path.isdir(got[1]):
            return got
    from pyspark.sql import functions as F

    from matt3r_data_ingestion_serverless_spark.functions.zorder import zorder2_scaled
    from matt3r_data_ingestion_serverless_spark.operators.lakehouse import (
        LakehouseTable,
    )

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
    t_lo, t_hi = _footer_ts_extent_utc(sf_dir)
    df = base.withColumn(
        "z",
        zorder2_scaled(
            F.col("device_hash"), 0, _ZSIG_HASH_MOD - 1,
            F.col("ts_sec"), t_lo, t_hi,
            _ZSIG_BITS,
        ),
    )
    zmax = 1 << (2 * _ZSIG_BITS)
    boundaries = [zmax * i // _ZSIG_FILES for i in range(1, _ZSIG_FILES)]
    root = scratch_dir("zsignals_")
    tbl = LakehouseTable.create_bucketed(
        df,
        root,
        key="z",
        boundaries=boundaries,
        stats_cols=["z", "device_hash", "ts_sec"],
    )
    # the cohort's hash points, from one bounded 3-row job (the hash is
    # a JVM expression; nothing data-sized is collected)
    hashes = {
        r.user_id: r.h
        for r in spark.createDataFrame(
            [(d,) for d in _ZSIG_DEVICES], "user_id long"
        )
        .select("user_id", F.pmod(F.xxhash64("user_id"), F.lit(_ZSIG_HASH_MOD)).cast("long").alias("h"))
        .collect()
    }
    _ZSIG_TABLES[sf_dir] = (tbl, root, hashes, (t_lo, t_hi))
    return _ZSIG_TABLES[sf_dir]


def _zsig_window() -> tuple[int, int]:
    from datetime import datetime, timezone

    to_s = lambda s: int(
        datetime.strptime(s, "%Y-%m-%d %H:%M:%S").replace(tzinfo=timezone.utc).timestamp()
    )
    return to_s(_ZSIG_T0), to_s(_ZSIG_T1)


@register("j20_telemetry_zorder_scan", _J20_SQL)
def j20_telemetry_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(device-set x time-range) signal read over the z-clustered
    telemetry layout: the cohort's per-device (device_hash point x
    week) bounds prune files as a DISJUNCTION — scan_any opens the
    deduped union of overlapping files in ONE reader (k point-lookups
    cost one scan job, not k scans + a union) — then the exact row
    filter and one aggregate. The oracle runs the same predicate over
    the raw events table — identical rows prove the pruned read lost
    nothing; tests/test_breadth_r100.py pins the pruning ratio (each
    point-scan opens a strict minority of the 16 files) and that the
    cohort union covers exactly.

    Scale: this is the reference's hot path at 100 TB — the z layout
    answers a device-cohort week from O(cohort x overlapping z-tiles)
    files, where a pure time layout reads the whole fleet's week and a
    pure device layout reads each device's full history."""
    from pyspark.sql import functions as F

    tbl, _root, hashes, _ext = _zsignals_table(spark, sf_dir)
    w0, w1 = _zsig_window()
    cohort = tbl.scan_any(
        [
            {"device_hash": (h, h), "ts_sec": (w0, w1 - 1)}
            for h in hashes.values()
        ]
    ).filter(
        F.col("user_id").isin(*_ZSIG_DEVICES)
        & (F.col("ts_sec") >= w0)
        & (F.col("ts_sec") < w1)
    )
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    return cohort.groupBy("event_type").agg(
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
    an exact residual scan — tests/test_breadth_r100.py pins <= 2 data
    files opened and boobytraps the full-table read. The oracle
    recomputes the count by scanning raw orders.

    Scale: a half-keyspace count at 100 TB is O(boundary files) = ~1
    file per range endpoint for a range-clustered layout, vs half the
    table for a scan — the same stats-fold as j19 but composable with
    arbitrary key-range predicates."""
    from pyspark.sql import functions as F

    from matt3r_data_ingestion_serverless_spark.plans.breadth_r69 import (
        _shared_merged_table,
    )

    tbl, _root, _cut = _shared_merged_table(spark, sf_dir)
    man = tbl.manifest(1)
    # the midpoint mirrors the oracle's subquery over RAW orders (the
    # table filters k % 4 <> 3, whose max may differ), so it comes from
    # the raw parquet footer — exact int64 stats, zero Spark jobs
    _, k_hi = _key_range(sf_dir, "o_orderkey")
    k_lo = min(e["stats"]["k"][0] for e in man["file_list"])
    mid = k_hi // 2
    full_rows, residual, _n_boundary = tbl.count_where_range("k", k_lo, mid, version=1)
    res = residual.filter(F.col("k") <= mid).agg(
        (F.count(F.lit(1)) + F.lit(full_rows)).cast("long").alias("n_rows")
    )
    return res


# ---------------------------------------------------------------------------
# z-ordered SILVER layout under a temporal operator (VERDICT r08 #7)
# ---------------------------------------------------------------------------

def _j22_sql() -> str:
    from matt3r_data_ingestion_serverless_spark.plans.telemetry import (
        STATIONARY_MIN_DUR_S,
        STATIONARY_THRESHOLD,
        STATIONARY_TRIM_S,
    )

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


def j22_zorder_silver_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 zero-run sessionization for a device cohort, read from the
    z-clustered SILVER telemetry table instead of the flat events scan
    (SURVEY §7.2 M6: the silver signals(device, ts) zone ships
    z-ordered with the scan_any read path under the W1/W2-shaped
    queries). The cohort's (device-hash point x week) bounds prune the
    morton-bucketed files as a disjunction; the exact row filter and
    the SAME stationary_intervals operator as w2_stationary_intervals
    run on the survivors — the silver layout carries exact ts_us, so
    the intervals are bit-identical to the flat-layout plan
    (tests/test_breadth_r100.py pins equality AND the pruning ratio).
    The oracle sessionizes the raw events table under the identical
    cohort/window predicate.

    Scale: this is the reference's W2 inference shaped for 100 TB —
    per-device weekly sessionization should open O(cohort x z-tiles)
    files, not the fleet's week (time layout) or each device's full
    history (device layout); the sessionization work after the prune
    is proportional to the cohort's rows only."""
    from pyspark.sql import functions as F

    from matt3r_data_ingestion_serverless_spark.operators.stationary import (
        stationary_intervals,
    )
    from matt3r_data_ingestion_serverless_spark.plans.telemetry import (
        STATIONARY_MIN_DUR_S,
        STATIONARY_THRESHOLD,
        STATIONARY_TRIM_S,
    )

    tbl, _root, hashes, _ext = _zsignals_table(spark, sf_dir)
    w0, w1 = _zsig_window()
    cohort = tbl.scan_any(
        [{"device_hash": (h, h), "ts_sec": (w0, w1 - 1)} for h in hashes.values()]
    ).filter(
        F.col("user_id").isin(*_ZSIG_DEVICES)
        & (F.col("ts_us") >= w0 * 1_000_000)
        & (F.col("ts_us") < w1 * 1_000_000)
    )
    sig = cohort.select(
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


register("j22_zorder_silver_stationary", _j22_sql())(j22_zorder_silver_stationary)
