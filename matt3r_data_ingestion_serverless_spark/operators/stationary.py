"""Zero-run sessionization → stationary intervals (SURVEY.md §2.5 W2).

Reference semantics (infer_stationary_states.py:81-106): scan the speed
series in time order; find maximal runs where speed == 0; a run whose
duration (last_ts - first_ts) is >= 13 s emits the interval
[first_ts + 3 s, last_ts - 3 s]. The reference leaves durations in
(12, 13) s untested (`<= 12` continues, `>= 13` emits); we pin the
intended semantics: emit iff duration >= min_duration.

Spark-first shape, and the 100×-scale fix (VERDICT r04 finding #1):
the naive plan windows by device alone, so one device's ENTIRE history
is a single sort in a single task — a multi-year backfill funnels
10^8-10^9 rows through one core. Instead we sessionize within
(device, day) buckets — matching the silver partition layout
(SCALE.md §1) — and stitch runs that span bucket boundaries. The plan
is one scan and two exchanges:

    stage 1 (exchange 1, keyed (device, DAY)): one ordered window gives
        the run ids and whether each run holds the bucket's first /
        last sample (open_start / open_end); one aggregate gives one
        row per run, zero or moving
    stage 2 (exchange 2, keyed (device, _pb, _pr)): _pb/_pr are the
        run's bucket and run id for an INTERIOR run (open at neither
        end) and NULL for a boundary run. So each interior run is a
        partition of its own, and a device's boundary runs — the first
        and last run of each bucket, at most 2 per device-day — share
        the partition (device, NULL, NULL), ordered by start. There the
        row before a run open at its bucket's start is the last run of
        the device's previous data-bearing bucket. The running count of
        rows that are NOT (zero and open at start) numbers the chains,
        so such a zero run joins the chain of the row before it. If
        that row is a zero run, the two are one run of the series (an
        all-zero day is one run open at both ends and chains straight
        through). If it is a moving run, the chain is the moving run
        plus the zero run; moving runs are dropped after the window,
        so the zero run stands alone (a moving boundary sample breaks
        the chain). The groupBy on (device, _pb, _pr, chain) needs no
        further exchange: the window's hash partitioning satisfies it.

The heavy window is keyed by (device, day): max task input is one
device-day, regardless of total history length. The boundary partition
is keyed by device but holds <= 2 rows per device-day — bounded by days
of history (~10^3-10^4 rows/device at 100 TB), not by sample count.
Duration filter and trim run AFTER stitching so a run spanning
midnight still qualifies on its full length. Nothing is persisted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stationary_intervals(
    df: DataFrame,
    key: str = "device_id",
    ts: str = "ts",
    speed: str = "speed",
    *,
    zero_threshold: float = 0.0,
    min_duration_s: float = 13.0,
    trim_s: float = 3.0,
    bucket: str | None = "day",
) -> DataFrame:
    """Emit one row per qualifying stationary interval.

    Input:  key, ts (timestamp), speed (double).
    Output: key, start_us, end_us, duration_s — interval boundaries as
    epoch microseconds (integer, hash-stable) already trimmed by
    ``trim_s`` on each side.

    ``zero_threshold`` generalizes the reference's ``speed == 0``: a
    sample is "stationary" when speed <= zero_threshold (0.0 reproduces
    the reference; the synthetic events table has no exact zeros).

    ``bucket`` is the date_trunc granularity of the scale-out
    partitioning ("day"/"hour"/...); ``bucket=None`` falls back to the
    single-window-per-device plan (kept for differential testing —
    results are identical by construction, see
    tests/test_bucketed_windows.py).
    """
    is_zero = f"CAST({speed} <= {float(zero_threshold)!r}D AS INT) AS _z"
    if bucket is None:
        w = f"PARTITION BY {key} ORDER BY {ts}"
        runs = (
            df.selectExpr(key, ts, f"unix_micros({ts}) AS _us", is_zero)
            .selectExpr("*", f"CAST(lag(_z, 1, -1) OVER ({w}) <> _z AS INT) AS _chg")
            .selectExpr("*", f"sum(_chg) OVER ({w}) AS _run")
            .where("_z = 1")
            .groupBy(key, "_run")
            .agg(F.expr("min(_us) AS _s"), F.expr("max(_us) AS _e"))
        )
    else:
        w = f"PARTITION BY {key}, _bkt ORDER BY {ts}"
        ws = f"PARTITION BY {key}, _pb, _pr ORDER BY _s"
        runs = (
            df.selectExpr(
                key, ts, f"date_trunc('{bucket}', {ts}) AS _bkt",
                f"unix_micros({ts}) AS _us", is_zero,
            )
            # Stage 1: the only exchange that sees raw samples; its
            # partition key includes the date bucket. lag/lead share one
            # WindowExec with the run-id lag.
            .selectExpr(
                "*",
                f"lag(_us) OVER ({w}) IS NULL AS _first",
                f"lead(_us) OVER ({w}) IS NULL AS _last",
                f"CAST(lag(_z, 1, -1) OVER ({w}) <> _z AS INT) AS _chg",
            )
            .selectExpr("*", f"sum(_chg) OVER ({w}) AS _run")
            .groupBy(key, "_bkt", "_run")
            .agg(
                F.expr("min(_us) AS _s"),
                F.expr("max(_us) AS _e"),
                F.expr("max(_z) AS _z"),
                F.expr("max(_first) OR max(_last) AS _open"),
                F.expr("max(_first) AS _open_start"),
            )
            # an interior moving run can never join a zero chain
            .where("_z = 1 OR _open")
            # Stage 2: see the module docstring
            .selectExpr(
                key, "_s", "_e", "_z", "_open_start",
                "IF(_open, NULL, _bkt) AS _pb",
                "IF(_open, NULL, _run) AS _pr",
            )
            .selectExpr(
                "*",
                f"sum(IF(_z = 1 AND _open_start, 0, 1)) OVER ({ws} ROWS UNBOUNDED PRECEDING)"
                " AS _grp",
            )
            # after the window: a zero run that follows a moving one
            # shares its chain number, and must stand alone
            .where("_z = 1")
            .groupBy(key, "_pb", "_pr", "_grp")
            .agg(F.expr("min(_s) AS _s"), F.expr("max(_e) AS _e"))
        )

    trim_us = int(trim_s * 1_000_000)
    min_dur_us = int(min_duration_s * 1_000_000)
    return runs.where(f"_e - _s >= {min_dur_us}").selectExpr(
        key,
        f"_s + {trim_us} AS start_us",
        f"_e - {trim_us} AS end_us",
        "round((_e - _s) / 1e6, 6) AS duration_s",
    )
