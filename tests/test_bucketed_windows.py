"""The r05 scale fix (VERDICT r04 finding #1): the batch W1/W2 session
windows must partition by (device, DAY), not device alone, with
boundary-spanning runs stitched back together.

Three layers of proof:
  1. hypothesis differential: on random zero/moving sequences spanning
     several days (including runs that straddle midnight, all-zero
     days, and absent days), the bucketed plan == the legacy
     device-window plan row-for-row, with 2-3 devices interleaved on the
     same days and for day and hour buckets. Same for transitions.
  2. plan pins: the heavy window exchange's hashpartitioning key
     includes the date_trunc bucket for both operators.
  3. planted skew: one device holding 80 % of rows across 30 days
     still yields a bucketed exchange (one task sees one device-day,
     not the device's whole history) and identical results.
"""

from __future__ import annotations

import datetime

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.operators.autopilot import ap_transitions
from matt3r_data_ingestion_serverless_spark.operators.stationary import (
    stationary_intervals,
)

_settings = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)

_EPOCH = datetime.datetime(2024, 3, 1)

# A device's schedule is a list of days, each day a list of
# (second_of_day, is_zero) samples. Gaps between samples and whole
# missing days are the interesting part.
_day = st.lists(
    st.tuples(st.integers(0, 86_399), st.booleans()),
    min_size=0,
    max_size=14,
).map(lambda xs: sorted(set(xs)))
# one schedule per device: 2-3 devices interleaved on the same days, so
# the boundary-run partition (device, NULL, NULL) and the one-row
# interior partitions are exercised across keys
_fleet = st.lists(st.lists(_day, min_size=1, max_size=5), min_size=2, max_size=3)


def _rows(fleet, value):
    rows = []
    for i, schedule in enumerate(fleet):
        for d, day in enumerate(schedule):
            seen = set()
            for sec, x in day:
                if sec in seen:  # dedupe second-of-day collisions
                    continue
                seen.add(sec)
                ts = _EPOCH + datetime.timedelta(days=d, seconds=sec)
                rows.append((f"dev{i}", ts, value(x)))
    return rows


def _same_rows(bucketed, unbucketed):
    def key(r):
        return (r.device_id, r[1])

    got = sorted(bucketed.collect(), key=key)
    want = sorted(unbucketed.collect(), key=key)
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def _check_stationary(spark, fleet, bucket):
    rows = _rows(fleet, lambda z: 0.0 if z else 10.0)
    if not rows:
        return
    df = spark.createDataFrame(rows, "device_id string, ts timestamp, speed double")
    kw = dict(zero_threshold=0.0, min_duration_s=13.0, trim_s=3.0)
    _same_rows(
        stationary_intervals(df, bucket=bucket, **kw),
        stationary_intervals(df, bucket=None, **kw),
    )


@given(_fleet)
@_settings
def test_bucketed_stationary_equals_unbucketed(spark, fleet):
    _check_stationary(spark, fleet, "day")


@given(_fleet)
@_settings
def test_hour_bucketed_stationary_equals_unbucketed(spark, fleet):
    _check_stationary(spark, fleet, "hour")


_codes = st.lists(
    st.tuples(st.integers(0, 86_399), st.integers(0, 4)),
    min_size=0,
    max_size=14,
).map(lambda xs: sorted(set(xs)))
_code_fleet = st.lists(
    st.lists(_codes, min_size=1, max_size=5), min_size=2, max_size=3
)


def _check_transitions(spark, fleet, bucket):
    rows = _rows(fleet, lambda c: c if c != 4 else None)  # None = unmapped
    if not rows:
        return
    df = spark.createDataFrame(rows, "device_id string, ts timestamp, code int")
    _same_rows(ap_transitions(df, bucket=bucket), ap_transitions(df, bucket=None))


@given(_code_fleet)
@_settings
def test_bucketed_transitions_equal_unbucketed(spark, fleet):
    _check_transitions(spark, fleet, "day")


@given(_code_fleet)
@_settings
def test_hour_bucketed_transitions_equal_unbucketed(spark, fleet):
    _check_transitions(spark, fleet, "hour")


def test_null_last_code_blocks_next_buckets_engagement(spark):
    # the first day ends on an unmapped (NULL) code; the next day opens
    # on ACTIVE_NOMINAL: its predecessor is NULL, not the earlier 2
    day = datetime.timedelta(days=1)
    rows = [
        ("dev", _EPOCH + datetime.timedelta(hours=9), 2),
        ("dev", _EPOCH + datetime.timedelta(hours=10), None),
        ("dev", _EPOCH + day + datetime.timedelta(hours=1), 3),
    ]
    df = spark.createDataFrame(rows, "device_id string, ts timestamp, code int")
    assert ap_transitions(df, bucket="day").collect() == []
    assert ap_transitions(df, bucket=None).collect() == []


def _executed_plan(df) -> str:
    df.count()  # let AQE finalize
    return df._jdf.queryExecution().executedPlan().toString()


def _skew_df(spark):
    """One device holds 80 % of rows, spread over 30 days; 4 small
    devices hold the rest. Runs deliberately straddle midnights."""
    hot = spark.range(24_000).select(
        F.lit("hot").alias("device_id"),
        (
            F.timestamp_seconds(
                F.lit(1_709_251_200) + (F.col("id") * 100) % (30 * 86_400)
            )
        ).alias("ts"),
        F.when((F.col("id") % 7) < 3, 0.0).otherwise(9.0).alias("speed"),
    )
    cold = spark.range(6_000).select(
        F.concat(F.lit("c"), (F.col("id") % 4).cast("string")).alias("device_id"),
        F.timestamp_seconds(F.lit(1_709_251_200) + F.col("id") * 37).alias("ts"),
        F.when((F.col("id") % 5) < 2, 0.0).otherwise(9.0).alias("speed"),
    )
    return hot.unionByName(cold).dropDuplicates(["device_id", "ts"])


def test_stationary_window_keyed_by_device_day(spark):
    df = _skew_df(spark)
    out = stationary_intervals(df, min_duration_s=150.0, trim_s=3.0)
    plan = _executed_plan(out)
    # the sample-level window exchange must hash on (device, bucket)
    assert "hashpartitioning(device_id" in plan, plan
    import re

    window_keys = re.findall(
        r"hashpartitioning\(device_id#\d+,\s*_bkt#\d+", plan
    )
    assert window_keys, f"no (device_id, _bkt) exchange in plan:\n{plan}"


def test_transitions_window_keyed_by_device_day(spark):
    df = _skew_df(spark).withColumn("code", (F.col("speed") / 3).cast("int"))
    out = ap_transitions(df)
    plan = _executed_plan(out)
    import re

    assert re.search(r"hashpartitioning\(device_id#\d+,\s*_bkt#\d+", plan), plan


def test_planted_skew_results_match_legacy(spark):
    df = _skew_df(spark)
    kw = dict(min_duration_s=150.0, trim_s=3.0)
    got = sorted(
        map(tuple, stationary_intervals(df, **kw).collect()),
    )
    want = sorted(
        map(tuple, stationary_intervals(df, bucket=None, **kw).collect()),
    )
    assert got == want and len(got) > 0
