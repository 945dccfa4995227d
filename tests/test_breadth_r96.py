"""Brute-force property tests for plans/breadth_r96.py."""

from __future__ import annotations

import datetime as dt
import math
from collections import defaultdict

from matt3r_data_ingestion_serverless_spark.plans.breadth_r96 import (
    _FD_CANDIDATES,
    dq_functional_dependencies,
    ops_business_days_leadtime,
)
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def _bdays_brute(d1: dt.date, d2: dt.date) -> int:
    n, d = 0, d1
    while d < d2:
        d += dt.timedelta(days=1)
        if d.isoweekday() <= 5:
            n += 1
    return n


def test_business_days_match_per_day_count(spark):
    # linenumber 1 is NOT unique per order in the synthetic data —
    # keep every matching line, exactly like the join
    li = defaultdict(list)
    for r in load_table(spark, SF_SMOKE, "lineitem").collect():
        if r.l_linenumber == 1:
            li[r.l_orderkey].append(r.l_shipdate.date())
    orders = load_table(spark, SF_SMOKE, "orders").collect()
    agg = defaultdict(list)
    for r in orders:
        d1 = r.o_orderdate.date()
        for d2 in li.get(r.o_orderkey, ()):
            if d2 > d1:
                agg[r.o_orderpriority].append(_bdays_brute(d1, d2))
    got = {
        r.priority: (r.n, r.min_bdays, r.max_bdays, r.avg_bdays_r)
        for r in ops_business_days_leadtime(spark, SF_SMOKE).collect()
    }
    assert set(got) == set(agg)
    for p, xs in agg.items():
        n, mn, mx, avg = got[p]
        assert (n, mn, mx) == (len(xs), min(xs), max(xs))
        assert math.isclose(avg, sum(xs) / len(xs), abs_tol=1e-6)


def test_bdays_formula_on_synthetic_edge_cases(spark):
    """Every (start weekday, span ≤ 21 days) combination against the
    per-day loop — incl. the Sunday-start week that breaks a
    thresholds-only correction."""
    from pyspark.sql import functions as F

    base = dt.date(2024, 1, 1)  # a Monday
    rows = [
        (base + dt.timedelta(days=s), base + dt.timedelta(days=s + n))
        for s in range(7)
        for n in range(1, 22)
    ]
    df = spark.createDataFrame(rows, "d1 date, d2 date")
    diff = F.datediff("d2", "d1").cast("long")
    isodow1 = ((F.dayofweek("d1") + 5) % 7) + 1
    rem = diff % 7
    weekend_hits = (
        F.when((isodow1 < 6) & (isodow1 + rem >= 6), 1).otherwise(0)
        + F.when((isodow1 < 7) & (isodow1 + rem >= 7), 1).otherwise(0)
        + F.when(isodow1 + rem >= 13, 1).otherwise(0)
    )
    bdays = F.floor(diff / 7) * 5 + rem - weekend_hits
    got = df.select("d1", "d2", bdays.alias("b")).collect()
    for r in got:
        assert r.b == _bdays_brute(r.d1, r.d2), (r.d1, r.d2, r.b)


def test_functional_dependencies_match_python(spark):
    ev = load_table(spark, SF_SMOKE, "events").collect()
    got = {
        (r.lhs, r.rhs): (r.n_keys, r.n_violating, r.holds)
        for r in dq_functional_dependencies(spark, SF_SMOKE).collect()
    }
    assert set(got) == set(_FD_CANDIDATES)
    for a, b in _FD_CANDIDATES:
        vals = defaultdict(set)
        for r in ev:
            vals[getattr(r, a)].add(getattr(r, b))
        viol = sum(1 for s in vals.values() if len(s) > 1)
        assert got[(a, b)] == (len(vals), viol, viol == 0)
    assert got[("event_id", "user_id")][2] is True
    assert got[("user_id", "event_type")][2] is False
