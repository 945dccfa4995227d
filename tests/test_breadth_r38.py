"""Brute-force property tests for plans/breadth_r38.py."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

from matt3r_data_ingestion_serverless_spark.plans.breadth_r38 import (
    cumulative_unique_users,
    hodges_lehmann_shift,
)
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def test_hodges_lehmann_matches_python(spark):
    ev = load_table(spark, SF_SMOKE, "events").collect()
    daily = defaultdict(lambda: defaultdict(int))
    for r in ev:
        if r.event_type in ("purchase", "click"):
            daily[r.event_type][r.ts.strftime("%Y-%m-%d")] += int(
                math.floor(r.value * 100 + 0.5)
            )
    p = list(daily["purchase"].values())
    c = list(daily["click"].values())
    diffs = sorted(a - b for a in p for b in c)
    n = len(diffs)
    row = hodges_lehmann_shift(spark, SF_SMOKE).collect()[0]
    assert row.n_pairs == n
    assert row.hl_lo_cents == diffs[(n + 1) // 2 - 1]
    assert row.hl_hi_cents == diffs[n // 2]
    assert row.min_diff == diffs[0]
    assert row.max_diff == diffs[-1]
    assert row.hl_lo_cents <= row.hl_hi_cents


def test_cumulative_users_matches_python(spark):
    ev = load_table(spark, SF_SMOKE, "events").collect()
    first = {}
    for r in ev:
        d = r.ts.strftime("%Y-%m-%d")
        if r.user_id not in first or d < first[r.user_id]:
            first[r.user_id] = d
    new_users = Counter(first.values())
    rows = sorted(cumulative_unique_users(spark, SF_SMOKE).collect(), key=lambda r: r.day)
    assert [r.day for r in rows] == sorted(new_users)
    cum = 0
    for r in rows:
        assert r.new_users == new_users[r.day]
        cum += r.new_users
        assert r.cum_users == cum
    assert rows[-1].cum_users == len(first)
