"""Brute-force property tests for plans/breadth_r23.py."""

from __future__ import annotations

import math
from collections import defaultdict

from matt3r_data_ingestion_serverless_spark.plans.breadth_r23 import (
    data_completeness_grid,
    sql_named_window,
)
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def _round6(x: float) -> float:
    return math.copysign(math.floor(abs(x) * 1e6 + 0.5) / 1e6, x)


def test_completeness_grid_matches_python(spark):
    ev = load_table(spark, SF_SMOKE, "events").collect()
    hours = defaultdict(set)
    counts = defaultdict(int)
    for r in ev:
        key = (r.event_type, r.ts.strftime("%Y-%m-%d"))
        hours[key].add(r.ts.hour)
        counts[key] += 1
    spans = defaultdict(lambda: [None, None])
    for et, day in hours:
        s = spans[et]
        s[0] = day if s[0] is None else min(s[0], day)
        s[1] = day if s[1] is None else max(s[1], day)
    got = {
        (r.event_type, r.day): r for r in data_completeness_grid(spark, SF_SMOKE).collect()
    }
    assert set(got) == set(hours)
    for key, hs in hours.items():
        r = got[key]
        assert (r.hours_present, r.hours_missing, r.n_events) == (
            len(hs),
            24 - len(hs),
            counts[key],
        ), key
        assert r.is_edge_day == (key[1] in spans[key[0]])


def test_named_window_top100_matches_python(spark):
    o = load_table(spark, SF_SMOKE, "orders").collect()
    spend = defaultdict(int)
    for r in o:
        spend[r.o_custkey] += int(math.floor(abs(r.o_totalprice) * 100 + 0.5))
    ordered = sorted(spend.items(), key=lambda kv: (-kv[1], kv[0]))
    got = {r.o_custkey: r for r in sql_named_window(spark, SF_SMOKE).collect()}
    # rank() with the custkey tie-break over exact cents is row_number
    expected = ordered[:100]
    assert set(got) == {k for k, _ in expected}
    prev_cents = None
    for i, (ck, cents) in enumerate(expected):
        r = got[ck]
        assert r.cents == cents
        assert r.spend_rank == i + 1
        assert r.next_lower_cents == prev_cents, ck  # lag in DESC order
        prev_cents = cents
