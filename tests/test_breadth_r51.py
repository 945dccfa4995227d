"""Brute-force property tests for plans/breadth_r51.py."""

from __future__ import annotations

from collections import defaultdict

from matt3r_data_ingestion_serverless_spark.plans.breadth_r51 import _WF_GAP_US, window_funnel_depth
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def test_window_funnel_matches_python(spark):
    ev = load_table(spark, SF_SMOKE, "events").collect()
    per = defaultdict(lambda: defaultdict(list))
    for r in ev:
        if r.event_type in ("signup", "click", "purchase"):
            per[r.user_id][r.event_type].append(int(r.ts.timestamp() * 1e6))
    depth_counts = defaultdict(int)
    for uid, by_type in per.items():
        signups = sorted(by_type.get("signup", []))
        if not signups:
            continue
        clicks = sorted(by_type.get("click", []))
        purchases = sorted(by_type.get("purchase", []))
        good_clicks = [
            c for c in clicks if any(0 < c - s <= _WF_GAP_US for s in signups)
        ]
        depth = 1
        if good_clicks:
            depth = 2
            if any(
                any(0 < p - c <= _WF_GAP_US for c in good_clicks) for p in purchases
            ):
                depth = 3
        depth_counts[depth] += 1
    got = {r.depth: r.n_users for r in window_funnel_depth(spark, SF_SMOKE).collect()}
    assert got == dict(depth_counts)
    # total users with a signup reconciles
    assert sum(got.values()) == sum(1 for u in per.values() if u.get("signup"))
