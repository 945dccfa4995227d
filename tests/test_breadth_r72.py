"""Brute-force property tests for plans/breadth_r72.py."""

from __future__ import annotations

from collections import defaultdict

from matt3r_data_ingestion_serverless_spark.plans.breadth_r72 import (
    _SSJ_HORIZON_US,
    streamed_interval_join,
)
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def test_streamed_interval_join_matches_batch(spark):
    ev = load_table(spark, SF_SMOKE, "events").collect()
    signups, clicks = defaultdict(list), defaultdict(list)
    for r in ev:
        us = int(r.ts.timestamp() * 1e6)
        if r.event_type == "signup":
            signups[r.user_id].append(us)
        elif r.event_type == "click":
            clicks[r.user_id].append(us)
    gaps, users = [], set()
    for uid, ss in signups.items():
        for s in ss:
            for c in clicks.get(uid, []):
                if s < c <= s + _SSJ_HORIZON_US:
                    gaps.append(c - s)
                    users.add(uid)
    row = streamed_interval_join(spark, SF_SMOKE).collect()[0]
    assert row.n_pairs == len(gaps)
    assert row.n_users == len(users)
    assert row.sum_gap_us == (sum(gaps) if gaps else None)
    assert row.min_gap_us == (min(gaps) if gaps else None)
    assert row.max_gap_us == (max(gaps) if gaps else None)
    assert len(gaps) > 0  # the smoke SF must actually exercise the join
