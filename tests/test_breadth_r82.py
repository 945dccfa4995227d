"""Brute-force property tests for plans/breadth_r82.py."""

from __future__ import annotations

import math
from collections import defaultdict

from matt3r_data_ingestion_serverless_spark.plans.breadth import session_window_gaps
from matt3r_data_ingestion_serverless_spark.plans.breadth_r82 import (
    _NN_RADIUS,
    _SEQ_CAP,
    geo_radius_nn_join,
    seq_edit_distance_drift,
    streamed_session_windows,
)
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_edit_drift_matches_bruteforce(spark):
    ev = load_table(spark, SF_SMOKE, "events").collect()
    days = defaultdict(list)
    for r in ev:
        days[(r.user_id, r.ts.date())].append((r.ts, r.event_id, r.event_type[0]))
    seqs = defaultdict(dict)
    for (u, d), recs in days.items():
        recs.sort()
        seqs[u][d] = "".join(ch for _, _, ch in recs)[:_SEQ_CAP]
    want = {}
    for u, byday in seqs.items():
        ds = sorted(byday)
        for prev_d, d in zip(ds, ds[1:]):
            a, b = byday[d], byday[prev_d]
            want[(u, d.strftime("%Y-%m-%d"))] = (len(a), len(b), _lev(a, b))
    got = {
        (r.user_id, r.day): (r.seq_len, r.prev_len, r.lev_dist)
        for r in seq_edit_distance_drift(spark, SF_SMOKE).collect()
    }
    assert got == want
    assert any(d > 0 for _, _, d in want.values())


def test_radius_nn_matches_bruteforce(spark):
    users = sorted(
        {r.user_id for r in load_table(spark, SF_SMOKE, "events").collect()}
    )
    pts = {
        u: (
            49.0 + (u * 2654435761 % 1000003) % 1000 / 1000.0,
            -123.0 + (u * 40503 % 65539) % 1000 / 1000.0,
        )
        for u in users
    }
    want = {}
    for u, (la, lo) in pts.items():
        best = None
        for v, (lb, lob) in pts.items():
            if v == u:
                continue
            d = math.sqrt((la - lb) ** 2 + (lo - lob) ** 2)
            if d <= _NN_RADIUS and (best is None or (d, v) < best):
                best = (d, v)
        if best:
            want[u] = best[1]
    got = {r.user_id: r.nn_id for r in geo_radius_nn_join(spark, SF_SMOKE).collect()}
    assert got == want
    assert want, "smoke corpus must contain at least one within-radius pair"


def test_streamed_sessions_equal_batch_session_window(spark):
    batch = {
        (r.user_id, r.session_start_us, r.session_end_us): r.n_events
        for r in session_window_gaps(spark, SF_SMOKE).collect()
    }
    streamed = {
        (r.user_id, r.session_start_us, r.session_end_us): r.n_events
        for r in streamed_session_windows(spark, SF_SMOKE).collect()
    }
    assert streamed == batch
