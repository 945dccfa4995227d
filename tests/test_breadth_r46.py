"""Brute-force property tests for plans/breadth_r46.py."""

from __future__ import annotations

import math
from collections import defaultdict

from matt3r_data_ingestion_serverless_spark.plans.breadth_r46 import (
    ml_expected_calibration_error,
    position_based_attribution,
)
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def _round6(x: float) -> float:
    return math.copysign(math.floor(abs(x) * 1e6 + 0.5) / 1e6, x)


def test_position_attribution_matches_and_conserves(spark):
    ev = load_table(spark, SF_SMOKE, "events").collect()
    seqs = defaultdict(list)
    conv = defaultdict(int)
    for r in ev:
        seqs[r.user_id].append((r.ts, r.event_id, r.event_type))
        if r.event_type == "purchase":
            conv[r.user_id] += int(math.floor(r.value * 100 + 0.5))
    credit = defaultdict(lambda: [0, 0])
    for uid, rows in seqs.items():
        if uid not in conv:
            continue
        c = conv[uid]
        ordered = [t for _, _, t in sorted(rows)]
        n = len(ordered)
        for rn, et in enumerate(ordered, start=1):
            if n == 1:
                share = c * 1000
            elif n == 2:
                share = c * 500
            elif rn in (1, n):
                share = c * 400
            else:
                share = (c * 200) // (n - 2) + ((c * 200) % (n - 2) if rn == 2 else 0)
            cell = credit[et]
            cell[0] += 1
            cell[1] += share
    got = {r.event_type: r for r in position_based_attribution(spark, SF_SMOKE).collect()}
    assert set(got) == set(credit)
    for et, (n, s) in credit.items():
        assert (got[et].n_touches, got[et].credit_millicents) == (n, s)
    # conservation: total credit == 1000x total conversion cents
    assert sum(r.credit_millicents for r in got.values()) == 1000 * sum(conv.values())


def test_ece_matches_python_and_bins(spark):
    ev = load_table(spark, SF_SMOKE, "events").collect()
    bins = defaultdict(lambda: [0, 0, 0])
    for r in ev:
        score = 1.0 / (1.0 + math.exp(-(r.value - 50.0) / 25.0))
        micro = int(math.floor(score * 1e6 + 0.5))
        b = min(micro // 100000, 9)
        cell = bins[b]
        cell[0] += 1
        cell[1] += r.event_type == "purchase"
        cell[2] += micro
    total = sum(c[0] for c in bins.values())
    wg = sum(n * (abs(sm - pos * 1000000) // n) for n, pos, sm in bins.values())
    row = ml_expected_calibration_error(spark, SF_SMOKE).collect()[0]
    assert (row.n_rows, row.n_bins, row.weighted_gap_micro) == (total, len(bins), wg)
    assert abs(row.ece - _round6(wg / total / 1e6)) <= 1e-6
    assert 0.0 <= row.ece <= 1.0
