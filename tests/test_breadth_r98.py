"""Brute-force property tests for plans/breadth_r98.py."""

from __future__ import annotations

import datetime as dt
import math
from collections import defaultdict

from matt3r_data_ingestion_serverless_spark.plans.breadth_r98 import (
    _BOOST_NU,
    _SPLIT,
    ml_boosting_two_stumps,
)
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def _fit_stump(pts):
    """pts: list of (x, uid, r) — returns (thr, mean_l, mean_r, sse)."""
    pts = sorted(pts)
    n = len(pts)
    tr = sum(r for _, _, r in pts)
    trr = sum(r * r for _, _, r in pts)
    best = None
    cr = crr = 0.0
    for i in range(1, n):
        cr += pts[i - 1][2]
        crr += pts[i - 1][2] ** 2
        if pts[i][0] == pts[i - 1][0]:
            continue
        sse = (crr - cr * cr / i) + ((trr - crr) - (tr - cr) ** 2 / (n - i))
        key = (math.floor(sse * 1e6 + 0.5), pts[i - 1][0])
        if best is None or key < best[0]:
            best = (key, (pts[i - 1][0] + pts[i][0]) / 2, cr / i, (tr - cr) / (n - i))
    return best[1], best[2], best[3]


def test_boosting_matches_python_and_rmse_decreases(spark):
    ev = load_table(spark, SF_SMOKE, "events").collect()
    split = dt.datetime.fromisoformat(_SPLIT)
    agg = defaultdict(lambda: [0, 0])
    for r in ev:
        c = math.floor(r.value * 100 + 0.5)
        agg[r.user_id][0 if r.ts < split else 1] += c
    pts = [(v[0] / 100, u, v[1] / 100) for u, v in agg.items()]
    f0 = sum(y for _, _, y in pts) / len(pts)
    res = [(x, u, y - f0) for x, u, y in pts]
    rmses = [math.sqrt(sum(r * r for _, _, r in res) / len(res))]
    thrs = []
    for _ in range(2):
        thr, ml, mr = _fit_stump(res)
        thrs.append(thr)
        res = [
            (x, u, r - _BOOST_NU * (ml if x <= thr else mr)) for x, u, r in res
        ]
        rmses.append(math.sqrt(sum(r * r for _, _, r in res) / len(res)))
    row = ml_boosting_two_stumps(spark, SF_SMOKE).collect()[0]
    assert math.isclose(row.thr1_r, thrs[0], abs_tol=1e-6)
    assert math.isclose(row.thr2_r, thrs[1], abs_tol=1e-6)
    assert math.isclose(row.rmse_base_r, rmses[0], abs_tol=1e-5)
    assert math.isclose(row.rmse_after1_r, rmses[1], abs_tol=1e-5)
    assert math.isclose(row.rmse_after2_r, rmses[2], abs_tol=1e-5)
    assert rmses[0] >= rmses[1] >= rmses[2]
