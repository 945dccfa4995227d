"""Brute-force property tests for plans/breadth_r95.py."""

from __future__ import annotations

import datetime as dt
import math
from collections import defaultdict

from matt3r_data_ingestion_serverless_spark.plans.breadth_r95 import (
    _IRLS_SPLIT,
    _IRLS_STEPS,
    _IRLS_XSCALE,
    exact_median_bisection,
    ml_logreg_irls_2steps,
)
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def test_median_bisection_matches_sorted(spark):
    ev = load_table(spark, SF_SMOKE, "events").collect()
    cents = sorted(
        int(math.floor(r.value * 100 + 0.5)) for r in ev if r.value is not None
    )
    target = math.ceil(len(cents) / 2.0)
    want = cents[target - 1]  # lower median
    row = exact_median_bisection(spark, SF_SMOKE).collect()[0]
    assert (row.median_cents, row.n_values) == (want, len(cents))


def test_irls_matches_python_newton(spark):
    ev = load_table(spark, SF_SMOKE, "events").collect()
    split = dt.datetime.fromisoformat(_IRLS_SPLIT)
    agg = defaultdict(lambda: [0.0, 0])
    for r in ev:
        c = math.floor(r.value * 100 + 0.5)
        a = agg[r.user_id]
        if r.ts < split:
            a[0] += c
        elif r.event_type == "purchase":
            a[1] += 1
    pts = [(v[0] / _IRLS_XSCALE, 1 if v[1] >= 3 else 0) for v in agg.values()]
    b0 = b1 = 0.0
    for _ in range(_IRLS_STEPS):
        w00 = w01 = w11 = g0 = g1 = 0.0
        for x, y in pts:
            mu = 1.0 / (1.0 + math.exp(-(b0 + b1 * x)))
            w = mu * (1 - mu)
            w00 += w
            w01 += w * x
            w11 += w * x * x
            g0 += y - mu
            g1 += (y - mu) * x
        det = w00 * w11 - w01 * w01
        b0 += (w11 * g0 - w01 * g1) / det
        b1 += (w00 * g1 - w01 * g0) / det
    row = ml_logreg_irls_2steps(spark, SF_SMOKE).collect()[0]
    assert row.n_users == len(pts)
    assert row.n_pos == sum(y for _, y in pts)
    assert math.isclose(row.beta0_r, b0, abs_tol=1e-5)
    assert math.isclose(row.beta1_r, b1, abs_tol=1e-5)
    # two Newton steps must improve the log-likelihood over beta = 0
    def ll(bb0, bb1):
        tot = 0.0
        for x, y in pts:
            z = bb0 + bb1 * x
            tot += y * z - math.log(1 + math.exp(z))
        return tot

    assert ll(b0, b1) > ll(0.0, 0.0)
