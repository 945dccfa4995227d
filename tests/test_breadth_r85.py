"""Brute-force property tests for plans/breadth_r85.py."""

from __future__ import annotations

import datetime as dt
import math
from collections import defaultdict

from matt3r_data_ingestion_serverless_spark.plans.breadth_r85 import (
    _FOLLOW_GAP_US,
    _QTE_PS,
    ab_quantile_treatment_effect,
    seq_followed_by_matrix,
)
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def test_qte_matches_python_interpolated_quantiles(spark):
    ev = load_table(spark, SF_SMOKE, "events").collect()
    spend = defaultdict(int)
    for r in ev:
        spend[r.user_id] += int(math.floor(r.value * 100 + 0.5))

    def quantile(xs, p):
        xs = sorted(xs)
        h = (len(xs) - 1) * p
        lo = int(math.floor(h))
        hi = min(lo + 1, len(xs) - 1)
        return xs[lo] + (h - lo) * (xs[hi] - xs[lo])

    control = [v for u, v in spend.items() if u % 2 == 0]
    treat = [v for u, v in spend.items() if u % 2 == 1]
    got = {r.p: r for r in ab_quantile_treatment_effect(spark, SF_SMOKE).collect()}
    assert set(got) == set(_QTE_PS)
    for p in _QTE_PS:
        qa, qb = quantile(control, p), quantile(treat, p)
        assert math.isclose(got[p].q_control_r, qa / 100, abs_tol=1e-6)
        assert math.isclose(got[p].q_treat_r, qb / 100, abs_tol=1e-6)
        assert math.isclose(got[p].qte_r, (qb - qa) / 100, abs_tol=1e-6)


def test_followed_by_matches_bruteforce(spark):
    ev = load_table(spark, SF_SMOKE, "events").collect()
    by_user = defaultdict(list)
    for r in ev:
        us = int(r.ts.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)
        by_user[r.user_id].append((us, r.event_type))
    pairs = defaultdict(int)
    users = defaultdict(set)
    for u, evs in by_user.items():
        for ua, ta in evs:
            for ub, tb in evs:
                if ua < ub <= ua + _FOLLOW_GAP_US:
                    pairs[(ta, tb)] += 1
                    users[(ta, tb)].add(u)
    got = {
        (r.type_a, r.type_b): (r.n_pairs, r.n_users)
        for r in seq_followed_by_matrix(spark, SF_SMOKE).collect()
    }
    want = {k: (v, len(users[k])) for k, v in pairs.items()}
    assert got == want
    assert want, "smoke events must contain within-hour followers"
