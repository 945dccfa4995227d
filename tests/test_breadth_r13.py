"""Brute-force property tests for plans/breadth_r13.py."""

from __future__ import annotations

import math
from collections import defaultdict

from matt3r_data_ingestion_serverless_spark.plans.breadth_r13 import ts_numerical_derivative
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def _round6(x: float) -> float:
    return math.copysign(math.floor(abs(x) * 1e6 + 0.5) / 1e6, x)


def test_derivative_matches_python(spark):
    ev = load_table(spark, SF_SMOKE, "events").collect()
    tracks = defaultdict(list)
    for r in ev:
        if r.event_type != "view":
            continue
        cents = int(math.floor(abs(r.value) * 100 + 0.5)) * (1 if r.value >= 0 else -1)
        tracks[r.user_id].append(
            (int(r.ts.timestamp() * 1_000_000), r.event_id, cents)
        )
    expected = {}
    for uid, pts in tracks.items():
        pts.sort(key=lambda t: (t[0], t[1]))
        for i in range(1, len(pts) - 1):
            t_prev, _, c_prev = pts[i - 1]
            t_us, eid, _ = pts[i]
            t_next, _, c_next = pts[i + 1]
            if t_next > t_prev:
                d = (c_next - c_prev) * 864.0 / ((t_next - t_prev) / 100000000.0)
                expected[(uid, eid)] = _round6(d)
    got = {
        (r.user_id, r.event_id): r.deriv_per_day
        for r in ts_numerical_derivative(spark, SF_SMOKE).collect()
    }
    assert set(got) == set(expected)
    for k, v in expected.items():
        assert abs(got[k] - v) < 1e-9, k


def test_pot_tail_matches_python(spark):
    from matt3r_data_ingestion_serverless_spark.plans.breadth_r13 import (
        ts_pot_tail_analysis,
    )

    ev = load_table(spark, SF_SMOKE, "events").collect()
    by_type = defaultdict(list)
    for r in ev:
        cents = int(math.floor(abs(r.value) * 100 + 0.5)) * (1 if r.value >= 0 else -1)
        by_type[r.event_type].append(cents)
    got = {r.event_type: r for r in ts_pot_tail_analysis(spark, SF_SMOKE).collect()}
    for et, vals in by_type.items():
        vals.sort()
        u = vals[math.ceil(0.99 * len(vals)) - 1]
        exceed = [v for v in vals if v > u]
        if not exceed:
            assert et not in got
            continue
        r = got[et]
        assert (r.threshold_cents, r.n_exceed, r.max_cents) == (
            u,
            len(exceed),
            max(exceed),
        ), et
        assert r.total_excess_cents == sum(v - u for v in exceed)
        assert abs(
            r.mean_excess_cents - _round6(sum(v - u for v in exceed) / len(exceed))
        ) < 1e-9


def test_spc_limits_match_python(spark):
    from matt3r_data_ingestion_serverless_spark.plans.breadth_r13 import (
        ts_spc_control_chart,
    )

    ev = load_table(spark, SF_SMOKE, "events").collect()
    daily = defaultdict(lambda: defaultdict(int))
    for r in ev:
        v = int(math.floor(abs(r.value) + 0.5)) * (1 if r.value >= 0 else -1)
        daily[r.event_type][r.ts.strftime("%Y-%m-%d")] += v
    got = {
        (r.event_type, r.day): r for r in ts_spc_control_chart(spark, SF_SMOKE).collect()
    }
    for et, by_day in daily.items():
        days = sorted(by_day)
        vs = [by_day[d] for d in days]
        center = sum(vs) / len(vs)
        mrs = [abs(b - a) for a, b in zip(vs, vs[1:])]
        mr_bar = sum(mrs) / len(mrs)
        ucl, lcl = center + 2.66 * mr_bar, center - 2.66 * mr_bar
        for d, v in zip(days, vs):
            r = got[(et, d)]
            assert abs(r.center - _round6(center)) < 1e-9
            assert abs(r.ucl - _round6(ucl)) < 1e-9
            assert r.out_of_control == (v > ucl or v < lcl), (et, d)
