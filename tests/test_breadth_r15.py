"""Brute-force property tests for plans/breadth_r15.py."""

from __future__ import annotations

import math
from collections import defaultdict

from matt3r_data_ingestion_serverless_spark.plans.breadth_r15 import (
    anova_oneway_hours,
    kruskal_wallis_h,
)
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def _round6(x: float) -> float:
    return math.copysign(math.floor(abs(x) * 1e6 + 0.5) / 1e6, x)


def _cents(x: float) -> int:
    return int(math.floor(abs(x) * 100 + 0.5)) * (1 if x >= 0 else -1)


def test_anova_matches_scipy_formula(spark):
    ev = load_table(spark, SF_SMOKE, "events").collect()
    groups = defaultdict(lambda: defaultdict(list))
    for r in ev:
        groups[r.event_type][r.ts.hour].append(_cents(r.value))
    got = {r.event_type: r for r in anova_oneway_hours(spark, SF_SMOKE).collect()}
    for et, by_h in groups.items():
        all_v = [v for vs in by_h.values() for v in vs]
        n, k = len(all_v), len(by_h)
        s, s2 = sum(all_v), sum(v * v for v in all_v)
        between_raw = 0.0
        for h in sorted(by_h):
            sg = sum(by_h[h])
            between_raw += float(sg) * sg / len(by_h[h])
        ssb = between_raw - float(s) * s / n
        ssw = float(s2) - between_raw
        f = (ssb / (k - 1)) / (ssw / (n - k))
        r = got[et]
        assert (r.n, r.k) == (n, k), et
        assert abs(r.f_stat - _round6(f)) < 1e-9, et
        assert abs(r.ssb - _round6(ssb)) < 1e-3
        assert abs(r.ssw - _round6(ssw)) < 1e-3


def test_kruskal_wallis_matches_python_ranks(spark):
    ev = load_table(spark, SF_SMOKE, "events").collect()
    vals = [( _cents(r.value), r.event_type) for r in ev]
    vals.sort()
    # average ranks with ties
    n = len(vals)
    ranks = {}
    i = 0
    while i < n:
        j = i
        while j < n and vals[j][0] == vals[i][0]:
            j += 1
        avg = (i + 1 + j) / 2  # (first + last)/2 1-indexed
        ranks[vals[i][0]] = avg
        i = j
    r_sum = defaultdict(float)
    n_g = defaultdict(int)
    for v, et in vals:
        r_sum[et] += ranks[v]
        n_g[et] += 1
    sum_r2 = 0.0
    for et in sorted(r_sum):
        sum_r2 += (2 * r_sum[et]) ** 2 / n_g[et]  # doubled ranks, like the plan
    h = 3.0 * sum_r2 / (n * (n + 1)) - 3.0 * (n + 1)
    from collections import Counter

    tie = sum(c**3 - c for c in Counter(v for v, _ in vals).values())
    corr = 1.0 - tie / (float(n) * n * n - n)
    got = {r.event_type: r for r in kruskal_wallis_h(spark, SF_SMOKE).collect()}
    assert set(got) == set(n_g)
    for et in n_g:
        r = got[et]
        assert r.n_g == n_g[et]
        assert abs(r.mean_rank - _round6(r_sum[et] / n_g[et])) < 1e-6, et
        assert abs(r.h_corrected - _round6(h / corr)) < 1e-6, et


def test_slo_burn_page_alert_matches_python(spark):
    from matt3r_data_ingestion_serverless_spark.plans.breadth_r15 import (
        _SLO_TARGET_PERMILLE,
        slo_burn_alerts,
    )

    ev = load_table(spark, SF_SMOKE, "events").collect()
    hours = defaultdict(lambda: [0, 0])  # hr -> [total, errs]
    for r in ev:
        h = hours[r.ts.strftime("%Y-%m-%d %H")]
        h[0] += 1
        if r.event_type == "error":
            h[1] += 1
    hrs = sorted(hours)
    got = {r.hr: r for r in slo_burn_alerts(spark, SF_SMOKE).collect()}
    assert set(got) == set(hrs)
    ib = 1000 - _SLO_TARGET_PERMILLE
    for i, hr in enumerate(hrs):
        t1, e1 = hours[hr][0], hours[hr][1]
        win6 = hrs[max(0, i - 5) : i + 1]
        t6 = sum(hours[h][0] for h in win6)
        e6 = sum(hours[h][1] for h in win6)
        r = got[hr]
        assert (r.errs_1h, r.total_1h) == (e1, t1), hr
        expect_page = len(win6) == 6 and e1 * 1000 > t1 * ib and e6 * 1000 > t6 * ib
        assert r.page_alert == expect_page, hr


def test_ar_aging_buckets_match_python(spark):
    from datetime import date

    from matt3r_data_ingestion_serverless_spark.plans.breadth_r15 import (
        ar_aging_report,
    )

    o = load_table(spark, SF_SMOKE, "orders").collect()
    ref = date(1998, 8, 2)
    agg = defaultdict(lambda: [0, set(), 0])
    for r in o:
        if r.o_orderstatus != "O":
            continue
        age = (ref - r.o_orderdate.date()).days
        b = "0-30" if age <= 30 else "31-60" if age <= 60 else "61-90" if age <= 90 else "90+"
        cents = int(math.floor(abs(r.o_totalprice) * 100 + 0.5))
        cell = agg[b]
        cell[0] += 1
        cell[1].add(r.o_custkey)
        cell[2] += cents
    got = {r.bucket: r for r in ar_aging_report(spark, SF_SMOKE).collect()}
    assert set(got) == set(agg)
    for b, (n, custs, cents) in agg.items():
        r = got[b]
        assert (r.n_open_orders, r.n_customers, r.outstanding_cents) == (
            n,
            len(custs),
            cents,
        ), b
