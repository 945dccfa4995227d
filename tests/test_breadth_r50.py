"""Brute-force property tests for plans/breadth_r50.py."""

from __future__ import annotations

import math
from collections import defaultdict

from matt3r_data_ingestion_serverless_spark.plans.breadth_r50 import weekday_seasonal_index
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def _round6(x: float) -> float:
    return math.copysign(math.floor(abs(x) * 1e6 + 0.5) / 1e6, x)


def test_weekday_index_matches_python(spark):
    orders = load_table(spark, SF_SMOKE, "orders").collect()
    w = defaultdict(lambda: [0, 0])
    for o in orders:
        dow = (o.o_orderdate.weekday() + 1) % 7  # python Mon=0 → Sunday=0
        cents = int(math.floor(o.o_totalprice * 100 + 0.5))
        w[dow][0] += 1
        w[dow][1] += cents
    n_tot = sum(c[0] for c in w.values())
    s_tot = sum(c[1] for c in w.values())
    got = {r.dow: r for r in weekday_seasonal_index(spark, SF_SMOKE).collect()}
    assert set(got) == set(w)
    mean_tot_milli = (s_tot * 1000) // n_tot
    for dow, (n_w, s_w) in w.items():
        r = got[dow]
        assert (r.n_orders, r.revenue_cents) == (n_w, s_w)
        assert r.index_micro == (((s_w * 1000) // n_w) * 1000000) // mean_tot_milli
        idx = (s_w / n_w) / (s_tot / n_tot)
        assert abs(r.seasonal_index - _round6(idx)) <= 1e-6
        # integer and float forms agree to the milli-cent quantization
        assert abs(r.index_micro / 1e6 - r.seasonal_index) < 1e-3
