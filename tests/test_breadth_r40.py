"""Brute-force property tests for plans/breadth_r40.py."""

from __future__ import annotations

import math
from collections import defaultdict

from matt3r_data_ingestion_serverless_spark.plans.breadth_r40 import (
    _PGRAM_FREQS,
    _PI,
    ts_periodogram_daily,
)
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def _round6(x: float) -> float:
    return math.copysign(math.floor(abs(x) * 1e6 + 0.5) / 1e6, x)


def test_periodogram_matches_python(spark):
    ev = load_table(spark, SF_SMOKE, "events").collect()
    daily = defaultdict(int)
    for r in ev:
        daily[r.ts.strftime("%Y-%m-%d")] += 1
    cnts = [daily[d] for d in sorted(daily)]
    n = len(cnts)
    got = {r.freq_k: r for r in ts_periodogram_daily(spark, SF_SMOKE).collect()}
    assert set(got) == set(range(1, _PGRAM_FREQS + 1))
    for k in range(1, _PGRAM_FREQS + 1):
        cs = sum(
            c * int(math.floor(math.cos(2 * _PI * k * t / n) * 1e6 + 0.5))
            for t, c in enumerate(cnts)
        )
        ss = sum(
            c * int(math.floor(math.sin(2 * _PI * k * t / n) * 1e6 + 0.5))
            for t, c in enumerate(cnts)
        )
        r = got[k]
        assert r.n_days == n
        assert (r.cos_sum_micro, r.sin_sum_micro) == (cs, ss)
        power = (float(cs) * cs + float(ss) * ss) / 1e12 / n
        assert abs(r.power - _round6(power)) <= 1e-6
        assert r.power >= 0
