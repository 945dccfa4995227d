"""Brute-force property tests for plans/breadth_r86.py."""

from __future__ import annotations

import datetime as dt
import math
from collections import Counter, defaultdict

from matt3r_data_ingestion_serverless_spark.plans.breadth_r84 import (
    drift_wasserstein_1d,
)
from matt3r_data_ingestion_serverless_spark.plans.breadth_r86 import (
    _ABS_STATE,
    _ABS_STEPS,
    _IPW_CUTS,
    _IPW_DAY1,
    _IPW_SPLIT,
    causal_ipw_ate,
    markov_absorption_conversion,
    streamed_drift_wasserstein,
)
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def test_streamed_w1_equals_batch(spark):
    batch = drift_wasserstein_1d(spark, SF_SMOKE).collect()
    streamed = streamed_drift_wasserstein(spark, SF_SMOKE).collect()
    assert [tuple(r) for r in streamed] == [tuple(r) for r in batch]
    assert batch[0].w1_r >= 0


def test_absorption_matches_python_fixed_point(spark):
    ev = load_table(spark, SF_SMOKE, "events").collect()
    seqs = defaultdict(list)
    for r in ev:
        seqs[r.user_id].append((r.ts, r.event_id, r.event_type))
    counts = Counter()
    for evs in seqs.values():
        evs.sort()
        for (_, _, a), (_, _, b) in zip(evs, evs[1:]):
            counts[(a, b)] += 1
    out_tot = Counter()
    for (a, _), n in counts.items():
        out_tot[a] += n
    p = {s: 0.0 for s in out_tot}
    for _ in range(_ABS_STEPS):
        nxt = {}
        for s in out_tot:
            tot = 0.0
            for (a, b), n in counts.items():
                if a != s:
                    continue
                w = n / out_tot[s]
                tot += w * (1.0 if b == _ABS_STATE else p.get(b, 0.0))
            nxt[s] = tot
        p = nxt
    got = {
        r.state: r.p_convert_r
        for r in markov_absorption_conversion(spark, SF_SMOKE).collect()
    }
    want = {s: v for s, v in p.items() if s != _ABS_STATE}
    assert set(got) == set(want)
    for s in want:
        assert math.isclose(got[s], want[s], abs_tol=1e-6), (s, got[s], want[s])
    assert all(0.0 <= v <= 1.0 for v in got.values())


def test_ipw_matches_python(spark):
    ev = load_table(spark, SF_SMOKE, "events").collect()
    split = dt.datetime.fromisoformat(_IPW_SPLIT)
    agg = defaultdict(lambda: [0, 0, 0])  # pre, y, treated
    for r in ev:
        c = int(math.floor(r.value * 100 + 0.5))
        a = agg[r.user_id]
        if r.ts < split:
            a[0] += c
        else:
            a[1] += c
        if r.event_type == "error" and r.ts < dt.datetime.fromisoformat(_IPW_DAY1):
            a[2] = 1
    pres = sorted(v[0] for v in agg.values())

    def q(p):
        h = (len(pres) - 1) * p
        lo = int(math.floor(h))
        hi = min(lo + 1, len(pres) - 1)
        return pres[lo] + (h - lo) * (pres[hi] - pres[lo])

    cuts = [q(c) for c in _IPW_CUTS]
    strat = {
        u: 1 + sum(1 for c in cuts if v[0] > c) for u, v in agg.items()
    }
    ps = {}
    for s in set(strat.values()):
        us = [u for u in agg if strat[u] == s]
        ps[s] = sum(agg[u][2] for u in us) / len(us)
    used = [u for u in agg if 0 < ps[strat[u]] < 1]
    n = len(used)
    ipw = (
        sum(agg[u][1] / ps[strat[u]] for u in used if agg[u][2] == 1)
        - sum(agg[u][1] / (1 - ps[strat[u]]) for u in used if agg[u][2] == 0)
    ) / n
    nt = sum(agg[u][2] for u in used)
    naive = sum(agg[u][1] for u in used if agg[u][2] == 1) / nt - sum(
        agg[u][1] for u in used if agg[u][2] == 0
    ) / (n - nt)
    row = causal_ipw_ate(spark, SF_SMOKE).collect()[0]
    assert (row.n_used, row.n_treated) == (n, nt)
    assert math.isclose(row.ate_ipw_r, ipw / 100, abs_tol=1e-6)
    assert math.isclose(row.ate_naive_r, naive / 100, abs_tol=1e-6)
