"""Brute-force property tests for plans/breadth_r92.py."""

from __future__ import annotations

import math
from collections import Counter

from matt3r_data_ingestion_serverless_spark.plans.breadth_r92 import (
    _PASS_KS,
    ml_pass_at_k,
    ns_utf8_fertility,
)
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def test_pass_at_k_matches_python(spark):
    ev = load_table(spark, SF_SMOKE, "events").collect()
    n = Counter()
    c = Counter()
    for r in ev:
        n[r.user_id] += 1
        if r.event_type == "purchase":
            c[r.user_id] += 1
    got = {r.k: r for r in ml_pass_at_k(spark, SF_SMOKE).collect()}
    assert set(got) == set(_PASS_KS)
    for k in _PASS_KS:
        vals = []
        for u, nu in n.items():
            if nu < k:
                continue
            cu = c[u]
            prod = 1.0
            for i in range(k):
                prod *= (nu - cu - i) / (nu - i)
            vals.append(1.0 - prod)
        want = sum(vals) / len(vals)
        assert got[k].n_tasks == len(vals)
        assert math.isclose(got[k].pass_at_k_r, want, abs_tol=1e-6)
    # more samples can only help: pass@k is non-decreasing in k
    ks = sorted(_PASS_KS)
    assert all(
        got[a].pass_at_k_r <= got[b].pass_at_k_r + 1e-9 for a, b in zip(ks, ks[1:])
    )


def test_utf8_fertility_matches_python(spark):
    docs = load_table(spark, SF_SMOKE, "documents").collect()
    agg = {}
    for r in docs:
        ch, by = len(r.text), len(r.text.encode("utf-8"))
        d = agg.setdefault(r.lang, [0, 0, 0])
        d[0] += 1
        d[1] += ch
        d[2] += by
    got = {
        r.lang: (r.n_docs, r.chars, r.bytes, r.bytes_per_char_r)
        for r in ns_utf8_fertility(spark, SF_SMOKE).collect()
    }
    assert set(got) == set(agg)
    for lang, (nd, ch, by) in agg.items():
        g = got[lang]
        assert (g[0], g[1], g[2]) == (nd, ch, by)
        assert math.isclose(g[3], by / ch, abs_tol=1e-6)
    # the corpus words are ASCII for every lang in this synthetic set,
    # so fertility is exactly 1.0 unless a multibyte lang exists — pin
    # only the ratio≥1 invariant
    assert all(g[3] >= 1.0 for g in got.values())
