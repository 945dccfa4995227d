"""Brute-force property tests for plans/breadth_r99.py."""

from __future__ import annotations

import math
from collections import Counter

from matt3r_data_ingestion_serverless_spark.plans.breadth_r99 import (
    _SE_FREQS,
    ns_dedup_cost_savings,
    ts_spectral_entropy,
)
from matt3r_data_ingestion_serverless_spark.plans.curation import ns_dup_clusters
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def test_spectral_entropy_matches_python(spark):
    ev = load_table(spark, SF_SMOKE, "events").collect()
    daily = Counter(r.ts.strftime("%Y-%m-%d") for r in ev)
    cnts = [daily[d] for d in sorted(daily)]
    n = len(cnts)
    powers = []
    for k in range(1, _SE_FREQS + 1):
        cs = sum(
            c * math.floor(math.cos(2 * math.pi * k * t / n) * 1e6 + 0.5)
            for t, c in enumerate(cnts)
        )
        ss = sum(
            c * math.floor(math.sin(2 * math.pi * k * t / n) * 1e6 + 0.5)
            for t, c in enumerate(cnts)
        )
        powers.append(float(cs) * cs + float(ss) * ss)
    tot = sum(powers)
    h = -sum((p / tot) * math.log(p / tot) for p in powers if p > 0) / math.log(
        _SE_FREQS
    )
    dom = 1 + powers.index(max(powers))
    row = ts_spectral_entropy(spark, SF_SMOKE).collect()[0]
    assert row.n_freqs == _SE_FREQS
    assert math.isclose(row.spectral_entropy_r, h, abs_tol=1e-6)
    assert row.dominant_k == dom
    assert 0.0 <= row.spectral_entropy_r <= 1.0


def test_dedup_savings_match_cluster_labels(spark):
    lbl = {
        r.doc_id: r.cluster_id for r in ns_dup_clusters(spark, SF_SMOKE).collect()
    }
    docs = load_table(spark, SF_SMOKE, "documents").collect()
    dropped = [r for r in docs if r.doc_id in lbl and lbl[r.doc_id] != r.doc_id]
    total = sum(r.n_chars for r in docs)
    saved = sum(r.n_chars for r in dropped)
    row = ns_dedup_cost_savings(spark, SF_SMOKE).collect()[0]
    assert (row.n_docs, row.n_dropped) == (len(docs), len(dropped))
    assert (row.chars_total, row.chars_saved) == (total, saved)
    assert math.isclose(row.save_ratio_r, saved / total, abs_tol=1e-6)
    assert 0 < row.n_dropped < row.n_docs
