"""Brute-force property tests for plans/breadth_r90.py."""

from __future__ import annotations

import math
from collections import Counter

from matt3r_data_ingestion_serverless_spark.plans.breadth_r90 import (
    _QL_MU,
    _QL_TERMS,
    _QL_TOP_K,
    search_query_likelihood_dirichlet,
)
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def test_query_likelihood_matches_python(spark):
    docs = {
        r.doc_id: r.text.split(" ")
        for r in load_table(spark, SF_SMOKE, "documents").collect()
    }
    ctot = sum(len(ws) for ws in docs.values())
    cf = Counter(w for ws in docs.values() for w in ws if w in _QL_TERMS)
    assert set(cf) == set(_QL_TERMS), "all query terms must appear in the corpus"
    scores = {}
    for d, ws in docs.items():
        tf = Counter(w for w in ws if w in _QL_TERMS)
        s = sum(
            math.log((tf[w] + _QL_MU * (cf[w] / ctot)) / (len(ws) + _QL_MU))
            for w in _QL_TERMS
        )
        scores[d] = s
    ranked = sorted(
        scores.items(),
        key=lambda kv: (
            -math.copysign(math.floor(abs(kv[1]) * 1e6 + 0.5), kv[1]),
            kv[0],
        ),
    )
    want = {d: i + 1 for i, (d, _) in enumerate(ranked[:_QL_TOP_K])}
    got = {
        r.doc_id: r.rnk
        for r in search_query_likelihood_dirichlet(spark, SF_SMOKE).collect()
    }
    assert got == want
    for r in search_query_likelihood_dirichlet(spark, SF_SMOKE).collect():
        assert math.isclose(r.ql_score_r, scores[r.doc_id], abs_tol=1e-6)
