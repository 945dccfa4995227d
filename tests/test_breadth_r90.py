"""Brute-force property tests for plans/breadth_r90.py."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

from matt3r_data_ingestion_serverless_spark.plans.breadth_r90 import (
    _QL_MU,
    _QL_TERMS,
    _QL_TOP_K,
    ns_dup_cluster_medoids,
    search_query_likelihood_dirichlet,
)
from matt3r_data_ingestion_serverless_spark.plans.northstar import ns_dedup_minhash_lsh
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def test_medoids_match_python_election(spark):
    pairs = ns_dedup_minhash_lsh(spark, SF_SMOKE).collect()
    adj = defaultdict(set)
    inc = defaultdict(float)
    for r in pairs:
        adj[r.doc_a].add(r.doc_b)
        adj[r.doc_b].add(r.doc_a)
        inc[r.doc_a] += r.jaccard
        inc[r.doc_b] += r.jaccard
    # connected components by BFS
    seen, comp = set(), {}
    for start in sorted(adj):
        if start in seen:
            continue
        stack, members = [start], []
        seen.add(start)
        while stack:
            u = stack.pop()
            members.append(u)
            for v in adj[u]:
                if v not in seen:
                    seen.add(v)
                    stack.append(v)
        cid = min(members)
        for m in members:
            comp[m] = cid
    clusters = defaultdict(list)
    for node, cid in comp.items():
        clusters[cid].append(node)
    want = {}
    for cid, members in clusters.items():
        medoid = min(
            members, key=lambda n: (-math.floor(inc[n] * 1e6 + 0.5), n)
        )
        want[cid] = (medoid, len(members))
    got = {
        r.cluster_id: (r.medoid_doc_id, r.cluster_size)
        for r in ns_dup_cluster_medoids(spark, SF_SMOKE).collect()
    }
    assert got == want
    assert any(sz > 2 for _, sz in want.values()), "need a non-pair cluster"


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
