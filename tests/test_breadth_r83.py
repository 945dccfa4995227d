"""Brute-force property tests for plans/breadth_r83.py."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.plans.breadth_r83 import (
    _ALLEN_CASE,
    _COVER_ROUNDS,
    interval_allen_relations,
    ns_greedy_max_coverage,
    ns_ngram_novelty,
    ns_prefix_cache_lcp,
)
from matt3r_data_ingestion_serverless_spark.functions.hashing import with_hashed_shingles
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table, spread
from tests.conftest import SF_SMOKE


def _doc_shingles(spark):
    docs = spread(load_table(spark, SF_SMOKE, "documents"))
    return {
        r.doc_id: set(r.sh)
        for r in with_hashed_shingles(docs).select("doc_id", "sh").collect()
    }


def test_novelty_matches_set_logic(spark):
    sh = _doc_shingles(spark)
    df = Counter(g for s in sh.values() for g in s)
    got = {
        r.doc_id: (r.n_shingles, r.n_unique)
        for r in ns_ngram_novelty(spark, SF_SMOKE).collect()
    }
    want = {
        d: (len(s), sum(1 for g in s if df[g] == 1)) for d, s in sh.items() if s
    }
    assert got == want
    assert any(u < n for n, u in want.values()), "corpus must share some shingles"


def _allen(a_s, a_e, b_s, b_e):
    if a_s == b_s and a_e == b_e:
        return "equals"
    if a_e < b_s:
        return "before"
    if b_e < a_s:
        return "after"
    if a_e == b_s:
        return "meets"
    if b_e == a_s:
        return "met_by"
    if a_s == b_s and a_e < b_e:
        return "starts"
    if a_s == b_s:
        return "started_by"
    if a_e == b_e and a_s > b_s:
        return "finishes"
    if a_e == b_e:
        return "finished_by"
    if a_s > b_s and a_e < b_e:
        return "during"
    if a_s < b_s and a_e > b_e:
        return "contains"
    if a_s < b_s:
        return "overlaps"
    return "overlapped_by"


def test_allen_case_covers_all_13_relations(spark):
    # synthetic boundary cases exercise every branch of the shared CASE
    cases = [
        (0, 10, 0, 10),  # equals
        (0, 5, 7, 9),  # before
        (7, 9, 0, 5),  # after
        (0, 5, 5, 9),  # meets
        (5, 9, 0, 5),  # met_by
        (0, 5, 0, 9),  # starts
        (0, 9, 0, 5),  # started_by
        (5, 9, 0, 9),  # finishes
        (0, 9, 5, 9),  # finished_by
        (3, 5, 0, 9),  # during
        (0, 9, 3, 5),  # contains
        (0, 6, 3, 9),  # overlaps
        (3, 9, 0, 6),  # overlapped_by
    ]
    df = spark.createDataFrame(cases, "a_s long, a_e long, b_s long, b_e long")
    got = [r.rel for r in df.select(F.expr(_ALLEN_CASE).alias("rel")).collect()]
    want = [_allen(*c) for c in cases]
    assert got == want
    assert len(set(want)) == 13


def test_allen_real_spans_match_python(spark):
    ev = load_table(spark, SF_SMOKE, "events").collect()
    spans = {}
    for r in ev:
        k = (r.user_id, r.event_type)
        us = int(r.ts.replace(tzinfo=__import__("datetime").timezone.utc).timestamp() * 1e6)
        s, e = spans.get(k, (us, us))
        spans[k] = (min(s, us), max(e, us))
    want = {}
    users = {u for u, _ in spans}
    for u in users:
        types = sorted(t for uu, t in spans if uu == u)
        for i, ta in enumerate(types):
            for tb in types[i + 1 :]:
                a, b = spans[(u, ta)], spans[(u, tb)]
                want[(u, ta, tb)] = _allen(a[0], a[1], b[0], b[1])
    got = {
        (r.user_id, r.type_a, r.type_b): r.relation
        for r in interval_allen_relations(spark, SF_SMOKE).collect()
    }
    assert got == want


def test_greedy_cover_matches_python_greedy(spark):
    sh = {d: set(s) for d, s in _doc_shingles(spark).items()}
    covered: set = set()
    want = []
    avail = dict(sh)
    for rnd in range(1, _COVER_ROUNDS + 1):
        best = max(avail.items(), key=lambda kv: (len(kv[1] - covered), -kv[0]))
        gain = len(best[1] - covered)
        want.append((rnd, best[0], gain))
        covered |= best[1]
        del avail[best[0]]
    got = sorted(
        (r.pick_round, r.doc_id, r.gain)
        for r in ns_greedy_max_coverage(spark, SF_SMOKE).collect()
    )
    assert got == want
    assert want[0][2] >= want[1][2] >= want[2][2] >= 0  # diminishing returns


def test_prefix_lcp_matches_pairwise_bruteforce(spark):
    docs = {
        r.doc_id: r.text.split(" ")
        for r in load_table(spark, SF_SMOKE, "documents").collect()
    }

    def lcp(a, b):
        n = 0
        for x, y in zip(a, b):
            if x != y:
                break
            n += 1
        return n

    want = {}
    for d, w in docs.items():
        want[d] = max(
            (lcp(w, w2) for d2, w2 in docs.items() if d2 != d), default=0
        )
    got = {
        r.doc_id: r.max_lcp for r in ns_prefix_cache_lcp(spark, SF_SMOKE).collect()
    }
    assert got == want
    assert max(want.values()) > 0, "near-dup corpus must share some prefix"
