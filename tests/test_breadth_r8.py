"""Brute-force property tests for plans/breadth_r8.py."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

from matt3r_data_ingestion_serverless_spark.plans.breadth_r8 import (
    bitmap_distinct_counts,
    bom_explosion_rollup,
    exact_global_quantiles,
    ns_length_bucketing_batches,
    ns_preference_pairs,
    stratified_kfold_assign,
)
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def _cents(x: float) -> int:
    return int(math.floor(abs(x) * 100 + 0.5)) * (1 if x >= 0 else -1)


def test_exact_global_quantiles_match_sorted_list(spark):
    li = load_table(spark, SF_SMOKE, "lineitem").collect()
    vals = sorted(_cents(r.l_extendedprice) for r in li)
    n = len(vals)
    got = {r.q: r.value_cents for r in exact_global_quantiles(spark, SF_SMOKE).collect()}
    for q in (0.5, 0.9, 0.99):
        # first value whose cumulative count reaches ceil(q*n) is the
        # ceil(q*n)-th smallest (1-indexed)
        assert got[q] == vals[math.ceil(q * n) - 1], q


def test_bitmap_distinct_counts_match_sets(spark):
    c = load_table(spark, SF_SMOKE, "customer").collect()
    custs, nats = defaultdict(set), defaultdict(set)
    for r in c:
        custs[r.c_mktsegment].add(r.c_custkey)
        nats[r.c_mktsegment].add(r.c_nationkey)
    got = {
        r.c_mktsegment: (r.n_customers, r.n_nations)
        for r in bitmap_distinct_counts(spark, SF_SMOKE).collect()
    }
    assert got == {s: (len(custs[s]), len(nats[s])) for s in custs}


def test_length_bucketing_matches_python(spark):
    docs = load_table(spark, SF_SMOKE, "documents").collect()
    buckets = defaultdict(list)
    for r in docs:
        toklen = len(r.text.lower().split(" "))
        buckets[toklen // 64].append((toklen, r.doc_id))
    got = {r.bucket: r for r in ns_length_bucketing_batches(spark, SF_SMOKE).collect()}
    assert set(got) == set(buckets)
    for bucket, members in buckets.items():
        members.sort(key=lambda t: (-t[0], t[1]))
        padded = actual = n_batches = 0
        for i in range(0, len(members), 32):
            batch = members[i : i + 32]
            n_batches += 1
            padded += batch[0][0] * len(batch)
            actual += sum(t for t, _ in batch)
        r = got[bucket]
        assert (r.n_batches, r.n_docs, r.padded_tokens, r.actual_tokens) == (
            n_batches,
            len(members),
            padded,
            actual,
        ), bucket


def test_kfold_balance_and_totals(spark):
    rows = stratified_kfold_assign(spark, SF_SMOKE).collect()
    ev = load_table(spark, SF_SMOKE, "events").collect()
    per_type = Counter(r.event_type for r in ev)
    by_type = defaultdict(dict)
    for r in rows:
        by_type[r.event_type][r.fold] = r.n_rows
    for et, folds in by_type.items():
        assert set(folds) == set(range(5))
        assert sum(folds.values()) == per_type[et]
        assert max(folds.values()) - min(folds.values()) <= 1, et


def test_bom_explosion_matches_python(spark):
    p = load_table(spark, SF_SMOKE, "part").collect()
    keys = {r.p_partkey for r in p}
    price = {r.p_partkey: _cents(r.p_retailprice) for r in p}
    got = {r.root: r for r in bom_explosion_rollup(spark, SF_SMOKE).collect()}
    for root in [k for k in keys if k <= 50]:
        nodes = [(root, 1)]
        frontier = [(root, 1)]
        for _ in range(3):
            nxt = []
            for node, units in frontier:
                for child in (2 * node, 2 * node + 1):
                    if child in keys:
                        nxt.append((child, units * ((child % 3) + 1)))
            frontier = nxt
            nodes.extend(nxt)
            if not nxt:
                break
        r = got[root]
        assert r.n_nodes == len(nodes)
        assert r.total_units == sum(u for _, u in nodes)
        assert r.rollup_cents == sum(u * price[n] for n, u in nodes)


def test_preference_pairs_are_group_extremes(spark):
    docs = load_table(spark, SF_SMOKE, "documents").collect()
    groups = defaultdict(list)
    for r in docs:
        groups[(r.source, r.lang)].append((r.n_chars, r.doc_id))
    got = {
        (r.source, r.lang): r for r in ns_preference_pairs(spark, SF_SMOKE).collect()
    }
    expected_keys = {k for k, v in groups.items() if len(v) >= 2}
    assert set(got) == expected_keys
    for k in expected_keys:
        members = groups[k]
        chosen = max(members, key=lambda t: t[0] * 1_000_000_000 + t[1])[1]
        rejected = min(members, key=lambda t: t[0] * 1_000_000_000 + t[1])[1]
        r = got[k]
        assert (r.chosen_id, r.rejected_id) == (chosen, rejected), k
        assert r.margin_chars == max(t[0] for t in members) - min(
            t[0] for t in members
        )


def _round6f(x: float) -> float:
    return math.copysign(math.floor(abs(x) * 1e6 + 0.5) / 1e6, x)


def test_knn_classify_matches_numpy(spark):
    import numpy as np

    from matt3r_data_ingestion_serverless_spark.plans.breadth_r8 import (
        ns_knn_classify,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings").collect()
    ids = np.array([r.vec_id for r in emb])
    X = np.array([list(r.embedding) for r in emb], dtype=np.float64)
    labels = {r.vec_id: r.label for r in emb}
    nrm = np.sqrt((X * X).sum(1))
    qm = ids % 10 == 0
    got = {r.query_id: r for r in ns_knn_classify(spark, SF_SMOKE).collect()}
    assert set(got) == set(ids[qm].tolist())
    for qi in np.where(qm)[0]:
        cs = X @ X[qi] / (nrm * nrm[qi])
        cands = [
            (_round6f(cs[j]), ids[j])
            for j in np.where(~qm)[0]
        ]
        cands.sort(key=lambda t: (-t[0], t[1]))
        top = cands[:5]
        votes = Counter(labels[i] for _, i in top)
        pred = max(votes, key=lambda lbl: votes[lbl] * 1_000_000 - lbl)
        r = got[ids[qi]]
        assert r.pred_label == pred, ids[qi]
        assert r.top_votes == max(votes.values())
        assert r.correct == (pred == labels[ids[qi]])
