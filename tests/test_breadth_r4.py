"""Brute-force property tests for plans/breadth_r4.py."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import numpy as np
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.plans.breadth_r4 import (
    _KM_K,
    _ZIPF_TOP,
    kmeans_embeddings,
    ns_zipf_slope,
    scd2_pit_join,
)
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def _round6(x: float) -> float:
    return math.copysign(math.floor(abs(x) * 1e6 + 0.5) / 1e6, x)


def test_kmeans_matches_numpy(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings").collect()
    ids = np.array([r.vec_id for r in emb])
    X = np.array([list(r.embedding) for r in emb], dtype=np.float64)
    cents = X[np.argsort(ids)][: _KM_K]  # vec_id < K, in id order

    def assign(c):
        d2 = (
            (X * X).sum(1)[:, None] - 2 * X @ c.T + (c * c).sum(1)[None, :]
        )
        d2u = np.floor(d2 * 1e6 + 0.5).astype(np.int64)
        # argmin with tie-break on cluster id = plain argmin (first min)
        return d2u.argmin(1), d2u

    lab1, _ = assign(cents)
    c1 = np.zeros_like(cents)
    for k in range(_KM_K):
        c1[k] = [ _round6(v) for v in X[lab1 == k].mean(0) ]
    lab2, d2u = assign(c1)
    exp_sizes = Counter(lab2.tolist())
    exp_inertia = defaultdict(int)
    for i, k in enumerate(lab2):
        exp_inertia[int(k)] += int(d2u[i, k])
    out = {r.cid: r for r in kmeans_embeddings(spark, SF_SMOKE).collect()}
    assert {k: v.n_members for k, v in out.items()} == dict(exp_sizes)
    for k, r in out.items():
        assert r.inertia_micro == exp_inertia[k], k


def test_scd2_pit_every_order_matches_one_version(spark):
    rows = scd2_pit_join(spark, SF_SMOKE).collect()
    orders = (
        load_table(spark, SF_SMOKE, "orders")
        .filter(F.col("o_custkey") <= 1000)
        .collect()
    )
    # every qualifying order attributed exactly once
    assert sum(r.n_orders for r in rows) == len(orders)
    assert sum(r.revenue_cents for r in rows) == sum(
        round(o.o_totalprice * 100) for o in orders
    )
    # leakage rule: DELINQUENT segment only carries orders on/after eff date
    from matt3r_data_ingestion_serverless_spark.plans.llmprep import _SCD2_EFF

    eff_year = int(_SCD2_EFF[:4])
    for r in rows:
        if r.segment == "DELINQUENT":
            assert r.order_year >= eff_year


def test_zipf_slope_matches_numpy(spark):
    docs = load_table(spark, SF_SMOKE, "documents").collect()
    vocab = Counter(t for r in docs for t in r.text.split(" ") if t)
    ranked = sorted(vocab.items(), key=lambda kv: (-kv[1], kv[0]))[:_ZIPF_TOP]
    x = np.log(np.arange(1, len(ranked) + 1, dtype=np.float64))
    y = np.log(np.array([c for _, c in ranked], dtype=np.float64))
    slope = np.polyfit(x, y, 1)[0]
    r = ns_zipf_slope(spark, SF_SMOKE).collect()[0]
    assert r.n_terms == len(ranked)
    assert abs(r.zipf_slope - slope) < 1e-4
    assert r.zipf_slope < 0  # frequency decreases with rank
    assert 0.0 <= r.r2 <= 1.0


def test_semdedup_matches_numpy(spark):
    from matt3r_data_ingestion_serverless_spark.plans.breadth_r4 import (
        _SEM_TAU,
        ns_semdedup_clusters,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings").collect()
    ids = np.array([r.vec_id for r in emb])
    order = np.argsort(ids)
    ids, X = ids[order], np.array([list(r.embedding) for r in emb], dtype=np.float64)[order]
    cents = X[: _KM_K]
    d2 = (X * X).sum(1)[:, None] - 2 * X @ cents.T + (cents * cents).sum(1)[None, :]
    lab = np.floor(d2 * 1e6 + 0.5).astype(np.int64).argmin(1)
    nrm = np.linalg.norm(X, axis=1)
    exp = {}
    for k in range(_KM_K):
        members = np.where(lab == k)[0]
        dropped = set()
        for i_pos, i in enumerate(members):
            for j in members[i_pos + 1:]:
                cos = round(float(X[i] @ X[j] / (nrm[i] * nrm[j])), 6)
                if cos >= _SEM_TAU:
                    dropped.add(int(ids[j]))
        exp[k] = (len(members), len(dropped))
    out = {r.cid: r for r in ns_semdedup_clusters(spark, SF_SMOKE).collect()}
    for k, (n, nd) in exp.items():
        if n == 0:
            assert k not in out
            continue
        assert (out[k].n_members, out[k].n_dropped, out[k].n_kept) == (n, nd, n - nd)


def test_shard_balance_totals(spark):
    from matt3r_data_ingestion_serverless_spark.plans.breadth_r4 import (
        _N_SHARDS,
        ns_shard_balance_audit,
    )

    docs = load_table(spark, SF_SMOKE, "documents").collect()
    rows = ns_shard_balance_audit(spark, SF_SMOKE).collect()
    assert sum(r.n_docs for r in rows) == len(docs)
    assert sum(r.total_tokens for r in rows) == sum(len(d.text.split(" ")) for d in docs)
    assert len(rows) <= _N_SHARDS
    # load factors average ~1 over the ideal split
    avg = sum(r.load_factor * 1 for r in rows) / len(rows)
    assert 0.5 < avg < 1.5


def test_rank_shift_matches_python(spark):
    from matt3r_data_ingestion_serverless_spark.plans.breadth_r4 import (
        window_rank_shift,
    )

    li = load_table(spark, SF_SMOKE, "lineitem").collect()
    parts = {r.p_partkey: r.p_brand for r in load_table(spark, SF_SMOKE, "part").collect()}
    rev = defaultdict(int)
    for r in li:
        rev[(r.l_shipdate.month, parts[r.l_partkey])] += round(r.l_extendedprice * 100)
    ranks = {}
    for m in {k[0] for k in rev}:
        month_rows = sorted(
            ((b, v) for (mm, b), v in rev.items() if mm == m),
            key=lambda kv: (-kv[1], kv[0]),
        )
        rnk, prev_v = 0, None
        for i, (b, v) in enumerate(month_rows):
            if v != prev_v:
                rnk += 1  # dense_rank
                prev_v = v
            ranks[(m, b)] = rnk
    out = {(r.m, r.brand): r for r in window_rank_shift(spark, SF_SMOKE).collect()}
    assert set(out) == set(rev)
    for (m, b), r in out.items():
        assert r.rnk == ranks[(m, b)]
        assert r.revenue_cents == rev[(m, b)]
        prev = ranks.get((m - 1, b))
        # months in the fixture are contiguous where the brand traded
        if r.prev_rnk is not None and (m - 1, b) in ranks:
            assert r.shift == r.prev_rnk - r.rnk


def test_colbert_maxsim_matches_numpy(spark):
    from matt3r_data_ingestion_serverless_spark.plans.breadth_r4 import (
        ns_colbert_maxsim,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings").collect()
    X = np.array([list(r.embedding) for r in emb], dtype=np.float64)
    lab = np.array([r.label for r in emb])
    nrm = np.linalg.norm(X, axis=1)
    sims = np.floor((X @ X.T) / np.outer(nrm, nrm) * 1e6 + 0.5).astype(np.int64)
    out = {(r.label_a, r.label_b): r for r in ns_colbert_maxsim(spark, SF_SMOKE).collect()}
    labels = np.unique(lab)
    for la in labels:
        for lb in labels:
            if la == lb:
                continue
            rows, cols = lab == la, lab == lb
            m = sims[np.ix_(rows, cols)].max(axis=1)
            r = out[(la, lb)]
            assert r.n_query_vecs == rows.sum()
            assert r.maxsim_sum_micro == int(m.sum())
            assert abs(r.maxsim_avg_micro - m.sum() / rows.sum()) < 1e-5
    # asymmetry is real: at least one ordered pair differs from its flip
    assert any(
        abs(out[(a, b)].maxsim_avg_micro - out[(b, a)].maxsim_avg_micro) > 1
        for a in labels for b in labels if a < b
    )


def test_grouping_id_rollup_levels(spark):
    from matt3r_data_ingestion_serverless_spark.plans.breadth_r4 import (
        grouping_id_rollup,
    )

    rows = grouping_id_rollup(spark, SF_SMOKE).collect()
    orders = load_table(spark, SF_SMOKE, "orders").collect()
    total = [r for r in rows if r.g_status == 1 and r.g_priority == 1]
    assert len(total) == 1 and total[0].n_orders == len(orders)
    assert total[0].status == "<total>" and total[0].priority == "<total>"
    # level sums reconcile: per-status subtotals == grand total
    subs = [r for r in rows if r.g_status == 0 and r.g_priority == 1]
    assert sum(r.n_orders for r in subs) == len(orders)
    leaves = [r for r in rows if r.g_status == 0 and r.g_priority == 0]
    assert sum(r.revenue_cents for r in leaves) == total[0].revenue_cents


def test_activity_streaks_matches_python(spark):
    from matt3r_data_ingestion_serverless_spark.plans.breadth_r4 import (
        user_activity_streaks,
    )
    import datetime as dt

    ev = load_table(spark, SF_SMOKE, "events").collect()
    by_user = defaultdict(set)
    for r in ev:
        by_user[r.user_id].add(r.ts.date())
    out = {r.user_id: r for r in user_activity_streaks(spark, SF_SMOKE).collect()}
    for uid, ds in by_user.items():
        days = sorted(ds)
        streaks = []
        start = prev = days[0]
        for d in days[1:]:
            if (d - prev).days == 1:
                prev = d
            else:
                streaks.append((start, (prev - start).days + 1))
                start = prev = d
        streaks.append((start, (prev - start).days + 1))
        best = max(streaks, key=lambda s: (s[1], -s[0].toordinal()))
        r = out[uid]
        assert r.longest_streak_days == best[1]
        assert r.streak_start == best[0].strftime("%Y-%m-%d")
        assert r.n_streaks == len(streaks)


def test_interval_complement_matches_python(spark):
    from matt3r_data_ingestion_serverless_spark.plans.breadth_r4 import (
        _BUSY_US,
        interval_complement_gaps,
    )

    ev = (
        load_table(spark, SF_SMOKE, "events")
        .filter(F.col("event_type") == "purchase")
        .collect()
    )
    by_user = defaultdict(list)
    for r in ev:
        us = int(r.ts.timestamp() * 1_000_000)
        by_user[r.user_id].append((us, us + _BUSY_US))
    out = {r.user_id: r for r in interval_complement_gaps(spark, SF_SMOKE).collect()}
    for uid, iv in by_user.items():
        iv.sort()
        merged = []
        for s, e in iv:
            if merged and s <= merged[-1][1]:
                merged[-1] = (merged[-1][0], max(merged[-1][1], e))
            else:
                merged.append((s, e))
        gaps = [b[0] - a[1] for a, b in zip(merged, merged[1:])]
        r = out[uid]
        assert r.n_busy_intervals == len(merged)
        assert r.n_gaps == len(gaps)
        assert r.total_gap_us == sum(gaps)
        assert r.max_gap_us == (max(gaps) if gaps else 0)


def test_filter_cascade_reconciles(spark):
    from matt3r_data_ingestion_serverless_spark.plans.breadth_r4 import (
        ns_filter_cascade_audit,
    )

    r = ns_filter_cascade_audit(spark, SF_SMOKE).collect()[0]
    # first-failing-stage attribution: drops + survivors == input
    assert r.dropped_len + r.after_len == r.n_input
    assert r.dropped_lang + r.after_lang == r.after_len
    assert r.dropped_rep + r.after_rep == r.after_lang
    assert r.n_input == load_table(spark, SF_SMOKE, "documents").count()


def test_event_pattern_match_python(spark):
    import re

    from matt3r_data_ingestion_serverless_spark.plans.breadth_r4 import (
        _SEQ_PATTERN,
        event_pattern_match,
    )

    ev = load_table(spark, SF_SMOKE, "events").collect()
    by_user = defaultdict(list)
    for r in ev:
        by_user[r.user_id].append(r)
    out = {r.user_id: r for r in event_pattern_match(spark, SF_SMOKE).collect()}
    for uid, rows in by_user.items():
        rows.sort(key=lambda r: (r.ts, r.event_id))
        s = "".join(r.event_type[0] for r in rows)
        n = len(re.findall(_SEQ_PATTERN, s))
        if n == 0:
            assert uid not in out
        else:
            assert out[uid].n_matches == n and out[uid].n_events == len(s)
    assert out, "smoke fixture should contain at least one match"
