"""Brute-force property tests for plans/breadth_r27.py."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

from matt3r_data_ingestion_serverless_spark.plans.breadth_r27 import (
    _NDCG_DIMS,
    _NDCG_K,
    _NDCG_W,
    _SN_MAX_DIST,
    _SN_WINDOW,
    mi_type_value_bucket,
    ml_calibration_bins,
    retrieval_ndcg_at_k,
    sorted_neighborhood_pairs,
)
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def _round6(x: float) -> float:
    return math.copysign(math.floor(abs(x) * 1e6 + 0.5) / 1e6, x)


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_sorted_neighborhood_matches_python(spark):
    part = load_table(spark, SF_SMOKE, "part").collect()
    ordered = sorted(part, key=lambda p: (p.p_name, p.p_partkey))
    expected = {}
    for i, a in enumerate(ordered):
        for off in range(1, _SN_WINDOW):
            if i + off >= len(ordered):
                break
            b = ordered[i + off]
            d = _lev(a.p_name, b.p_name)
            if d <= _SN_MAX_DIST:
                expected[(a.p_partkey, b.p_partkey)] = (off, d)
    got = {
        (r.key1, r.key2): (r.offset, r.dist)
        for r in sorted_neighborhood_pairs(spark, SF_SMOKE).collect()
    }
    assert got == expected


def test_mi_grid_matches_python(spark):
    ev = load_table(spark, SF_SMOKE, "events").collect()
    cells = Counter()
    for r in ev:
        b = min(max(int(math.floor(r.value / 10)), 0), 9)
        cells[(r.event_type, b)] += 1
    n = sum(cells.values())
    nx = Counter()
    ny = Counter()
    for (et, b), c in cells.items():
        nx[et] += c
        ny[b] += c
    got = {(r.event_type, r.bucket): r for r in mi_type_value_bucket(spark, SF_SMOKE).collect()}
    assert set(got) == set(cells)
    for key, c in cells.items():
        et, b = key
        r = got[key]
        assert (r.n_xy, r.n_x, r.n_y) == (c, nx[et], ny[b])
        ratio = c * n / (nx[et] * ny[b])
        assert abs(r.pmi - _round6(math.log(ratio))) <= 1e-6
        assert abs(r.mi_contrib - _round6(c / n * math.log(ratio))) <= 1e-6


def test_calibration_bins_match_python(spark):
    ev = load_table(spark, SF_SMOKE, "events").collect()
    bins = defaultdict(lambda: [0, 0, 0])  # n, n_pos, sum_micro
    for r in ev:
        score = 1.0 / (1.0 + math.exp(-(r.value - 50.0) / 25.0))
        micro = int(math.floor(score * 1e6 + 0.5))
        b = min(micro // 100000, 9)
        cell = bins[b]
        cell[0] += 1
        cell[1] += r.event_type == "purchase"
        cell[2] += micro
    got = {r.bin: r for r in ml_calibration_bins(spark, SF_SMOKE).collect()}
    assert set(got) == set(bins)
    for b, (n, pos, sm) in bins.items():
        r = got[b]
        assert (r.n, r.n_pos) == (n, pos)
        mp, fp = _round6(sm / n / 1e6), _round6(pos / n)
        assert abs(r.mean_pred - mp) <= 1e-6
        assert abs(r.frac_pos - fp) <= 1e-6
        assert abs(r.calib_gap - _round6(mp - fp)) <= 1e-6


def _fold_dot(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def test_ndcg_matches_python(spark):
    vecs = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in load_table(spark, SF_SMOKE, "embeddings").collect()
    }
    norms = {i: math.sqrt(_fold_dot(v, v)) for i, v in vecs.items()}
    tvecs = {i: v[:_NDCG_DIMS] for i, v in vecs.items()}
    tnorms = {i: math.sqrt(_fold_dot(v, v)) for i, v in tvecs.items()}
    queries = [i for i in vecs if i % 100 == 7]
    got = {r.query_id: r for r in retrieval_ndcg_at_k(spark, SF_SMOKE).collect()}
    assert set(got) == set(queries)
    for qid in queries:
        scored = []
        for cid, cv in vecs.items():
            if cid == qid:
                continue
            fc = _round6(_fold_dot(vecs[qid], cv) / (norms[qid] * norms[cid]))
            tc = _round6(
                _fold_dot(tvecs[qid], tvecs[cid]) / (tnorms[qid] * tnorms[cid])
            )
            rel = max(int(math.floor(fc * 4)), 0)
            scored.append((cid, rel, tc))
        sys_order = sorted(scored, key=lambda s: (-s[2], s[0]))
        ideal_order = sorted(scored, key=lambda s: (-s[1], s[0]))
        dcg = sum(
            ((1 << rel) - 1) * _NDCG_W[i]
            for i, (_, rel, _) in enumerate(sys_order[:_NDCG_K])
        )
        idcg = sum(
            ((1 << rel) - 1) * _NDCG_W[i]
            for i, (_, rel, _) in enumerate(ideal_order[:_NDCG_K])
        )
        r = got[qid]
        assert (r.dcg_micro, r.idcg_micro) == (dcg, idcg)
        expect = 0.0 if idcg == 0 else _round6(dcg / idcg)
        assert abs(r.ndcg - expect) <= 1e-6
        assert r.dcg_micro <= r.idcg_micro  # ideal ranking dominates
