"""Brute-force property tests for plans/breadth_r6.py."""

from __future__ import annotations

import hashlib
import math
import random
from collections import Counter

import pandas as pd

from matt3r_data_ingestion_serverless_spark.plans import breadth_r6
from matt3r_data_ingestion_serverless_spark.plans.breadth_r6 import (
    _cdc_apply,
    _cdc_log,
    _mg_candidates,
    apportion_largest_remainder,
    cdc_apply_log,
    cdc_streamed_apply,
    heavy_hitters_mg_exact,
    ns_feature_hashing,
)
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def _round6(x: float) -> float:
    return math.copysign(math.floor(abs(x) * 1e6 + 0.5) / 1e6, x)


# ---------------------------------------------------------------------------
# Misra–Gries candidate guarantee (pure python, adversarial streams)
# ---------------------------------------------------------------------------


def test_mg_candidates_superset_guarantee(monkeypatch):
    """Union of per-partition MG summaries must contain every item with
    global count > N/(k+1) — for zipf-ish and adversarial streams, with
    a deliberately tiny k and multiple partition splits."""
    monkeypatch.setattr(breadth_r6, "_MG_K", 7)
    rng = random.Random(42)
    for trial in range(20):
        n = rng.randrange(200, 2000)
        vocab = [f"t{i}" for i in range(rng.randrange(10, 200))]
        weights = [1.0 / (i + 1) for i in range(len(vocab))]
        stream = rng.choices(vocab, weights=weights, k=n)
        n_parts = rng.randrange(1, 5)
        parts = [stream[i::n_parts] for i in range(n_parts)]
        cands: set[str] = set()
        for part in parts:
            batches = [
                pd.DataFrame({"term": part[j : j + 97]})
                for j in range(0, len(part), 97)
            ]
            for out in _mg_candidates(iter(batches)):
                cands.update(out["term"].tolist())
        counts = Counter(stream)
        frequent = {t for t, c in counts.items() if c > n / (7 + 1)}
        assert frequent <= cands, (trial, frequent - cands)


def test_heavy_hitters_matches_plain_groupby(spark):
    out = {
        r.term: (r.cnt, r.share_permille)
        for r in heavy_hitters_mg_exact(spark, SF_SMOKE).collect()
    }
    docs = load_table(spark, SF_SMOKE, "documents").collect()
    counts: Counter[str] = Counter()
    for r in docs:
        counts.update(r.text.lower().split(" "))
    n = sum(counts.values())
    expected = {t: c for t, c in counts.items() if c * 1000 > n}
    assert set(out) == set(expected)
    for t, c in expected.items():
        assert out[t][0] == c
        assert abs(out[t][1] - _round6(c * 1000.0 / n)) < 1e-12


# ---------------------------------------------------------------------------
# CDC apply: python fold oracle + at-least-once idempotence
# ---------------------------------------------------------------------------


def test_cdc_apply_matches_python_fold(spark):
    orders = load_table(spark, SF_SMOKE, "orders").collect()
    state: dict[int, tuple] = {}
    for seq, op_rows in [
        (1, [(r, "I") for r in orders]),
        (2, [(r, "U") for r in orders if r.o_orderstatus == "O"]),
        (3, [(r, "D") for r in orders if r.o_orderkey % 97 == 0]),
    ]:
        for r, op in op_rows:
            cents = int(math.floor(abs(r.o_totalprice * 100) + 0.5))
            if op == "U":
                cents = cents * 9 // 10
            state[r.o_orderkey] = (op, None if op == "D" else cents, seq)
    expected = {
        k: (cents, seq)
        for k, (op, cents, seq) in state.items()
        if op != "D"
    }
    got = {
        r.o_orderkey: (r.cents, r.last_seq)
        for r in cdc_apply_log(spark, SF_SMOKE).collect()
    }
    assert got == expected


def test_cdc_apply_idempotent_under_redelivery(spark):
    log = _cdc_log(spark, SF_SMOKE)
    once = {tuple(r) for r in _cdc_apply(log).collect()}
    twice = {tuple(r) for r in _cdc_apply(log.unionByName(log)).collect()}
    assert once == twice


def test_cdc_streamed_matches_batch(spark):
    batch = {tuple(r) for r in cdc_apply_log(spark, SF_SMOKE).collect()}
    streamed = {tuple(r) for r in cdc_streamed_apply(spark, SF_SMOKE).collect()}
    assert streamed == batch


# ---------------------------------------------------------------------------
# apportionment: exact-sum + quota-rounding invariants
# ---------------------------------------------------------------------------


def test_apportionment_invariants(spark):
    rows = apportion_largest_remainder(spark, SF_SMOKE).collect()
    assert sum(r.seats for r in rows) == 10_000
    total = sum(r.cents for r in rows)
    for r in rows:
        assert r.seats in (r.floor_seats, r.floor_seats + 1)
        assert r.floor_seats == r.cents * 10_000 // total


# ---------------------------------------------------------------------------
# feature hashing vs hashlib reimplementation
# ---------------------------------------------------------------------------


def test_feature_hashing_matches_hashlib(spark):
    li = load_table(spark, SF_SMOKE, "lineitem").collect()
    buckets: Counter[int] = Counter()
    signed: Counter[int] = Counter()
    for r in li:
        for feat in (
            f"flag={r.l_returnflag}",
            f"status={r.l_linestatus}",
            f"qty={int(r.l_quantity)}",
        ):
            h = int(hashlib.md5(feat.encode()).hexdigest()[:15], 16)
            b = h % 32
            buckets[b] += 1
            signed[b] += 1 if (h // 32) % 2 == 0 else -1
    got = {
        r.bucket: (r.n_features, r.signed_sum)
        for r in ns_feature_hashing(spark, SF_SMOKE).collect()
    }
    assert got == {b: (buckets[b], signed[b]) for b in buckets}
