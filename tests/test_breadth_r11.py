"""Brute-force property tests for plans/breadth_r11.py."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import numpy as np

from matt3r_data_ingestion_serverless_spark.plans.breadth_r11 import (
    _HN_POOL,
    _MRL_DIMS,
    _MRL_K,
    _VOCAB_K,
    ns_hard_negative_mining,
    ns_matryoshka_recall,
    ns_vocab_coverage,
)
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def _round6(x: float) -> float:
    return math.copysign(math.floor(abs(x) * 1e6 + 0.5) / 1e6, x)


def test_vocab_coverage_matches_python(spark):
    docs = load_table(spark, SF_SMOKE, "documents").collect()
    freq: Counter[str] = Counter()
    per_source = defaultdict(list)
    for r in docs:
        toks = r.text.lower().split(" ")
        freq.update(toks)
        per_source[r.source].extend(toks)
    vocab = {
        t
        for t, _ in sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[:_VOCAB_K]
    }
    got = {r.source: r for r in ns_vocab_coverage(spark, SF_SMOKE).collect()}
    assert set(got) == set(per_source)
    for src, toks in per_source.items():
        in_v = sum(1 for t in toks if t in vocab)
        oov_types = len({t for t in toks if t not in vocab})
        r = got[src]
        assert (r.n_tokens, r.in_vocab, r.distinct_oov) == (
            len(toks),
            in_v,
            oov_types,
        ), src
        assert abs(r.oov_rate - _round6(1.0 - in_v / len(toks))) < 1e-12


def _ranked(X, nrm, qi, ids, dims=None):
    v = X[:, :dims] if dims else X
    n = np.sqrt((v * v).sum(1)) if dims else nrm
    cs = v @ v[qi] / (n * n[qi])
    out = [
        (_round6(cs[j]), ids[j]) for j in range(len(ids)) if ids[j] != ids[qi]
    ]
    out.sort(key=lambda t: (-t[0], t[1]))
    return out


def test_matryoshka_recall_matches_numpy(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings").collect()
    ids = np.array([r.vec_id for r in emb])
    X = np.array([list(r.embedding) for r in emb], dtype=np.float64)
    nrm = np.sqrt((X * X).sum(1))
    got = {r.query_id: r for r in ns_matryoshka_recall(spark, SF_SMOKE).collect()}
    for qi in np.where(ids % 50 == 0)[0]:
        full = {m for _, m in _ranked(X, nrm, qi, ids)[:_MRL_K]}
        trunc = {m for _, m in _ranked(X, nrm, qi, ids, dims=_MRL_DIMS)[:_MRL_K]}
        overlap = len(full & trunc)
        if overlap == 0:
            assert ids[qi] not in got
        else:
            r = got[ids[qi]]
            assert r.n_overlap == overlap, ids[qi]
            assert abs(r.recall_at_5 - _round6(overlap / _MRL_K)) < 1e-12


def test_hard_negative_is_first_label_mismatch(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings").collect()
    ids = np.array([r.vec_id for r in emb])
    X = np.array([list(r.embedding) for r in emb], dtype=np.float64)
    labels = {r.vec_id: r.label for r in emb}
    nrm = np.sqrt((X * X).sum(1))
    got = {r.query_id: r for r in ns_hard_negative_mining(spark, SF_SMOKE).collect()}
    for qi in np.where(ids % 50 == 0)[0]:
        qid = ids[qi]
        pool = _ranked(X, nrm, qi, ids)[:_HN_POOL]
        hard = [
            (rk + 1, m, cs)
            for rk, (cs, m) in enumerate(pool)
            if labels[m] != labels[qid]
        ]
        if not hard:
            assert qid not in got
            continue
        rk, m, cs = hard[0]
        r = got[qid]
        assert (r.hard_negative_id, r.rank_in_pool) == (m, rk), qid
        assert r.negative_label == labels[m]
        assert abs(r.cos_sim - cs) < 1e-12
