"""Brute-force property tests for plans/breadth_r89.py."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

from matt3r_data_ingestion_serverless_spark.plans.breadth_r89 import (
    _ALS_LAMBDA,
    _ALS_V,
    ml_als_user_solve,
    ns_naive_bayes_langid,
)
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def test_als_solves_ridge_normal_equations(spark):
    ev = load_table(spark, SF_SMOKE, "events").collect()
    rat = defaultdict(float)
    for r in ev:
        rat[(r.user_id, r.event_type)] += math.floor(r.value * 100 + 0.5)
    byuser = defaultdict(dict)
    for (u, t), v in rat.items():
        byuser[u][t] = v
    got = {r.user_id: r for r in ml_als_user_solve(spark, SF_SMOKE).collect()}
    assert set(got) == set(byuser)
    for u, items in byuser.items():
        a = sum(_ALS_V[t][0] ** 2 for t in items) + _ALS_LAMBDA
        b = sum(_ALS_V[t][0] * _ALS_V[t][1] for t in items)
        d = sum(_ALS_V[t][1] ** 2 for t in items) + _ALS_LAMBDA
        g1 = sum(_ALS_V[t][0] * items[t] for t in items)
        g2 = sum(_ALS_V[t][1] * items[t] for t in items)
        det = a * d - b * b
        u1, u2 = (d * g1 - b * g2) / det, (a * g2 - b * g1) / det
        # the closed form IS the ridge optimum: residual of the normal
        # equations must vanish
        assert math.isclose(a * u1 + b * u2, g1, rel_tol=1e-9)
        assert math.isclose(b * u1 + d * u2, g2, rel_tol=1e-9)
        r = got[u]
        assert r.n_items == len(items)
        assert math.isclose(r.u1_r, u1 / 100, abs_tol=1e-6)
        assert math.isclose(r.u2_r, u2 / 100, abs_tol=1e-6)
        sse = sum(
            (items[t] - (u1 * _ALS_V[t][0] + u2 * _ALS_V[t][1])) ** 2 for t in items
        )
        assert math.isclose(r.rmse_r, math.sqrt(sse / len(items)) / 100, abs_tol=1e-5)


def test_naive_bayes_matches_python(spark):
    docs = load_table(spark, SF_SMOKE, "documents").collect()
    train = [(r.lang, r.text.split(" ")) for r in docs if r.doc_id % 2 == 0]
    test = [(r.doc_id, r.lang, r.text.split(" ")) for r in docs if r.doc_id % 2]
    vocab = {w for _, ws in train for w in ws}
    cls_tok = Counter()
    wc = Counter()
    n_docs = Counter()
    for lang, ws in train:
        n_docs[lang] += 1
        for w in ws:
            cls_tok[lang] += 1
            wc[(lang, w)] += 1
    total = sum(n_docs.values())
    conf = Counter()
    for _, true_lang, ws in test:
        scores = {}
        for lang in n_docs:
            s = math.log(n_docs[lang] / total)
            for w in ws:
                if w not in vocab:
                    continue
                s += math.log((wc[(lang, w)] + 1) / (cls_tok[lang] + len(vocab)))
            scores[lang] = math.copysign(
                math.floor(abs(s) * 1e6 + 0.5), s
            )  # micro-rounded argmax, as in the query
        best = max(scores.values())
        pred = min(l for l, v in scores.items() if v == best)  # ties → name asc
        conf[(true_lang, pred)] += 1
    got = {
        (r.true_lang, r.pred_lang): r.n
        for r in ns_naive_bayes_langid(spark, SF_SMOKE).collect()
    }
    assert got == dict(conf)
    # the classifier must beat chance on the diagonal
    diag = sum(v for (t, p), v in conf.items() if t == p)
    assert diag > sum(conf.values()) / 5
