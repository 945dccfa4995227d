"""Brute-force property tests for plans/breadth_r3.py — independent of
the DuckDB oracle harness (pure-Python recomputation on the smoke SF)."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.plans.breadth_r3 import (
    geo_grid_density,
    lateral_topk_nations,
    ns_bigram_next_word,
    ns_bpe_pair_counts,
    ns_char_entropy,
    ns_lsh_eval_prf,
    ns_unigram_surprisal,
    set_ops_multiset,
    sql_pivot_monthly_flag,
)
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def _doc_tokens(spark):
    return {
        r.doc_id: [t for t in r.text.split(" ") if t]
        for r in load_table(spark, SF_SMOKE, "documents").collect()
    }


def test_unigram_surprisal_matches_python(spark):
    toks = _doc_tokens(spark)
    vocab = Counter(t for ts in toks.values() for t in ts)
    total = sum(vocab.values())
    out = {r.doc_id: r for r in ns_unigram_surprisal(spark, SF_SMOKE).collect()}
    assert set(out) == {d for d, ts in toks.items() if ts}
    for doc_id, ts in toks.items():
        if not ts:
            continue
        exp = sum(-math.log(vocab[t] / total) for t in ts) / len(ts)
        assert out[doc_id].n_tokens == len(ts)
        assert abs(out[doc_id].avg_surprisal - exp) < 1e-5, doc_id


def test_bigram_next_word_matches_python(spark):
    toks = _doc_tokens(spark)
    pairs = Counter()
    for ts in toks.values():
        pairs.update(zip(ts, ts[1:]))
    w1_tot = Counter()
    for (w1, _), c in pairs.items():
        w1_tot[w1] += c
    top20 = sorted(w1_tot.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    rows = {r.w1: r for r in ns_bigram_next_word(spark, SF_SMOKE).collect()}
    assert set(rows) == {w for w, _ in top20}
    for w1, tot in top20:
        nxt = sorted(
            ((w2, c) for (a, w2), c in pairs.items() if a == w1),
            key=lambda kv: (-kv[1], kv[0]),
        )[0]
        r = rows[w1]
        assert (r.next_word, r.pair_count, r.w1_pairs) == (nxt[0], nxt[1], tot)
        assert abs(r.p_next - round(nxt[1] / tot, 6)) < 1e-9


def test_char_entropy_matches_python(spark):
    docs = {r.doc_id: r.text for r in load_table(spark, SF_SMOKE, "documents").collect()}
    out = {r.doc_id: r for r in ns_char_entropy(spark, SF_SMOKE).collect()}
    for doc_id, text in docs.items():
        counts = Counter(c for c in text if c != " ")
        if not counts:
            continue
        n = sum(counts.values())
        ent = -sum((c / n) * math.log(c / n) for c in counts.values())
        r = out[doc_id]
        assert r.n_chars_counted == n
        assert r.distinct_chars == len(counts)
        assert abs(r.entropy_nats - ent) < 1e-5


def test_bpe_pair_counts_matches_python(spark):
    toks = _doc_tokens(spark)
    pairs = Counter()
    for ts in toks.values():
        for t in ts:
            pairs.update(zip(t, t[1:]))
    exp = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[:30]
    got = [((r.c1, r.c2), r.cnt) for r in ns_bpe_pair_counts(spark, SF_SMOKE).collect()]
    assert got == exp


def test_lsh_eval_internal_consistency(spark):
    r = ns_lsh_eval_prf(spark, SF_SMOKE).collect()[0]
    assert r.fp == 0 and r.precision_ in (0.0, 1.0)  # LSH re-scores exactly
    assert r.tp + r.fn == r.n_true
    assert r.tp == r.n_lsh  # fp == 0 ⇒ every LSH pair is a true pair
    assert 0.0 <= r.recall_ <= 1.0


def test_lateral_topk_matches_python(spark):
    sups = load_table(spark, SF_SMOKE, "supplier").collect()
    nations = {r.n_nationkey: r.n_name for r in load_table(spark, SF_SMOKE, "nation").collect()}
    by_nat = defaultdict(list)
    for s in sups:
        by_nat[s.s_nationkey].append(s)
    exp = set()
    for nk, ss in by_nat.items():
        ss.sort(key=lambda s: (-s.s_acctbal, s.s_suppkey))
        for s in ss[:2]:
            exp.add((nations[nk], s.s_name, round(s.s_acctbal, 6)))
    got = {(r.n_name, r.s_name, r.acctbal) for r in lateral_topk_nations(spark, SF_SMOKE).collect()}
    assert got == exp


def test_grid_density_totals(spark):
    e = load_table(spark, SF_SMOKE, "events")
    rows = geo_grid_density(spark, SF_SMOKE).collect()
    assert sum(r.n_events for r in rows) == e.count()
    assert len(rows) <= 100
    assert all(0 <= r.cell_x <= 9 and 0 <= r.cell_y <= 9 for r in rows)


def test_set_ops_multiset_matches_python(spark):
    orders = load_table(spark, SF_SMOKE, "orders").collect()
    a = Counter(o.o_orderpriority for o in orders if o.o_orderstatus == "F")
    b = Counter(o.o_orderpriority for o in orders if o.o_totalprice > 150000)
    inter = {k: min(a[k], b[k]) for k in a if min(a[k], b[k]) > 0}
    exc = {k: a[k] - b[k] for k in a if a[k] - b[k] > 0}
    got_i, got_e = {}, {}
    for r in set_ops_multiset(spark, SF_SMOKE).collect():
        (got_i if r.op == "intersect_all" else got_e)[r.o_orderpriority] = r.n
    assert got_i == inter
    assert got_e == exc


def test_pivot_matches_python(spark):
    li = load_table(spark, SF_SMOKE, "lineitem").collect()
    exp = defaultdict(lambda: {"A": 0, "N": 0, "R": 0})
    for r in li:
        exp[r.l_shipdate.month][r.l_returnflag] += round(r.l_extendedprice * 100)
    for r in sql_pivot_monthly_flag(spark, SF_SMOKE).collect():
        e = exp[r.ship_month]
        assert (r.a_cents, r.n_cents, r.r_cents) == (e["A"], e["N"], e["R"])


def test_winnow_fingerprints_matches_python(spark):
    from matt3r_data_ingestion_serverless_spark.functions.hashing import P31
    from matt3r_data_ingestion_serverless_spark.plans.breadth_r3 import (
        _WINNOW_K,
        _WINNOW_W,
        ns_winnow_fingerprints,
    )
    from matt3r_data_ingestion_serverless_spark.functions.hashing import TOKEN_B
    import hashlib

    def h64(t: str) -> int:
        return int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % P31

    docs = {r.doc_id: r.text for r in load_table(spark, SF_SMOKE, "documents").collect()}
    out = {r.doc_id: r for r in ns_winnow_fingerprints(spark, SF_SMOKE).collect()}
    for doc_id, txt in docs.items():
        th = [h64(t) for t in txt.lower().split(" ")]
        grams = [
            ((th[i] * TOKEN_B + th[i + 1]) % P31 * TOKEN_B + th[i + 2]) % P31
            for i in range(len(th) - _WINNOW_K + 1)
        ]
        fps = {
            min(grams[i : i + _WINNOW_W])
            for i in range(len(grams) - _WINNOW_W + 1)
        }
        if not fps:
            assert doc_id not in out
            continue
        r = out[doc_id]
        assert r.n_fingerprints == len(fps)
        assert (r.min_fp, r.max_fp) == (min(fps), max(fps))
        assert r.fp_checksum == sum(fps) % 2147483647


def test_winnow_guarantee_shared_run_shares_fingerprint(spark):
    # the winnowing guarantee: two docs sharing a run of W+K-1 tokens
    # share at least one fingerprint — check on synthetic overlap
    from matt3r_data_ingestion_serverless_spark.functions.hashing import P31
    from matt3r_data_ingestion_serverless_spark.plans.breadth_r3 import (
        _WINNOW_K,
        _WINNOW_W,
    )
    from matt3r_data_ingestion_serverless_spark.functions.hashing import TOKEN_B
    import hashlib

    def fps_of(txt: str) -> set:
        th = [int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % P31
              for t in txt.lower().split(" ")]
        grams = [
            ((th[i] * TOKEN_B + th[i + 1]) % P31 * TOKEN_B + th[i + 2]) % P31
            for i in range(len(th) - _WINNOW_K + 1)
        ]
        return {min(grams[i:i + _WINNOW_W]) for i in range(len(grams) - _WINNOW_W + 1)}

    shared = "alpha beta gamma delta epsilon zeta"  # W+K-1 = 6 tokens
    a = "one two " + shared + " three four five six seven"
    b = "nine ten eleven twelve " + shared + " thirteen fourteen"
    assert fps_of(a) & fps_of(b), "guarantee violated"


def test_quality_lr_score_matches_python(spark):
    from matt3r_data_ingestion_serverless_spark.plans.breadth_r3 import (
        _LR_W0,
        _LR_W1,
        _LR_W2,
        _LR_W3,
        ns_quality_lr_score,
    )

    docs = {r.doc_id: r.text for r in load_table(spark, SF_SMOKE, "documents").collect()}
    out = {r.doc_id: r for r in ns_quality_lr_score(spark, SF_SMOKE).collect()}
    zs = {}
    for doc_id, txt in docs.items():
        if not txt:
            continue
        toks = txt.split(" ")
        n = len(toks)
        mean_tok_len = (len(txt) - (n - 1)) / n
        ttr = len(set(toks)) / n
        z = _LR_W0 + _LR_W1 * mean_tok_len + _LR_W2 * ttr + _LR_W3 * math.log(n)
        zs[doc_id] = z
        p = 1.0 / (1.0 + math.exp(-z))
        assert out[doc_id].n_tokens == n
        assert abs(out[doc_id].p_quality - p) < 1e-5
    # deciles partition the corpus into near-equal ranked buckets
    order = sorted(zs, key=lambda d: (-round(zs[d], 6), d))
    n = len(order)
    for rank, doc_id in enumerate(order):
        expected_decile = rank * 10 // n + 1 if n % 10 == 0 else None
        if expected_decile is not None:
            assert out[doc_id].decile == expected_decile


def test_lang_mix_kl_matches_python(spark):
    from matt3r_data_ingestion_serverless_spark.plans.breadth_r3 import ns_lang_mix_kl

    docs = load_table(spark, SF_SMOKE, "documents").collect()
    per_source = defaultdict(Counter)
    corpus = Counter()
    for r in docs:
        per_source[r.source][r.lang] += 1
        corpus[r.lang] += 1
    nt = sum(corpus.values())
    out = {r.source: r for r in ns_lang_mix_kl(spark, SF_SMOKE).collect()}
    for source, langs in per_source.items():
        ns = sum(langs.values())
        kl = sum(
            (c / ns) * math.log((c / ns) / (corpus[lang] / nt))
            for lang, c in langs.items()
        )
        assert out[source].n_docs == ns
        assert abs(out[source].kl_nats - kl) < 1e-6
        assert out[source].kl_nats >= 0 or abs(out[source].kl_nats) < 1e-6


def test_udaf_gini_matches_python(spark):
    from matt3r_data_ingestion_serverless_spark.plans.breadth_r3 import (
        udaf_gini_by_type,
    )

    ev = (
        load_table(spark, SF_SMOKE, "events")
        .filter(F.col("value") > 0)
        .select("event_type", "value")
        .collect()
    )
    groups = defaultdict(list)
    for r in ev:
        groups[r.event_type].append(round(r.value * 100))
    out = {r.event_type: r for r in udaf_gini_by_type(spark, SF_SMOKE).collect()}
    for et, vals in groups.items():
        x = sorted(vals)
        n = len(x)
        num = sum((2 * (i + 1) - n - 1) * v for i, v in enumerate(x))
        gini = num / (n * sum(x))
        assert out[et].n_values == n
        assert abs(out[et].gini - gini) < 1e-5
        assert 0.0 <= out[et].gini < 1.0


def test_repetition_filter_matches_python(spark):
    from matt3r_data_ingestion_serverless_spark.plans.breadth_r3 import (
        ns_repetition_filter,
    )

    toks = _doc_tokens(spark)
    out = {r.doc_id: r for r in ns_repetition_filter(spark, SF_SMOKE).collect()}
    for doc_id, ts in toks.items():
        pairs = Counter(zip(ts, ts[1:]))
        if not pairs:
            assert doc_id not in out
            continue
        total = sum(pairs.values())
        r = out[doc_id]
        assert r.n_bigrams == total
        assert r.n_distinct_bigrams == len(pairs)
        assert abs(r.dup_bigram_frac - (1 - len(pairs) / total)) < 1e-6
        assert abs(r.top_bigram_share - max(pairs.values()) / total) < 1e-6


def test_kanonymity_audit_matches_python(spark):
    from matt3r_data_ingestion_serverless_spark.plans.breadth_r3 import (
        _KANON_K,
        ns_kanonymity_audit,
    )

    ev = load_table(spark, SF_SMOKE, "events").collect()
    groups = Counter(
        (r.event_type, r.ts.hour, r.user_id % 10) for r in ev
    )
    r = ns_kanonymity_audit(spark, SF_SMOKE).collect()[0]
    below = {g: n for g, n in groups.items() if n < _KANON_K}
    assert r.n_groups == len(groups)
    assert r.n_groups_below_k == len(below)
    assert r.min_group_size == min(groups.values())
    assert abs(r.frac_rows_at_risk - sum(below.values()) / len(ev)) < 1e-6


def test_dp_noisy_counts_deterministic_and_unbiasedish(spark):
    from matt3r_data_ingestion_serverless_spark.plans.breadth_r3 import (
        ns_dp_noisy_counts,
    )

    a = {(r.event_type, r.day): r.noisy_n for r in ns_dp_noisy_counts(spark, SF_SMOKE).collect()}
    b = {(r.event_type, r.day): r.noisy_n for r in ns_dp_noisy_counts(spark, SF_SMOKE).collect()}
    assert a == b  # keyed PRNG: reproducible release
    rows = ns_dp_noisy_counts(spark, SF_SMOKE).collect()
    resid = [r.noisy_n - r.true_n for r in rows]
    # Laplace(b=2): residuals centered near 0, rarely beyond ~8b
    assert all(abs(x) < 30 for x in resid)
    assert abs(sum(resid) / len(resid)) < 2.0
