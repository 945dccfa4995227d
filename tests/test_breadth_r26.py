"""Brute-force property tests for plans/breadth_r26.py."""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict

from matt3r_data_ingestion_serverless_spark.plans.breadth_r26 import (
    _BLOOM_K,
    _BLOOM_M,
    _CMS_D,
    _CMS_W,
    ab_proportion_ztest,
    distinct_on_latest,
    ns_bloom_filter_audit,
    ns_countmin_heavy_hitters,
    spearman_rank_corr,
)
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def _h64(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _round6(x: float) -> float:
    return math.copysign(math.floor(abs(x) * 1e6 + 0.5) / 1e6, x)


def test_bloom_audit_matches_python(spark):
    part = load_table(spark, SF_SMOKE, "part").collect()
    members = [str(p.p_partkey) for p in part if p.p_size <= 25]
    bits = {_h64(f"bloom{i}:{k}") % _BLOOM_M for k in members for i in range(_BLOOM_K)}
    n_pass = true_pos = false_pos = 0
    for p in part:
        k, is_m = str(p.p_partkey), p.p_size <= 25
        ok = all(_h64(f"bloom{i}:{k}") % _BLOOM_M in bits for i in range(_BLOOM_K))
        n_pass += ok
        true_pos += ok and is_m
        false_pos += ok and not is_m
    row = ns_bloom_filter_audit(spark, SF_SMOKE).collect()[0]
    assert row.n_members == len(members)
    assert row.n_nonmembers == len(part) - len(members)
    # Bloom guarantees NO false negatives: every member passes.
    assert row.true_pos == len(members)
    assert (row.n_pass, row.true_pos, row.false_pos) == (n_pass, true_pos, false_pos)
    assert row.fpr == _round6(false_pos / max(len(part) - len(members), 1))


def test_countmin_matches_python_and_is_one_sided(spark):
    docs = load_table(spark, SF_SMOKE, "documents").collect()
    exact = Counter(
        t for d in docs for t in d.text.lower().split(" ") if t != ""
    )
    counters: dict[tuple[int, int], int] = defaultdict(int)
    for tok, n in exact.items():
        for r in range(_CMS_D):
            counters[(r, _h64(f"cms{r}|{tok}") % _CMS_W)] += n
    expected = {}
    for tok, n in exact.items():
        expected[tok] = min(
            counters[(r, _h64(f"cms{r}|{tok}") % _CMS_W)] for r in range(_CMS_D)
        )
    top = sorted(exact.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    rows = ns_countmin_heavy_hitters(spark, SF_SMOKE).collect()
    assert [(r.token, r.exact_n) for r in rows] == top
    for r in rows:
        assert r.cms_n == expected[r.token]
        assert r.overcount >= 0  # one-sided error bound
        assert r.cms_n - r.exact_n == r.overcount


def test_distinct_on_latest_matches_python(spark):
    ev = load_table(spark, SF_SMOKE, "events").collect()
    best = {}
    for r in ev:
        key = (r.ts, r.event_id)
        if r.user_id not in best or key > (best[r.user_id].ts, best[r.user_id].event_id):
            best[r.user_id] = r
    got = {r.user_id: r for r in distinct_on_latest(spark, SF_SMOKE).collect()}
    assert set(got) == set(best)
    for uid, r in got.items():
        b = best[uid]
        assert r.last_ts_us == int(b.ts.timestamp() * 1e6)
        assert (r.event_type, r.value) == (b.event_type, b.value)


def _avg_ranks2(vals):
    """2× average rank (competition rank ties averaged), exact ints."""
    order = sorted(range(len(vals)), key=lambda i: vals[i])
    by_val = defaultdict(list)
    for pos, i in enumerate(order, start=1):
        by_val[vals[i]].append(pos)
    return [sum(by_val[vals[i]]) * 2 // len(by_val[vals[i]]) for i in range(len(vals))]


def test_spearman_matches_python(spark):
    li = load_table(spark, SF_SMOKE, "lineitem").collect()
    by_flag = defaultdict(list)
    for r in li:
        by_flag[r.l_returnflag].append((float(r.l_quantity), float(r.l_extendedprice)))
    got = {r.flag: r for r in spearman_rank_corr(spark, SF_SMOKE).collect()}
    assert set(got) == set(by_flag)
    for flag, pairs in by_flag.items():
        rx = _avg_ranks2([p[0] for p in pairs])
        ry = _avg_ranks2([p[1] for p in pairs])
        n = len(pairs)
        sx, sy = sum(rx), sum(ry)
        sxy = sum(a * b for a, b in zip(rx, ry))
        sxx = sum(a * a for a in rx)
        syy = sum(b * b for b in ry)
        rho = (n * sxy - sx * sy) / (
            math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy)
        )
        assert got[flag].n == n
        assert abs(got[flag].spearman_rho - _round6(rho)) <= 1e-6


def test_ab_ztest_matches_python(spark):
    ev = load_table(spark, SF_SMOKE, "events").collect()
    n = [0, 0]
    conv = [0, 0]
    for r in ev:
        g = r.user_id % 2
        n[g] += 1
        conv[g] += r.event_type == "purchase"
    row = ab_proportion_ztest(spark, SF_SMOKE).collect()[0]
    assert (row.n_a, row.n_b, row.conv_a, row.conv_b) == (n[0], n[1], conv[0], conv[1])
    pooled = (conv[0] + conv[1]) / (n[0] + n[1])
    z = (conv[0] / n[0] - conv[1] / n[1]) / math.sqrt(
        pooled * (1 - pooled) * (1 / n[0] + 1 / n[1])
    )
    assert abs(row.p_a - _round6(conv[0] / n[0])) <= 1e-6
    assert abs(row.p_b - _round6(conv[1] / n[1])) <= 1e-6
    assert abs(row.z_score - _round6(z)) <= 1e-6
