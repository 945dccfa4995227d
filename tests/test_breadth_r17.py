"""Brute-force property tests for plans/breadth_r17.py."""

from __future__ import annotations

import math
from collections import defaultdict

from matt3r_data_ingestion_serverless_spark.plans.breadth_r17 import binary_auc_rank
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def _round6(x: float) -> float:
    return math.copysign(math.floor(abs(x) * 1e6 + 0.5) / 1e6, x)


def test_auc_matches_pairwise_definition(spark):
    """AUC must equal P(score_pos > score_neg) + 0.5 P(tie) — the
    probabilistic definition, computed by brute force over all
    (pos, neg) pairs."""
    ev = load_table(spark, SF_SMOKE, "events").collect()
    pos, neg = [], []
    for r in ev:
        cents = int(math.floor(abs(r.value) * 100 + 0.5)) * (1 if r.value >= 0 else -1)
        (pos if r.event_type == "error" else neg).append(cents)
    wins = ties = 0
    neg_sorted = sorted(neg)
    import bisect

    for p in pos:
        lo = bisect.bisect_left(neg_sorted, p)
        hi = bisect.bisect_right(neg_sorted, p)
        wins += lo
        ties += hi - lo
    auc = (wins + 0.5 * ties) / (len(pos) * len(neg))
    r = binary_auc_rank(spark, SF_SMOKE).collect()[0]
    assert (r.n_pos, r.n_neg) == (len(pos), len(neg))
    assert abs(r.auc - _round6(auc)) < 1e-9


def test_source_diversity_matches_python(spark):
    from matt3r_data_ingestion_serverless_spark.plans.breadth_r17 import (
        ns_source_diversity,
    )

    docs = load_table(spark, SF_SMOKE, "documents").collect()
    counts = defaultdict(lambda: defaultdict(int))
    for d in docs:
        counts[d.lang][d.source] += 1
    got = {r.lang: r for r in ns_source_diversity(spark, SF_SMOKE).collect()}
    assert set(got) == set(counts)
    for lang, by_src in counts.items():
        total = sum(by_src.values())
        pair_same = sum(n * (n - 1) for n in by_src.values())
        r = got[lang]
        assert (r.n_docs, r.source_richness) == (total, len(by_src))
        if total > 1:
            assert abs(
                r.simpson_diversity - _round6(1.0 - pair_same / (total * (total - 1)))
            ) < 1e-9
        assert abs(r.berger_parker - _round6(max(by_src.values()) / total)) < 1e-9
