"""Brute-force property tests for plans/breadth_r22.py."""

from __future__ import annotations

import math
from collections import defaultdict

from matt3r_data_ingestion_serverless_spark.plans.breadth_r22 import ns_vocab_overlap_matrix
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def _round6(x: float) -> float:
    return math.copysign(math.floor(abs(x) * 1e6 + 0.5) / 1e6, x)


def test_vocab_overlap_matches_python(spark):
    docs = load_table(spark, SF_SMOKE, "documents").collect()
    vocab = defaultdict(set)
    for d in docs:
        vocab[d.source].update(d.text.lower().split(" "))
    got = {
        (r.source_a, r.source_b): r
        for r in ns_vocab_overlap_matrix(spark, SF_SMOKE).collect()
    }
    sources = sorted(vocab)
    expected_keys = set()
    for i, a in enumerate(sources):
        for b in sources[i + 1 :]:
            inter = len(vocab[a] & vocab[b])
            if inter == 0:
                continue
            expected_keys.add((a, b))
            r = got[(a, b)]
            union = len(vocab[a] | vocab[b])
            assert (r.vocab_a, r.vocab_b, r.shared_terms) == (
                len(vocab[a]),
                len(vocab[b]),
                inter,
            ), (a, b)
            assert abs(r.jaccard - _round6(inter / union)) < 1e-12
            assert abs(
                r.containment - _round6(inter / min(len(vocab[a]), len(vocab[b])))
            ) < 1e-12
    assert set(got) == expected_keys
