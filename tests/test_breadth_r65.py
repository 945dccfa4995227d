"""Brute-force property tests for plans/breadth_r65.py."""

from __future__ import annotations

import math
from collections import defaultdict

from matt3r_data_ingestion_serverless_spark.plans.breadth_r65 import ns_embedding_norm_audit
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def _round6(x: float) -> float:
    return math.copysign(math.floor(abs(x) * 1e6 + 0.5) / 1e6, x)


def test_norm_audit_matches_python(spark):
    rows = load_table(spark, SF_SMOKE, "embeddings").collect()
    per = defaultdict(list)
    for r in rows:
        acc = 0.0
        for x in r.embedding:
            acc += float(x) * float(x)
        per[r.label].append(int(math.floor(math.sqrt(acc) * 1e6 + 0.5)))
    got = {r.label: r for r in ns_embedding_norm_audit(spark, SF_SMOKE).collect()}
    assert set(got) == set(per)
    for label, norms in per.items():
        n, s = len(norms), sum(norms)
        q = sum(x * x for x in norms)
        r = got[label]
        assert (r.n, r.min_norm_micro, r.max_norm_micro) == (n, min(norms), max(norms))
        assert r.mean_norm_micro == s // n
        cv = math.sqrt((q - s * s / n) / (n - 1)) * n / s
        assert abs(r.norm_cv - _round6(cv)) <= 1e-6
        assert r.norm_cv >= 0
