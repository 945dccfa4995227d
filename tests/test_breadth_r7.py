"""Brute-force property tests for plans/breadth_r7.py."""

from __future__ import annotations

from collections import defaultdict

from matt3r_data_ingestion_serverless_spark.plans.breadth_r7 import ns_quantile_normalize
from tests.conftest import SF_SMOKE


def test_quantile_normalize_aligns_sources(spark):
    rows = ns_quantile_normalize(spark, SF_SMOKE).collect()
    ref: dict[int, float] = {}
    for r in rows:
        ref.setdefault(r.bucket, r.normalized_value)
        # the whole point: every source maps a bucket to the SAME value
        assert r.normalized_value == ref[r.bucket], r
    by_source: dict[str, list] = defaultdict(list)
    for r in rows:
        by_source[r.source].append(r)
    for src, rs in by_source.items():
        rs.sort(key=lambda r: r.bucket)
        means = [r.raw_mean for r in rs]
        assert means == sorted(means), src  # quantile buckets are monotone
