"""Brute-force property tests for plans/breadth_r7.py."""

from __future__ import annotations

from collections import defaultdict

from matt3r_data_ingestion_serverless_spark.plans.breadth_r7 import (
    ns_dedup_incremental,
    ns_quantile_normalize,
)
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def test_incremental_dedup_consistent_with_lsh_pairs(spark):
    from matt3r_data_ingestion_serverless_spark.plans.northstar import (
        ns_dedup_minhash_lsh,
    )

    rows = ns_dedup_incremental(spark, SF_SMOKE).collect()
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id").collect()
    odd = {r.doc_id for r in docs if r.doc_id % 2 == 1}
    assert {r.doc_id for r in rows} == odd  # every batch doc audited once
    # any verified LSH pair crossing the corpus/batch split must mark
    # the batch (odd) side as drop
    pairs = ns_dedup_minhash_lsh(spark, SF_SMOKE).collect()
    must_drop = set()
    for p in pairs:
        if p.doc_a % 2 != p.doc_b % 2:
            must_drop.add(p.doc_a if p.doc_a % 2 == 1 else p.doc_b)
    by_id = {r.doc_id: r for r in rows}
    for d in must_drop:
        assert by_id[d].decision == "drop", d
        assert by_id[d].n_corpus_matches >= 1
    for r in rows:
        if r.decision == "keep":
            assert r.n_corpus_matches == 0 and r.best_jaccard is None


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
