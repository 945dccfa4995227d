"""Brute-force property tests for plans/breadth_r99.py."""

from __future__ import annotations

import math

from matt3r_data_ingestion_serverless_spark.plans.breadth_r99 import ns_dedup_cost_savings
from matt3r_data_ingestion_serverless_spark.plans.curation import ns_dup_clusters
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def test_dedup_savings_match_cluster_labels(spark):
    lbl = {
        r.doc_id: r.cluster_id for r in ns_dup_clusters(spark, SF_SMOKE).collect()
    }
    docs = load_table(spark, SF_SMOKE, "documents").collect()
    dropped = [r for r in docs if r.doc_id in lbl and lbl[r.doc_id] != r.doc_id]
    total = sum(r.n_chars for r in docs)
    saved = sum(r.n_chars for r in dropped)
    row = ns_dedup_cost_savings(spark, SF_SMOKE).collect()[0]
    assert (row.n_docs, row.n_dropped) == (len(docs), len(dropped))
    assert (row.chars_total, row.chars_saved) == (total, saved)
    assert math.isclose(row.save_ratio_r, saved / total, abs_tol=1e-6)
    assert 0 < row.n_dropped < row.n_docs
