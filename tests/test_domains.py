"""Registry layout: each finished query domain lives in its own plans
module, so a new domain query cannot land in a round-named module."""

from __future__ import annotations

from matt3r_data_ingestion_serverless_spark.plans import all_queries

_PLANS = "matt3r_data_ingestion_serverless_spark.plans"


_DEDUP = {
    "cluster_size_histogram",
    "ns_minhash_jaccard_est",
    "ns_lsh_bucket_stats",
    "ns_pair_jaccard_histogram",
    "ns_rouge2_neardup_pairs",
    "sql_recursive_components",
}


def _domain(name: str) -> str | None:
    if name.startswith(("ns_dedup_", "ns_dup_")) or name in _DEDUP:
        return "dedup"
    if name.startswith("graph_"):
        return "graph"
    if name.startswith(("mm_", "ns_multimodal_")) or name == "ns_image_patch_grid":
        return "multimodal"
    if name.startswith("ts_"):
        return "timeseries"
    return None


def test_domain_queries_live_in_their_domain_module():
    misplaced = {
        name: fn.__module__
        for name, (fn, _) in all_queries().items()
        if _domain(name) and fn.__module__ != f"{_PLANS}.{_domain(name)}"
    }
    assert misplaced == {}
    assert sum(_domain(n) == "dedup" for n in all_queries()) == 16
    assert sum(_domain(n) == "graph" for n in all_queries()) == 16
    assert sum(_domain(n) == "multimodal" for n in all_queries()) == 12
    assert sum(_domain(n) == "timeseries" for n in all_queries()) == 41
