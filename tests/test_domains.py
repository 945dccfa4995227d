"""Registry layout: each finished query domain lives in its own plans
module, so a new domain query cannot land in a round-named module."""

from __future__ import annotations

import re

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

_LAKEHOUSE = {"lakehouse_file_stats", "morton_zorder_layout"}


def _domain(name: str) -> str | None:
    if name.startswith(("ns_dedup_", "ns_dup_")) or name in _DEDUP:
        return "dedup"
    if name.startswith("graph_"):
        return "graph"
    if name.startswith(("mm_", "ns_multimodal_")) or name == "ns_image_patch_grid":
        return "multimodal"
    if name.startswith("ts_"):
        return "timeseries"
    if re.match(r"j([6-9]|1\d|2[0-2])_", name) or name in _LAKEHOUSE:
        return "lakehouse"
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
    assert sum(_domain(n) == "lakehouse" for n in all_queries()) == 19


def test_every_query_has_a_filled_docstring():
    """A docstring built by .replace() or copied from an f-string is not
    stored or prints a literal placeholder; every registered function
    must carry a docstring with the real values written in."""
    placeholder = re.compile(r"\{[A-Za-z_]\w*\}")
    bad = {
        name: fn.__module__
        for name, (fn, _) in all_queries().items()
        if not (fn.__doc__ or "").strip()
        or placeholder.search(fn.__doc__)
        or "{{" in fn.__doc__
    }
    assert bad == {}
