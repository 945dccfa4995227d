"""Brute-force property tests for plans/breadth_r25.py."""

from __future__ import annotations

import hashlib
import re
from collections import defaultdict

from matt3r_data_ingestion_serverless_spark.plans.breadth_r25 import ns_dedup_normalized
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def test_normalized_dedup_matches_python(spark):
    docs = load_table(spark, SF_SMOKE, "documents").collect()
    ws = re.compile(r" +")
    groups = defaultdict(lambda: [0, set(), None, set()])
    for d in docs:
        norm = ws.sub(" ", d.text.strip().lower())
        g = groups[hashlib.md5(norm.encode()).hexdigest()]
        g[0] += 1
        g[1].add(hashlib.md5(d.text.encode()).hexdigest())
        g[2] = d.doc_id if g[2] is None else min(g[2], d.doc_id)
        g[3].add(d.source)
    expected = {
        h: (n, len(raw), keep, len(srcs))
        for h, (n, raw, keep, srcs) in groups.items()
        if n > 1
    }
    got = {
        r.norm_hash: (r.n_copies, r.n_raw_variants, r.keep_doc_id, r.n_sources)
        for r in ns_dedup_normalized(spark, SF_SMOKE).collect()
    }
    assert got == expected
