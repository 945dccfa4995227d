"""Brute-force property tests for plans/breadth_r44.py."""

from __future__ import annotations

import math
import re

from matt3r_data_ingestion_serverless_spark.plans.breadth_r44 import ns_code_like_filter
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def _round6(x: float) -> float:
    return math.copysign(math.floor(abs(x) * 1e6 + 0.5) / 1e6, x)


def test_code_filter_matches_python(spark):
    docs = load_table(spark, SF_SMOKE, "documents").collect()
    got = {r.doc_id: r for r in ns_code_like_filter(spark, SF_SMOKE).collect()}
    sym = re.compile(r"[{};()=<>\[\]]")
    kw = re.compile(r"\b(def|class|return|import|var|function|if|else)\b")
    expected_ids = {d.doc_id for d in docs if len(d.text) > 0}
    assert set(got) == expected_ids
    for d in docs:
        if len(d.text) == 0:
            continue
        nc = len(sym.findall(d.text))
        nk = len(kw.findall(d.text))
        r = got[d.doc_id]
        assert (r.n_code_chars, r.n_keywords) == (nc, nk)
        assert abs(r.code_char_ratio - _round6(nc / len(d.text))) <= 1e-6
        assert r.looks_like_code == (nc * 20 >= len(d.text) or nk >= 3)
