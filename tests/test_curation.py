"""Unit tests for the curation-pipeline queries beyond the registry
parity sweep: HLL sketch-rollup accuracy (no oracle — engine-specific
binary).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.plans.curation import sketch_hll_rollup
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table
from matt3r_data_ingestion_serverless_spark.functions import text
from tests.conftest import SF_CORRECTNESS


def test_hll_rollup_within_tolerance(spark):
    """The r06 gradeable-sketch shape: each row carries the EXACT
    distinct count plus a within_bounds flag asserting the HLL estimate
    (lgK=14 → ~0.8% RSE) landed inside the 4% envelope. Verify the
    exact counts against an independent computation AND that every flag
    is TRUE."""
    rows = sketch_hll_rollup(spark, SF_CORRECTNESS).collect()
    got = {r["source"]: (r["exact_distinct_terms"], r["within_bounds"]) for r in rows}
    docs = load_table(spark, SF_CORRECTNESS, "documents")
    tok = docs.select("source", F.explode(text.tokens(F.col("text"))).alias("term"))
    exact = {
        r["source"]: r["n"]
        for r in tok.groupBy("source").agg(F.count_distinct("term").alias("n")).collect()
    }
    exact["ALL"] = tok.select("term").distinct().count()
    assert set(got) == set(exact)
    for src, n in exact.items():
        assert got[src] == (n, True), (src, got[src], n)
