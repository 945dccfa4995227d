"""Round-9 optimization pins: the fast construction paths must stay
bit-equivalent to the Column-builder twins they replaced, and the
metadata shortcuts must keep matching Spark's own decisions.

- expr-string twins (minhash / simhash / band structs / vector math)
  vs the original Column builders: identical rows on real documents;
- load_table's schema memo: second read resolves the same schema, and
  the relation still scans the same rows;
- spread()'s Python-side partition estimate: the fan-out decision
  (est < cores) matches df.rdd.getNumPartitions() for every table.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from matt3r_data_ingestion_serverless_spark.functions import hashing, vectors
from matt3r_data_ingestion_serverless_spark.sources import tables as tbl
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table, spread

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from matt3r_data_ingestion_serverless_spark import get_spark

    s = get_spark("test-opt-r09")
    yield s


def test_minhash_and_simhash_expr_twins_bit_equal(spark):
    d = hashing.with_hashed_shingles(load_table(spark, SF, "documents")).select("doc_id", "sh")
    old = d.select(
        "doc_id",
        hashing.minhash_from_hashes(F.col("sh")).alias("sig"),
        hashing.simhash_fingerprint(F.col("sh")).alias("fp"),
    )
    new = d.select(
        "doc_id",
        hashing.minhash_from_hashes_expr("sh").alias("sig"),
        hashing.simhash_fingerprint_expr("sh").alias("fp"),
    )
    assert sorted(map(tuple, old.collect())) == sorted(map(tuple, new.collect()))
    bo = old.select("doc_id", F.explode(hashing.minhash_band_structs(F.col("sig"))).alias("b"))
    bn = old.select("doc_id", F.explode(hashing.minhash_band_structs_expr("sig")).alias("b"))
    assert sorted(map(str, bo.collect())) == sorted(map(str, bn.collect()))


def test_vector_expr_twins_bit_equal(spark):
    e = load_table(spark, SF, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    old = e.select(
        "vec_id",
        vectors.dot(F.col("v"), F.col("v")).alias("d"),
        vectors.l2_norm(F.col("v")).alias("n"),
        vectors.srp_band_keys(F.col("v")).alias("k"),
    )
    new = e.select(
        "vec_id",
        vectors.dot("v", "v").alias("d"),
        vectors.l2_norm("v").alias("n"),
        vectors.srp_band_keys("v").alias("k"),
    )
    assert sorted(map(str, old.collect())) == sorted(map(str, new.collect()))


def test_schema_memo_roundtrip(spark):
    a = load_table(spark, SF, "events")
    b = load_table(spark, SF, "events")  # memoized path
    assert a.schema == b.schema
    assert a.count() == b.count()


def test_spread_estimate_matches_spark_decision(spark):
    cores = spark.sparkContext.defaultParallelism
    for name in tbl.TABLES:
        df = load_table(spark, SF, name)
        est = getattr(df, "_graft_scan_est", None)
        assert est is not None, name
        actual = df.rdd.getNumPartitions()
        assert (est < cores) == (actual < cores), (name, est, actual)
        assert spread(load_table(spark, SF, name)).rdd.getNumPartitions() >= min(
            cores, 1
        )
