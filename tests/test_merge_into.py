"""MERGE INTO semantics (operators/merge.py:merge_plan / merge_into) —
the keyed row-level upsert that replaces the reference's per-file
ordered-concat merge (infer_stationary_states.py:117-133)."""

from __future__ import annotations

from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.operators.merge import (
    merge_into,
    merge_plan,
)


def _rows(df):
    return {tuple(r) for r in df.collect()}


def _target(spark):
    return spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k int, name string, v double"
    )


def _source(spark):
    # k=2 update, k=3 delete, k=4 insert
    return spark.createDataFrame(
        [(2, "b2", 99.0, "U"), (3, "c", 30.0, "D"), (4, "d", 40.0, "I")],
        "k int, name string, v double, op string",
    )


def test_merge_plan_update_delete_insert_passthrough(spark):
    out = merge_plan(
        _target(spark), _source(spark), ["k"], delete_condition=F.col("op") == "D"
    )
    assert out.columns == ["k", "name", "v"]
    assert _rows(out) == {(1, "a", 10.0), (2, "b2", 99.0), (4, "d", 40.0)}


def test_merge_plan_update_cols_subset_and_no_insert(spark):
    # only v is updatable; name keeps the target's value; inserts off
    out = merge_plan(
        _target(spark),
        _source(spark),
        ["k"],
        update_cols=["v"],
        delete_condition=F.col("op") == "D",
        insert=False,
    )
    assert _rows(out) == {(1, "a", 10.0), (2, "b", 99.0)}


def test_merge_into_parquet_roundtrip_and_idempotent(spark, tmp_path):
    tgt = str(tmp_path / "t")
    _target(spark).write.parquet(tgt)
    want = {(1, "a", 10.0), (2, "b2", 99.0), (4, "d", 40.0)}

    for _ in range(2):  # re-delivering the same batch is a no-op
        merge_into(
            _source(spark), tgt, ["k"], delete_condition=F.col("op") == "D"
        )
        assert _rows(spark.read.parquet(tgt)) == want


def test_merge_into_partition_scoped(spark, tmp_path):
    tgt = str(tmp_path / "p")
    target = spark.createDataFrame(
        [
            (1, "2024-01-01", 1.0),
            (2, "2024-01-01", 2.0),
            (3, "2024-01-02", 3.0),
            (5, None, 5.0),  # null partition (__HIVE_DEFAULT_PARTITION__)
        ],
        "k int, day string, v double",
    )
    target.write.partitionBy("day").parquet(tgt)
    # batch touches day 2024-01-01 (update k=1, insert k=9) and the
    # null partition (insert k=6), which must keep its committed k=5
    batch = spark.createDataFrame(
        [(1, "2024-01-01", 10.0), (9, "2024-01-01", 9.0), (6, None, 6.0)],
        "k int, day string, v double",
    )
    merge_into(batch, tgt, ["k"], partition_cols=["day"])
    got = _rows(
        # partition-column type inference reads day back as a date
        spark.read.parquet(tgt).select("k", F.col("day").cast("string"), "v")
    )
    assert got == {
        (1, "2024-01-01", 10.0),
        (2, "2024-01-01", 2.0),
        (9, "2024-01-01", 9.0),
        (3, "2024-01-02", 3.0),  # untouched partition intact
        (5, None, 5.0),
        (6, None, 6.0),
    }
