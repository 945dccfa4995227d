"""MERGE INTO semantics (operators/merge.py:merge_plan) — the keyed
row-level upsert that replaces the reference's per-file ordered-concat
merge (infer_stationary_states.py:117-133)."""

from __future__ import annotations

from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.operators.merge import merge_plan


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
