"""Round-6 plan pins.

1. ns_colbert_maxsim must never again collect the embeddings table to
   the driver (VERDICT r05 "what's wrong" #1): building the DataFrame
   may run at most ONE job (the scalar block-count agg of
   _resolve_blocks), and the physical plan must carry the block-pair
   FlatMapGroupsInPandas kernel plus the downstream per-vector max and
   label-pair aggregates — the shape that stays bounded at 100×.
2. The batch W1/W2 operators scan their input once and shuffle it at
   most twice: no persisted run table, no union of branches that each
   re-plan the scan. W2 leaves no cached block behind.
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.plans import all_queries
from tests.conftest import SF_CORRECTNESS

_QUERIES = all_queries()


def _plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_colbert_maxsim_no_driver_collect(spark):
    import inspect

    from matt3r_data_ingestion_serverless_spark.plans.breadth_r4 import (
        ns_colbert_maxsim,
    )

    # the r05 scale-killer was an eager emb.toPandas() + broadcast at
    # plan-build time; pin that neither driver-collect idiom returns
    src = inspect.getsource(ns_colbert_maxsim)
    assert "toPandas" not in src and "broadcast((" not in src, src
    df = _QUERIES["ns_colbert_maxsim"][0](spark, SF_CORRECTNESS)
    plan = _plan_of(df)
    assert "FlatMapGroupsInPandas" in plan, plan
    # per-vector best then label-pair rollup — two hash aggregates
    assert plan.count("HashAggregate") >= 2, plan


@pytest.mark.parametrize("name", ["w2_stationary_intervals", "w1_ap_transitions"])
def test_w1_w2_one_scan_two_exchanges(spark, name):
    df = _QUERIES[name][0](spark, SF_CORRECTNESS)
    df.collect()  # let AQE finalize
    final = df._jdf.queryExecution().executedPlan().toString()
    final = final.split("== Initial Plan ==")[0]
    assert final.count("FileScan parquet") == 1, final
    assert "InMemoryRelation" not in final and "InMemoryTableScan" not in final, final
    assert "Union" not in final, final
    assert final.count("Exchange ") <= 2, final


def test_w2_leaves_no_cached_blocks(spark):
    from matt3r_data_ingestion_serverless_spark.operators.stationary import (
        stationary_intervals,
    )

    def cached_rdds():
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return {info.id() for info in infos if info.numCachedPartitions() > 0}

    before = cached_rdds()
    df = spark.range(2_000).selectExpr(
        "CAST(id % 2 AS STRING) AS device_id",
        "timestamp_seconds(1709251200 + id * 97) AS ts",
        "IF(id % 5 < 3, 0.0D, 9.0D) AS speed",
    )
    assert stationary_intervals(df, min_duration_s=60.0).collect()
    assert cached_rdds() - before == set()
