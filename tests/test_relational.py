"""Brute-force checks of relational queries (plans/relational.py)
against Python recomputations over the sf0.001 tables."""

from __future__ import annotations

from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.plans.relational import (
    ns_mv_incremental_agg,
    skyline_pareto_frontier,
)
from tests.conftest import SF_SMOKE


def test_skyline_frontier_is_exactly_the_undominated_set(spark):
    rows = skyline_pareto_frontier(spark, SF_SMOKE).collect()
    part = (
        spark.read.parquet(f"{SF_SMOKE}/part.parquet")
        .select(
            F.round(F.col("p_retailprice") * 100, 0).cast("long").alias("pc"),
            "p_size",
        )
        .distinct()
        .collect()
    )
    pairs = {(r.pc, r.p_size) for r in part}

    def dominated(p):
        return any(
            q[0] <= p[0] and q[1] >= p[1] and q != p for q in pairs
        )

    expected = {p for p in pairs if not dominated(p)}
    got = {(round(r.price * 100), r.size) for r in rows}
    assert got == expected
    # frontier is an antichain staircase: paying more must buy more size
    srt = sorted(got)
    for (p1, s1), (p2, s2) in zip(srt, srt[1:]):
        assert p1 < p2 and s1 < s2


def test_mv_merge_equals_direct_recompute(spark):
    from matt3r_data_ingestion_serverless_spark.sources.tables import load_table

    merged = ns_mv_incremental_agg(spark, SF_SMOKE)
    ev = load_table(spark, SF_SMOKE, "events")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    direct = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum(cents).cast("double") / 100.0, 6).alias("total_value"),
        F.round(F.sum(cents).cast("double") / (100.0 * F.count("*")), 6).alias(
            "avg_value"
        ),
        F.min(F.unix_micros("ts")).alias("first_us"),
        F.max(F.unix_micros("ts")).alias("last_us"),
    )
    a = {tuple(r) for r in merged.collect()}
    b = {tuple(r) for r in direct.collect()}
    assert a == b
