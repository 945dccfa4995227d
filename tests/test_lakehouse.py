"""Property tests for the lakehouse/search operator family
(plans/lakehouse.py, plans/search.py) — semantics the DuckDB oracle
already cross-checks are re-verified here against brute-force Python
on small data, so a regression is caught without the oracle harness.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.plans.lakehouse import (
    _morton_col,
    skyline_pareto_frontier,
    ns_mv_incremental_agg,
    rolling_7d_distinct_users,
)
from tests.conftest import SF_SMOKE


def _morton_ref(x: int, y: int) -> int:
    acc = 0
    for i in range(8):
        acc |= ((x >> i) & 1) << (2 * i + 1)
        acc |= ((y >> i) & 1) << (2 * i)
    return acc


def test_morton_interleave_matches_python_reference(spark):
    pts = [(0, 0), (255, 255), (1, 0), (0, 1), (170, 85), (200, 13)]
    df = spark.createDataFrame(pts, "x long, y long").select(
        "x", "y", _morton_col(F.col("x"), F.col("y")).alias("m")
    )
    for x, y, m in df.collect():
        assert m == _morton_ref(x, y), (x, y)


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


def test_rolling_7d_distinct_brute_force(spark):
    got = {r.day: r.users_7d for r in rolling_7d_distinct_users(spark, SF_SMOKE).collect()}
    ev = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .select(F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("d"), "user_id")
        .collect()
    )
    import datetime as dt

    pairs = {(dt.date.fromisoformat(r.d), r.user_id) for r in ev}
    days = sorted({d for d, _ in pairs})
    for d in days:
        users = {u for (pd, u) in pairs if d - dt.timedelta(days=6) <= pd <= d}
        assert got[d.isoformat()] == len(users), d


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
