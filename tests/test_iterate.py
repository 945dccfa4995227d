"""operators/iterate.py: the shared convergence loops of the graph queries."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.operators.iterate import (
    connected_components,
    frontier_loop,
)


def _bfs(spark, n: int):
    """BFS step over the pinned path 0 → 1 → … → n-1, and a seed maker."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    ).localCheckpoint(eager=True)

    def step(frontier, hop, seen):
        return (
            frontier.join(edges, frontier.node == edges.src)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(seen, "node", "left_anti")
            .withColumn("hop", F.lit(hop))
        )

    return step, lambda node: spark.createDataFrame([(node, 0)], "node long, hop int")


def test_connected_components_long_chain_and_isolated_node(spark):
    """An 8-hop chain with its minimum at the far end, a second
    component and an edgeless node: every node gets its component
    minimum (the 4-hop-bounded sql_recursive_components cannot)."""
    pairs = [(8 - i, 7 - i) for i in range(8)] + [(21, 20), (22, 21)]
    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "src long, dst long"
    ).localCheckpoint(eager=True)
    nodes = spark.createDataFrame([(i,) for i in [*range(9), 20, 21, 22, 30]], "node long")
    got = {r.node: r.cluster_id for r in connected_components(nodes, edges).collect()}
    assert got == {**{i: 0 for i in range(9)}, 20: 20, 21: 20, 22: 20, 30: 30}


def test_frontier_loop_empty_seed_and_round_cap(spark):
    step, seed = _bfs(spark, 10)
    assert frontier_loop(seed(0).limit(0), step, 5).count() == 0
    assert sorted(map(tuple, frontier_loop(seed(0), step, 3).collect())) == [(i, i) for i in range(4)]
    assert frontier_loop(seed(0), step, 100).count() == 10  # stops at the empty frontier


@pytest.fixture
def aqe_off(spark):
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    yield
    spark.conf.set("spark.sql.adaptive.enabled", old)


def test_frontier_loop_costs_one_reference_round_per_round(spark, aqe_off):
    """Each extra round costs the jobs of one inline round (lazy
    checkpoint + one count). AQE is off: with it on, the first round
    (whose visited set is the seed frame itself) ran 6 or 7 jobs across
    identical runs."""
    sc = spark.sparkContext

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setJobGroup(None, None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    step, seed = _bfs(spark, 12)
    short = jobs("iterate_short", lambda: frontier_loop(seed(6), step, 100))
    long = jobs("iterate_long", lambda: frontier_loop(seed(2), step, 100))
    f0 = seed(0).localCheckpoint(eager=True)
    f1 = step(f0, 1, f0).localCheckpoint(eager=True)
    seen = f0.union(f1).localCheckpoint(eager=True)
    ref = jobs("iterate_ref", lambda: step(f1, 2, seen).localCheckpoint(eager=False).count())
    assert ref >= 1 and long - short == 4 * ref, (short, long, ref)
