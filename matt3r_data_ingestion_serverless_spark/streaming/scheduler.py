"""Serverless-shaped scheduling for the three-stage topology.

The reference's control plane is AWS-managed: S3 ObjectCreated → SNS
`matt3r-dpl-sns` → three SQS queues → three Lambdas
(serverless.yml:69-122,143-204). One object landing triggers one
invocation of each subscribed function. This module is that control
plane re-expressed on Structured Streaming: one `drain_topology()`
call is one "invocation sweep" — each stage runs with
`Trigger.AvailableNow`, processing exactly the files that have arrived
since its checkpoint and then terminating, so the caller can schedule
sweeps from cron/Airflow/EventBridge exactly the way Lambda was
scheduled by the queue.

Delivery semantics beat the reference's: checkpoints make source
progress exactly-once per stage, and every sink is the idempotent
insert-only upsert (operators/merge.py): it appends only rows whose key
is new, so re-running a sweep — or crashing mid-sweep and re-running —
converges to the same rows (the reference's overlap branch SKIPS writes
instead, parse_canserver_filtered_log.py:335-343). Inside a sweep
silver runs first and commits; the two gold legs then run AT ONCE, as
the two gold SQS queues fan one silver object out to two Lambdas at the
same time. ACROSS sweeps each stage catches up independently from its
own checkpoint, so a stage-2 failure never blocks stage-1 ingest — the
same isolation the three SQS queues buy the reference.

Scale: a sweep's cost is proportional to NEW data only. AvailableNow
reads the files added since the checkpoint, and committed silver files
are never rewritten, so each gold leg reads each silver row once. State
(stationary runs in flight, autopilot last-codes) persists in the state
store across sweeps, so a 1-minute or 1-day sweep cadence produce
identical gold tables. A sweep's zone counts are summed from parquet
footers (one small read per committed file, no Spark job), so a sweep
with no new raw files runs no Spark job at all.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.errors import StreamingQueryException
from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from matt3r_data_ingestion_serverless_spark.operators.merge import _data_files
from matt3r_data_ingestion_serverless_spark.streaming.pipeline import (
    _start_autopilot,
    _start_stationary,
    run_silver_pipeline,
)


def topology_paths(root: str) -> dict[str, str]:
    """Canonical layout under one root — the three-zone bucket scheme
    (raw/landing/events, serverless.yml:51-63) as one directory tree."""
    return {
        "silver": os.path.join(root, "silver", "signals"),
        "gold_autopilot": os.path.join(root, "gold", "autopilot"),
        "gold_stationary": os.path.join(root, "gold", "stationary"),
        "ckpt_silver": os.path.join(root, "ckpt", "silver"),
        "ckpt_autopilot": os.path.join(root, "ckpt", "autopilot"),
        "ckpt_stationary": os.path.join(root, "ckpt", "stationary"),
    }


def drain_topology(spark: SparkSession, raw_dir: str, root: str) -> dict[str, int]:
    """Run ONE invocation sweep of the full topology: raw → silver,
    then silver → (autopilot ∥ stationary). Returns current row counts
    per zone, read from parquet footers, so a scheduler can emit
    progress metrics. Idempotent: a sweep with no new raw files changes
    nothing and runs no Spark job.

    The gold legs start only after silver has committed, then run
    concurrently. If a leg fails, the sweep still waits for the other
    leg to finish, so no stream outlives the call, and then re-raises
    the failure (the autopilot leg's first when both fail); the failed
    leg resumes from its checkpoint on the next sweep."""
    p = topology_paths(root)
    run_silver_pipeline(spark, raw_dir, p["silver"], p["ckpt_silver"])
    legs: list[StreamingQuery] = []
    try:
        legs.append(_start_autopilot(spark, p["silver"], p["gold_autopilot"], p["ckpt_autopilot"]))
        legs.append(
            _start_stationary(spark, p["silver"], p["gold_stationary"], p["ckpt_stationary"])
        )
    finally:
        _await_all(legs)
    return _zone_counts(p)


def _await_all(queries: list[StreamingQuery]) -> None:
    """Wait for every query to terminate, then re-raise the first
    failure in list order."""
    errors = []
    for q in queries:
        try:
            q.awaitTermination()
        except StreamingQueryException as e:
            errors.append(e)
    if errors:
        raise errors[0]


# the zone each count reports
_ZONES = {
    "silver_rows": "silver",
    "autopilot_events": "gold_autopilot",
    "stationary_intervals": "gold_stationary",
}


def _zone_counts(p: dict[str, str]) -> dict[str, int]:
    """Row count per zone, summed over the footers of its committed data
    files: no Spark job, one footer read per file. A zone not
    materialized yet (no qualifying events) counts 0."""
    return {
        name: sum(pq.read_metadata(f).num_rows for f in _data_files(p[zone]))
        for name, zone in _ZONES.items()
    }
