"""Property tests for plans/breadth_r76.py."""

from __future__ import annotations

import hashlib

from matt3r_data_ingestion_serverless_spark.plans.breadth_r74 import _BK_K
from matt3r_data_ingestion_serverless_spark.plans.breadth_r76 import (
    streamed_bottomk_sample,
)
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def test_streamed_bottomk_equals_batch(spark):
    ev = load_table(spark, SF_SMOKE, "events").collect()
    want = sorted(
        (hashlib.md5(str(r.event_id).encode()).hexdigest(), r.event_id) for r in ev
    )[:_BK_K]
    got = sorted(
        (r.priority, r.event_id)
        for r in streamed_bottomk_sample(spark, SF_SMOKE).collect()
    )
    assert got == want
