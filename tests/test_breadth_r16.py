"""Brute-force property tests for plans/breadth_r16.py."""

from __future__ import annotations

import hashlib
import math
import re
from collections import defaultdict

from matt3r_data_ingestion_serverless_spark.plans.breadth_r16 import udf_arrow_normalize
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def test_arrow_udf_matches_python_normalization(spark):
    docs = load_table(spark, SF_SMOKE, "documents").collect()
    ws = re.compile(r" +")
    got = {r.doc_id: r for r in udf_arrow_normalize(spark, SF_SMOKE).collect()}
    expected_ids = {d.doc_id for d in docs if d.doc_id <= 200}
    assert set(got) == expected_ids
    for d in docs:
        if d.doc_id > 200:
            continue
        norm = ws.sub(" ", d.text.strip().lower())
        r = got[d.doc_id]
        assert r.norm_hash == hashlib.md5(norm.encode()).hexdigest(), d.doc_id
        assert r.norm_len == len(norm)


def test_pinball_eval_matches_python(spark):
    from matt3r_data_ingestion_serverless_spark.plans.breadth_r16 import (
        forecast_pinball_eval,
    )

    ev = load_table(spark, SF_SMOKE, "events").collect()
    hours = defaultdict(lambda: defaultdict(int))
    for r in ev:
        hi = int(
            r.ts.replace(minute=0, second=0, microsecond=0).timestamp() * 1_000_000
        ) // 3_600_000_000
        v = int(math.floor(abs(r.value) + 0.5)) * (1 if r.value >= 0 else -1)
        hours[r.event_type][hi] += v
    got = {r.event_type: r for r in forecast_pinball_eval(spark, SF_SMOKE).collect()}
    for et, by_hi in hours.items():
        pairs = [
            (v, by_hi[hi - 24]) for hi, v in by_hi.items() if hi - 24 in by_hi
        ]
        if not pairs:
            assert et not in got
            continue
        mae_num = sum(abs(a - f) for a, f in pairs)
        bias = sum(a - f for a, f in pairs)
        pin = sum(9 * (a - f) if a >= f else (f - a) for a, f in pairs)
        r = got[et]
        assert (r.n_forecasts, r.mae_num, r.bias_num, r.pinball90_x10) == (
            len(pairs),
            mae_num,
            bias,
            pin,
        ), et


def test_date_dimension_calendar_facts(spark):
    from datetime import date, timedelta

    from matt3r_data_ingestion_serverless_spark.plans.breadth_r16 import (
        date_dimension_generate,
    )

    rows = {r.date_key: r for r in date_dimension_generate(spark, SF_SMOKE).collect()}
    assert len(rows) == 366  # 2024 is a leap year
    d = date(2024, 1, 1)
    idx = 0
    while d <= date(2024, 12, 31):
        r = rows[d.strftime("%Y-%m-%d")]
        assert r.iso_dow == d.isoweekday()
        assert r.is_weekend == (d.isoweekday() >= 6)
        nxt = d + timedelta(days=1)
        assert r.is_month_end == (nxt.month != d.month)
        assert (r.year, r.month, r.day_of_month) == (d.year, d.month, d.day)
        assert r.quarter == (d.month - 1) // 3 + 1
        assert r.day_index == idx
        d = nxt
        idx += 1
