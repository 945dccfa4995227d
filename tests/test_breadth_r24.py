"""Brute-force property tests for plans/breadth_r24.py."""

from __future__ import annotations

import math
from collections import defaultdict

from matt3r_data_ingestion_serverless_spark.plans.breadth_r24 import weighted_median_price
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def test_weighted_median_matches_python(spark):
    li = load_table(spark, SF_SMOKE, "lineitem").collect()
    groups = defaultdict(list)
    for r in li:
        cents = int(math.floor(abs(r.l_extendedprice) * 100 + 0.5))
        groups[r.l_returnflag].append((cents, int(r.l_quantity)))
    got = {r.flag: r for r in weighted_median_price(spark, SF_SMOKE).collect()}
    for flag, items in groups.items():
        items.sort()
        tw = sum(w for _, w in items)
        cw = 0
        med = p90 = None
        for cents, w in items:
            cw += w
            if med is None and 2 * cw >= tw:
                med = cents
            if p90 is None and 10 * cw >= 9 * tw:
                p90 = cents
        r = got[flag]
        assert (r.total_weight, r.weighted_median_cents, r.weighted_p90_cents) == (
            tw,
            med,
            p90,
        ), flag
        # the weighted median is the price splitting QUANTITY mass:
        below = sum(w for c, w in items if c < med)
        at_or_below = sum(w for c, w in items if c <= med)
        assert below * 2 < tw <= at_or_below * 2
