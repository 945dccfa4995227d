"""Brute-force property tests for plans/breadth_r88.py."""

from __future__ import annotations

import datetime as dt
import math
from collections import Counter, defaultdict
from itertools import combinations

from matt3r_data_ingestion_serverless_spark.plans.breadth_r88 import (
    _APRIORI_MINSUP,
    basket_triples_apriori,
    streamed_scd2_pit_enrichment,
)
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def test_apriori_triples_match_bruteforce(spark):
    ev = load_table(spark, SF_SMOKE, "events").collect()
    baskets = defaultdict(set)
    for r in ev:
        item = f"{r.event_type}_{int(math.floor(r.value * 100 + 0.5)) % 2}"
        baskets[(r.user_id, r.ts.date())].add(item)
    minsup = math.ceil(len(baskets) * _APRIORI_MINSUP)
    support = Counter()
    for items in baskets.values():
        for tri in combinations(sorted(items), 3):
            support[tri] += 1
    want = {t: c for t, c in support.items() if c >= minsup}
    got = {
        (r.ia, r.ib, r.ic): r.support
        for r in basket_triples_apriori(spark, SF_SMOKE).collect()
    }
    assert got == want
    assert want, "smoke corpus must contain at least one frequent triple"


def test_streamed_pit_matches_batch_join(spark):
    from matt3r_data_ingestion_serverless_spark.plans.llmprep import (
        scd2_customer_history,
    )

    hist = [
        (r.c_custkey, r.segment, r.valid_from, r.valid_to)
        for r in scd2_customer_history(spark, SF_SMOKE).collect()
    ]
    ev = load_table(spark, SF_SMOKE, "events").collect()
    agg = defaultdict(lambda: [0, 0, set()])
    base = dt.date(1992, 1, 1)
    for r in ev:
        ck = r.user_id % 1000 + 1
        eff = (base + dt.timedelta(days=r.event_id % 3000)).isoformat()
        cents = int(math.floor(r.value * 100 + 0.5))
        for c, seg, vf, vt in hist:
            if c == ck and vf <= eff < vt:
                a = agg[seg]
                a[0] += 1
                a[1] += cents
                a[2].add(r.user_id)
    got = {
        r.segment: (r.n_events, r.sum_cents, r.n_users)
        for r in streamed_scd2_pit_enrichment(spark, SF_SMOKE).collect()
    }
    want = {s: (a[0], a[1], len(a[2])) for s, a in agg.items()}
    assert got == want
    assert want, "smoke events must enrich against at least one dim version"
    # the 15 smoke users may not touch a delinquent custkey; the
    # DELINQUENT routing is exercised by the sf0.01/sf0.1 oracle gate
