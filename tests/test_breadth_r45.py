"""Brute-force property tests for plans/breadth_r45.py."""

from __future__ import annotations

from collections import defaultdict

from matt3r_data_ingestion_serverless_spark.plans.breadth_r45 import growth_accounting_monthly
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def _next_month(m: str) -> str:
    y, mm = int(m[:4]), int(m[5:])
    return f"{y + mm // 12:04d}-{mm % 12 + 1:02d}"


def test_growth_accounting_matches_python(spark):
    ev = load_table(spark, SF_SMOKE, "events").collect()
    months = defaultdict(set)
    for r in ev:
        months[r.user_id].add(r.ts.strftime("%Y-%m"))
    agg = defaultdict(lambda: [0, 0, 0, 0])  # new, retained, resurrected, churn_in
    mau = defaultdict(int)
    for uid, ms in months.items():
        ordered = sorted(ms)
        for i, m in enumerate(ordered):
            mau[m] += 1
            if i == 0:
                agg[m][0] += 1
            elif _next_month(ordered[i - 1]) == m:
                agg[m][1] += 1
            else:
                agg[m][2] += 1
            if _next_month(m) not in ms:
                agg[_next_month(m)][3] += 1
    got = {r.month: r for r in growth_accounting_monthly(spark, SF_SMOKE).collect()}
    assert set(got) == set(mau)
    for m in mau:
        r = got[m]
        new, ret, res, _ = agg[m]
        assert (r.mau, r.new_users, r.retained, r.resurrected) == (
            mau[m],
            new,
            ret,
            res,
        )
        assert r.mau == r.new_users + r.retained + r.resurrected  # ledger identity
        assert r.churned_in == agg[m][3]
