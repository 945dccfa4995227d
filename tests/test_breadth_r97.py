"""Brute-force property tests for plans/breadth_r97.py."""

from __future__ import annotations

import math

from matt3r_data_ingestion_serverless_spark.plans.breadth_r97 import (
    _HEAPS_CPS,
    ns_shingle_heaps_fit,
    storage_rle_estimate,
)
from matt3r_data_ingestion_serverless_spark.functions.hashing import with_hashed_shingles
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table, spread
from tests.conftest import SF_SMOKE


def test_heaps_fit_matches_python(spark):
    docs = spread(load_table(spark, SF_SMOKE, "documents"))
    sh = {
        r.doc_id: list(r.sh)
        for r in with_hashed_shingles(docs).select("doc_id", "sh").collect()
    }
    pts = []
    for cp in _HEAPS_CPS:
        vocab = len({g for d, gs in sh.items() if d <= cp for g in gs})
        seen = sum(len(gs) for d, gs in sh.items() if d <= cp)
        if seen:
            pts.append((cp, vocab, seen))
    n = len(pts)
    sx = sum(math.log(s) for _, _, s in pts)
    sy = sum(math.log(v) for _, v, _ in pts)
    sxy = sum(math.log(s) * math.log(v) for _, v, s in pts)
    sxx = sum(math.log(s) ** 2 for _, _, s in pts)
    beta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    got = {
        r.checkpoint: r for r in ns_shingle_heaps_fit(spark, SF_SMOKE).collect()
    }
    assert set(got) == {cp for cp, _, _ in pts}
    for cp, v, s in pts:
        r = got[cp]
        assert (r.vocab, r.shingles_seen) == (v, s)
        assert math.isclose(r.heaps_beta_r, beta, abs_tol=1e-6)
    assert 0.0 < beta < 1.0, "Heaps exponent must be sublinear"


def test_rle_runs_match_python(spark):
    ev = sorted(
        load_table(spark, SF_SMOKE, "events").collect(),
        key=lambda r: (r.ts, r.event_id),
    )
    def runs(seq):
        return sum(1 for i, v in enumerate(seq) if i == 0 or v != seq[i - 1])

    types_t = [r.event_type for r in ev]
    ub_t = [r.user_id % 10 for r in ev]
    types_s = [
        r.event_type
        for r in sorted(ev, key=lambda r: (r.event_type, r.ts, r.event_id))
    ]
    row = storage_rle_estimate(spark, SF_SMOKE).collect()[0]
    assert row.n_rows == len(ev)
    assert row.runs_type_by_time == runs(types_t)
    assert row.runs_userbucket_by_time == runs(ub_t)
    assert row.runs_type_sorted == runs(types_s)
    # clustering must collapse the run count to ~|distinct|
    assert row.runs_type_sorted <= 5 < row.runs_type_by_time
