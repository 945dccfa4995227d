"""Brute-force property tests for plans/breadth_r81.py."""

from __future__ import annotations

import datetime as dt
import math

import numpy as np

from matt3r_data_ingestion_serverless_spark.plans.breadth_r81 import (
    _HAAR_LEVELS,
    _HAAR_SLOTS,
    _KNN_K,
    ns_knn_outlier_scores,
    ts_haar_coefficients,
)
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def _round6(x: np.ndarray) -> np.ndarray:
    return np.sign(x) * np.floor(np.abs(x) * 1e6 + 0.5) / 1e6


def test_knn_outlier_matches_numpy_bruteforce(spark):
    rows = load_table(spark, SF_SMOKE, "embeddings").collect()
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    mat = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in rows])
    nrm = np.linalg.norm(mat, axis=1)
    sims = _round6((mat @ mat.T) / np.outer(nrm, nrm))
    np.fill_diagonal(sims, -np.inf)
    kth = -np.partition(-sims, _KNN_K - 1, axis=1)[:, _KNN_K - 1]
    want = dict(zip(ids.tolist(), kth.tolist()))
    got = {
        r.vec_id: r.kth_sim for r in ns_knn_outlier_scores(spark, SF_SMOKE).collect()
    }
    assert set(got) == set(want)
    assert all(math.isclose(got[i], want[i], abs_tol=1e-12) for i in got)


def test_haar_details_match_python(spark):
    ev = load_table(spark, SF_SMOKE, "events").collect()
    # collect() returns naive datetimes in the UTC session tz; pin the
    # tzinfo so .timestamp() doesn't re-interpret them as local time
    hours = [
        int(r.ts.replace(tzinfo=dt.timezone.utc).timestamp() // 3600) for r in ev
    ]
    h0 = min(hours)
    counts = [0] * _HAAR_SLOTS
    for h in hours:
        s = h - h0
        if s < _HAAR_SLOTS:
            counts[s] += 1
    want = {}
    for level in range(1, _HAAR_LEVELS + 1):
        b = 1 << level
        for pos in range(_HAAR_SLOTS // b):
            blk = counts[pos * b : (pos + 1) * b]
            want[(level, pos)] = (
                sum(blk),
                sum(blk[: b // 2]) - sum(blk[b // 2 :]),
            )
    got = {
        (r.level, r.pos): (r.n_events, r.detail)
        for r in ts_haar_coefficients(spark, SF_SMOKE).collect()
    }
    assert got == want
    assert sum(n for n, _ in want.values()) > 0
