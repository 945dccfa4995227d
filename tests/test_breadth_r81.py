"""Brute-force property tests for plans/breadth_r81.py."""

from __future__ import annotations

import math

import numpy as np

from matt3r_data_ingestion_serverless_spark.plans.breadth_r81 import _KNN_K, ns_knn_outlier_scores
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
