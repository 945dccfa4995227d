"""Brute-force property tests for plans/breadth_r87.py."""

from __future__ import annotations

import math

import numpy as np

from matt3r_data_ingestion_serverless_spark.plans.breadth_r87 import (
    _KCENTER_ROUNDS,
    j16_lakehouse_merge_on_read_delete,
    ns_kcenter_coreset,
)
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def test_j16_no_rewrite_and_rows(spark):
    rows = j16_lakehouse_merge_on_read_delete(spark, SF_SMOKE).collect()
    base = load_table(spark, SF_SMOKE, "orders").collect()
    want = {
        r.o_orderkey
        for r in base
        if r.o_orderkey % 4 != 3 and r.o_custkey % 5 != 0
    }
    assert {r.k for r in rows} == want
    assert all(r.files_rewritten == 0 for r in rows)
    assert all(r.o_custkey % 5 != 0 for r in rows)


def _round6(x):
    return math.copysign(math.floor(abs(x) * 1e6 + 0.5) / 1e6, x) if x else 0.0


def test_kcenter_matches_python_farthest_first(spark):
    rows = load_table(spark, SF_SMOKE, "embeddings").collect()
    ids = [r.vec_id for r in rows]
    mat = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in rows])
    nrm = np.linalg.norm(mat, axis=1)
    byid = {i: k for k, i in enumerate(ids)}
    selected = [min(ids)]
    best = {}
    want = [(1, selected[0], None)]
    for rnd in range(2, _KCENTER_ROUNDS + 1):
        c = byid[selected[-1]]
        for i in ids:
            if i in selected:
                best.pop(i, None)
                continue
            k = byid[i]
            s = _round6(
                float(mat[k] @ mat[c]) / (nrm[k] * nrm[c])
            )
            best[i] = max(best.get(i, -math.inf), s)
        pick = min(best.items(), key=lambda kv: (kv[1], kv[0]))
        want.append((rnd, pick[0], _round6(pick[1])))
        selected.append(pick[0])
    got = sorted(
        (r.pick_round, r.vec_id, r.min_sim_r)
        for r in ns_kcenter_coreset(spark, SF_SMOKE).collect()
    )
    assert len(got) == _KCENTER_ROUNDS
    for (gr, gi, gs), (wr, wi, ws) in zip(got, want):
        assert (gr, gi) == (wr, wi)
        if ws is None:
            assert gs is None
        else:
            assert math.isclose(gs, ws, abs_tol=1e-9)
    # Gonzalez invariant: the coverage radius shrinks as centers are
    # added, so the picked point's similarity-at-pick is non-DECREASING
    sims = [s for _, _, s in want if s is not None]
    assert sims == sorted(sims)
