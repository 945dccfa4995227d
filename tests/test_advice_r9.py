"""Pins for the round-9 ADVICE/VERDICT fixes.

- sf1_merge_extra's resume filter must RE-GRADE recorded non-OK names
  (the r08 stale-grade trap kept a fixed query's pre-fix ERR forever)
  and never record an empty error line;
- count_where_range must not credit manifest row counts for files
  holding NULL key rows (min/max stats exclude NULLs, BETWEEN rejects
  them), so the manifest now carries per-stat-column null counts;
- the JPEG marker walk must skip spec-legal 0xFF fill bytes and raise
  ValueError (never IndexError/struct.error) on truncated streams.
"""

from __future__ import annotations

import os

import numpy as np
import pytest

from tools.sf1_merge_extra import error_line, resume_filter


# ---------------------------------------------------------------------------
# stale-grade resume trap (VERDICT r08 wrong-item 1/2)
# ---------------------------------------------------------------------------


def test_resume_filter_regrades_non_ok():
    recorded = {
        "fine": {"status": "OK", "spark_rows": 10},
        "erred": {"status": "ERR: ZeroDivisionError", "spark_rows": None},
        "empty_err": {"status": "ERR: ", "spark_rows": None},
        "mismatched": {"status": "MISMATCH: hash", "spark_rows": None},
    }
    names = ["fine", "erred", "empty_err", "mismatched", "brand_new"]
    todo = resume_filter(names, recorded)
    # OK is the ONLY resume-skippable grade; every non-OK and every
    # unrecorded name must be (re-)graded
    assert todo == ["erred", "empty_err", "mismatched", "brand_new"]


def test_error_line_never_empty():
    # the r08 Lorenz failure produced a traceback whose last line was
    # "" -> the artifact recorded "ERR: " with no diagnosis
    assert error_line(ValueError("boom"), "Traceback ...\nValueError: boom\n\n") == (
        "ValueError: boom"
    )
    assert error_line(ValueError("boom"), "\n\n") == "ValueError('boom')"


# ---------------------------------------------------------------------------
# count_where_range null-key files (ADVICE r08 medium)
# ---------------------------------------------------------------------------


def test_count_where_range_null_keys_routed_to_residual(spark, tmp_path):
    from pyspark.sql import functions as F

    from matt3r_data_ingestion_serverless_spark.operators.lakehouse import (
        LakehouseTable,
    )

    # file A: k in [10, 19] plus 3 NULL-k rows -> stats say "fully
    # inside [0, 50]" but 3 rows fail the BETWEEN; file B: k in
    # [100, 109], null-free
    rows = (
        [(k, "a") for k in range(10, 20)]
        + [(None, "a")] * 3
        + [(k, "b") for k in range(100, 110)]
    )
    df = spark.createDataFrame(rows, "k int, tag string").repartitionByRange(2, "tag")
    tbl = LakehouseTable.create(df, str(tmp_path / "t"), stats_cols=["k"])

    man = tbl.manifest()
    assert len(man["file_list"]) == 2
    by_nulls = {e["nulls"]["k"]: e for e in man["file_list"]}
    assert set(by_nulls) == {0, 3}, "per-column null counts recorded in manifest"

    # pre-fix this credited file A's manifest rows (13) from stats and
    # returned 23 with zero boundary files — 3 phantom NULL rows
    full, residual, n_boundary = tbl.count_where_range("k", 0, 50)
    assert full == 0 and n_boundary == 1
    exact = full + residual.filter(F.col("k").between(0, 50)).count()
    brute = tbl.read().filter(F.col("k").between(0, 50)).count()
    assert exact == brute == 10

    # the null-free fully-covered file still answers from stats alone
    full2, _res2, n_boundary2 = tbl.count_where_range("k", 90, 200)
    assert full2 == 10 and n_boundary2 == 0

    # a pre-nulls manifest (no "nulls" key) is UNKNOWN -> conservative
    # residual, never a stats-only credit; strip the key from the
    # on-disk manifest (manifest() re-reads the committed JSON)
    import json

    mpath = os.path.join(str(tmp_path / "t"), "_manifest", "v1.json")
    with open(mpath) as f:
        mdoc = json.load(f)
    for e in mdoc["file_list"]:
        e.pop("nulls", None)
    with open(mpath, "w") as f:
        json.dump(mdoc, f)
    full3, _res3, n_boundary3 = tbl.count_where_range("k", 90, 200)
    assert full3 == 0 and n_boundary3 == 1


# ---------------------------------------------------------------------------
# JPEG: 0xFF fill bytes + clean truncation errors (ADVICE r08 low)
# ---------------------------------------------------------------------------


def _sample_jpeg() -> bytes:
    from matt3r_data_ingestion_serverless_spark.operators.jpeg import encode_jpeg

    rng = np.random.default_rng(9)
    return encode_jpeg(
        rng.integers(0, 256, (24, 40), dtype=np.uint8), quant=1, restart_interval=2
    )


def test_jpeg_fill_bytes_before_markers_are_skipped():
    """T.81 B.1.1.2: any number of 0xFF fill bytes may pad before a
    marker code. Pad every header-segment marker with doubled 0xFF;
    the decode must be unchanged."""
    from matt3r_data_ingestion_serverless_spark.operators.jpeg import decode_jpeg

    data = _sample_jpeg()
    w0, h0, px0 = decode_jpeg(data)
    for fill in (b"\xff", b"\xff\xff\xff"):
        w, h, px = decode_jpeg(data[:2] + fill + data[2:])
        assert (w, h) == (w0, h0)
        assert np.array_equal(px, px0)


def test_jpeg_truncation_raises_valueerror_everywhere():
    """Every proper prefix of a valid stream must fail with ValueError
    (a diagnosable 'truncated/corrupt JPEG'), never IndexError or
    struct.error — the marker walk, segment reads, bit reader and
    restart resync are all bounds-checked."""
    from matt3r_data_ingestion_serverless_spark.operators.jpeg import decode_jpeg

    data = _sample_jpeg()
    for cut in range(1, len(data)):
        with pytest.raises(ValueError):
            decode_jpeg(data[:cut])
