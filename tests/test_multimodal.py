"""Tests for the multimodal domain (plans/multimodal.py) and the
codecs behind it (operators/multimodal.py): frame/patch planning, the
stride-gather featurizers, the decode_image sniff → dispatch seam, and
the PPM, PNG, WAV and mixed-format round trips."""

from __future__ import annotations

from collections import defaultdict

import numpy as np
import pytest
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.operators import multimodal
from matt3r_data_ingestion_serverless_spark.operators.multimodal import (
    _png_dims,
    _png_pixels,
    _ppm_dims,
    _wav_samples,
    decode_image,
    decode_png,
    decode_ppm,
    sniff_format,
    synth_png,
    synth_ppm,
    synth_wav,
)
from matt3r_data_ingestion_serverless_spark.plans.multimodal import (
    _WALSH_KS,
    mm_mixed_format_decode,
    mm_ppm_image_features,
    mm_wav_walsh_tones,
)
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def test_fps_sample_schedule_matches_python(spark):
    from matt3r_data_ingestion_serverless_spark.plans.multimodal import (
        ns_multimodal_fps_sample,
    )

    docs = load_table(spark, SF_SMOKE, "documents").collect()
    got = defaultdict(list)
    for r in ns_multimodal_fps_sample(spark, SF_SMOKE).collect():
        got[r.doc_id].append(r)
    for d in docs:
        n_bytes = len(d.text.encode("utf-8"))
        frame_count = max(n_bytes // 100, 1)
        stride = max(frame_count // 8, 1)
        expected = [i for i in range(8) if i * stride < frame_count]
        rows = sorted(got[d.doc_id], key=lambda r: r.sample_idx)
        assert [r.sample_idx for r in rows] == expected, d.doc_id
        for r in rows:
            fr = r.sample_idx * stride
            assert r.frame_idx == fr
            assert r.t_ms == fr * 1000 // 30
            assert r.byte_offset == (fr * 100) % n_bytes


def test_patch_grid_covers_image(spark):
    from matt3r_data_ingestion_serverless_spark.plans.multimodal import (
        ns_image_patch_grid,
    )

    rows = ns_image_patch_grid(spark, SF_SMOKE).collect()
    by_doc = defaultdict(list)
    for r in rows:
        by_doc[r.doc_id].append(r)
    docs = load_table(spark, SF_SMOKE, "documents").collect()
    assert set(by_doc) == {d.doc_id for d in docs}
    for doc_id, patches in by_doc.items():
        w = 64 + (doc_id % 8) * 32
        h = 64 + (doc_id % 5) * 32
        assert len(patches) == (w // 32) * (h // 32), doc_id
        idxs = sorted(p.patch_index for p in patches)
        assert idxs == list(range(len(patches)))  # row-major, dense
        for p in patches:
            assert 0 <= p.x0 < p.x1 <= w and 0 <= p.y0 < p.y1 <= h
            assert (p.x1 - p.x0, p.y1 - p.y0) == (32, 32)


def test_multimodal_frame_features_plumbing(spark):
    df = spark.createDataFrame(
        [(1, "hello world"), (2, "spark")], ["doc_id", "text"]
    ).withColumn("source", F.lit("img"))
    out = multimodal.frame_features(
        multimodal.with_blob(df).select("doc_id", "blob")
    ).collect()
    assert len(out) == 2 * multimodal.N_FRAMES
    by_doc = {(r["doc_id"], r["frame_idx"]): r for r in out}
    r = by_doc[(2, 0)]
    assert r["n_bytes"] == 5
    blob = b"spark"
    want = [blob[(0 * 7 + k * 3) % 5] / 256.0 for k in range(multimodal.FEATURE_DIM)]
    assert list(r["feature"]) == want
    # determinism across runs
    out2 = multimodal.frame_features(
        multimodal.with_blob(df).select("doc_id", "blob")
    ).collect()
    assert sorted(map(str, out)) == sorted(map(str, out2))


def test_decode_image_is_stubbed():
    try:
        multimodal.decode_image(b"\x89PNG")
        raise AssertionError("expected NotImplementedError")
    except NotImplementedError:
        pass


def test_sniff_format_magic_bytes():
    assert sniff_format(synth_ppm(4)) == "ppm"
    assert sniff_format(synth_png(5)) == "png"
    assert sniff_format(synth_wav(6)) == "wav"
    assert sniff_format(b"\xff\xd8\xff\xe0" + b"\x00" * 16) == "jpeg"
    assert sniff_format(b"GIF89a" + b"\x00" * 16) == "gif"
    from matt3r_data_ingestion_serverless_spark.operators.multimodal import synth_avi

    assert sniff_format(synth_avi(3)) == "avi"
    assert sniff_format(b"plain text") == "unknown"
    assert sniff_format(b"") == "unknown"


def test_decode_image_dispatches_by_content():
    for doc_id in (0, 2, 10):  # even → both formats decodable directly
        w, h, px = decode_image(synth_ppm(doc_id))
        ww, hh, pp = decode_ppm(synth_ppm(doc_id))
        assert (w, h) == (ww, hh) and (px == pp).all()
    for doc_id in (1, 3, 11):
        w, h, px = decode_image(synth_png(doc_id))
        assert (px == _png_pixels(doc_id)).all()


def test_decode_image_raises_only_for_external_codecs():
    # gif now dispatches to a real decoder (operators/gif.py): garbage
    # after the magic is a loud ValueError, never NotImplementedError
    with pytest.raises(ValueError):
        decode_image(b"GIF89a" + b"\x00" * 32)
    with pytest.raises(NotImplementedError, match="unknown"):
        decode_image(b"not an image")
    # wav is sniffable but not an IMAGE decode — stays at the seam
    with pytest.raises(NotImplementedError, match="wav"):
        decode_image(synth_wav(1))
    # jpeg now dispatches to a real decoder: garbage after the magic is
    # a loud ValueError from the marker walk, never a silent result
    with pytest.raises(ValueError):
        decode_image(b"\xff\xd8\xff\xe0" + b"\x00" * 32)


def test_mixed_format_decode_matches_python(spark):
    from matt3r_data_ingestion_serverless_spark.operators.multimodal import (
        synth_gif,
        synth_jpeg,
    )

    rows = mm_mixed_format_decode(spark, SF_SMOKE).collect()
    docs = {d.doc_id for d in load_table(spark, SF_SMOKE, "documents").collect()}
    assert {r.doc_id for r in rows} == docs
    fmts = {r.fmt for r in rows}
    assert fmts == {"ppm", "png", "jpeg", "gif"}
    for r in rows[:40]:
        blob = (synth_ppm, synth_png, synth_jpeg, synth_gif)[r.doc_id % 4](r.doc_id)
        assert r.fmt == ("ppm", "png", "jpeg", "gif")[r.doc_id % 4]
        w, h, px = decode_image(blob)
        v = px.astype(np.int64)
        flat = v.reshape(-1)
        assert r.n_pixels == w * h
        assert (r.sum_r, r.sum_g, r.sum_b) == (
            int(v[:, :, 0].sum()),
            int(v[:, :, 1].sum()),
            int(v[:, :, 2].sum()),
        )
        assert r.checksum == int((flat * np.arange(1, flat.size + 1)).sum())


def test_mixed_format_decode_oracle_parity(spark):
    from tests.oracle_harness import compare, duckdb_con

    from matt3r_data_ingestion_serverless_spark.plans.multimodal import _MIXED_SQL

    con = duckdb_con(SF_SMOKE)
    problems = compare(mm_mixed_format_decode(spark, SF_SMOKE), con, _MIXED_SQL)
    assert problems == []


def test_ppm_codec_roundtrip_exact():
    for doc_id in (0, 1, 7, 12, 123, 10_001):
        w, h = _ppm_dims(doc_id)
        data = synth_ppm(doc_id)
        assert data.startswith(b"P6\n#")  # comment line is present
        rw, rh, px = decode_ppm(data)
        assert (rw, rh) == (w, h)
        y, x, c = np.ogrid[0:h, 0:w, 0:3]
        expect = ((doc_id * 7 + y * 13 + x * 5 + c * 29) % 256).astype(np.uint8)
        assert (px == expect).all()


def test_ppm_decoder_handles_arbitrary_header_whitespace():
    # same payload, hostile header layout: decoder must tokenize, not
    # assume fixed offsets
    w, h = 3, 2
    y, x, c = np.ogrid[0:h, 0:w, 0:3]
    px = ((y * 13 + x * 5 + c * 29) % 256).astype(np.uint8)
    data = b"P6 # inline\n  \n3\t2 # dims\n 255\n" + px.tobytes()
    rw, rh, got = decode_ppm(data)
    assert (rw, rh) == (w, h)
    assert (got == px).all()


def test_ppm_features_match_python(spark):
    rows = mm_ppm_image_features(spark, SF_SMOKE).collect()
    docs = {d.doc_id for d in load_table(spark, SF_SMOKE, "documents").collect()}
    assert {r.doc_id for r in rows} == docs
    for r in rows[:20]:
        w, h, px = decode_ppm(synth_ppm(r.doc_id))
        v = px.astype(np.int64)
        flat = v.reshape(-1)
        assert r.n_pixels == w * h
        assert (r.sum_r, r.sum_g, r.sum_b) == (
            int(v[:, :, 0].sum()),
            int(v[:, :, 1].sum()),
            int(v[:, :, 2].sum()),
        )
        assert r.checksum == int((flat * np.arange(1, flat.size + 1)).sum())


def test_png_roundtrip_exact():
    for doc_id in (0, 1, 3, 11, 123, 99_999):
        w, h = _png_dims(doc_id)
        data = synth_png(doc_id)
        assert data[:8] == b"\x89PNG\r\n\x1a\n"
        rw, rh, px = decode_png(data)
        assert (rw, rh) == (w, h)
        assert (px == _png_pixels(doc_id)).all()


def test_png_exercises_all_three_filters():
    # height ≥ 5 for every doc → rows with filter types 0, 1 AND 2 exist
    import zlib

    data = synth_png(2)
    # IDAT payload starts after signature + IHDR chunk (8 + 12+13 bytes)
    idat_off = 8 + 12 + 13
    (ln,) = __import__("struct").unpack(">I", data[idat_off : idat_off + 4])
    raw = zlib.decompress(data[idat_off + 8 : idat_off + 8 + ln])
    w, h = _png_dims(2)
    stride = w * 3 + 1
    filters = {raw[y * stride] for y in range(h)}
    assert filters == {0, 1, 2}


def test_png_crc_corruption_detected():
    data = bytearray(synth_png(7))
    data[40] ^= 0xFF  # flip a byte inside the IDAT payload
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(data))


def test_png_rejects_unknown_filter():
    # hand-build a PNG with filter type 4 (Paeth) — honest partial support
    import struct
    import zlib

    from matt3r_data_ingestion_serverless_spark.operators.multimodal import _png_chunk

    ihdr = struct.pack(">IIBBBBB", 2, 1, 8, 2, 0, 0, 0)
    row = bytes([4]) + bytes(6)
    png = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(row))
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="filter"):
        decode_png(png)


def test_png_sub_filter_inverse_is_exact():
    # adversarial image: values that overflow uint8 deltas repeatedly
    rng = np.random.RandomState(3)
    import struct
    import zlib

    from matt3r_data_ingestion_serverless_spark.operators.multimodal import _png_chunk

    w, h = 5, 4
    px = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
    lines = []
    prior = np.zeros(w * 3, dtype=np.uint8)
    for yy in range(h):
        row = px[yy].reshape(-1)
        ft = yy % 3
        if ft == 0:
            filt = row
        elif ft == 1:
            left = np.concatenate([np.zeros(3, dtype=np.uint8), row[:-3]])
            filt = row - left
        else:
            filt = row - prior
        lines.append(bytes([ft]) + filt.tobytes())
        prior = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    png = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(b"".join(lines)))
        + _png_chunk(b"IEND", b"")
    )
    _, _, out = decode_png(png)
    assert (out == px).all()


def test_walsh_tones_match_direct_waveform(spark):
    got = defaultdict(dict)
    for r in mm_wav_walsh_tones(spark, SF_SMOKE).collect():
        got[r.doc_id][r.k] = (r.n_samples, r.walsh_corr)
    docs = [r.doc_id for r in load_table(spark, SF_SMOKE, "documents").collect()]
    assert set(got) == set(docs)
    for doc_id in docs[:50]:
        v = _wav_samples(doc_id)
        n = len(v)
        i = np.arange(n, dtype=np.int64)
        for k in _WALSH_KS:
            w = np.where(((2 * k * i) // n) % 2 == 0, 1, -1)
            assert got[doc_id][k] == (n, int((v * w).sum()))
