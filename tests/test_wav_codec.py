"""operators/multimodal.py WAV seam: a REAL stdlib codec behind the
decode seam (VERDICT r02 next-step 7) — byte-exact round-trip, header
honesty, and the Spark query over decoded bytes."""

from __future__ import annotations

import io
import struct
import wave

import numpy as np
import pytest

from matt3r_data_ingestion_serverless_spark.operators.multimodal import (
    WAV_SAMPLE_RATE,
    _wav_samples,
    decode_wav,
    synth_wav,
)
from matt3r_data_ingestion_serverless_spark.plans.multimodal import mm_wav_roundtrip_features
from tests.conftest import SF_SMOKE


@pytest.mark.parametrize("doc_id", [0, 1, 63, 64, 977, 10**9])
def test_encode_decode_byte_exact(doc_id):
    sr, v = decode_wav(synth_wav(doc_id))
    assert sr == WAV_SAMPLE_RATE
    assert np.array_equal(v, _wav_samples(doc_id))
    assert len(v) == 256 + doc_id % 64


def test_synth_is_a_valid_riff_container():
    """The bytes must be a real WAV file, not a private framing: check
    the RIFF magic and re-read through a fresh stdlib reader."""
    data = synth_wav(42)
    assert data[:4] == b"RIFF" and data[8:12] == b"WAVE"
    (riff_len,) = struct.unpack("<I", data[4:8])
    assert riff_len == len(data) - 8
    with wave.open(io.BytesIO(data), "rb") as w:
        assert (w.getnchannels(), w.getsampwidth(), w.getframerate()) == (
            1,
            2,
            WAV_SAMPLE_RATE,
        )


def test_decode_rejects_wrong_format():
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)  # stereo — outside the featurizer's contract
        w.setsampwidth(2)
        w.setframerate(WAV_SAMPLE_RATE)
        w.writeframes(b"\x00\x00" * 8)
    with pytest.raises(ValueError):
        decode_wav(buf.getvalue())


def test_wav_features_match_numpy_oracle(spark):
    from matt3r_data_ingestion_serverless_spark.sources.tables import load_table

    got = {r.doc_id: r for r in mm_wav_roundtrip_features(spark, SF_SMOKE).collect()}
    ids = {r.doc_id for r in load_table(spark, SF_SMOKE, "documents").collect()}
    assert set(got) == ids
    for i in sorted(ids)[:64]:
        v = _wav_samples(i)
        r = got[i]
        assert r.n_samples == len(v)
        assert r.duration_us == len(v) * 1_000_000 // WAV_SAMPLE_RATE
        assert r.sum_v == int(v.sum())
        assert r.min_v == int(v.min()) and r.max_v == int(v.max())
        assert r.checksum == int((v * np.arange(1, len(v) + 1)).sum())
