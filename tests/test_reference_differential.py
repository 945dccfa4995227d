"""Differential validation against the REFERENCE parser executable
(VERDICT r05 next-step 1 / r04 #3).

`/root/reference/parse_canserver_filtered_log.py` is executed AS-IS —
its real `lambda_handler`, lines 107-363 — against synthetic CANServer
fixtures, with boto3 swapped for an in-memory S3 fake (get_object
serves the fixture bytes; put_object captures the landing JSON). The
captured per-hour channel lists are flattened to (channel, ts_ms,
value) rows and compared against `decode_signals`
(sources/canserver.py) on the same bytes.

Equality contract ("modulo the documented quirks", SURVEY.md §2.3):

* every row the reference EMITS must appear in our output with
  bit-identical float values (the decode math is the same float64
  ops: scale * int — parse_canserver_filtered_log.py:150-184);
* rows we emit that the reference doesn't must form a strict TIME
  SUFFIX: the reference's one-row-per-flush loop (:272-289) silently
  drops every epoch still buffered at EOF (up to ~MAX_SR of tail plus
  the drain backlog), a documented data-loss quirk we fix;
* hour 23 files are named hour "24" (:49-52 adds 1 with no rollover)
  — asserted as-is to pin the quirk;
* unknown AP codes crash the reference with KeyError (:184); we map
  them to NULL (operators/autopilot.py docstring);
* a short 257 payload crashes the reference with IndexError (:159);
  we drop the frame (MIN_PAYLOAD clamp, P6).

Skips cleanly when the reference tree is absent.
"""

from __future__ import annotations

import importlib.util
import io
import json
import os
import sys
import types
import warnings

import pytest

from matt3r_data_ingestion_serverless_spark.sources import canserver as cs

REF = "/root/reference/parse_canserver_filtered_log.py"

pytestmark = pytest.mark.skipif(
    not os.path.exists(REF), reason=f"reference tree not available ({REF})"
)

# 2023-11-14 22:13:20 UTC — mid-hour, single-day
SYNC_US = 1_700_000_000_000_000

ACCEL = bytes([0x34, 0x12, 0x00, 0x80, 0xFF, 0x7F])
GYRO = bytes([0x00, 0x80, 0xFF, 0x7F, 0xFF, 0x3F])
SPEED = bytes([0x00, 0xF0, 0xFF])
GPS = bytes([0xFF, 0xFF, 0xFF, 0x07, 0x00, 0x00, 0x80])
AP_ACTIVE = bytes([0x03])
AP_UNKNOWN = bytes([0x06])  # not in AP_STATE_DICT → reference KeyError


# -- reference loader / fake S3 ---------------------------------------------


class _FakeS3Client:
    def __init__(self, objects: dict, puts: dict):
        self._objects, self._puts = objects, puts

    def get_object(self, Bucket, Key):
        return {"Body": io.BytesIO(self._objects[(Bucket, Key)])}

    def put_object(self, Body, Bucket, Key):
        self._puts[Key] = Body
        return {}


class _FakeBucketObjects:
    def filter(self, Prefix):
        return []  # no pre-existing landing files → merge path idle


class _FakeBucket:
    objects = _FakeBucketObjects()


class _FakeS3Resource:
    def Bucket(self, name):
        return _FakeBucket()

    def Object(self, bucket, key):  # pragma: no cover — merge path idle
        raise AssertionError("landing merge path should not be reached")


@pytest.fixture(scope="module")
def ref_mod():
    if not os.path.exists(REF):  # the fuzz modules reuse this fixture unguarded
        pytest.skip(f"reference tree not available ({REF})")
    os.environ.setdefault("RAW_BUCKET", "raw")
    os.environ.setdefault("LANDING_BUCKET", "landing")
    os.environ["RAW_BUCKET"] = "raw"
    os.environ["LANDING_BUCKET"] = "landing"
    # awswrangler is imported (unused on this path) but not installed
    sys.modules.setdefault("awswrangler", types.ModuleType("awswrangler"))
    spec = importlib.util.spec_from_file_location("ref_parser", REF)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _run_reference(ref_mod, data: bytes, key: str = "dev1/log.bin"):
    """Drive the reference lambda end-to-end on fixture bytes; return
    (rows, landing_keys) where rows are (channel, ts_ms, value_tuple)."""
    puts: dict[str, str] = {}
    fake = types.SimpleNamespace(
        client=lambda svc: _FakeS3Client({("raw", key): data}, puts),
        resource=lambda svc: _FakeS3Resource(),
    )
    ref_mod.boto3 = fake
    event = {
        "Records": [
            {
                "body": json.dumps(
                    {
                        "Records": [
                            {
                                "s3": {
                                    "object": {"key": key},
                                    "bucket": {"name": "raw"},
                                },
                                "eventName": "ObjectCreated:Put",
                            }
                        ]
                    }
                )
            }
        ]
    }
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")  # pandas positional Series[int]
        ref_mod.lambda_handler(event, None)
    rows = []
    for body in puts.values():
        for ch, entries in json.loads(body).items():
            for e in entries:
                v = e["value"]
                rows.append(
                    (
                        ch,
                        int(round(e["timestamp"] * 1000)),
                        tuple(v) if isinstance(v, list) else (v,),
                    )
                )
    return rows, sorted(puts)


def _our_rows(data: bytes):
    sig = cs.decode_signals(data, "dev1")
    rows = []
    for r in sig.itertuples():
        val = (r.state,) if r.channel == "ap_status" else tuple(r.values)
        rows.append((r.channel, r.ts_us // 1000, val))
    return rows


def _assert_differential(ref_rows, our_rows):
    """Reference rows ⊆ ours (exact values); our extras are exactly the
    EOF tail the reference's flush loop drops."""
    ref_set, our_set = set(ref_rows), set(our_rows)
    assert ref_set, "reference emitted nothing — fixture too short to flush"
    missing = ref_set - our_set
    assert not missing, f"reference rows absent from our decode: {sorted(missing)[:5]}"
    extras = our_set - ref_set
    if extras:
        last_flushed = max(ts for _, ts, _ in ref_set)
        early = [e for e in extras if e[1] <= last_flushed]
        assert not early, f"non-tail divergence: {sorted(early)[:5]}"


def _build(frames, sync_us=SYNC_US, prefix=b"", mid=b""):
    data = cs.encode_header() + prefix + cs.encode_sync(sync_us)
    half = len(frames) // 2
    for i, (off_ms, fid, payload) in enumerate(frames):
        if i == half and mid:
            data += mid
        data += cs.encode_frame(off_ms, fid, payload)
    return data


def _spread(n=40, step_ms=400, start=0):
    """n epochs step_ms apart cycling through all five channels, with a
    same-epoch second channel every 4th frame (pivot-row merge path)."""
    seq = [ACCEL, GYRO, SPEED, GPS, AP_ACTIVE]
    fids = [273, 257, 599, 79, 921]
    frames = []
    for i in range(n):
        off = start + i * step_ms
        frames.append((off, fids[i % 5], seq[i % 5]))
        if i % 4 == 0:
            j = (i + 2) % 5
            frames.append((off, fids[j], seq[j]))
    return frames


# -- fixture 1: multi-channel, single hour ----------------------------------


def test_diff_multichannel_single_hour(ref_mod):
    data = _build(_spread())
    ref_rows, keys = _run_reference(ref_mod, data)
    _assert_differential(ref_rows, _our_rows(data))
    # all five channels actually exercised on BOTH sides
    assert {c for c, _, _ in ref_rows} == {
        "accel",
        "gyro",
        "speed",
        "location",
        "ap_status",
    }
    assert len(keys) == 1


# -- fixture 2: hour-23 naming quirk ----------------------------------------


def test_diff_hour23_no_rollover(ref_mod):
    # 2023-11-14 23:58:00 UTC — stays inside hour 23
    sync = 1_700_006_280_000_000
    data = _build(_spread(n=30), sync_us=sync)
    ref_rows, keys = _run_reference(ref_mod, data)
    _assert_differential(ref_rows, _our_rows(data))
    # the reference names the landing file hour 23+1 = "24" (no
    # rollover to the next day's hour 00) — pin the quirk
    assert len(keys) == 1 and "_24" in keys[0]


# -- fixture 3: mark message + embedded header ------------------------------


def test_diff_mark_and_embedded_header(ref_mod):
    data = _build(
        _spread(n=36),
        prefix=cs.encode_mark("drive-42"),
        mid=b"C" + cs.MAGIC[1:],  # concatenated-file header mid-stream
    )
    ref_rows, _ = _run_reference(ref_mod, data)
    _assert_differential(ref_rows, _our_rows(data))


# -- fixture 4: two sync messages (time re-sync, S4) ------------------------


def test_diff_two_sync_epochs(ref_mod):
    data = _build(_spread(n=24))
    data += cs.encode_sync(SYNC_US + 30_000_000)  # +30 s re-sync
    for off, fid, payload in _spread(n=24):
        data += cs.encode_frame(off, fid, payload)
    ref_rows, _ = _run_reference(ref_mod, data)
    _assert_differential(ref_rows, _our_rows(data))
    # rows from BOTH sync windows were flushed
    ts = sorted(t for _, t, _ in ref_rows)
    assert ts[0] < SYNC_US // 1000 + 20_000 < ts[-1]


# -- fixture 5: hour-boundary split → two landing files ----------------------


def test_diff_hour_boundary_split(ref_mod):
    # 2023-11-14 22:59:50 UTC; 40×400 ms spread crosses into hour 23
    sync = 1_700_002_790_000_000
    data = _build(_spread(n=60, step_ms=400), sync_us=sync)
    ref_rows, keys = _run_reference(ref_mod, data)
    _assert_differential(ref_rows, _our_rows(data))
    assert len(keys) == 2  # one landing object per hour


# -- fixture 6: quirk cases where the reference CRASHES ----------------------


def test_diff_unknown_ap_code_crashes_reference(ref_mod):
    frames = _spread(n=20) + [(9_000, 921, AP_UNKNOWN)] + _spread(
        n=10, start=10_000
    )
    data = _build(frames)
    with pytest.raises(KeyError):
        _run_reference(ref_mod, data)
    # ours: the unknown code decodes to a NULL state, everything else
    # survives
    ours = _our_rows(data)
    assert ("ap_status", SYNC_US // 1000 + 9_000, (None,)) in ours


def test_diff_short_gyro_payload_crashes_reference(ref_mod):
    frames = _spread(n=20) + [(9_000, 257, bytes([0x01, 0x02]))] + _spread(
        n=10, start=10_000
    )
    data = _build(frames)
    with pytest.raises(IndexError):
        _run_reference(ref_mod, data)
    # ours: the short frame is dropped (P6 clamp); no gyro row at 9 s
    ours = _our_rows(data)
    assert not [r for r in ours if r[0] == "gyro" and r[1] == SYNC_US // 1000 + 9_000]
