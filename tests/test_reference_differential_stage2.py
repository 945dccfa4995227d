"""Differential validation against the REFERENCE stage-2 inference
executables (VERDICT r06 next-step 1).

`/root/reference/infer_stationary_states.py` (zero-run sessionization,
W2) and `/root/reference/infer_autopilot_states.py` (lag transitions,
W1) are executed AS-IS — their real `lambda_handler`s — against landing
JSON fixtures, with boto3 swapped for the same in-memory S3 fake the
stage-1 harness uses (`test_reference_differential.py`) and awswrangler
faked with `pandas.read_json` over the captured bodies. The captured
landing output is compared against `operators/stationary.py:
stationary_intervals` and `operators/autopilot.py:ap_transitions` on
the identical series.

Equality contract ("modulo the documented quirks", SURVEY.md §2.5):

* interior zero-runs: the reference emits [first+3, last-3] iff the
  run's last zero sample has (cur-start) >= 13 s
  (infer_stationary_states.py:92-104); durations in the untested
  (12, 13) s dead zone fall through `else: continue` on BOTH guards
  (`<= 12` at :94, `>= 13` at :96) — no emit, exactly our
  `duration >= min_duration_s` filter. Parity asserted at 12, 12.5,
  13 s.
* a run reaching the series' FINAL sample is truncated by one sample:
  the loop stops at `end_index` (:86, exclusive) so the emit fires at
  i == end_index-1 with end_time = the PENULTIMATE timestamp
  (:100-102). We emit the true run end; if only the final sample
  pushes the run over 13 s the reference emits nothing at all. Both
  divergences asserted as-is.
* a series with no exact speed==0 sample crashes the reference
  (`speed_list.index(0)` ValueError, :81); ours returns empty.
* the stationary landing filename is day-month-year (the date-part
  split at :76-78 reads "%d/%m/%Y" fields in reverse); the autopilot
  sibling (:103-105) reads them correctly → year-month-day. Pinned.
* land_dir is `''.join(key.split('/')[0:-1])` (:61) — path segments
  CONCATENATED without separators. Pinned.
* autopilot transitions: engagement iff cur == 3 and prev <= 2,
  disengagement iff cur <= 2 and prev == 3
  (infer_autopilot_states.py:79-86); paths through 4/5/8/9 are ignored
  by both sides (a 3→5→2 disengagement is invisible — parity, not a
  divergence we fix).
* the landing dict keeps only the LAST event per status
  (`dict.update`, :95); ours keeps all events — reference output must
  equal our per-status LAST row.
* unknown state names (FAULT/SNA) crash the reference (KeyError via
  the AP_STATE_DICT apply, :73); we map them to NULL codes which
  suppress adjacent transitions.
* merge-with-existing-file branches: stationary appends/prepends only
  when the intervals are perfectly ordered against the old file and
  otherwise SILENTLY REPLACES the old content (`else: pass` at
  :132-133 keeps data_dict = the new intervals, then overwrites the
  object); the autopilot merge appends a LIST as one element (:113)
  and then `json.dumps(DataFrame, default=str)` (:116) serializes the
  merged file to a quoted string repr of a DataFrame — not a JSON
  object. Both pinned as-is.

Skips cleanly when the reference tree is absent.
"""

from __future__ import annotations

import datetime
import importlib.util
import io
import json
import os
import sys
import types

import pandas as pd
import pytest
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.operators.autopilot import (
    ap_state_code,
    ap_transitions,
)
from matt3r_data_ingestion_serverless_spark.operators.stationary import (
    stationary_intervals,
)

REF_STATIONARY = "/root/reference/infer_stationary_states.py"
REF_AUTOPILOT = "/root/reference/infer_autopilot_states.py"

pytestmark = pytest.mark.skipif(
    not os.path.exists(REF_STATIONARY),
    reason=f"reference tree not available ({REF_STATIONARY})",
)

BASE = 1_700_000_000  # 2023-11-14 22:13:20 UTC — mid-day, single bucket


# -- fake S3 / awswrangler ---------------------------------------------------


class _FakeS3Client:
    def __init__(self, objects: dict, puts: dict):
        self._objects, self._puts = objects, puts

    def put_object(self, Body, Bucket, Key):
        self._puts[Key] = Body
        return {}


class _FakeObject:
    def __init__(self, data: bytes):
        self._data = data

    def get(self):
        return {"Body": io.BytesIO(self._data)}


class _FakeS3Resource:
    """Serves raw-bucket objects and lists pre-existing landing keys."""

    def __init__(self, objects: dict, landing: dict):
        self._objects, self._landing = objects, landing

    def Object(self, bucket, key):
        return _FakeObject(self._objects[(bucket, key)])

    def Bucket(self, name):
        landing = self._landing

        class _Objects:
            @staticmethod
            def filter(Prefix):
                return [
                    types.SimpleNamespace(key=k)
                    for k in sorted(landing)
                    if k.startswith(Prefix)
                ]

        return types.SimpleNamespace(objects=_Objects())


def _load_ref(path: str, name: str):
    if not os.path.exists(path):  # the fuzz modules reuse the fixtures unguarded
        pytest.skip(f"reference tree not available ({path})")
    os.environ["RAW_BUCKET"] = "raw"
    os.environ["LANDING_BUCKET"] = "landing"
    sys.modules.setdefault("awswrangler", types.ModuleType("awswrangler"))
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def ref_stat():
    return _load_ref(REF_STATIONARY, "ref_infer_stationary")


@pytest.fixture(scope="module")
def ref_ap():
    return _load_ref(REF_AUTOPILOT, "ref_infer_autopilot")


def _s3_event(key: str) -> dict:
    return {
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


def _run_ref(mod, content: dict, key: str = "dev1/raw.json", landing: dict | None = None):
    """Drive a stage-2 reference lambda on a landing-JSON dict; return
    the {key: body} objects it wrote."""
    landing = dict(landing or {})
    puts: dict[str, str] = {}
    mod.boto3 = types.SimpleNamespace(
        client=lambda svc, **kw: _FakeS3Client({}, puts),
        resource=lambda svc: _FakeS3Resource(
            {("raw", key): json.dumps(content).encode()}, landing
        ),
    )
    mod.s3 = mod.boto3.client("s3")
    mod.s3_resource = mod.boto3.resource("s3")
    mod.wr = types.SimpleNamespace(
        s3=types.SimpleNamespace(
            read_json=lambda path: pd.read_json(
                io.StringIO(landing[path.split("landing/", 1)[1]])
            )
        )
    )
    mod.lambda_handler(_s3_event(key), None)
    return puts


def _ref_intervals(puts: dict) -> list[tuple[int, int]]:
    ivs = []
    for body in puts.values():
        for e in json.loads(body)["IMU-telematics"]["stationary-state"]:
            ivs.append((int(round(e["start"] * 1e6)), int(round(e["end"] * 1e6))))
    return sorted(ivs)


def _our_intervals(spark, entries: list[dict]) -> list[tuple[int, int]]:
    rows = [("dev1", int(round(e["timestamp"] * 1e6)), float(e["value"])) for e in entries]
    df = (
        spark.createDataFrame(rows, "device_id string, us long, speed double")
        .withColumn("ts", F.timestamp_micros("us"))
        .drop("us")
    )
    out = stationary_intervals(df)
    return sorted((r.start_us, r.end_us) for r in out.collect())


MOVING = 8.0


def _samples(spec: list[tuple[float, float]]) -> list[dict]:
    return [{"timestamp": BASE + off, "value": v} for off, v in spec]


# -- W2 scenario 1: interior run, plain parity --------------------------------


def test_s2_stationary_interior_run_parity(ref_stat, spark):
    spec = [(float(i), MOVING) for i in range(0, 10)]
    spec += [(float(i), 0.0) for i in range(10, 30)]  # 19 s zero-run
    spec += [(float(i), MOVING) for i in range(30, 40)]
    entries = _samples(spec)
    ref = _ref_intervals(_run_ref(ref_stat, {"speed": entries}))
    ours = _our_intervals(spark, entries)
    want = [((BASE + 10 + 3) * 1_000_000, (BASE + 29 - 3) * 1_000_000)]
    assert ref == want
    assert ours == want


# -- W2 scenario 2: the 12–13 s dead zone -------------------------------------


@pytest.mark.parametrize(
    "duration,emits",
    [(12.0, False), (12.5, False), (13.0, True)],
)
def test_s2_stationary_dead_zone(ref_stat, spark, duration, emits):
    """infer_stationary_states.py:94-102 leaves (12, 13) s untested:
    `<= 12` continues, `>= 13` emits, between falls to `else: continue`
    — same set of emitted runs as our `duration >= 13` filter."""
    spec = [(i * 0.5, MOVING) for i in range(0, 10)]  # 0 .. 4.5
    n = int(duration / 0.5) + 1
    spec += [(5.0 + i * 0.5, 0.0) for i in range(n)]  # 5 .. 5+duration
    spec += [(5.0 + duration + 0.5 + i * 0.5, MOVING) for i in range(10)]
    entries = _samples(spec)
    ref = _ref_intervals(_run_ref(ref_stat, {"speed": entries}))
    ours = _our_intervals(spark, entries)
    assert ref == ours
    if emits:
        assert ref == [
            (
                int((BASE + 5.0 + 3) * 1_000_000),
                int((BASE + 5.0 + duration - 3) * 1_000_000),
            )
        ]
    else:
        assert ref == []


# -- W2 scenario 3: run reaching the final sample (truncation quirk) ----------


def test_s2_stationary_eof_run_truncated_one_sample(ref_stat, spark):
    """The loop never evaluates the last index (:86), so an EOF run
    emits at i == end_index-1 with end = the PENULTIMATE ts (:100-102).
    Ours ends at the true last zero sample — divergence pinned as-is."""
    spec = [(float(i), MOVING) for i in range(0, 6)]
    spec += [(float(i), 0.0) for i in range(6, 21)]  # zeros to EOF (t=20)
    entries = _samples(spec)
    ref = _ref_intervals(_run_ref(ref_stat, {"speed": entries}))
    ours = _our_intervals(spark, entries)
    assert ref == [((BASE + 6 + 3) * 1_000_000, (BASE + 19 - 3) * 1_000_000)]
    assert ours == [((BASE + 6 + 3) * 1_000_000, (BASE + 20 - 3) * 1_000_000)]


def test_s2_stationary_eof_run_lost_when_only_final_sample_qualifies(ref_stat, spark):
    """Sub-case: (penultimate - start) < 13 <= (final - start) — the
    reference emits NOTHING (the qualifying sample is never visited);
    we emit the full run."""
    spec = [(float(i), MOVING) for i in range(0, 6)]
    spec += [(float(i), 0.0) for i in range(6, 20)]  # run 6..19 = 13 s
    entries = _samples(spec)
    ref = _ref_intervals(_run_ref(ref_stat, {"speed": entries}))
    ours = _our_intervals(spark, entries)
    assert ref == []
    assert ours == [((BASE + 6 + 3) * 1_000_000, (BASE + 19 - 3) * 1_000_000)]


# -- W2 scenario 4: no zero sample crashes the reference ----------------------


def test_s2_stationary_no_zero_crashes_reference(ref_stat, spark):
    entries = _samples([(float(i), MOVING) for i in range(0, 30)])
    with pytest.raises(ValueError):
        _run_ref(ref_stat, {"speed": entries})
    assert _our_intervals(spark, entries) == []


# -- W2 scenario 5: multiple runs + filename/land_dir quirks ------------------


def test_s2_stationary_multiple_runs_and_naming_quirks(ref_stat, spark):
    spec = [(float(i), 0.0) for i in range(0, 15)]  # run A: 14 s from t=0
    spec += [(float(i), MOVING) for i in range(15, 20)]
    spec += [(float(i), 0.0) for i in range(20, 32)]  # run B: 11 s — dropped
    spec += [(float(i), MOVING) for i in range(32, 36)]
    spec += [(float(i), 0.0) for i in range(36, 56)]  # run C: 19 s
    spec += [(float(i), MOVING) for i in range(56, 60)]
    entries = _samples(spec)
    puts = _run_ref(ref_stat, {"speed": entries}, key="dev1/2023/raw.json")
    ref = _ref_intervals(puts)
    ours = _our_intervals(spark, entries)
    want = [
        ((BASE + 0 + 3) * 1_000_000, (BASE + 14 - 3) * 1_000_000),
        ((BASE + 36 + 3) * 1_000_000, (BASE + 55 - 3) * 1_000_000),
    ]
    assert ref == want
    assert ours == want
    # land_dir concatenates segments with '' (:61) and the filename is
    # day-month-year (:76-79) — both pinned against local strftime
    d = datetime.datetime.fromtimestamp(BASE)
    expect = f"dev12023/Stationary/canserver-events_{d:%d-%m-%Y}.json"
    assert sorted(puts) == [expect]


# -- W2 scenario 6: merge-with-existing-file branches --------------------------


def _stationary_landing_key() -> str:
    d = datetime.datetime.fromtimestamp(BASE)
    return f"dev1/Stationary/canserver-events_{d:%d-%m-%Y}.json"


def _stationary_body(intervals: list[tuple[float, float]]) -> str:
    return json.dumps(
        {
            "IMU-telematics": {
                "stationary-state": [{"start": s, "end": e} for s, e in intervals]
            }
        }
    )


def test_s2_stationary_merge_appends_when_ordered(ref_stat):
    """old.last.end <= new.first.start → append (:123-127)."""
    old = [(BASE - 100.0, BASE - 50.0)]
    landing = {_stationary_landing_key(): _stationary_body(old)}
    spec = [(float(i), MOVING) for i in range(0, 5)]
    spec += [(float(i), 0.0) for i in range(5, 25)]
    spec += [(float(i), MOVING) for i in range(25, 30)]
    puts = _run_ref(ref_stat, {"speed": _samples(spec)}, landing=landing)
    got = json.loads(puts[_stationary_landing_key()])
    ivs = got["IMU-telematics"]["stationary-state"]
    assert [(e["start"], e["end"]) for e in ivs] == [
        (BASE - 100.0, BASE - 50.0),
        (BASE + 5 + 3, BASE + 24 - 3),
    ]


def test_s2_stationary_merge_interleaved_drops_old_file(ref_stat):
    """Neither ordered branch matches → `else: pass` (:132-133) keeps
    data_dict = the NEW intervals only and put_object overwrites the
    file: the old intervals are silently lost. Pinned as-is (our J2
    merge is a keyed upsert that keeps both)."""
    old = [(BASE + 2.0, BASE + 100.0)]  # overlaps the new interval
    landing = {_stationary_landing_key(): _stationary_body(old)}
    spec = [(float(i), MOVING) for i in range(0, 5)]
    spec += [(float(i), 0.0) for i in range(5, 25)]
    spec += [(float(i), MOVING) for i in range(25, 30)]
    puts = _run_ref(ref_stat, {"speed": _samples(spec)}, landing=landing)
    got = json.loads(puts[_stationary_landing_key()])
    ivs = got["IMU-telematics"]["stationary-state"]
    assert [(e["start"], e["end"]) for e in ivs] == [(BASE + 5 + 3, BASE + 24 - 3)]


# -- W1 helpers ----------------------------------------------------------------


def _ap_entries(spec: list[tuple[float, str]]) -> list[dict]:
    return [{"timestamp": BASE + off, "value": name} for off, name in spec]


def _ref_events(puts: dict) -> dict[str, tuple[int, float]]:
    """status → (ts_us, code) from the reference's last-wins dict."""
    out = {}
    for body in puts.values():
        for status, entries in json.loads(body)["auditory"].items():
            e = entries[0]
            out[status] = (int(round(e["timestamp"] * 1e6)), float(e["canbus_state"]))
    return out


def _our_events(spark, entries: list[dict]) -> list[tuple[int, str, float]]:
    rows = [("dev1", int(round(e["timestamp"] * 1e6)), e["value"]) for e in entries]
    df = (
        spark.createDataFrame(rows, "device_id string, us long, state string")
        .withColumn("ts", F.timestamp_micros("us"))
        .withColumn("code", ap_state_code(F.col("state")))
    )
    out = ap_transitions(df)
    return sorted((r.ts_us, r.status, r.canbus_state) for r in out.collect())


# -- W1 scenario 1: one engagement + one disengagement -------------------------


def test_s2_autopilot_basic_parity(ref_ap, spark):
    spec = [
        (0.0, "DISABLED"),
        (5.0, "AVAILABLE"),
        (10.0, "ACTIVE_NOMINAL"),  # engagement (prev 2)
        (20.0, "ACTIVE_NOMINAL"),
        (30.0, "AVAILABLE"),  # disengagement (prev 3)
        (40.0, "UNAVAILABLE"),
    ]
    entries = _ap_entries(spec)
    puts = _run_ref(ref_ap, {"ap_status": entries})
    ref = _ref_events(puts)
    ours = _our_events(spark, entries)
    assert ours == [
        ((BASE + 10) * 1_000_000, "engagement", 3.0),
        ((BASE + 30) * 1_000_000, "disengagement", 2.0),
    ]
    assert ref == {
        "engagement": ((BASE + 10) * 1_000_000, 3.0),
        "disengagement": ((BASE + 30) * 1_000_000, 2.0),
    }
    # autopilot filename is year-month-day (correct, unlike stationary)
    d = datetime.datetime.fromtimestamp(BASE)
    assert sorted(puts) == [f"dev1/Autopilot/canserver-events_{d:%Y-%m-%d}.json"]


# -- W1 scenario 2: last-event-wins dict quirk ----------------------------------


def test_s2_autopilot_last_event_wins_quirk(ref_ap, spark):
    """Two engagements: the landing dict's `.update` (:95) keeps only
    the LAST; ours keeps both (the keep-all intent shown by the merge
    logic at :108-114). Reference output == our per-status last row."""
    spec = [
        (0.0, "AVAILABLE"),
        (10.0, "ACTIVE_NOMINAL"),  # engagement #1
        (20.0, "DISABLED"),  # disengagement #1
        (30.0, "ACTIVE_NOMINAL"),  # engagement #2
        (40.0, "AVAILABLE"),  # disengagement #2
        (50.0, "AVAILABLE"),
    ]
    entries = _ap_entries(spec)
    ref = _ref_events(_run_ref(ref_ap, {"ap_status": entries}))
    ours = _our_events(spark, entries)
    assert len(ours) == 4
    last = {}
    for ts_us, status, code in ours:
        last[status] = (ts_us, code)
    assert ref == last
    assert ref["engagement"] == ((BASE + 30) * 1_000_000, 3.0)
    assert ref["disengagement"] == ((BASE + 40) * 1_000_000, 2.0)


# -- W1 scenario 3: transitions through 4/5/8/9 ignored by BOTH -----------------


def test_s2_autopilot_restricted_nav_paths_ignored(ref_ap, spark):
    """3→5 (ACTIVE_NAV) →2 never fires either guard (:79, :83): the
    reference loses that disengagement and, deliberately, so do we —
    intended-semantics parity, not a fixed quirk."""
    spec = [
        (0.0, "AVAILABLE"),
        (10.0, "ACTIVE_NOMINAL"),  # engagement
        (20.0, "ACTIVE_NAV"),  # 3→5: ignored
        (30.0, "AVAILABLE"),  # 5→2: NOT a disengagement on either side
        (40.0, "ACTIVE_RESTRICTED"),  # 2→4: ignored
        (50.0, "ACTIVE_NOMINAL"),  # 4→3: not an engagement (prev > 2)
        (60.0, "ABORTING"),  # 3→8: ignored
        (70.0, "ABORTED"),  # 8→9: ignored
        (80.0, "DISABLED"),  # 9→0: not a disengagement (prev != 3)
    ]
    entries = _ap_entries(spec)
    ref = _ref_events(_run_ref(ref_ap, {"ap_status": entries}))
    ours = _our_events(spark, entries)
    assert ours == [((BASE + 10) * 1_000_000, "engagement", 3.0)]
    assert ref == {"engagement": ((BASE + 10) * 1_000_000, 3.0)}


# -- W1 scenario 4: unknown state name crashes the reference --------------------


def test_s2_autopilot_unknown_state_crashes_reference(ref_ap, spark):
    spec = [
        (0.0, "AVAILABLE"),
        (10.0, "FAULT"),  # not in AP_STATE_DICT (:22-23) → KeyError (:73)
        (20.0, "ACTIVE_NOMINAL"),
        (30.0, "AVAILABLE"),
    ]
    entries = _ap_entries(spec)
    with pytest.raises(KeyError):
        _run_ref(ref_ap, {"ap_status": entries})
    # ours: FAULT → NULL code; NULL prev suppresses the 10→20 engagement
    # but the 3→2 disengagement at t=30 survives
    ours = _our_events(spark, entries)
    assert ours == [((BASE + 30) * 1_000_000, "disengagement", 2.0)]


# -- W1 scenario 5: merge branch serializes a DataFrame -------------------------


def test_s2_autopilot_merge_stringifies_dataframe(ref_ap):
    """The merge path assigns `autopilot_dict = last_file` (a pandas
    DataFrame, :109,114) and `json.dumps(..., default=str)` (:116)
    renders the WHOLE merged file as one quoted string — the landing
    object stops being a JSON object. Pinned as-is."""
    d = datetime.datetime.fromtimestamp(BASE)
    key = f"dev1/Autopilot/canserver-events_{d:%Y-%m-%d}.json"
    landing = {
        key: json.dumps(
            {
                "auditory": {
                    "engagement": [
                        {"timestamp": BASE - 100.0, "canbus_state": 3.0}
                    ]
                }
            }
        )
    }
    spec = [
        (0.0, "AVAILABLE"),
        (10.0, "ACTIVE_NOMINAL"),
        (20.0, "AVAILABLE"),
    ]
    puts = _run_ref(ref_ap, {"ap_status": _ap_entries(spec)}, landing=landing)
    merged = json.loads(puts[key])
    assert isinstance(merged, str)  # a stringified DataFrame, not a dict
    assert "auditory" in merged


# -- chained end-to-end: binary → stage-1 ref → stage-2 ref vs our pipeline ----


def _speed_payload(raw12: int) -> bytes:
    # parse_canserver_filtered_log.py:168: raw = payload[2]<<4 | payload[1]>>4
    return bytes([0x00, (raw12 & 0xF) << 4, raw12 >> 4])


SPEED_ZERO = _speed_payload(500)  # 0.08*500 - 40.0 == 0.0 exactly
SPEED_MOVING = _speed_payload(600)  # 8.0 KPH


def test_s2_chained_binary_to_intervals_and_events(ref_stat, ref_ap, spark):
    """Full two-stage differential: the SAME CANServer bytes go through
    the reference stage-1 parser (real lambda_handler, fake S3), its
    landing JSON feeds both reference stage-2 lambdas (real
    lambda_handlers), and the resulting intervals/events are compared
    against our decode_signals → stationary_intervals / ap_transitions
    on the identical bytes. The zero-run and both AP transitions sit
    well before EOF so stage-1's tail-drop quirk (flush loop backlog)
    cannot clip them."""
    import tests.test_reference_differential as s1
    from matt3r_data_ingestion_serverless_spark.sources import canserver as cs

    sync_us = BASE * 1_000_000
    frames = []
    for t in range(0, 61):  # 1 Hz speed, zero run t=10..29
        raw = SPEED_ZERO if 10 <= t <= 29 else SPEED_MOVING
        frames.append((t * 1000, 599, raw))
    frames.append((1_000, 921, bytes([0x02])))  # AVAILABLE
    frames.append((12_000, 921, bytes([0x03])))  # engagement
    frames.append((25_000, 921, bytes([0x02])))  # disengagement
    frames.append((45_000, 921, bytes([0x02])))
    frames.sort()
    data = cs.encode_header() + cs.encode_sync(sync_us)
    for off, fid, payload in frames:
        data += cs.encode_frame(off, fid, payload)

    # stage 1: reference parser → landing JSON (one hour file)
    stage1_mod = _load_ref(s1.REF, "ref_parser_chained")
    puts1: dict[str, str] = {}
    fake = types.SimpleNamespace(
        client=lambda svc: s1._FakeS3Client({("raw", "dev1/log.bin"): data}, puts1),
        resource=lambda svc: s1._FakeS3Resource(),
    )
    stage1_mod.boto3 = fake
    stage1_mod.lambda_handler(_s3_event("dev1/log.bin"), None)
    assert len(puts1) == 1
    landing_json = json.loads(next(iter(puts1.values())))
    assert landing_json["speed"] and landing_json["ap_status"]

    # the zero run must be fully flushed (not tail-dropped)
    speed_ts = [e["timestamp"] for e in landing_json["speed"]]
    assert max(speed_ts) >= BASE + 31

    # stage 2: reference inference lambdas on the stage-1 output
    ref_iv = _ref_intervals(_run_ref(ref_stat, landing_json))
    ref_ev = _ref_events(_run_ref(ref_ap, landing_json))

    # our pipeline on the SAME bytes
    sig = cs.decode_signals(data, "dev1")
    sp = sig[sig.channel == "speed"]
    entries = [
        {"timestamp": r.ts_us / 1e6, "value": float(r.values[0])}
        for r in sp.itertuples()
    ]
    ours_iv = _our_intervals(spark, entries)
    ap = sig[sig.channel == "ap_status"]
    ap_entries = [
        {"timestamp": r.ts_us / 1e6, "value": r.state} for r in ap.itertuples()
    ]
    ours_ev = _our_events(spark, ap_entries)

    want_iv = [((BASE + 10 + 3) * 1_000_000, (BASE + 29 - 3) * 1_000_000)]
    assert ref_iv == want_iv
    assert ours_iv == want_iv
    assert ours_ev == [
        ((BASE + 12) * 1_000_000, "engagement", 3.0),
        ((BASE + 25) * 1_000_000, "disengagement", 2.0),
    ]
    assert ref_ev == {
        "engagement": ((BASE + 12) * 1_000_000, 3.0),
        "disengagement": ((BASE + 25) * 1_000_000, 2.0),
    }


# -- property-based: the quirk model is exact over random series ---------------


def _ref_twin(entries: list[dict]) -> list[tuple[float, float]]:
    """Pure-Python transliteration of the reference's scan loop
    (infer_stationary_states.py:81-106), used to prove our MODEL of the
    reference is exact: the real lambda must agree with this twin on
    every generated series."""
    speeds = [e["value"] for e in entries]
    times = [e["timestamp"] for e in entries]
    start_index = speeds.index(0)
    end_index = len(speeds) - 1
    start = times[start_index]
    out = []
    for i in range(start_index + 1, end_index):
        cur_t, cur, pre, nxt = times[i], speeds[i], speeds[i - 1], speeds[i + 1]
        if cur == 0 and pre != 0:
            start = cur_t
        elif cur == 0 and (cur_t - start) <= 12:
            continue
        elif cur == 0 and (cur_t - start) >= 13:
            if nxt != 0:
                out.append((start + 3, cur_t - 3))
            elif nxt == 0 and i == end_index - 1:
                out.append((start + 3, cur_t - 3))
    return out


def _our_twin(entries: list[dict]) -> list[tuple[float, float]]:
    """Our operator's semantics in pure Python: maximal zero-runs with
    duration >= 13 s emit [first+3, last-3] (stationary_intervals'
    contract, which tests/test_temporal_props.py pins against the Spark
    plan)."""
    out = []
    run_start = None
    prev_t = None
    for e in entries + [{"timestamp": None, "value": 1.0}]:
        if e["value"] == 0:
            if run_start is None:
                run_start = e["timestamp"]
            prev_t = e["timestamp"]
        else:
            if run_start is not None and prev_t - run_start >= 13:
                out.append((run_start + 3, prev_t - 3))
            run_start = None
    return out


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _HAS_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    _HAS_HYPOTHESIS = False


if _HAS_HYPOTHESIS:

    _series = st.lists(
        st.tuples(
            st.sampled_from([0.5, 1.0, 2.0, 5.0, 6.5, 13.0]),  # dt
            st.sampled_from([0, 0, 0, 3.0, 8.0]),  # speed (zero-biased)
        ),
        min_size=3,
        max_size=40,
    )

    @settings(max_examples=200, deadline=None)
    @given(_series)
    def test_s2_property_quirk_model_is_exact(ref_stat, steps):
        """For ANY series: (a) the real reference lambda equals the
        transliterated twin — our reading of its control flow is exact;
        (b) our semantics differ from the reference ONLY by the
        documented quirks: an EOF-reaching run is truncated to the
        penultimate sample (or dropped entirely when only the final
        sample pushes it over 13 s); every non-EOF interval matches
        exactly."""
        t = BASE
        entries = []
        for dt, v in steps:
            entries.append({"timestamp": t, "value": v})
            t += dt
        speeds = [e["value"] for e in entries]
        if 0 not in speeds:
            with pytest.raises(ValueError):
                _run_ref(ref_stat, {"speed": entries})
            assert _our_twin(entries) == []
            return
        ref = _ref_intervals(_run_ref(ref_stat, {"speed": entries}))
        twin = sorted(
            (int(round(s * 1e6)), int(round(e * 1e6))) for s, e in _ref_twin(entries)
        )
        assert ref == twin  # (a) the model is exact
        ours = sorted(
            (int(round(s * 1e6)), int(round(e * 1e6))) for s, e in _our_twin(entries)
        )
        # (b) quirk envelope
        eof_us = int(round(entries[-1]["timestamp"] * 1e6))
        ref_set = set(ref)
        for iv in ours:
            if iv in ref_set:
                ref_set.discard(iv)
                continue
            # must be the EOF run: ends exactly at last_sample - 3 s
            assert iv[1] == eof_us - 3_000_000, (iv, ref, ours)
            # reference either truncated it by >= one sample or dropped it
            shorter = [r for r in ref if r[0] == iv[0] and r[1] < iv[1]]
            assert len(shorter) <= 1
            for r in shorter:
                ref_set.discard(r)
        assert not ref_set, f"reference emitted intervals we never do: {ref_set}"


def _ref_twin_ap(entries: list[dict]) -> dict[str, tuple[float, float]]:
    """Transliteration of infer_autopilot_states.py:78-95: the scan
    emits engagement (cur == 3, prev <= 2) / disengagement (cur <= 2,
    prev == 3) events, then the dict serialization keeps only the LAST
    event per status."""
    code = {"DISABLED": 0, "UNAVAILABLE": 1, "AVAILABLE": 2, "ACTIVE_NOMINAL": 3,
            "ACTIVE_RESTRICTED": 4, "ACTIVE_NAV": 5, "ABORTING": 8, "ABORTED": 9}
    vals = [code[e["value"]] for e in entries]
    out: dict[str, tuple[float, float]] = {}
    for i in range(1, len(vals)):
        if vals[i] == 3 and vals[i - 1] <= 2:
            out["engagement"] = (entries[i]["timestamp"], float(vals[i]))
        elif vals[i] <= 2 and vals[i - 1] == 3:
            out["disengagement"] = (entries[i]["timestamp"], float(vals[i]))
    return out


def _our_twin_ap(entries: list[dict]) -> list[tuple[float, str, float]]:
    """ap_transitions' semantics in pure Python: ALL transition events,
    not just the last per status."""
    code = {"DISABLED": 0, "UNAVAILABLE": 1, "AVAILABLE": 2, "ACTIVE_NOMINAL": 3,
            "ACTIVE_RESTRICTED": 4, "ACTIVE_NAV": 5, "ABORTING": 8, "ABORTED": 9}
    vals = [code[e["value"]] for e in entries]
    out = []
    for i in range(1, len(vals)):
        if vals[i] == 3 and vals[i - 1] <= 2:
            out.append((entries[i]["timestamp"], "engagement", float(vals[i])))
        elif vals[i] <= 2 and vals[i - 1] == 3:
            out.append((entries[i]["timestamp"], "disengagement", float(vals[i])))
    return out


if _HAS_HYPOTHESIS:

    _ap_series = st.lists(
        st.sampled_from(
            ["DISABLED", "UNAVAILABLE", "AVAILABLE", "ACTIVE_NOMINAL",
             "ACTIVE_NOMINAL", "ACTIVE_RESTRICTED", "ACTIVE_NAV",
             "ABORTING", "ABORTED"]
        ),
        min_size=2,
        max_size=30,
    )

    @settings(max_examples=200, deadline=None)
    @given(_ap_series)
    def test_s2_property_ap_quirk_model_is_exact(ref_ap, states):
        """For ANY known-state series: the real autopilot lambda equals
        the transliterated twin, and the reference's output is exactly
        our per-status LAST event (the dict.update quirk) — no other
        divergence exists."""
        entries = [
            {"timestamp": BASE + 10.0 * i, "value": s}
            for i, s in enumerate(states)
        ]
        ours = _our_twin_ap(entries)
        twin = _ref_twin_ap(entries)
        if not ours:
            # no transitions → autopilot_df stays empty → the reference
            # writes nothing (the `if not autopilot_df.empty` guard)
            assert twin == {}
            puts = _run_ref(ref_ap, {"ap_status": entries})
            assert puts == {}
            return
        ref = _ref_events(_run_ref(ref_ap, {"ap_status": entries}))
        assert ref == {
            k: (int(round(t * 1e6)), v) for k, (t, v) in twin.items()
        }
        last: dict[str, tuple[int, float]] = {}
        for t, status, v in ours:
            last[status] = (int(round(t * 1e6)), v)
        assert ref == last
