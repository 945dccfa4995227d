"""Merge-upsert topology FUZZ (VERDICT r08 next-step 6): the chain
fuzz covers decode→infer; the J1/J2/J3 merge-with-existing-file
branches were pinned only on hand-built scenarios. Here hypothesis
generates multi-file delivery sequences — same hour/day, overlapping,
disjoint, reordered, re-delivered — and drives them through the REAL
reference merge paths (fake S3 with a PERSISTENT landing bucket
carried across invocations) against transliterated merge models and
against our idempotent insert-only sink (operators/merge.py
upsert_parquet).

The documented quirk envelope asserted per generated sequence:

* J2 (stationary daily merge, infer_stationary_states.py:117-133):
  old.last.end <= new.first.start → old+new; old.first.start >=
  new.last.end → new+old; ANY overlap → `else: pass` keeps data_dict =
  the new intervals only and the put OVERWRITES — old data silently
  lost. The sequential real landing state must equal the model fold of
  the per-delivery SOLO inferences, and is always a SUBSET of the
  union of solos (the reference only ever drops, never invents).
* J1 (stage-1 hourly merge, parse_canserver_filtered_log.py:327-348):
  the existence probe is `<dir>/<fn>-00-00.parquet` (:328) but the
  sink writes `<dir>/<dir><fn>-00-00.json` (:348 — directory segment
  DOUBLED, extension mismatched), so on the reference's own output the
  merge branch can NEVER fire: a same-hour re-delivery overwrites and
  the first delivery is lost. With a planted `.parquet`-named object
  (impossible in production) the branches DO fire, with a second
  quirk: the old-before-new branch rebinds `clean_dict = last_json`
  INSIDE the per-channel loop (:339-341), so only the FIRST channel
  ("accel") is merged old+new — every later channel gets the OLD list
  DOUBLED and the new data dropped. Overlap → `continue`: the hour is
  never written at all. An empty location list in either side crashes
  the branch (IndexError).
* J3 (autopilot daily merge, infer_autopilot_states.py:108-116):
  read_json yields a DataFrame; the per-status merge appends the new
  LIST as one nested element, and `json.dumps(DataFrame, default=str)`
  serializes the WHOLE merged file as the quoted string repr of a
  DataFrame — the landing file stops being a JSON object after the
  second same-day delivery.

Our upsert_parquet is the intended semantics all three approximate:
re-deliveries are no-ops, delivery order never matters, and nothing is
lost — asserted on the same generated topologies.

Skips cleanly when the reference tree is absent.
"""

from __future__ import annotations

import io
import json
import os
import types
import warnings

import pytest

pytest.importorskip("hypothesis")
from hypothesis import given, settings
from hypothesis import strategies as st

import tests.test_reference_differential as s1
from tests.test_reference_differential import (
    GPS,
    SPEED,
    SYNC_US,
    _build,
    _spread,
    ref_mod,  # noqa: F401  (fixture)
)
from tests.test_reference_differential_stage2 import (
    BASE,
    MOVING,
    _run_ref,
    _samples,
    _stationary_landing_key,
    ref_ap,  # noqa: F401  (fixture)
    ref_stat,  # noqa: F401  (fixture)
)

# ---------------------------------------------------------------------------
# J2: stationary daily merge topology fuzz
# ---------------------------------------------------------------------------


def _delivery_spec(offset_s: int, zero_run_s: int) -> list[tuple[float, float]]:
    """5 moving samples, a 1 Hz zero-run, 5 moving samples, starting at
    ``offset_s``. The run is emitted (as [first+3, last-3]) iff
    last-first >= 13 s, i.e. zero_run_s >= 14 samples."""
    spec = [(float(offset_s + i), MOVING) for i in range(5)]
    spec += [(float(offset_s + 5 + i), 0.0) for i in range(zero_run_s)]
    spec += [(float(offset_s + 5 + zero_run_s + i), MOVING) for i in range(5)]
    return spec


def _j2_merge_model(old, new):
    """Transliteration of infer_stationary_states.py:123-133."""
    if not new:
        return old  # time_list empty -> no write at all
    if old is None:
        return new
    if old[-1][1] <= new[0][0]:
        return old + new
    if old[0][0] >= new[-1][1]:
        return new + old
    return new  # else: pass — old silently dropped


def _landing_intervals(landing: dict):
    key = _stationary_landing_key()
    if key not in landing:
        return None
    ivs = json.loads(landing[key])["IMU-telematics"]["stationary-state"]
    return [(e["start"], e["end"]) for e in ivs]


@st.composite
def _j2_sequence(draw):
    """2-4 same-day deliveries; window offsets may be in any order and
    may overlap; ~1/4 of runs are sub-threshold (no emit)."""
    k = draw(st.integers(2, 4))
    return [
        (
            draw(st.integers(0, 30)) * 25,  # window start (s into the day)
            draw(st.sampled_from([8, 14, 14, 20])),  # zero-run length (s)
        )
        for _ in range(k)
    ]


@settings(max_examples=120, deadline=None)
@given(_j2_sequence())
def test_j2_merge_topology_fuzz(ref_stat, seq):
    landing: dict[str, str] = {}
    solos = []
    for offset_s, zr in seq:
        spec = _delivery_spec(offset_s, zr)
        # solo inference: the same delivery against an EMPTY landing
        solo_puts = _run_ref(ref_stat, {"speed": _samples(spec)}, landing={})
        solos.append(_landing_intervals(solo_puts) or [])
        # sequential: carry the landing bucket forward
        puts = _run_ref(ref_stat, {"speed": _samples(spec)}, landing=landing)
        landing.update(puts)

    model = None
    for new in solos:
        model = _j2_merge_model(model, new)
    assert _landing_intervals(landing) == model
    # envelope: the reference only ever drops intervals, never invents
    final = _landing_intervals(landing)
    everything = {iv for s in solos for iv in s}
    if final is not None:
        assert set(final) <= everything


# ---------------------------------------------------------------------------
# our sink on the same topologies: order-independent exact union
# ---------------------------------------------------------------------------


def _upsert_intervals(spark, tmpdir: str, deliveries) -> list[tuple[float, float]]:
    from matt3r_data_ingestion_serverless_spark.operators.merge import upsert_parquet

    for ivs in deliveries:
        if not ivs:
            continue
        df = spark.createDataFrame(
            [(float(s), float(e)) for s, e in ivs], "start double, end double"
        )
        upsert_parquet(df, tmpdir, keys=["start", "end"])
    got = spark.read.parquet(tmpdir).collect()
    return sorted((r.start, r.end) for r in got)


REORDER_TOPOLOGIES = [
    # (name, per-delivery interval lists) — the shapes the fuzz draws
    ("disjoint_ordered", [[(0.0, 10.0)], [(20.0, 30.0)], [(40.0, 50.0)]]),
    ("disjoint_reverse", [[(40.0, 50.0)], [(20.0, 30.0)], [(0.0, 10.0)]]),
    ("overlapping", [[(0.0, 25.0)], [(20.0, 30.0)], [(5.0, 8.0)]]),
    ("redelivered", [[(0.0, 10.0)], [(0.0, 10.0)], [(20.0, 30.0)]]),
    ("with_empty", [[(0.0, 10.0)], [], [(5.0, 40.0)]]),
]


@pytest.mark.parametrize("name,deliveries", REORDER_TOPOLOGIES)
def test_our_upsert_is_order_independent_union(spark, tmp_path, name, deliveries):
    """upsert_parquet over any delivery order (and with re-deliveries)
    equals the exact deduplicated union — the intended semantics the
    reference's ordered-concat-or-drop logic approximates."""
    want = sorted({iv for d in deliveries for iv in d})
    a = _upsert_intervals(spark, str(tmp_path / "a"), deliveries)
    b = _upsert_intervals(spark, str(tmp_path / "b"), list(reversed(deliveries)))
    assert a == b == want
    # and the reference's kept set on the same topology is a subset
    model = None
    for new in deliveries:
        model = _j2_merge_model(model, new)
    assert set(model or []) <= set(want)


# ---------------------------------------------------------------------------
# J1: stage-1 hourly merge — stateful landing harness
# ---------------------------------------------------------------------------


class _S1Client:
    def __init__(self, raw: dict, puts: dict):
        self._raw, self._puts = raw, puts

    def get_object(self, Bucket, Key):
        return {"Body": io.BytesIO(self._raw[(Bucket, Key)])}

    def put_object(self, Body, Bucket, Key):
        self._puts[Key] = Body
        return {}


class _S1Resource:
    def __init__(self, landing: dict):
        self._landing = landing

    def Object(self, bucket, key):
        data = self._landing[key].encode()

        class _O:
            @staticmethod
            def get():
                return {"Body": io.BytesIO(data)}

        return _O()

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


def _run_s1(mod, data: bytes, key: str = "dev1/log.bin", landing: dict | None = None):
    """One stage-1 invocation against a persistent landing dict;
    returns the objects written (the caller folds them into landing)."""
    landing = landing if landing is not None else {}
    puts: dict[str, str] = {}
    mod.boto3 = types.SimpleNamespace(
        client=lambda svc, **kw: _S1Client({("raw", key): data}, puts),
        resource=lambda svc: _S1Resource(landing),
    )
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        mod.lambda_handler(_s1_event(key), None)
    return puts


def _s1_event(key: str) -> dict:
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


def _s1_body(puts: dict) -> dict:
    assert len(puts) == 1, sorted(puts)
    return json.loads(next(iter(puts.values())))


def test_j1_merge_can_never_fire_on_own_output(ref_mod):
    """Two same-hour deliveries: the probe name (.parquet, single dir
    segment) never matches the sink name (.json, doubled dir segment),
    so the second delivery OVERWRITES — first delivery's rows lost."""
    first = _build(_spread(n=20, start=0))
    second = _build(_spread(n=20, start=20_000))
    landing: dict[str, str] = {}
    puts1 = _run_s1(ref_mod, first, landing=landing)
    landing.update(puts1)
    (k1,) = puts1
    assert k1.startswith("dev1/dev1") and k1.endswith(".json")  # doubled dir
    puts2 = _run_s1(ref_mod, second, landing=landing)
    solo2 = _run_s1(ref_mod, second, landing={})
    assert _s1_body(puts2) == _s1_body(solo2)  # merge branch never fired


def _planted(body: dict, solo_key: str) -> str:
    """The .parquet probe key the reference checks (:328) for the hour
    file it wrote at ``solo_key`` (:348's doubled-dir .json name)."""
    fn = solo_key[len("dev1/dev1") : -len(".json")]
    return "dev1/" + fn + ".parquet"


def _shift_body(body: dict, dt: float) -> dict:
    return {
        ch: [{**e, "timestamp": e["timestamp"] + dt} for e in entries]
        for ch, entries in body.items()
    }


@settings(max_examples=40, deadline=None)
@given(st.sampled_from(["old_after_new", "old_before_new", "interleaved"]))
def test_j1_planted_parquet_branches(ref_mod, topology):
    """With a .parquet-named object planted (impossible in production)
    the real branches fire; assert each against the transliterated
    model including the clean_dict-rebinding bug."""
    new_bytes = _build(_spread(n=20, start=20_000))
    solo = _run_s1(ref_mod, new_bytes, landing={})
    (solo_key,) = solo
    new = _s1_body(solo)
    if topology == "old_after_new":
        old = _shift_body(new, +3600.0)  # strictly after: old.first >= new.last
    elif topology == "old_before_new":
        old = _shift_body(new, -3600.0)  # strictly before: old.last <= new.first
    else:
        old = _shift_body(new, +0.001)  # interleaved: neither guard holds
    landing = {_planted(new, solo_key): json.dumps(old)}
    puts = _run_s1(ref_mod, new_bytes, landing=landing)
    if topology == "old_after_new":
        # clean_dict[k] += last_json[k] for every channel: new + old
        want = {ch: new[ch] + old[ch] for ch in new}
        assert _s1_body(puts) == want
    elif topology == "old_before_new":
        # `clean_dict = last_json` rebinding INSIDE the loop: only the
        # first channel (accel) merges old+new; every later channel is
        # the OLD list doubled, the new rows dropped
        channels = list(new)  # insertion order: accel first
        want = {channels[0]: old[channels[0]] + new[channels[0]]}
        for ch in channels[1:]:
            want[ch] = old[ch] + old[ch]
        assert _s1_body(puts) == want
    else:
        assert puts == {}  # `continue`: the hour is never written


def test_j1_planted_merge_crashes_without_location(ref_mod):
    """The branch guards index clean_dict['location'][-1]; a delivery
    with no GPS frames crashes the merge (IndexError) when a planted
    file makes the branch reachable."""
    frames = [(i * 400, 599, SPEED) for i in range(20)]  # speed only
    no_gps = _build(frames)
    solo = _run_s1(ref_mod, no_gps, landing={})
    (solo_key,) = solo
    body = _s1_body(solo)
    assert body["location"] == []
    with_gps = _run_s1(ref_mod, _build(_spread(n=20)), landing={})
    old = _s1_body(with_gps)
    landing = {_planted(body, solo_key): json.dumps(old)}
    with pytest.raises(IndexError):
        _run_s1(ref_mod, no_gps, landing=landing)


# ---------------------------------------------------------------------------
# J3: autopilot daily merge — the poisoned second write
# ---------------------------------------------------------------------------


def _ap_content(spec: list[tuple[float, str]]) -> dict:
    return {"ap_status": [{"timestamp": BASE + off, "value": name} for off, name in spec]}


@settings(max_examples=30, deadline=None)
@given(
    st.lists(
        st.sampled_from(
            [("eng", [(0.0, "AVAILABLE"), (1.0, "ACTIVE_NOMINAL")]),
             ("dis", [(0.0, "ACTIVE_NOMINAL"), (1.0, "AVAILABLE")]),
             ("both", [(0.0, "AVAILABLE"), (1.0, "ACTIVE_NOMINAL"),
                       (2.0, "AVAILABLE")])]
        ),
        min_size=2,
        max_size=3,
    )
)
def test_j3_second_delivery_poisons_the_day_file(ref_ap, deliveries):
    """First same-day write is a JSON object; the SECOND delivery's
    merge serializes json.dumps(DataFrame, default=str) — a quoted
    STRING (the DataFrame repr), not an object — and every delivery
    AFTER that crashes outright (read_json on the poisoned file raises
    'DataFrame constructor not properly called!'). Pinned as-is. Our
    J3 upsert keeps a queryable keyed table regardless of delivery
    count (test_our_upsert_is_order_independent_union)."""
    landing: dict[str, str] = {}
    bodies = []
    for i, (_name, spec) in enumerate(deliveries[:2]):
        puts = _run_ref(ref_ap, _ap_content([(o + 10.0 * i, v) for o, v in spec]),
                        landing=landing)
        assert len(puts) == 1
        landing.update(puts)
        bodies.append(json.loads(next(iter(puts.values()))))
    assert isinstance(bodies[0], dict)  # first write: real JSON object
    assert isinstance(bodies[1], str)  # merged write: DataFrame repr string
    assert "auditory" in bodies[1]
    for i, (_name, spec) in enumerate(deliveries[2:], start=2):
        with pytest.raises(ValueError, match="DataFrame constructor"):
            _run_ref(ref_ap, _ap_content([(o + 10.0 * i, v) for o, v in spec]),
                     landing=landing)
