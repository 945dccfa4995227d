"""Seeded CANServer v2 fleet generator with a planted ground truth.

The bytes are written by this module's own encoder, which follows the
record grammar the decoder documents (``sources/canserver.py``):

    file    := MAGIC record*
    MAGIC   := b"CANSERVER_v2_CANSERVER"
    record  := 0xCD u8 n ascii[n]                    mark message
             | 0xCE u64le epoch_us                   time sync
             | 0xCF u16le offset_ms u16le frame_id
               u8 (bus<<4 | len) payload[len]        CAN frame

It deliberately imports nothing from the package under test, so a change
to ``sources/`` cannot change the workload. Every device drives a speed
profile with planted stops (some long enough to qualify as stationary
intervals, some too short) and an autopilot code series with planted
engagements and disengagements; the expected operator outputs are
derived here from the planted series by the reference rules.
"""

from __future__ import annotations

import os
import struct
from dataclasses import dataclass, field

import numpy as np

MAGIC = b"CANSERVER_v2_CANSERVER"
BASE_US = 1_709_539_200_000_000  # 2024-03-04 08:00:00 UTC
SAMPLE_US = 100_000  # speed / accel / gyro at 10 Hz
AP_EVERY = 5  # autopilot status at 2 Hz
LOC_EVERY = 10  # location at 1 Hz
UNKNOWN_FRAME = 1000  # a frame id the decoder must skip

SPEED, ACCEL, GYRO, LOC, AP = 599, 273, 257, 79, 921

# batch stationary rule (infer_stationary_states.py): zero-runs whose
# extent is >= 13 s emit [first + 3 s, last - 3 s]
MIN_STOP_US, TRIM_US = 13_000_000, 3_000_000
# streamed stationary rule: session window over zero samples, 13 s gap
SESSION_GAP_US = 13_000_000


@dataclass
class Device:
    name: str
    ts_us: np.ndarray  # 10 Hz grid
    speed_raw: np.ndarray  # 12-bit raw; 500 decodes to exactly 0.0 KPH
    accel_raw: np.ndarray  # (n, 3) int16
    gyro_raw: np.ndarray  # (n, 3): int16 yaw, s15 pitch, s15 roll
    loc_raw: np.ndarray  # (n, 2) s28 lat / long
    ap_code: np.ndarray  # code per 10 Hz sample; emitted every AP_EVERY
    files: list[tuple[int, int]] = field(default_factory=list)  # sample index ranges


def _segments(rng: np.random.Generator, n: int) -> np.ndarray:
    """Speed raw series of length n: moving stretches separated by
    planted stops. Starts and ends moving, so every stop is closed."""
    raw = np.empty(n, np.int64)
    i, moving = 0, True
    level = int(rng.integers(900, 1800))
    while i < n:
        if moving or n - i < 250:
            k = min(n - i, int(rng.integers(80, 400)))
            steps = rng.integers(-12, 13, k).cumsum() + level
            raw[i : i + k] = np.clip(steps, 600, 2500)
            level = int(raw[i + k - 1])
        else:
            # qualifying stop (14-45 s) or a short one (2-10 s)
            long_stop = rng.random() < 0.6
            k = int(rng.integers(141, 451) if long_stop else rng.integers(21, 101))
            raw[i : i + k] = 500
        i += k
        moving = not moving
    return raw


def _ap_codes(rng: np.random.Generator, n: int) -> np.ndarray:
    codes = np.empty(n, np.int64)
    i = 0
    choices = np.array([0, 1, 2, 3, 4, 5])
    weights = np.array([0.05, 0.05, 0.35, 0.35, 0.1, 0.1])
    while i < n:
        k = min(n - i, int(rng.integers(30, 200)))
        codes[i : i + k] = rng.choice(choices, p=weights)
        i += k
    return codes


def make_device(rng: np.random.Generator, name: str, start_us: int, seconds: int) -> Device:
    n = seconds * 1_000_000 // SAMPLE_US
    ts = start_us + np.arange(n, dtype=np.int64) * SAMPLE_US
    accel = rng.integers(-4000, 4000, (n, 3))
    gyro = np.stack(
        [rng.integers(-20000, 20000, n), rng.integers(-16000, 16000, n),
         rng.integers(-16000, 16000, n)], axis=1)
    lat0, lon0 = int(rng.integers(43_000_000, 44_000_000)), int(rng.integers(-80_000_000, -79_000_000))
    loc = np.stack([lat0 + rng.integers(-50, 51, n).cumsum(),
                    lon0 + rng.integers(-50, 51, n).cumsum()], axis=1)
    return Device(name, ts, _segments(rng, n), accel, gyro, loc, _ap_codes(rng, n))


# ---------------------------------------------------------------------------
# encoder
# ---------------------------------------------------------------------------


def _frame(offset_ms: int, frame_id: int, payload: bytes) -> bytes:
    return b"\xcf" + struct.pack("<HHB", offset_ms, frame_id, len(payload)) + payload


def _speed_payload(raw: int) -> bytes:
    return bytes([0x5A, ((raw & 0xF) << 4) | 0x3, raw >> 4])


def _gyro_payload(yaw: int, pitch: int, roll: int) -> bytes:
    p, r = pitch & 0x7FFF, roll & 0x7FFF
    return struct.pack("<h", yaw) + bytes(
        [p & 0xFF, ((p >> 8) & 0x7F) | ((r & 1) << 7), (r >> 1) & 0xFF, (r >> 9) & 0x3F])


def _loc_payload(lat: int, lon: int) -> bytes:
    a, o = lat & 0x0FFFFFFF, lon & 0x0FFFFFFF
    return bytes([a & 0xFF, (a >> 8) & 0xFF, (a >> 16) & 0xFF, ((a >> 24) & 0xF) | ((o & 0xF) << 4),
                  (o >> 4) & 0xFF, (o >> 12) & 0xFF, (o >> 20) & 0xFF])


def encode_range(dev: Device, lo: int, hi: int) -> bytes:
    """One log file holding the device's samples [lo, hi)."""
    out = [MAGIC, b"\xcd\x05bench"]
    sync = None
    for i in range(lo, hi):
        t = int(dev.ts_us[i])
        second = t - t % 1_000_000
        if second != sync:
            sync = second
            out.append(b"\xce" + struct.pack("<Q", second))
            out.append(_frame(0, UNKNOWN_FRAME, b"\x00" * 8))
        off = (t - second) // 1000
        out.append(_frame(off, SPEED, _speed_payload(int(dev.speed_raw[i]))))
        out.append(_frame(off, ACCEL, struct.pack("<3h", *map(int, dev.accel_raw[i]))))
        out.append(_frame(off, GYRO, _gyro_payload(*map(int, dev.gyro_raw[i]))))
        if i % LOC_EVERY == 0:
            out.append(_frame(off, LOC, _loc_payload(*map(int, dev.loc_raw[i]))))
        if i % AP_EVERY == 0:
            out.append(_frame(off, AP, bytes([int(dev.ap_code[i])])))
    return b"".join(out)


def write_files(dev: Device, dev_dir: str, file_samples: int) -> list[str]:
    """Split the device's series into consecutive files of
    ``file_samples`` samples; returns the paths in time order."""
    os.makedirs(dev_dir, exist_ok=True)
    paths = []
    for k, lo in enumerate(range(0, len(dev.ts_us), file_samples)):
        hi = min(lo + file_samples, len(dev.ts_us))
        path = os.path.join(dev_dir, f"{dev.name}_{k:04d}.log")
        with open(path, "wb") as f:
            f.write(encode_range(dev, lo, hi))
        dev.files.append((lo, hi))
        paths.append(path)
    return paths


# ---------------------------------------------------------------------------
# ground truth over a prefix [0, hi) of each device's samples
# ---------------------------------------------------------------------------


def _s(x: np.ndarray, bits: int) -> np.ndarray:
    x = x & ((1 << bits) - 1)
    return np.where(x >= 1 << (bits - 1), x - (1 << bits), x)


def channel_truth(dev: Device, hi: int) -> dict[str, tuple[int, float]]:
    """(row count, sum of the first decoded value) per channel."""
    idx = np.arange(hi)
    loc = idx[idx % LOC_EVERY == 0]
    ap = idx[idx % AP_EVERY == 0]
    return {
        "speed": (hi, float((dev.speed_raw[:hi] * 0.08 + (-40.0)).sum())),
        "accel": (hi, float((dev.accel_raw[:hi, 0] * 0.00125).sum())),
        "gyro": (hi, float((dev.gyro_raw[:hi, 0] * 0.0001).sum())),
        "location": (len(loc), float((_s(dev.loc_raw[loc, 0], 28) * 1e-6).sum())),
        "ap_status": (len(ap), 0.0),
    }


def stationary_truth(dev: Device, hi: int) -> set[tuple]:
    """Batch W2 over samples [0, hi): (device, start_us, end_us)."""
    out = set()
    zero = dev.speed_raw[:hi] == 500
    i = 0
    while i < hi:
        if not zero[i]:
            i += 1
            continue
        j = i
        while j + 1 < hi and zero[j + 1]:
            j += 1
        first, last = int(dev.ts_us[i]), int(dev.ts_us[j])
        if last - first >= MIN_STOP_US:
            out.add((dev.name, first + TRIM_US, last - TRIM_US))
        i = j + 1
    return out


def session_truth(dev: Device) -> set[tuple]:
    """Streamed W2 over the whole series: session windows of zero
    samples with a 13 s gap, as (device, start_us, end_us)."""
    ts = dev.ts_us[dev.speed_raw == 500]
    out = set()
    if len(ts) == 0:
        return out
    start = prev = int(ts[0])
    for t in map(int, ts[1:]):
        if t >= prev + SESSION_GAP_US:
            out.add((dev.name, start, prev + SESSION_GAP_US))
            start = t
        prev = t
    out.add((dev.name, start, prev + SESSION_GAP_US))
    return out


def transition_truth(dev: Device, hi: int) -> set[tuple]:
    """W1 over the 2 Hz autopilot series in [0, hi): engagement when the
    code becomes 3 from <= 2, disengagement when it leaves 3 for <= 2."""
    out = set()
    prev = None
    for i in range(0, hi, AP_EVERY):
        code = int(dev.ap_code[i])
        if prev is not None:
            if code == 3 and prev <= 2:
                out.add((dev.name, int(dev.ts_us[i]), "engagement"))
            elif code <= 2 and prev == 3:
                out.add((dev.name, int(dev.ts_us[i]), "disengagement"))
        prev = code
    return out


def wide_truth(dev: Device, hi: int) -> tuple[int, int, int, int]:
    """signals_to_wide over [0, hi): rows, rows with speed, with AP
    status, with a location — every channel shares the 10 Hz grid."""
    idx = np.arange(hi)
    return hi, hi, int((idx % AP_EVERY == 0).sum()), int((idx % LOC_EVERY == 0).sum())
