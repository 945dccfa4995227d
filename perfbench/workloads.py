"""The three benchmark workloads.

Each workload makes its inputs from the seed (``prepare``), warms the
fresh session up (``warm``, part of the timed set-up) and then runs its
operations until the deadline (``measure``), checking every output.

- ``telemetry_backfill``: decode / W2 / W1 / A1 over a fleet's CANServer
  logs in batch — executor and Python-worker bound.
- ``ingest_stream``: the three-stage topology driven by
  ``drain_topology`` sweeps while devices upload on a schedule (open
  loop) — bound by fixed per-sweep streaming costs and the upsert sink.
- ``driver_loops``: registry queries whose time is driver-side plan
  building with one job per round, plus lakehouse commits.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import statistics
import sys
import tempfile
import time
import traceback

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench import canlog, tables, trace

HERE = os.path.dirname(os.path.abspath(__file__))


class Recorder:
    """Times operations as spans, checks their outputs, and records the
    leak counters after each one. Cached blocks are cleared before every
    timed operation so no operation reuses another's cache."""

    def __init__(self, spark, scratch_dirs: list[str], watch_dirs: list[str]) -> None:
        self.spark = spark
        self.spans = trace.Spans()
        self.scratch_dirs = scratch_dirs
        self.watch_dirs = watch_dirs  # parquet rewrites counted per op (traced runs)
        self.attempted = 0
        self.failed = 0
        self.leftover_bytes: list[int] = []
        self.cached_blocks: list[int] = []
        self._base = self._scratch_bytes()

    def _scratch_bytes(self) -> int:
        return sum(trace.dir_bytes(d) for d in self.scratch_dirs)

    def _cached_blocks(self) -> int:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.numCachedPartitions() for i in infos)

    def op(self, name: str, fn, check, **attrs):
        """Run ``fn(span)`` inside a span named ``name``; ``check`` gets
        its result and returns True when it is correct."""
        self.spark.catalog.clearCache()
        self.attempted += 1
        ok = False
        before = self._snapshot()
        with self.spans.span(name, op=True, **attrs) as span:
            try:
                result = fn(span)
            except Exception:  # an operation that raises counts as failed
                traceback.print_exc(file=sys.stderr)
                result = None
        if self.watch_dirs:
            span.attrs["written"] = trace.written_since(before, self._snapshot())
        if result is not None:
            try:
                ok = bool(check(result))
            except Exception:
                traceback.print_exc(file=sys.stderr)
        span.attrs["ok"] = ok
        if not ok:
            self.failed += 1
            print(f"perfbench: {name} gave a wrong result", file=sys.stderr)
        self.cached_blocks.append(self._cached_blocks())
        self.leftover_bytes.append(max(0, self._scratch_bytes() - self._base))
        return span

    def query(self, name: str, build, check, **attrs):
        """An operation that builds a DataFrame and collects it, with the
        two steps as child spans; ``check`` gets (columns, rows)."""

        def run(span):
            with self.spans.span("build", parent=span.name):
                df = build()
            with self.spans.span("exec", parent=span.name):
                rows = df.collect()
            return df.columns, rows

        return self.op(name, run, lambda res: check(*res), **attrs)

    def _snapshot(self) -> dict:
        out = {}
        for d in self.watch_dirs:
            out.update(trace.dir_files(d))
        return out

    def ops(self) -> list[trace.Span]:
        return [s for s in self.spans.items if s.attrs.get("op")]


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def p90(xs) -> float:
    """90th percentile, linear between the closest ranks."""
    if len(xs) < 2:
        return median(xs)
    return statistics.quantiles(xs, n=10, method="inclusive")[-1]


class Workload:
    """Base of the workloads. The default ``measure``/``metrics``/``units``
    are the batch shape of ``telemetry_backfill`` and ``driver_loops``:
    passes of (name, build, check) operations until the deadline. A pass
    runs every operation once on inputs that are all present when it
    starts, so a result's latency is its operation's completion time
    measured from the start of the pass."""

    def operations(self, spark) -> list:
        raise NotImplementedError

    def measure(self, spark, rec: Recorder, deadline: float) -> None:
        ops = self.operations(spark)
        k = 0
        while k == 0 or time.perf_counter() < deadline:
            with rec.spans.span("pass", index=k):
                for name, build, check in ops:
                    rec.query(name, build, check, pass_index=k)
            k += 1

    def metrics(self, rec: Recorder) -> dict:
        passes = [s for s in rec.spans.items if s.name == "pass"]
        done = [op.t1 - p.t0 for p in passes for op in rec.ops() if p.t0 <= op.t0 <= p.t1]
        return {"pass_s": median([p.wall for p in passes]), "latency_p50_s": median(done),
                "latency_p90_s": p90(done)}

    def units(self, rec: Recorder) -> list[list[trace.Span]]:
        """Operation spans grouped per pass: per-layer figures are summed
        over a unit before the median over units is taken."""
        by: dict[int, list] = {}
        for s in rec.ops():
            by.setdefault(s.attrs["pass_index"], []).append(s)
        return [by[k] for k in sorted(by)]

    # layer hooks; a workload that does not reach a layer keeps the default
    def written_dirs(self) -> list[str]:
        return []

    def ckpt_dirs(self) -> dict[str, str]:
        return {}

    def source_bytes(self, op) -> int:
        return 0

    def decode_inputs(self) -> list[str]:
        return []


def _close(a, b) -> bool:
    return math.isclose(a or 0.0, b, rel_tol=1e-9, abs_tol=1e-6)


# ---------------------------------------------------------------------------
# telemetry_backfill
# ---------------------------------------------------------------------------


class TelemetryBackfill(Workload):
    name = "telemetry_backfill"
    devices, seconds_per_device, file_seconds, warm_passes = 4, 300, 60, 2

    def prepare(self, scratch: str, seed: int) -> None:
        rng = np.random.default_rng(seed)
        self.raw = os.path.join(scratch, "backfill", "raw")
        self.fleet, self.files = [], []
        for d in range(self.devices):
            start = canlog.BASE_US + int(rng.integers(0, 3600)) * 1_000_000
            dev = canlog.make_device(rng, f"veh{d:03d}", start, self.seconds_per_device)
            self.files += canlog.write_files(dev, os.path.join(self.raw, dev.name),
                                             self.file_seconds * 10)
            self.fleet.append(dev)

    @staticmethod
    def _signals(spark, raw):
        from matt3r_data_ingestion_serverless_spark.sources.canserver import read_canserver

        return read_canserver(spark, raw)

    def operations(self, spark):
        """(name, build, check) for the four backfill operations; a check
        gets (columns, rows)."""
        raw, fleet = self.raw, self.fleet
        from matt3r_data_ingestion_serverless_spark.operators.autopilot import (
            ap_state_code, ap_transitions)
        from matt3r_data_ingestion_serverless_spark.operators.signal_views import signals_to_wide
        from matt3r_data_ingestion_serverless_spark.operators.stationary import (
            stationary_intervals)

        def decode():
            sig = self._signals(spark, raw)
            return sig.groupBy("device_id", "channel").agg(
                F.count("*").alias("n"), F.sum(F.col("values")[0]).alias("s"))

        def check_decode(_cols, rows):
            got = {(r.device_id, r.channel): (r.n, r.s) for r in rows}
            want = {(d.name, ch): v for d in fleet
                    for ch, v in canlog.channel_truth(d, len(d.ts_us)).items()}
            return got.keys() == want.keys() and all(
                got[k][0] == want[k][0] and _close(got[k][1], want[k][1]) for k in want)

        def w2():
            sig = self._signals(spark, raw).filter(F.col("channel") == "speed")
            speed = sig.select("device_id", "ts", F.col("values")[0].alias("speed"))
            return stationary_intervals(speed)

        def check_w2(_cols, rows):
            want = set().union(*(canlog.stationary_truth(d, len(d.ts_us)) for d in fleet))
            got = {(r.device_id, r.start_us, r.end_us) for r in rows}
            dur_ok = all(_close(r.duration_s, (r.end_us - r.start_us + 2 * canlog.TRIM_US) / 1e6)
                         for r in rows)
            return len(rows) == len(got) and got == want and dur_ok

        def w1():
            sig = self._signals(spark, raw).filter(F.col("channel") == "ap_status")
            coded = sig.select("device_id", "ts", ap_state_code(F.col("state")).alias("code"))
            return ap_transitions(coded)

        def check_w1(_cols, rows):
            want = set().union(*(canlog.transition_truth(d, len(d.ts_us)) for d in fleet))
            got = {(r.device_id, r.ts_us, r.status) for r in rows}
            return len(rows) == len(got) and got == want

        def a1():
            wide = signals_to_wide(self._signals(spark, raw))
            return wide.agg(F.count("*"), F.count("speed"), F.count("AP_status"),
                            F.count("lat"))

        def check_a1(_cols, rows):
            want = np.sum([canlog.wide_truth(d, len(d.ts_us)) for d in fleet], axis=0)
            return tuple(rows[0]) == tuple(int(x) for x in want)

        return [("decode", decode, check_decode), ("w2", w2, check_w2),
                ("w1", w1, check_w1), ("a1", a1, check_a1)]

    def warm(self, spark) -> None:
        """Untimed passes over the real inputs: codegen, Python workers
        and the JIT warm up on the shapes the timed passes use."""
        for _ in range(self.warm_passes):
            for name, build, check in self.operations(spark):
                spark.catalog.clearCache()
                df = build()
                if not check(df.columns, df.collect()):
                    raise RuntimeError(f"warm-up {name} produced a wrong result")

    def decode_inputs(self) -> list[str]:
        return self.files


# ---------------------------------------------------------------------------
# ingest_stream
# ---------------------------------------------------------------------------


class IngestStream(Workload):
    """Open loop: every device uploads a file holding ``file_seconds`` of
    log every ``period_s`` of wall time, whatever the sweeper is doing.
    Before each sweep the benchmark lands every file whose due time has
    passed, then calls ``drain_topology``; a file's freshness runs from
    its due time to the return of the sweep that published it. The set-up
    runs ``setup_sweeps`` sweeps, landing one file per device before each
    (the first sweep is the cold one); the schedule of the rest starts
    ``lead_s`` before timing, as if the loop had been running, so the
    first timed sweep meets a steady backlog."""

    name = "ingest_stream"
    devices, file_seconds, period_s, lead_s, setup_sweeps = 2, 10, 2.0, 6.0, 2
    horizon_s = 120  # files generated per device cover this much wall time

    def prepare(self, scratch: str, seed: int) -> None:
        rng = np.random.default_rng(seed)
        self.staging = os.path.join(scratch, "ingest", "staging")
        self.raw = os.path.join(scratch, "ingest", "raw")
        self.root = os.path.join(scratch, "ingest", "topology")
        n_files = int(self.horizon_s / self.period_s)
        self.fleet, self.queue = [], []
        self.setup_files: list[list] = [[] for _ in range(self.setup_sweeps)]
        for d in range(self.devices):
            dev = canlog.make_device(rng, f"veh{d:03d}", canlog.BASE_US,
                                     n_files * self.file_seconds)
            paths = canlog.write_files(dev, os.path.join(self.staging, dev.name),
                                       self.file_seconds * 10)
            phase = -self.lead_s - self.period_s * float(rng.random())
            for j, p in enumerate(paths):
                if j < self.setup_sweeps:
                    self.setup_files[j].append((None, d, j, p))
                else:
                    self.queue.append((phase + (j - self.setup_sweeps) * self.period_s, d, j, p))
            self.fleet.append(dev)
        self.queue.sort()
        self.sessions = set().union(*(canlog.session_truth(d) for d in self.fleet))
        self.hi = [0] * len(self.fleet)

    def _due(self, now: float) -> list:
        due = []
        while self.queue and self.queue[0][0] <= now:
            due.append(self.queue.pop(0))
        return due

    def _land(self, files: list) -> tuple[list, int]:
        """Move ``files`` into the raw zone; returns the landed
        (due, device, index) and their bytes."""
        landed, n = [], 0
        for due, d, j, path in files:
            dest = os.path.join(self.raw, self.fleet[d].name)
            os.makedirs(dest, exist_ok=True)
            n += os.path.getsize(path)
            os.rename(path, os.path.join(dest, os.path.basename(path)))
            landed.append((due, d, j))
            self.hi[d] = max(self.hi[d], self.fleet[d].files[j][1])
        return landed, n

    def _sweep(self, spark):
        from matt3r_data_ingestion_serverless_spark.streaming.scheduler import drain_topology

        return drain_topology(spark, self.raw, self.root)

    def warm(self, spark) -> None:
        for j, files in enumerate(self.setup_files):
            self._land(files)
            if not self._check(self._sweep(spark), list(self.hi)):
                raise RuntimeError(f"set-up sweep {j} produced a wrong result")

    def _expected(self, hi: list[int]) -> tuple[int, set]:
        rows, trans = 0, set()
        for dev, h in zip(self.fleet, hi):
            rows += sum(n for n, _ in canlog.channel_truth(dev, h).values())
            trans |= canlog.transition_truth(dev, h)
        return rows, trans

    def _watermark_us(self) -> int:
        offsets = os.path.join(self.ckpt_dirs()["stationary"], "offsets")
        last = max(int(f) for f in os.listdir(offsets) if f.isdigit())
        with open(os.path.join(offsets, str(last)), encoding="utf-8") as f:
            f.readline()
            return json.loads(f.readline())["batchWatermarkMs"] * 1000

    def _gold(self, key: str, cols: list[str]) -> set:
        from matt3r_data_ingestion_serverless_spark.streaming.scheduler import topology_paths

        path = topology_paths(self.root)[key]
        if not any(f.endswith(".parquet") for _d, _s, fs in os.walk(path) for f in fs):
            return set()  # zone not materialized yet
        t = pq.read_table(path, columns=cols).to_pylist()
        return {tuple(r[c] for c in cols) for r in t}

    def _check(self, counts: dict, hi: list[int]) -> bool:
        rows, trans = self._expected(hi)
        ev = self._gold("gold_autopilot", ["device_id", "ts_us", "status"])
        st = self._gold("gold_stationary", ["device_id", "start_us", "end_us"])
        wm = self._watermark_us()
        # only sessions the watermark has closed are final; a session
        # ending exactly on the watermark may go either way
        closed = {s for s in self.sessions if s[2] < wm}
        ok = (counts["silver_rows"] == rows and counts["autopilot_events"] == len(trans)
              and ev == trans and st <= self.sessions and closed <= st
              and counts["stationary_intervals"] == len(st))
        if not ok:
            print(f"perfbench: sweep check: counts={counts} rows={rows} "
                  f"transitions={len(trans)} gold_ev={len(ev)} sessions={len(st)} "
                  f"closed={len(closed)}", file=sys.stderr)
        return ok

    def measure(self, spark, rec: Recorder, deadline: float) -> None:
        self.freshness = []
        t0 = time.perf_counter()
        k = 0
        while k == 0 or time.perf_counter() < deadline:
            start = time.perf_counter() - t0
            landed, nbytes = self._land(self._due(start))
            target = list(self.hi)
            span = rec.op("sweep", lambda _s: self._sweep(spark),
                          lambda counts, target=target: self._check(counts, target),
                          sweep_index=k, raw_bytes=nbytes)
            self.freshness += [start + span.wall - due for due, _d, _j in landed]
            k += 1

    def written_dirs(self) -> list[str]:
        return [self.root]

    def ckpt_dirs(self) -> dict[str, str]:
        from matt3r_data_ingestion_serverless_spark.streaming.scheduler import topology_paths

        p = topology_paths(self.root)
        return {s: p[f"ckpt_{s}"] for s in trace.STAGES}

    def source_bytes(self, op) -> int:
        return op.attrs.get("raw_bytes", 0)

    def decode_inputs(self) -> list[str]:
        return [os.path.join(d, f) for top in (self.raw, self.staging)
                for d, _, fs in os.walk(top) for f in fs]

    def metrics(self, rec: Recorder) -> dict:
        sweeps = [s.wall for s in rec.ops() if s.name == "sweep"]
        return {"pass_s": median(sweeps), "latency_p50_s": median(self.freshness),
                "latency_p90_s": p90(self.freshness)}

    def units(self, rec: Recorder) -> list[list[trace.Span]]:
        return [[s] for s in rec.ops() if s.name == "sweep"]


# ---------------------------------------------------------------------------
# driver_loops
# ---------------------------------------------------------------------------

LOOP_QUERIES = ("graph_bfs_levels", "cluster_size_histogram", "exact_median_bisection",
                "j6_lakehouse_merge")


def _norm(v):
    """Cell normalization shared by the Spark and DuckDB sides of the
    result hash: floats to 6 decimals, timestamps as text."""
    import datetime as dt
    from decimal import Decimal

    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        r = round(v, 6)
        return 0.0 if r == 0 else r
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, (bytearray, memoryview)):
        return bytes(v)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def result_hash(columns: list[str], rows) -> str:
    """Order-insensitive hash of a result: columns by name, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    norm = sorted((tuple(_norm(r[i]) for i in order) for r in rows),
                  key=lambda row: tuple((v is None, "" if v is None else str(v)) for v in row))
    blob = repr(([columns[i] for i in order], norm)).encode()
    return hashlib.sha256(blob).hexdigest()


class DriverLoops(Workload):
    name = "driver_loops"

    def prepare(self, scratch: str, seed: int) -> None:
        self.sf = os.path.join(scratch, "loops", "sf")
        self.warm_sf = os.path.join(scratch, "loops", "sf_warm")
        tables.write_tables(self.sf, 1.0)
        tables.write_tables(self.warm_sf, 0.1)
        with open(os.path.join(HERE, "oracle_hashes.json"), encoding="utf-8") as f:
            self.hashes = json.load(f)["queries"]
        order = np.random.default_rng(seed).permutation(len(LOOP_QUERIES))
        self.order = [LOOP_QUERIES[i] for i in order]

    def _registry(self):
        from matt3r_data_ingestion_serverless_spark.plans import all_queries

        return all_queries()

    def warm(self, spark) -> None:
        reg = self._registry()
        for q in self.order:
            reg[q][0](spark, self.warm_sf).collect()

    def operations(self, spark) -> list:
        reg = self._registry()
        return [(q, lambda fn=reg[q][0]: fn(spark, self.sf),
                 lambda cols, rows, q=q: result_hash(cols, rows) == self.hashes[q])
                for q in self.order]

    def written_dirs(self) -> list[str]:
        return [tempfile.gettempdir()]

    def source_bytes(self, op) -> int:
        """The lakehouse queries stage their table from orders."""
        if not op.name.startswith("j"):
            return 0
        return os.path.getsize(os.path.join(self.sf, "orders.parquet"))


WORKLOADS = {w.name: w for w in (TelemetryBackfill, IngestStream, DriverLoops)}
