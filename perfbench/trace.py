"""Per-layer tracing for the benchmark: its own spans, Spark's event log
and the streaming progress reports.

Nothing here runs inside the program under test. Spans are recorded
around the benchmark's calls into public functions and kept in memory;
the event log is parsed after the session stops; streaming progress
comes from a ``StreamingQueryListener``.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

STAGES = ("silver", "autopilot", "stationary")
TASK_SUMS = ("task_run_s", "task_cpu_s", "gc_s", "deser_s", "input_bytes",
             "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "output_bytes")
# progress ``durationMs`` phase → metric suffix
PHASE_METRIC = {
    "latestOffset": "latest_offset_s",
    "queryPlanning": "query_planning_s",
    "addBatch": "add_batch_s",
    "walCommit": "wal_commit_s",
    "commitOffsets": "commit_offsets_s",
}


@dataclass
class Span:
    """One timed call. ``t0``/``t1`` are epoch seconds (aligned with the
    JVM's clock for event-log attribution); ``wall`` is the monotonic
    duration; ``parent`` names the op span a child belongs to."""

    name: str
    t0: float
    t1: float
    wall: float
    parent: str | None = None
    attrs: dict = field(default_factory=dict)


class Spans:
    def __init__(self) -> None:
        self.items: list[Span] = []

    @contextmanager
    def span(self, name: str, parent: str | None = None, **attrs):
        s = Span(name, time.time(), 0.0, 0.0, parent, dict(attrs))
        p0 = time.perf_counter()
        try:
            yield s
        finally:
            s.wall = time.perf_counter() - p0
            s.t1 = s.t0 + s.wall
            self.items.append(s)


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.compress": "false",
    }


@dataclass
class EventLog:
    jobs: list[tuple[float, float, bool]]  # (submit, complete, succeeded), epoch s
    stages: list[float]  # submission times
    tasks: list[dict]


def parse_event_logs(log_dir: str) -> EventLog:
    """Read every (uncompressed, unrolled) event log in ``log_dir``:
    one file per SparkContext the run started."""
    submit: dict[tuple[str, int], float] = {}
    jobs, stages, tasks = [], [], []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        app = os.path.basename(path)
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    submit[(app, ev["Job ID"])] = ev["Submission Time"] / 1000
                elif kind == "SparkListenerJobEnd":
                    t0 = submit.pop((app, ev["Job ID"]), None)
                    if t0 is not None:
                        ok = ev.get("Job Result", {}).get("Result") == "JobSucceeded"
                        jobs.append((t0, ev["Completion Time"] / 1000, ok))
                elif kind == "SparkListenerStageSubmitted":
                    t = ev["Stage Info"].get("Submission Time")
                    if t is not None:
                        stages.append(t / 1000)
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    shuffle_r = m.get("Shuffle Read Metrics", {})
                    tasks.append({
                        "t": info["Launch Time"] / 1000,
                        "failed": bool(info.get("Failed")),
                        "task_run_s": m.get("Executor Run Time", 0) / 1000,
                        "task_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": m.get("JVM GC Time", 0) / 1000,
                        "deser_s": m.get("Executor Deserialize Time", 0) / 1000,
                        "input_bytes": m.get("Input Metrics", {}).get("Bytes Read", 0),
                        "shuffle_read_bytes": shuffle_r.get("Remote Bytes Read", 0)
                        + shuffle_r.get("Local Bytes Read", 0),
                        "shuffle_write_bytes": m.get("Shuffle Write Metrics", {}).get(
                            "Shuffle Bytes Written", 0),
                        "spill_bytes": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                        "output_bytes": m.get("Output Metrics", {}).get("Bytes Written", 0),
                    })
    return EventLog(jobs, stages, tasks)


def union_len(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def spark_layers(log: EventLog, span: Span) -> dict[str, float]:
    """Event-log counters of the jobs, stages and tasks that started
    inside ``span``. ``driver_gap_s`` is the span's wall time minus the
    union of its job intervals; ``job_overrun_s`` is how far those jobs
    reach outside the span (clock alignment / stray async jobs)."""
    a, b = span.t0, span.t1
    jobs = [j for j in log.jobs if a <= j[0] <= b]
    inside = [(max(s, a), min(e, b)) for s, e, _ in jobs]
    busy = union_len(inside)
    tasks = [t for t in log.tasks if a <= t["t"] <= b]
    out = {
        "jobs": float(len(jobs)),
        "stages": float(sum(1 for t in log.stages if a <= t <= b)),
        "tasks": float(len(tasks)),
        "failed_tasks": float(sum(t["failed"] for t in tasks)),
        "job_busy_s": busy,
        "driver_gap_s": max(0.0, span.wall - busy),
        "job_overrun_s": max((e - b for _, e, _ in jobs), default=0.0),
    }
    for key in TASK_SUMS:
        out[key] = float(sum(t[key] for t in tasks))
    return out


def _epoch(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class ProgressListener(StreamingQueryListener):
    """Keeps every streaming start and progress report in memory."""

    def __init__(self) -> None:
        self.started: list[tuple[str, str, float]] = []  # (id, runId, epoch)
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        self.started.append((str(event.id), str(event.runId), _epoch(event.timestamp)))

    def onQueryProgress(self, event) -> None:
        self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def query_ids(ckpt_dirs: dict[str, str]) -> dict[str, str]:
    """Stage name by streaming query id: a query's id is fixed in its
    checkpoint's metadata file across restarts."""
    out = {}
    for stage, d in ckpt_dirs.items():
        with open(os.path.join(d, "metadata"), encoding="utf-8") as f:
            out[json.loads(f.readline())["id"]] = stage
    return out


def streaming_layers(listener: ProgressListener, ids: dict[str, str],
                     span: Span) -> tuple[dict, float]:
    """Per-stage progress figures for the queries that started inside
    ``span`` (one sweep), and the summed length of their active windows.
    A stage's window runs from its start event to the end of its last
    trigger; ``start_s`` is that window minus its triggers, and
    ``scheduler.tail_s`` is the sweep's time outside every window (the
    zone counts)."""
    out: dict[str, float] = {}
    active = 0.0
    runs = {rid: qid for qid, rid, t in listener.started if span.t0 <= t <= span.t1}
    t_start = {rid: t for _qid, rid, t in listener.started}
    for stage in STAGES:
        rids = [r for r, q in runs.items() if ids.get(q) == stage]
        prog = [p for p in listener.progress if p["runId"] in rids]
        trig = sum(p["durationMs"].get("triggerExecution", 0) for p in prog) / 1000
        window = 0.0
        for rid in rids:
            mine = [p for p in prog if p["runId"] == rid]
            if mine:
                last = max(mine, key=lambda p: p["batchId"])
                end = _epoch(last["timestamp"]) + last["durationMs"].get("triggerExecution", 0) / 1000
                window += max(0.0, end - t_start[rid])
        active += window
        pre = f"streaming.{stage}."
        out[pre + "start_s"] = max(0.0, window - trig)
        out[pre + "batches"] = float(len(prog))
        out[pre + "empty_batches"] = float(sum(p["numInputRows"] == 0 for p in prog))
        for ph, metric in PHASE_METRIC.items():
            out[pre + metric] = sum(p["durationMs"].get(ph, 0) for p in prog) / 1000
        last_state = max(prog, key=lambda p: p["batchId"])["stateOperators"] if prog else []
        out[pre + "state_rows"] = float(sum(s.get("numRowsTotal", 0) for s in last_state))
        out[pre + "state_bytes"] = float(sum(s.get("memoryUsedBytes", 0) for s in last_state))
    out["streaming.scheduler.tail_s"] = max(0.0, span.wall - active)
    return out, active


def dir_files(root: str) -> dict[str, tuple[int, int]]:
    """path → (size, mtime_ns) of every regular file under ``root``."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def written_since(before: dict, after: dict, suffix: str = ".parquet") -> tuple[int, int]:
    """(files, bytes) that are new or rewritten between two snapshots."""
    new = [p for p, v in after.items() if p.endswith(suffix) and before.get(p) != v]
    return len(new), sum(after[p][0] for p in new)


def dir_bytes(root: str) -> int:
    return sum(v[0] for v in dir_files(root).values())
