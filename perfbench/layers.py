"""Per-layer metrics of a traced run.

Every figure is a sum over one unit of the workload (a backfill pass, a
sweep, a query pass) and the median over the run's units, unless its
name says otherwise. A layer the workload does not reach reads 0.
"""

from __future__ import annotations

import time

from perfbench import trace
from perfbench.workloads import LOOP_QUERIES, median

SPARK_KEYS = ("jobs", "stages", "tasks", "driver_gap_s") + trace.TASK_SUMS + ("failed_tasks",)
STREAM_KEYS = ("start_s", "batches", "latest_offset_s", "query_planning_s", "add_batch_s",
               "wal_commit_s", "commit_offsets_s", "state_rows", "state_bytes")


def _unit(k: str) -> str:
    if k.endswith("_s"):
        return "s"
    if k.endswith("bytes") or k.endswith("bytes_written"):
        return "bytes"
    return "count"


def _children(rec, op: trace.Span, name: str) -> list[trace.Span]:
    return [s for s in rec.spans.items
            if s.name == name and s.parent == op.name and op.t0 <= s.t0 and s.t1 <= op.t1]


def _decode_rate(paths: list[str]) -> tuple[float, float]:
    """Single-threaded ``decode_signals`` over the run's own files, in
    the driver: (MB/s, rows)."""
    from matt3r_data_ingestion_serverless_spark.sources.canserver import decode_signals

    if not paths:
        return 0.0, 0.0
    blobs = []
    for p in paths:
        with open(p, "rb") as f:
            blobs.append(f.read())
    rows = 0
    t = time.perf_counter()
    for b in blobs:
        rows += len(decode_signals(b, "dev"))
    dt = time.perf_counter() - t
    return sum(map(len, blobs)) / 1e6 / dt, float(rows)


def per_layer(wl, rec, listener, events_dir: str, start_s: float) -> dict:
    log = trace.parse_event_logs(events_dir)
    ids = trace.query_ids(wl.ckpt_dirs())
    units = wl.units(rec)
    sums: list[dict] = []
    overrun = 0.0
    for ops in units:
        u: dict[str, float] = {}

        def add(k, v):
            u[k] = u.get(k, 0.0) + v

        for op in ops:
            sl = trace.spark_layers(log, op)
            overrun = max(overrun, sl["job_overrun_s"])
            for k in SPARK_KEYS:
                add("spark." + k, sl[k])
            for b in _children(rec, op, "build"):
                add("plans.build_s", b.wall)
                add("plans.build_jobs", trace.spark_layers(log, b)["jobs"])
            for e in _children(rec, op, "exec"):
                add("plans.exec_s", e.wall)
            files, nbytes = op.attrs.get("written", (0, 0))
            add("operators.merge.files_rewritten", files)
            add("operators.merge.bytes_written", nbytes)
            add("merge_source_bytes", wl.source_bytes(op))
            if op.name == "sweep":
                sl, active = trace.streaming_layers(listener, ids, op)
                overrun = max(overrun, active - op.wall)
                for k, v in sl.items():
                    add(k, v)
            if op.name in LOOP_QUERIES and op.name.startswith("j"):
                add("loops.lakehouse_s", op.wall)
            if op.name in ("decode", "w1", "w2", "a1"):
                add(f"backfill.{op.name}_s", op.wall)
        src = u.pop("merge_source_bytes", 0.0)
        u["operators.merge.write_amp"] = u.get("operators.merge.bytes_written", 0.0) / src if src else 0.0
        sums.append(u)

    out: dict[str, tuple[float, str]] = {}

    def med(k: str) -> float:
        return median([u.get(k, 0.0) for u in sums])

    out["session.start_s"] = (start_s, "s")
    out["session.leftover_scratch_bytes"] = (float(max(rec.leftover_bytes, default=0)), "bytes")
    out["session.cached_blocks_left"] = (float(max(rec.cached_blocks, default=0)), "count")
    for k in ("plans.build_s", "plans.build_jobs", "plans.exec_s"):
        out[k] = (med(k), _unit(k))
    for k in SPARK_KEYS:
        out["spark." + k] = (med("spark." + k), _unit(k))
    rate, rows = _decode_rate(wl.decode_inputs())
    out["sources.decode_mb_per_s"] = (rate, "MB/s")
    out["sources.signal_rows"] = (rows, "count")
    for s in trace.STAGES:
        pre = f"streaming.{s}."
        for k in STREAM_KEYS:
            out[pre + k] = (med(pre + k), _unit(k))
        batches = sum(u.get(pre + "batches", 0.0) for u in sums)
        empty = sum(u.get(pre + "empty_batches", 0.0) for u in sums)
        out[pre + "empty_batch_frac"] = (empty / batches if batches else 0.0, "ratio")
    out["streaming.scheduler.tail_s"] = (med("streaming.scheduler.tail_s"), "s")
    for k in ("operators.merge.bytes_written", "operators.merge.files_rewritten"):
        out[k] = (med(k), _unit(k))
    out["operators.merge.write_amp"] = (med("operators.merge.write_amp"), "ratio")
    for k in ("backfill.decode_s", "backfill.w2_s", "backfill.w1_s", "backfill.a1_s",
              "loops.lakehouse_s"):
        out[k] = (med(k), "s")
    out["trace.pass_s"] = (wl.metrics(rec)["pass_s"], "s")
    out["trace.reconcile_err_s"] = (overrun, "s")
    return out
