"""Benchmark entry point.

    python3 perfbench/run.py --workload telemetry_backfill --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. Builds the inputs from the seed in a fresh
scratch root under ``.perfbench_tmp/`` (removed on exit, also on error),
sets the session up (``setup_s``: session start plus the workload's
warm-up), runs the workload for ``--seconds`` and prints one JSON object
as the last line of standard output. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` enables Spark's event log and a
streaming listener and reports the per-layer metrics instead. See
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time

PKG = "matt3r_data_ingestion_serverless_spark"


def machine_env(root: str, tmp: str, warehouse: str) -> None:
    """Size the session from this machine and keep every scratch write
    inside the run's scratch root."""
    cpus = len(os.sched_getaffinity(0))
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    driver_mb = max(1024, min(4096, phys // 4 // 2**20))
    py_path = os.environ.get("PYTHONPATH")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_mb}m",
        # Python workers import the package by name
        "PYTHONPATH": root + (os.pathsep + py_path if py_path else ""),
        "TMPDIR": tmp,
        "SPARK_GRAFT_WAREHOUSE": warehouse,
        "TZ": "UTC",
    })
    time.tzset()
    tempfile.tempdir = tmp


def session_conf(scratch: str, tmp: str, traced: bool) -> dict[str, str]:
    from perfbench import trace

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(scratch, "spark-local"),
        "spark.sql.streaming.checkpointLocation": os.path.join(scratch, "default-ckpt"),
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }
    if traced:
        conf.update(trace.event_log_conf(os.path.join(scratch, "events")))
    return conf


def _stop_jvm() -> None:
    """End the JVM this process launched and wait for it: its gateway
    exits when its stdin closes."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def run(args, root: str, scratch: str) -> dict:
    from perfbench import layers, workloads

    tmp, warehouse = os.path.join(scratch, "tmp"), os.path.join(scratch, "warehouse")
    os.makedirs(tmp)
    machine_env(root, tmp, warehouse)
    conf = session_conf(scratch, tmp, bool(args.trace))

    from matt3r_data_ingestion_serverless_spark import get_spark
    from perfbench.trace import ProgressListener

    wl = workloads.WORKLOADS[args.workload]()
    wl.prepare(scratch, args.seed)

    listener = ProgressListener() if args.trace else None
    spark = None
    try:
        t = time.perf_counter()
        spark = get_spark("perfbench", conf)
        start_s = time.perf_counter() - t
        if listener is not None:
            spark.streams.addListener(listener)
        wl.warm(spark)
        setup_s = time.perf_counter() - t

        rec = workloads.Recorder(spark, [tmp, warehouse],
                                 wl.written_dirs() if args.trace else [])
        wl.measure(spark, rec, time.perf_counter() + args.seconds)
    finally:
        if spark is not None:
            spark.stop()
        _stop_jvm()

    print(f"perfbench: set-up {setup_s:.2f} s; operations "
          f"{[(s.name, round(s.wall, 2)) for s in rec.ops()]}", file=sys.stderr)
    result = {"correct": rec.failed == 0, "attempted": rec.attempted, "failed": rec.failed}
    if args.trace:
        metrics = layers.per_layer(wl, rec, listener, os.path.join(scratch, "events"), start_s)
    else:
        metrics = {"setup_s": (setup_s, "s")}
        metrics.update({k: (v, "s") for k, v in wl.metrics(rec).items()})
    result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    return result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["telemetry_backfill", "ingest_stream", "driver_loops"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PKG)):
        print(f"perfbench: run from the repository root ({PKG}/ not found in {root})",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    # a terminated run still removes its scratch root (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    base = os.path.join(root, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix="run-", dir=base)
    try:
        result = run(args, root, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass  # another run still uses it
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
