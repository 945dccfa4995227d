"""SparkSession factory tuned for this engine.

Local mode is the test harness; the conf below is written so the same
code runs unchanged on a multi-executor cluster:

- AQE on (runtime coalesce + skew-join splitting) so shuffle partition
  counts self-tune at 100 TB instead of being hand-picked here.
- shuffle.partitions matches local cores for the small-SF harness; on a
  real cluster AQE coalesces from a higher initial number anyway.
- Arrow enabled: the CANServer decoder and multimodal stubs are
  mapInPandas, so Arrow batch transfer is the Python boundary.
- session timezone pinned to UTC: timestamps compare bit-stable against
  the DuckDB oracle and across clusters in different zones.
- Python workers fork from the package's `worker_daemon`, which keeps
  each zip importer's directory (pyspark.zip, the Spark jar, py4j)
  across tasks unless its archive changed on disk; pyspark's stock
  daemon re-reads all of them at the start of every task (~0.17 s of
  worker CPU per task). The workers must be able to import the
  package: run from the repo root or put it on PYTHONPATH.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import SparkSession


def _fast_scratch() -> str | None:
    """tmpfs scratch for shuffle spill + streaming WAL commits, when
    available. Micro-batch offset/commit logs fsync per batch; on a
    disk-backed /tmp those fsyncs stall for seconds whenever the page
    cache is dirty from shuffle writes (measured: 2s → 12s swings on
    the streamed queries mid-sweep). On a real cluster this is the
    node-local NVMe; in this harness it's /dev/shm."""
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        root = os.path.join(shm, "spark-graft-scratch")
        _reap_dead_ckpts(root)
        return root
    return None


def _reap_dead_ckpts(root: str) -> None:
    """Remove ckpt-<pid> dirs owned by processes that no longer exist —
    tmpfs is RAM, so leaked WALs from crashed runs are a memory leak."""
    try:
        for name in os.listdir(root):
            if not name.startswith("ckpt-"):
                continue
            pid = name.removeprefix("ckpt-")
            if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
                shutil.rmtree(os.path.join(root, name), ignore_errors=True)
    except OSError:
        pass


def machine_driver_mem() -> str:
    """Driver heap for a whole-sweep run on this machine: half its
    physical memory (a local-mode driver also hosts the executors),
    capped at the 48 GB the sweep was tuned with on larger hosts."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(48 * 1024, phys_mb // 2)}m"


def scratch_dir(prefix: str) -> str:
    """A fresh temp directory whose removal at process exit is
    registered before the caller writes anything into it, so a query
    that raises half-way leaves nothing behind either."""
    path = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def get_spark(app_name: str = "matt3r-dpl-spark", extra_conf: dict | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.python.daemon.module",
            "matt3r_data_ingestion_serverless_spark.worker_daemon",
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # static conf: bucketed tables (saveAsTable) land outside the
        # repo; per-test override is impossible once the JVM is up
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark-graft-warehouse"),
        )
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # default 100 generated-class entries thrash under a 90+-query
        # workload (each query compiles several whole-stage spans);
        # evictions re-bill janino compilation mid-workload
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # driver testdata stores events.ts as TIMESTAMP(NANOS); Spark has
        # no nanos timestamp — read as long and convert at the source
        # (sources/tables.py) with integer division, never double math
        # (epoch-nanos exceeds double's 53-bit mantissa).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    scratch = _fast_scratch()
    if scratch:
        # ckpt dir must be unique per process: the default checkpoint
        # location is reused by every query started without an explicit
        # one, and a stale WAL from a previous run is unrecoverable for
        # dedup/flatMapGroupsWithState queries.
        builder = builder.config("spark.local.dir", os.path.join(scratch, "local")).config(
            "spark.sql.streaming.checkpointLocation",
            os.path.join(scratch, f"ckpt-{os.getpid()}"),
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
