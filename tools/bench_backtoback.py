"""Back-to-back full-suite sweeps in ONE process (VERDICT r06
next-step 4): the r06 suite total moved +6.1 % while the per-query diff
showed a +0.03 s median smear over untouched queries — machine state or
resource accumulation, not plan regressions. This tool settles it: two
consecutive sweeps of every registered query in one session, one timed
run each (no adaptive resampling — the point is the BETWEEN-sweep
delta, not absolute numbers), plus a persistent-RDD census per sweep.

Accumulation hypothesis (localCheckpoint RDDs pinned until driver GC)
was probed separately: after 40 localCheckpoint-heavy queries in one
session, getPersistentRDDs() returns to 0 between queries (bench.py's
clearCache + System.gc between runs already releases them — Python
refcounts drop the DataFrame, py4j frees the JVM ref, ContextCleaner
unpersists on the nudged GC), and q3_shipping_priority times 0.65 s
best-of-3 AFTER the heavy block (driver r06 recorded 1.67 s on the same
plan → machine state, not leakage).

Usage: python tools/bench_backtoback.py   (writes BENCH_AB_r07.json)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from matt3r_data_ingestion_serverless_spark.session import machine_driver_mem  # noqa: E402

os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", machine_driver_mem())


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from matt3r_data_ingestion_serverless_spark import get_spark
    from matt3r_data_ingestion_serverless_spark.plans import all_queries

    spark = get_spark("bench-backtoback")
    sc = spark.sparkContext
    registry = all_queries()
    names = sorted(registry)

    def n_persistent() -> int:
        return sc._jsc.sc().getPersistentRDDs().size()

    def run(name: str) -> float:
        fn, _ = registry[name]
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        el = time.perf_counter() - t0
        spark.catalog.clearCache()
        sc._jvm.System.gc()
        return el

    # warm once (codegen, Arrow workers) at the smoke SF so sweep 1 and
    # sweep 2 start from the same JIT state
    warm = "/root/testdata/sf0.001"
    for name in names:
        try:
            registry[name][0](spark, warm).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception:
            pass
    spark.catalog.clearCache()
    sc._jvm.System.gc()

    sweeps = []
    for s_i in (1, 2):
        t: dict[str, float] = {}
        for name in names:
            try:
                t[name] = round(run(name), 4)
            except Exception as ex:
                t[name] = -1.0
                print(f"ERR {name}: {type(ex).__name__}", flush=True)
        sweeps.append(t)
        print(
            f"sweep {s_i}: total={sum(v for v in t.values() if v > 0):.1f}s "
            f"persistentRDDs={n_persistent()}",
            flush=True,
        )

    a, b = sweeps
    tot_a = sum(v for v in a.values() if v > 0)
    tot_b = sum(v for v in b.values() if v > 0)
    movers = sorted(
        ((n, a[n], b[n]) for n in names if a[n] > 0 and b[n] > 0),
        key=lambda x: abs(x[2] - x[1]),
        reverse=True,
    )[:15]
    out = {
        "sf_dir": sf_dir,
        "sweep1_total": round(tot_a, 2),
        "sweep2_total": round(tot_b, 2),
        "delta_pct": round((tot_b - tot_a) / tot_a * 100, 2),
        "top_movers": [
            {"query": n, "sweep1": x, "sweep2": y} for n, x, y in movers
        ],
        "sweep1": a,
        "sweep2": b,
    }
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCH_AB_r07.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(
        json.dumps(
            {k: out[k] for k in ("sweep1_total", "sweep2_total", "delta_pct")}
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
