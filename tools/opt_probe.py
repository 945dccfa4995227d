"""Optimization probe (r09, extended r10): per-query cost decomposition
+ plan capture + Spark JOB census.

For each selected query, in ONE session (same confs as bench.py's
get_spark) measure:

- t_build   : wall time of fn(spark, sf_dir) — pure Python/py4j plan
              construction (this is INSIDE bench.py's timed window, so
              driver-side construction cost is real bench seconds);
- t_exec    : min over N noop-sink runs (the bench's timed action);
- jobs      : Spark jobs triggered by one full construct+noop run
              (statusTracker delta — the serialized-job-count currency
              for the iterative/checkpoint families, VERDICT r09 #2);
- plan      : .explain("formatted") text, optionally dumped to
              plans/r09/<name>_{before,after}.txt;
- exchanges / pythonevals / scans: plan-shape counters grepped from the
  formatted plan (the judge's plan-diff currency).

Usage:
  python tools/opt_probe.py [--sf DIR] [--tag before|after] [--dump]
                            [--runs N] [--plandir plans/r10]
                            [--jobs-out FILE.json] QUERY_REGEX
Writes a JSON summary line per query to stdout; plans land in
--plandir (default plans/r10) when --dump is given; --jobs-out writes
the job census map {query: {jobs, t_build, t_total_min, ...}}.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def fmt_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def plan_shape(plan: str) -> dict:
    return {
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "sorts": len(re.findall(r"\bSort \(", plan)),
        "smj": len(re.findall(r"SortMergeJoin", plan)),
        "bhj": len(re.findall(r"BroadcastHashJoin", plan)),
        "bnlj": len(re.findall(r"BroadcastNestedLoopJoin", plan)),
        "py": len(re.findall(r"BatchEvalPython|ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas|MapInArrow", plan)),
        "scans": len(re.findall(r"Scan parquet|Scan ExistingRDD|BatchScan", plan)),
        "aggs": len(re.findall(r"HashAggregate|SortAggregate|ObjectHashAggregate", plan)),
        "window": len(re.findall(r"\bWindow\b", plan)),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("regex")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--tag", default=None, help="dump plans as <name>_<tag>.txt")
    ap.add_argument("--dump", action="store_true")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--no-exec", action="store_true", help="plan shape + build time only")
    ap.add_argument(
        "--conf", action="append", default=[], help="extra spark conf k=v (A/B testing)"
    )
    ap.add_argument("--plandir", default=None, help="plan dump dir (default plans/r10)")
    ap.add_argument("--jobs-out", default=None, help="write job-census JSON to this path")
    args = ap.parse_args()

    from matt3r_data_ingestion_serverless_spark import get_spark
    from matt3r_data_ingestion_serverless_spark.plans import all_queries
    from matt3r_data_ingestion_serverless_spark.session import machine_driver_mem

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", machine_driver_mem())
    extra = dict(kv.split("=", 1) for kv in args.conf)
    spark = get_spark("opt-probe", extra_conf=extra or None)
    registry = all_queries()
    names = [n for n in sorted(registry) if re.search(args.regex, n)]
    if not names:
        print(f"no queries match {args.regex!r}", file=sys.stderr)
        sys.exit(1)

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    plandir = args.plandir or os.path.join(repo, "plans", "r10")
    os.makedirs(plandir, exist_ok=True)

    # warm the session (codegen + file listing) on the first query once
    warm_dir = "/root/testdata/sf0.001"
    tracker = spark.sparkContext.statusTracker()

    out_rows = []
    for name in names:
        fn, _ = registry[name]
        if not args.no_exec:
            try:
                fn(spark, warm_dir).write.format("noop").mode("overwrite").save()
            except Exception:
                pass
            spark.catalog.clearCache()

        t0 = time.perf_counter()
        df = fn(spark, args.sf)
        t_build = time.perf_counter() - t0

        plan = fmt_plan(df)
        shape = plan_shape(plan)
        if args.dump and args.tag:
            with open(os.path.join(plandir, f"{name}_{args.tag}.txt"), "w") as f:
                f.write(plan)

        rec = {"query": name, "t_build": round(t_build, 4), **shape}
        if not args.no_exec:
            execs = []
            for i in range(args.runs):
                spark.catalog.clearCache()
                # count the jobs of run 0 under a unique job group so
                # warm-up / GC / other runs can't pollute the census
                group = f"probe-{name}-{i}"
                spark.sparkContext.setJobGroup(group, name)
                t0 = time.perf_counter()
                df2 = fn(spark, args.sf)
                df2.write.format("noop").mode("overwrite").save()
                execs.append(time.perf_counter() - t0)
                if i == 0:
                    # streaming micro-batch jobs run on their own thread
                    # (job group is thread-local) — the census covers the
                    # driver-thread batch jobs, which is the loop currency
                    rec["jobs"] = len(tracker.getJobIdsForGroup(group) or [])
                spark.catalog.clearCache()
                spark.sparkContext._jvm.System.gc()
            rec["t_total_min"] = round(min(execs), 4)
            rec["t_samples"] = [round(x, 3) for x in execs]
        out_rows.append(rec)
        print(json.dumps(rec), flush=True)

    if not args.no_exec:
        tot = sum(r["t_total_min"] for r in out_rows)
        print(f"# total(min) over {len(out_rows)} queries: {tot:.2f}s", flush=True)
    if args.jobs_out:
        with open(args.jobs_out, "w") as f:
            json.dump({r["query"]: r for r in out_rows}, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
