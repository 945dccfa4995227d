"""In-process A/B for cdc_streamed_apply (VERDICT r06 next-step 2).

The r06 verdict flagged a claim/measurement disagreement: COVERAGE said
the exact-slot bucketed write took the query "3.28 s → ~2.6 s quiet",
but the driver-measured number moved 3.28 → 3.52 s. Per the repo's
bench-noise discipline the only admissible evidence is an interleaved
A/B in ONE session: variant OLD is the r05 write path (dynamic
partitionBy writer + per-bucket dir listing — reconstructed verbatim
from git 7f964bd~1), variant NEW is the current exact-slot plain write.
Both run the full cdc_streamed_apply query; runs alternate OLD/NEW so
machine drift cancels.

Variant C adds the round-7 shaves on top: the touched-file pass fed by
the micro-batch's parquet FOOTER stats (zero Spark jobs) and a lazy
final read (no localCheckpoint materialization; scratch dir reclaimed
at process exit).

Usage: python tools/ab_cdc_r7.py [n_rounds]   (writes AB_CDC_r07.json)
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from matt3r_data_ingestion_serverless_spark.session import machine_driver_mem  # noqa: E402

os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", machine_driver_mem())

from pyspark.sql import DataFrame, Observation  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from matt3r_data_ingestion_serverless_spark import get_spark  # noqa: E402
from matt3r_data_ingestion_serverless_spark.operators import lakehouse as lh  # noqa: E402
from matt3r_data_ingestion_serverless_spark.plans import all_queries  # noqa: E402


def _write_bucketed_files_r05(
    self,
    df: DataFrame,
    version: int,
    key: str,
    boundaries: list,
    stats_cols: list[str],
) -> tuple[list[dict], str]:
    """The r05 write path, verbatim from git 7f964bd~1: dynamic
    partitionBy("_pbkt") writer + per-bucket directory listing."""
    import uuid

    n = len(boundaries) + 1
    bucket = F.lit(0)
    for b in boundaries:
        bucket = bucket + F.when(F.col(key) >= F.lit(b), 1).otherwise(0)
    portable = [
        f.name
        for f in df.schema.fields
        if f.name in stats_cols and isinstance(f.dataType, lh._PORTABLE_STAT_TYPES)
    ]
    aggs = []
    for i in range(n):
        inb = F.col("_pbkt") == i
        aggs.append(F.count(F.when(inb, F.lit(1))).alias(f"__n_{i}"))
        for c in portable:
            aggs.append(F.min(F.when(inb, F.col(c))).alias(f"__lo_{i}_{c}"))
            aggs.append(F.max(F.when(inb, F.col(c))).alias(f"__hi_{i}_{c}"))
    obs = Observation()
    out_df = df.withColumn("_pbkt", bucket).repartition(n, "_pbkt").observe(obs, *aggs)
    sub = os.path.join("data", f"commit-{version}-{uuid.uuid4().hex[:8]}")
    out = os.path.join(self.path, sub)
    out_df.write.mode("overwrite").partitionBy("_pbkt").parquet(out)
    m = obs.get
    files: list[dict] = []
    for i in range(n):
        rows = m[f"__n_{i}"]
        if not rows:
            continue
        d = os.path.join(out, f"_pbkt={i}")
        parts = sorted(p for p in os.listdir(d) if p.endswith(".parquet"))
        if len(parts) != 1:
            return self._harvest_stats(out, sub, df.schema, stats_cols), out
        stats: dict[str, list] = {}
        for c in portable:
            lo = lh._json_portable(m[f"__lo_{i}_{c}"])
            hi = lh._json_portable(m[f"__hi_{i}_{c}"])
            if lo is not None and hi is not None:
                stats[c] = [lo, hi]
        files.append(
            {
                "path": os.path.join(sub, f"_pbkt={i}", parts[0]),
                "rows": rows,
                "stats": stats,
            }
        )
    return files, out


def main() -> None:
    n_rounds = int(sys.argv[1]) if len(sys.argv) > 1 else 6
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("ab-cdc-r7")
    fn, _ = all_queries()["cdc_streamed_apply"]
    new_write = lh.LakehouseTable._write_bucketed_files
    orig_touched = lh.LakehouseTable._touched_files

    def scan_touched(self, man, source_df, keys, source_intervals=None):
        # r05/r06 behavior: ignore the footer hint, pay the scan job
        return orig_touched(self, man, source_df, keys, None)

    VARIANTS = {
        "r05_partitionBy_scan": (_write_bucketed_files_r05, scan_touched),
        "r06_exact_slot_scan": (new_write, scan_touched),
        "r07_exact_slot_footer_hint": (new_write, orig_touched),
    }

    def run() -> float:
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        el = time.perf_counter() - t0
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        return el

    def set_variant(v):
        w, t = VARIANTS[v]
        lh.LakehouseTable._write_bucketed_files = w
        lh.LakehouseTable._touched_files = t

    for v in VARIANTS:  # warm each variant once (codegen/worker spin-up)
        set_variant(v)
        run()

    samples = {v: [] for v in VARIANTS}
    for i in range(n_rounds):
        for v in VARIANTS:  # interleaved so machine drift cancels
            set_variant(v)
            samples[v].append(run())
        print(
            f"round {i}: "
            + " ".join(f"{v}={samples[v][-1]:.3f}s" for v in VARIANTS),
            flush=True,
        )

    set_variant("r07_exact_slot_footer_hint")
    out = {
        "query": "cdc_streamed_apply",
        "sf_dir": sf_dir,
        "n_rounds": n_rounds,
        "note": (
            "interleaved in ONE session; r05/r06 write paths are "
            "monkeypatched reconstructions (git 7f964bd~1); all three "
            "variants share the r07 lazy final read, so r05/r06 figures "
            "are ~0.15-0.2 s FASTER than their original plans"
        ),
        "variants": {
            v: {
                "runs": [round(x, 4) for x in xs],
                "min": round(min(xs), 4),
                "median": round(statistics.median(xs), 4),
            }
            for v, xs in samples.items()
        },
    }
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "AB_CDC_r07.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
