"""Grade a few extra queries at sf1 and merge them into an existing
CORRECTNESS_sf1.json (used when new queries land after a long sweep —
re-running the full ~230-query sweep for 4 names wastes hours).

Usage: python tools/sf1_merge_extra.py name1 name2 ...
"""

from __future__ import annotations

import json
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF1 = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".sf1data")
OUT = os.path.join(os.path.dirname(SF1), "CORRECTNESS_sf1.json")


def resume_filter(names, recorded):
    """Names still needing a grade: everything except recorded-OK.

    A recorded ERR/MISMATCH is re-graded (never resume-skipped) so a
    later code fix can heal the artifact.
    """
    return [n for n in names if recorded.get(n, {}).get("status") != "OK"]


def error_line(exc: BaseException, tb_text: str) -> str:
    """Last non-empty traceback line, falling back to repr(exc)."""
    lines = [l for l in tb_text.splitlines() if l.strip()]
    return lines[-1] if lines else repr(exc)


def main() -> None:
    args = sys.argv[1:]
    force = "--force" in args  # re-grade even recorded-OK names
    names = [a for a in args if a != "--force"]
    from matt3r_data_ingestion_serverless_spark import get_spark
    from matt3r_data_ingestion_serverless_spark.session import machine_driver_mem

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", machine_driver_mem())
    # the session tools/sf1_sweep.py grades with
    spark = get_spark("sf1-merge-extra", extra_conf={"spark.sql.shuffle.partitions": "32"})
    spark.sparkContext.setLogLevel("ERROR")

    import importlib

    entry = importlib.import_module("__spark_entry__")
    queries = entry.queries()
    oracles = entry.oracle_sql()

    from tests.oracle_harness import compare, duckdb_con

    con = duckdb_con(SF1)
    doc = json.load(open(OUT))
    if os.path.exists(OUT + ".inc"):  # recover a crashed/killed run
        doc["queries"].update(json.load(open(OUT + ".inc")))
    # Resume-skip ONLY names whose recorded grade is OK: a previously
    # recorded ERR/MISMATCH must be re-graded, otherwise a code fix can
    # never heal the artifact (r08: lorenz_curve_deciles stayed "ERR: "
    # forever after the overflow fix landed).
    if not force:
        names = resume_filter(names, doc["queries"])
    for qi, name in enumerate(names):
        if qi and qi % 20 == 0:
            # a long-lived DuckDB connection accumulates buffers across
            # hundreds of oracle runs and eventually OOMs the whole
            # process (r08: 163 queries poisoned past one OOM) —
            # recycle it periodically
            con.close()
            con = duckdb_con(SF1)
        try:
            df = queries[name](spark, SF1)
            sql = oracles.get(name)
            problems = compare(df, con, sql)
            rows = (
                con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
                if not problems
                else None
            )
            doc["queries"][name] = {
                "status": "OK" if not problems else "MISMATCH: " + " | ".join(problems),
                "spark_rows": rows,
            }
        except Exception as exc:
            msg = error_line(exc, traceback.format_exc())
            doc["queries"][name] = {"status": "ERR: " + msg, "spark_rows": None}
        print(name, doc["queries"][name], flush=True)
        with open(OUT + ".inc", "w") as f:  # incremental checkpoint
            json.dump(doc["queries"], f)
        spark.catalog.clearCache()
    res = doc["queries"]
    doc["summary"] = {
        "queries": len(res),
        "ok": sum(v["status"] == "OK" for v in res.values()),
        "vacuous_zero_rows": sorted(k for k, v in res.items() if v["spark_rows"] == 0),
        "not_ok": sorted(k for k, v in res.items() if v["status"] != "OK"),
    }
    with open(OUT, "w") as f:
        json.dump(doc, f, indent=1)
    if os.path.exists(OUT + ".inc"):
        # a completed run's grades are all in OUT; a lingering .inc
        # would resurrect THIS run's mid-sweep grades into a future run
        os.remove(OUT + ".inc")
    print(json.dumps(doc["summary"]))
    spark.stop()


if __name__ == "__main__":
    main()
