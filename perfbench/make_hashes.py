"""Recompute ``oracle_hashes.json``: the order-insensitive result hash of
each driver_loops query's DuckDB oracle over the generated sf0.1 tables.

    python3 perfbench/make_hashes.py          # from the repository root

Run once when the query list or the table generator changes; the
benchmark compares Spark's results with these committed hashes and does
not run DuckDB itself. Each oracle hash is also checked against a Spark
run before it is written.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

import duckdb

sys.path.insert(0, os.getcwd())

from perfbench import tables  # noqa: E402
from perfbench.run import machine_env, session_conf  # noqa: E402
from perfbench.workloads import LOOP_QUERIES, result_hash  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    root = os.getcwd()
    base = os.path.join(root, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix="hashes-", dir=base)
    try:
        hashes = oracle_hashes(root, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    if hashes is None:
        return 1
    with open(os.path.join(HERE, "oracle_hashes.json"), "w", encoding="utf-8") as f:
        json.dump({"tables": "perfbench.tables.write_tables(scale=1.0)", "queries": hashes},
                  f, indent=2, sort_keys=True)
        f.write("\n")
    return 0


def oracle_hashes(root: str, scratch: str) -> dict | None:
    """Oracle hash per query, or None when Spark disagrees with one."""
    tmp, sf = os.path.join(scratch, "tmp"), os.path.join(scratch, "sf")
    os.makedirs(tmp)
    machine_env(root, tmp, os.path.join(scratch, "warehouse"))
    from matt3r_data_ingestion_serverless_spark import get_spark
    from matt3r_data_ingestion_serverless_spark.plans import all_queries

    registry = all_queries()
    tables.write_tables(sf, 1.0)
    con = duckdb.connect()
    for t in ("documents", "embeddings", "events", "orders"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    out, bad = {}, []
    spark = get_spark("perfbench-hashes", session_conf(scratch, tmp, traced=False))
    try:
        for q in LOOP_QUERIES:
            fn, sql = registry[q]
            res = con.execute(sql)
            out[q] = result_hash([d[0] for d in res.description], res.fetchall())
            df = fn(spark, sf)
            if result_hash(df.columns, df.collect()) != out[q]:
                bad.append(q)
            print(q, out[q], flush=True)
    finally:
        spark.stop()
    if bad:
        print("Spark disagrees with the oracle on:", ", ".join(bad), file=sys.stderr)
        return None
    return out


if __name__ == "__main__":
    sys.exit(main())
