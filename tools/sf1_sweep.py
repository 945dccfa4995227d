"""sf1 scale-sensitivity sweep, round-7 extension (VERDICT r06
next-step 5): beyond the 36 threshold-calibrated queries, grade the
families most likely to carry scale-dependent behavior at 10x rows —
every streamed gate entry, the whole lakehouse family (j6-j17),
the reference-parity telemetry heads, and the top-40 most expensive
bench queries.

Runs on a `get_spark` session (the machine's cores and driver heap, 32
shuffle partitions), compares each query against its DuckDB oracle on
the SAME .sf1data parquet, records the Spark row count as the
non-vacuousness proof, and writes CORRECTNESS_sf1.json.

Usage: python tools/gen_sf1.py && python tools/sf1_sweep.py
"""

from __future__ import annotations

import json
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF1 = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".sf1data")

# the r05/r06 sweep: the ~30 data-calibrated-threshold queries + their
# companions (kept verbatim so the artifact stays comparable)
THRESHOLD_QUERIES = [
    "approx_distinct_parts", "approx_quantiles_by_flag",
    "cluster_size_histogram", "embedding_silhouette_by_label",
    "equidepth_histogram", "er_fuzzy_blocked_pairs", "histogram_equi_depth",
    "kmeans_embeddings", "ns_contamination_overlap", "ns_dbscan_clusters",
    "ns_dedup_cost_savings", "ns_dedup_exact", "ns_dedup_incremental",
    "ns_dedup_keep_one", "ns_dedup_method_agreement", "ns_dedup_minhash_lsh",
    "ns_dedup_normalized", "ns_dedup_simhash", "ns_dup_cluster_medoids",
    "ns_dup_clusters", "ns_embedding_neardup", "ns_embedding_neardup_lsh",
    "ns_first_story_detection", "ns_lsh_bucket_stats", "ns_lsh_eval_prf",
    "ns_minhash_jaccard_est", "ns_ngram_jaccard_topk", "ns_ngram_novelty",
    "ns_pair_jaccard_histogram", "ns_rouge2_neardup_pairs",
    "ns_semdedup_clusters", "ns_setsim_prefix_join", "sketch_hll_rollup",
    "value_histogram", "w2_stationary_intervals", "width_bucket_histogram",
]

STREAMED = [
    "w2_streamed_stationary", "w1_streamed_transitions", "w5_streamed_hourly",
    "j1_streamed_dedupe", "ns_streamed_doc_quality", "ts_streamed_bollinger",
    "cdc_streamed_apply", "streamed_dim_enrichment", "j11_streamed_lakehouse_merge",
    "streamed_interval_join", "streamed_bottomk_sample", "streamed_ohlc_bars",
    "streamed_session_windows", "streamed_drift_wasserstein",
    "streamed_scd2_pit_enrichment",
]

LAKEHOUSE = [
    "j6_lakehouse_merge", "j7_lakehouse_time_travel", "j8_lakehouse_file_skipping",
    "j9_lakehouse_schema_evolution", "j10_lakehouse_compaction",
    "j12_lakehouse_concurrent_merge", "j13_lakehouse_vacuum",
    "j14_lakehouse_matched_only_merge", "j15_lakehouse_snapshot_diff",
    "j16_lakehouse_merge_on_read_delete", "j17_lakehouse_write_audit_publish",
    "j18_lakehouse_zorder_skipping", "j19_metadata_only_agg",
    "j20_telemetry_zorder_scan", "j21_metadata_count_residual",
]

# the reference-parity telemetry heads: the queries a user of the
# reference actually runs, graded at 10x as well
TELEMETRY = [
    "w1_ap_transitions", "w2_stationary_intervals", "w5_hourly_buckets",
    "w6_daily_event_counts", "a1_timestamp_pivot", "a3_distinct_sorted_keys",
    "a5_series_extent", "a6_channel_collect", "j1_union_dedupe_merge",
    "p2_membership_filter", "d10_date_parts", "d11_json_extract",
    "d15_decode_math", "s6_envelope_decode",
]


def main() -> None:
    from matt3r_data_ingestion_serverless_spark import get_spark
    from matt3r_data_ingestion_serverless_spark.session import machine_driver_mem

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", machine_driver_mem())
    # 32 shuffle partitions, as the earlier sf1 sweeps ran: a 200-task
    # default made the iterative queries (DBSCAN / component labeling)
    # hundreds of 200-task rounds; AQE coalesces from 32 (SCALE.md §15)
    spark = get_spark("sf1-sweep", extra_conf={"spark.sql.shuffle.partitions": "32"})
    spark.sparkContext.setLogLevel("ERROR")

    import importlib

    entry = importlib.import_module("__spark_entry__")
    queries = entry.queries()
    oracles = entry.oracle_sql()

    bench = json.load(
        open(os.path.join(os.path.dirname(SF1), "BENCH_FULL.json"))
    )["queries"]
    top_exp = sorted(bench, key=bench.get, reverse=True)[:40]

    # r08 extension (VERDICT r07 next-step 3): the overflow-prone
    # shapes — window rank/sum moments, decimal/money arithmetic, array
    # accumulation, sketches — plus the graph/ML iterative family,
    # selected by name pattern over the whole registry. The Spearman
    # overflow proved 10x rows find bugs sf0.1 cannot; these are the
    # shapes where accumulator width or convergence depends on n.
    import re

    _OVERFLOW_PRONE = re.compile(
        r"(corr|rank|quantile|percent|ntile|median|hist|cum|running|rolling"
        r"|moment|skew|kurt|zscore|std|var_|cov|sum|wavg|weighted|decimal"
        r"|ledger|balance|basket|graph_|ml_|kmeans|dbscan|pagerank|bfs"
        r"|component|silhouette|regress|calibrat|auc|gini|entropy|window"
        r"|sessioniz|retention|funnel|cohort|topk|top_k|nth|lag|lead|asof"
        r"|interval|sketch|hll|cms|tdigest|approx)"
    )
    families_r8 = [n for n in sorted(queries) if _OVERFLOW_PRONE.search(n)]

    names = []
    for n in THRESHOLD_QUERIES + STREAMED + LAKEHOUSE + TELEMETRY + top_exp + families_r8:
        if n in queries and n not in names:
            names.append(n)

    from tests.oracle_harness import compare, duckdb_con

    con = duckdb_con(SF1)
    out = os.path.join(os.path.dirname(SF1), "CORRECTNESS_sf1.json")
    part = out + ".partial"
    results: dict[str, dict] = {}
    if os.path.exists(part):  # resume an interrupted sweep
        results = json.load(open(part))
        print(f"resuming: {len(results)} done", flush=True)
    for name in sorted(names):
        if name in results:
            continue
        try:
            df = queries[name](spark, SF1)
            sql = oracles.get(name)
            if sql is None:
                rows = df.count()
                results[name] = {"status": f"rows_only:{rows}", "spark_rows": rows}
            else:
                problems = compare(df, con, sql)
                # on parity spark rows == oracle rows; count the CHEAP
                # side (DuckDB) instead of executing the Spark plan twice
                rows = (
                    con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
                    if not problems
                    else None
                )
                results[name] = {
                    "status": "OK" if not problems else "MISMATCH: " + " | ".join(problems),
                    "spark_rows": rows,
                }
        except Exception:
            results[name] = {
                "status": "ERR: " + traceback.format_exc().splitlines()[-1],
                "spark_rows": None,
            }
        print(name, results[name]["status"], results[name]["spark_rows"], flush=True)
        with open(part, "w") as f:
            json.dump(results, f)
        spark.catalog.clearCache()

    doc = {
        "sf_dir": ".sf1data (tools/gen_sf1.py, seed 4242)",
        "families": {
            "threshold_calibrated": len([n for n in THRESHOLD_QUERIES if n in results]),
            "streamed": len([n for n in STREAMED if n in results]),
            "lakehouse": len([n for n in LAKEHOUSE if n in results]),
            "telemetry": len([n for n in TELEMETRY if n in results]),
            "bench_top40": len([n for n in top_exp if n in results]),
            "overflow_prone_r8": len([n for n in families_r8 if n in results]),
        },
        "queries": results,
        "summary": {
            "queries": len(results),
            "ok": sum(v["status"] == "OK" for v in results.values()),
            "vacuous_zero_rows": sorted(
                k for k, v in results.items() if v["spark_rows"] == 0
            ),
            "not_ok": sorted(
                k for k, v in results.items() if v["status"] != "OK"
            ),
        },
    }
    with open(out, "w") as f:
        json.dump(doc, f, indent=1)
    if os.path.exists(part):
        os.remove(part)
    print(json.dumps(doc["summary"]))
    spark.stop()


if __name__ == "__main__":
    main()
