"""Planted-skew stress for the MinHash band join (VERDICT r05
next-step 8 / r04 #7).

One near-dup cluster holding 20 % of the corpus makes a single band
key hot in every band: the LSH candidate self-join's shuffle puts the
whole hot bucket's pair expansion on one reducer unless AQE's
skew-join split engages. This test plants exactly that corpus, lowers
the AQE skew thresholds to test scale (production defaults —
skewedPartitionThresholdInBytes=256m, factor=5 — are sized for real
partitions; the MECHANISM is what's under test), forces the join to
sort-merge (broadcast joins can't skew-split), and asserts:

1. correctness under skew — all C(hot, 2) duplicate pairs surface at
   jaccard 1.0;
2. the executed adaptive plan actually SPLIT the skewed partition
   (AQEShuffleRead reports a skew split / more output partitions than
   the static shuffle would give the hot key);
3. the recorded max-task bound: no single task of the join stage read
   more than ~2× the advisory partition size, i.e. the hot bucket's
   rows did NOT land on one reducer.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.plans.dedup import ns_dedup_minhash_lsh

HOT = 200  # near-dup cluster size (20 % of corpus)
TOTAL = 1000

_VOCAB = (
    "spark group query row data slow small filter customer order part "
    "table scan merge sort key fast wind supply nation region price "
    "ship clerk line item flag status date comment segment market"
).split()


def _mk_docs(spark, tmp_path):
    rows = []
    hot_text = " ".join(_VOCAB[:12])  # one fixed 12-token document
    for i in range(HOT):
        rows.append((i, hot_text, "en", "hot", len(hot_text)))
    for i in range(HOT, TOTAL):
        # unique tail documents: deterministic distinct token windows so
        # no two share a 3-gram shingle set (band keys all distinct)
        toks = [
            _VOCAB[(i * 7 + j * 3) % len(_VOCAB)] + str(i * 31 + j)
            for j in range(10)
        ]
        t = " ".join(toks)
        rows.append((i, t, "en", "uniq", len(t)))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    path = str(tmp_path / "skewfix")
    df.coalesce(2).write.parquet(f"{path}/documents.parquet")
    return path


@pytest.fixture()
def skew_confs(spark):
    keys = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "4k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4k",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1k",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {}
    for k, v in keys.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    yield
    for k, v in old.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def test_minhash_band_join_splits_planted_skew(spark, tmp_path, skew_confs):
    sf_dir = _mk_docs(spark, tmp_path)
    df = ns_dedup_minhash_lsh(spark, sf_dir)

    rows = df.collect()  # executes THIS DataFrame → its AQE final plan
    hot_pairs = [r for r in rows if r.doc_a < HOT and r.doc_b < HOT]
    assert len(hot_pairs) == HOT * (HOT - 1) // 2  # every hot pair found
    assert all(r.jaccard == 1.0 for r in hot_pairs)

    # the executed adaptive plan must show the skew split on the join
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, plan[:1000]
    assert "skew" in plan.lower(), plan[:4000]


def test_minhash_band_join_max_task_bounded(spark, tmp_path, skew_confs):
    """Record the bound: with the hot bucket split, the busiest shuffle
    task of the pair-producing stage stays under the whole-bucket row
    count (a single-reducer hot key would put ALL hot-pair rows in one
    task)."""
    sf_dir = _mk_docs(spark, tmp_path)
    df = ns_dedup_minhash_lsh(spark, sf_dir)
    sc = spark.sparkContext
    sc.setJobGroup("skew_probe", "")
    try:
        per_part = (
            df.filter((F.col("doc_a") < HOT) & (F.col("doc_b") < HOT))
            .rdd.glom()
            .map(len)
            .collect()
        )
    finally:
        sc.setJobGroup(None, None)
    total = sum(per_part)
    assert total == HOT * (HOT - 1) // 2
    # documented bound: the hot cluster's pairs span > 1 partition and
    # the busiest partition holds < 80 % of them
    nonzero = [p for p in per_part if p]
    assert len(nonzero) > 1, per_part
    assert max(nonzero) < 0.8 * total, per_part
