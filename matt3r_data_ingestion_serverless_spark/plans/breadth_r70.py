"""Round-3 batch 2: lakehouse lifecycle (schema evolution, compaction,
streamed merge) + LLM-curation additions (exact window dedup spans,
char-trigram LM frequency scoring, leakage-safe splits).

Reference parity: the lakehouse rows extend the reference's
skip-on-overlap S3 merge (parse_canserver_filtered_log.py:327-344) with
the lifecycle operations a real table needs; the curation rows extend
the training-data surface the reference feeds (SURVEY.md §7.2 M5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.functions.rounding import round6, round6_sql
from matt3r_data_ingestion_serverless_spark.plans.breadth_r69 import (
    _MERGED_SQL,
    _batch_df,
    _build_table,
    _final_select,
)
from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.session import scratch_dir
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table, spread

# ---------------------------------------------------------------------------
# lakehouse lifecycle
# ---------------------------------------------------------------------------


@register(
    "j9_lakehouse_schema_evolution",
    sql="""
WITH cut AS (
  SELECT CAST(floor(max(o_orderkey) / 10) AS BIGINT) AS c FROM orders
), t AS (
  SELECT o_orderkey AS k, o_custkey, o_orderstatus
  FROM orders WHERE o_orderkey % 4 <> 3
), s AS (
  SELECT o_orderkey AS k, o_custkey,
         'U' AS o_orderstatus,
         't' || CAST(o_orderkey AS VARCHAR) AS tag
  FROM orders, cut WHERE o_orderkey <= cut.c
)
SELECT coalesce(t.k, s.k) AS k,
       coalesce(t.o_custkey, s.o_custkey) AS o_custkey,
       CASE WHEN s.k IS NULL THEN t.o_orderstatus ELSE s.o_orderstatus END AS o_orderstatus,
       s.tag AS tag
FROM t FULL JOIN s ON t.k = s.k
""",
)
def j9_lakehouse_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution without rewriting history: the merge batch
    carries a column the table has never seen (``tag``); with
    ``evolve_schema=True`` the column joins the snapshot schema, rows in
    data files the merge did NOT touch project it as null via the
    manifest schema on read (operators/lakehouse.py:read) — no old file
    is rewritten, no mergeSchema footer sweep. The oracle is the plain
    full-outer join where target-only rows carry tag NULL."""
    from matt3r_data_ingestion_serverless_spark.plans.breadth_r69 import _key_minmax

    tbl, _root, cut = _build_table(spark, sf_dir)
    batch = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= cut)
        .select(
            F.col("o_orderkey").alias("k"),
            "o_custkey",
            F.lit("U").alias("o_orderstatus"),
            F.concat(F.lit("t"), F.col("o_orderkey").cast("string")).alias("tag"),
        )
    )
    tbl.merge(
        batch,
        keys=["k"],
        update_cols=["o_orderstatus", "tag"],
        evolve_schema=True,
        # batch keys are BY CONSTRUCTION in [min_key, cut] — a complete
        # cover known without a Spark job (see _standard_merge)
        source_intervals=[(_key_minmax(sf_dir)[0], cut)],
    )
    return tbl.read().select("k", "o_custkey", "o_orderstatus", "tag")


@register("j10_lakehouse_compaction", sql=_MERGED_SQL)
def j10_lakehouse_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE after MERGE: compaction bin-packs the post-merge
    snapshot (untouched-by-reference files + fresh merge output) into 4
    files and commits a new snapshot — the graded rows prove compaction
    is content-neutral (same oracle as j6), while `history()` records
    create → merge → compact. At 100 TB this is the periodic pass that
    keeps streaming-ingest file counts bounded so manifest pruning and
    scan planning stay cheap."""
    from matt3r_data_ingestion_serverless_spark.plans.breadth_r69 import (
        _standard_merge,
    )

    tbl, _root, cut = _build_table(spark, sf_dir)
    _standard_merge(tbl, spark, sf_dir, cut)
    tbl.compact(target_files=4)
    assert [m["operation"] for m in tbl.history()] == ["create", "merge", "compact"]
    return _final_select(tbl.read())


@register("j11_streamed_lakehouse_merge", sql=_MERGED_SQL)
def j11_streamed_lakehouse_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lakehouse as a STREAMING sink: the merge batch lands as two
    key-disjoint files, a foreachBatch stream applies each micro-batch
    through LakehouseTable.merge (touched-file pruning per batch), and
    the final snapshot must equal the one-shot MERGE oracle — the
    at-least-once + idempotent-upsert contract (T3) carried onto the
    table format. Key-disjoint batches commute, so arrival order cannot
    perturb the graded rows."""
    from matt3r_data_ingestion_serverless_spark.streaming.pipeline import run_once

    tbl, _root, cut = _build_table(spark, sf_dir)
    stage = scratch_dir("lh_stream_")
    batch = _batch_df(spark, sf_dir, cut)
    land = f"{stage}/land"
    for m in range(2):
        batch.filter(F.col("k") % 2 == m).coalesce(1).write.mode(
            "append"
        ).parquet(land)

    def apply_batch(bdf: DataFrame, _bid: int) -> None:
        tbl.merge(
            bdf,
            keys=["k"],
            update_cols=["o_totalprice", "o_orderstatus"],
            delete_condition=F.col("o_custkey") % 7 == 0,
        )

    src = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(land)
    )
    run_once(src, apply_batch)
    return _final_select(tbl.read())


# ---------------------------------------------------------------------------
# LLM curation additions
# ---------------------------------------------------------------------------

_WIN, _STRIDE = 32, 16


@register(
    "ns_window_dedup_spans",
    sql=f"""
WITH w AS (
  SELECT doc_id, md5(substr(text, i + 1, {_WIN})) AS wh
  FROM (
    SELECT doc_id, text,
           unnest(range(0, length(text) - {_WIN} + 1, {_STRIDE})) AS i
    FROM documents WHERE length(text) >= {_WIN}
  )
), g AS (
  SELECT wh, count(*) AS c FROM w GROUP BY wh
)
SELECT w.doc_id,
       count(*) AS n_windows,
       sum(CASE WHEN g.c > 1 THEN 1 ELSE 0 END) AS n_dup_windows,
       {round6_sql('sum(CASE WHEN g.c > 1 THEN 1 ELSE 0 END)::DOUBLE / count(*)')} AS dup_ratio
FROM w JOIN g USING (wh)
GROUP BY w.doc_id
""",
)
def ns_window_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-window dedup (the Lee-et-al. 'Deduplicating
    Training Data' exact-substring pass, at character granularity):
    slide a 32-char window at stride 16 over each document, find
    windows whose content occurs more than once ANYWHERE in the corpus,
    and report each doc's duplicated-window fraction — the signal used
    to cut boilerplate/licence blocks that MinHash (whole-doc) misses.

    Scale: windows explode map-side; only the md5 of each window
    shuffles (16 bytes, never the text) — once to count global window
    occurrences, once to re-aggregate per doc. Both are plain hash
    aggregations with map-side partials; the md5 keyspace is uniform so
    no skew."""
    docs = spread(load_table(spark, sf_dir, "documents")).filter(
        F.length("text") >= _WIN
    )
    w = docs.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), F.length("text") - _WIN, F.lit(_STRIDE))
        ).alias("i"),
        "text",
    ).select(
        "doc_id", F.md5(F.expr(f"substring(text, i + 1, {_WIN})")).alias("wh")
    )
    g = w.groupBy("wh").agg(F.count("*").alias("c"))
    dup = F.sum(F.when(F.col("c") > 1, 1).otherwise(0))
    return (
        w.join(g, "wh")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_windows"),
            dup.alias("n_dup_windows"),
            round6(dup.cast("double") / F.count("*")).alias("dup_ratio"),
        )
    )


@register(
    "ns_char_trigram_lm_score",
    sql=f"""
WITH tri AS (
  SELECT doc_id, substr(text, i + 1, 3) AS t
  FROM (
    SELECT doc_id, text, unnest(range(0, length(text) - 2)) AS i
    FROM documents WHERE length(text) >= 3
  )
), model AS (
  SELECT t, count(*) AS c FROM tri GROUP BY t
)
SELECT tri.doc_id,
       count(*) AS n_tri,
       sum(model.c) AS sum_freq,
       {round6_sql('sum(model.c)::DOUBLE / count(*)')} AS avg_freq
FROM tri JOIN model USING (t)
GROUP BY tri.doc_id
""",
)
def ns_char_trigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-fitted character-trigram frequency model scoring each doc
    by the mean corpus frequency of its trigrams — the shape of CCNet's
    LM-based quality filter (train a small LM on the corpus, score each
    doc, gate on the score), with integer-exact frequencies instead of
    log-probs so the score is bit-stable across engines (libm log is
    not). Low avg_freq = unusual character statistics = candidate junk.

    Scale: two passes over map-side-exploded trigrams. The fitted model
    is ≤ |charset|³ rows after aggregation — broadcast-joined back, so
    the scoring pass never shuffles the corpus; only per-doc partials
    shuffle. Explicit F.broadcast: the model's row bound is a property
    of the alphabet, not the corpus."""
    docs = spread(load_table(spark, sf_dir, "documents")).filter(
        F.length("text") >= 3
    )
    tri = docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.length("text") - 3)).alias("i"),
        "text",
    ).select("doc_id", F.expr("substring(text, i + 1, 3)").alias("t"))
    model = tri.groupBy("t").agg(F.count("*").alias("c"))
    return (
        tri.join(F.broadcast(model), "t")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tri"),
            F.sum("c").alias("sum_freq"),
            round6(F.sum("c").cast("double") / F.count("*")).alias("avg_freq"),
        )
    )


@register(
    "ns_leakage_safe_split",
    sql="""
WITH assigned AS (
  SELECT doc_id, source, n_chars,
         CASE WHEN substr(md5(source), 1, 2) < 'cc' THEN 'train'
              WHEN substr(md5(source), 1, 2) < 'e6' THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT split,
       count(*) AS n_docs,
       count(DISTINCT source) AS n_sources,
       sum(n_chars) AS sum_chars
FROM assigned GROUP BY split
""",
)
def ns_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: the split is a deterministic
    hash of the GROUP key (source), never the row, so every document
    from one source — the unit near-duplicates cluster within — lands
    in the same split; splitting i.i.d. by row leaks near-dups across
    the eval boundary. Buckets come from the first md5 hex byte
    (< 0xcc → train ≈ 79.7 %, < 0xe6 → val ≈ 10.2 %, else test),
    reproducible in any engine with no RNG.

    Scale: one scan-stage hash + one grouped aggregation with map-side
    partials; no joins, no skew (md5 is uniform over sources)."""
    docs = load_table(spark, sf_dir, "documents")
    b = F.substring(F.md5("source"), 1, 2)
    return (
        docs.select(
            "doc_id",
            "source",
            "n_chars",
            F.when(b < "cc", "train").when(b < "e6", "val").otherwise("test").alias("split"),
        )
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )
