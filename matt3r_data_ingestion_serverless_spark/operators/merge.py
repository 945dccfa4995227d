"""Insert-only idempotent upsert sink (SURVEY.md §2.6 J1–J3, §2.8 T3/T4).

The reference merges each new batch into previously-written hourly/daily
JSON files with ordered-concat logic that SKIPS the write on overlap
(parse_canserver_filtered_log.py:327-344, infer_stationary_states.py:117-133)
— and its existence check can never fire on its own output (the
`.parquet`-name vs `.json`-sink quirk, :328 vs :348). We implement the
*intended* semantics: a row whose logical key is already committed is
dropped, so the first writer wins and re-delivering any batch (SQS
at-least-once, serverless.yml:179-204) is a no-op.

Scale stance: committed files are never rewritten. Only the key
columns of the partitions the incoming batch touches are read back,
with the batch's schema (no footer-inference job), and the rows whose
key is new are appended as new files, so the cost is proportional to
the batch, not the table, and a file-source stream over the table reads
each row exactly once. An empty micro-batch costs one job, the collect
of its partition values: no target read, no join, no write. The
trade-off: every upsert that adds rows adds one file per touched
partition, and nothing compacts them. A compaction must never publish
rewritten files into a directory that a file-source stream reads, or
the stream reads their rows again.

:func:`merge_plan` is the keyed MERGE INTO (update/delete/insert) plan
that ``operators/lakehouse.LakehouseTable.merge`` commits.
"""

from __future__ import annotations

import functools
import operator
import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def upsert_parquet(
    batch_df: DataFrame,
    target_dir: str,
    keys: list[str],
    partition_cols: list[str] | None = None,
) -> None:
    """Append to the parquet table at ``target_dir`` the rows of
    ``batch_df`` whose ``keys`` it does not hold yet: the batch is
    deduplicated on ``keys``, then left-anti-joined (null-safe) against
    the committed keys of the partitions it touches. Committed files
    are never touched again.

    Into a partitioned table the batch is evaluated twice (its distinct
    partition values, which prune the target scan, then the write), so
    callers persist it first, as :func:`foreach_batch_upsert` does. A
    batch with no partition value (an empty one) writes nothing."""
    spark = batch_df.sparkSession
    partition_cols = list(partition_cols or [])
    if partition_cols:
        touched = batch_df.select(*partition_cols).distinct().collect()
        if not touched:
            return
    new = batch_df.dropDuplicates(keys)
    if _table_exists(spark, target_dir):
        old = spark.read.schema(batch_df.schema).parquet(target_dir)
        if partition_cols:
            old = old.filter(_partition_predicate(partition_cols, touched))
        on = functools.reduce(operator.and_, [new[k].eqNullSafe(old[k]) for k in keys])
        new = new.join(old.select(*keys), on, "left_anti")
        # an empty unpartitioned write still commits a schema-only file
        if not partition_cols and new.isEmpty():
            return
    # a write that died left its committed tasks under _temporary; this
    # job's commit would publish them next to this batch's copy of the rows
    shutil.rmtree(os.path.join(target_dir, "_temporary"), ignore_errors=True)
    new.write.mode("append").partitionBy(*partition_cols).parquet(target_dir)


def merge_plan(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    *,
    update_cols: list[str] | None = None,
    delete_condition=None,
    insert: bool = True,
) -> DataFrame:
    """Lakehouse ``MERGE INTO`` as a pure DataFrame plan: one
    full-outer shuffle join on ``keys``, then per-column conditional
    projection — WHEN MATCHED AND <delete_condition> THEN DELETE,
    WHEN MATCHED THEN UPDATE SET <update_cols>, WHEN NOT MATCHED
    THEN INSERT (if ``insert``), target-only rows pass through.

    The reference's merge is ordered list-concat per output file with
    overlap-skip (parse_canserver_filtered_log.py:327-344); this is the
    keyed row-level semantics that logic approximates. ``source`` rows
    must be unique per key (enforce upstream — standard MERGE
    precondition). ``delete_condition`` is a Column evaluated against
    SOURCE columns. Source may carry extra columns (e.g. an op flag);
    they are dropped from the output.

    Scale: the single full-outer join is the irreducible shuffle of any
    keyed merge; both sides exchange on the key and AQE splits skew.
    """
    data_cols = [c for c in target.columns if c not in keys]
    s_cols = [c for c in data_cols if c in source.columns]
    upd = set(update_cols) if update_cols is not None else set(s_cols)

    if delete_condition is not None:
        source = source.withColumn("_del", delete_condition)
    else:
        source = source.withColumn("_del", F.lit(False))
    t = target.select(
        *keys, *[F.col(c).alias(f"_t_{c}") for c in data_cols]
    ).withColumn("_t", F.lit(True))
    s = source.select(
        *keys, *[F.col(c).alias(f"_s_{c}") for c in s_cols], "_del"
    ).withColumn("_s", F.lit(True))

    j = t.join(s, on=keys, how="full_outer")
    matched = F.col("_t").isNotNull() & F.col("_s").isNotNull()
    t_only = F.col("_s").isNull()
    s_only = F.col("_t").isNull()
    # unmatched delete rows must NOT fall through to INSERT — otherwise
    # re-delivering a batch resurrects rows it already deleted
    keep = (
        t_only
        | (matched & ~F.col("_del"))
        | (s_only & F.lit(insert) & ~F.col("_del"))
    )

    out = [F.col(k) for k in keys]  # join on=keys coalesces key cols
    for c in data_cols:
        if c in upd:
            expr = F.when(t_only, F.col(f"_t_{c}")).otherwise(F.col(f"_s_{c}"))
        elif c in s_cols:
            expr = F.when(s_only, F.col(f"_s_{c}")).otherwise(F.col(f"_t_{c}"))
        else:
            expr = F.col(f"_t_{c}")
        out.append(expr.alias(c))
    return j.filter(keep).select(*out)


def _partition_predicate(cols: list[str], values: list) -> Column:
    """True exactly on the partitions listed in ``values`` (rows over
    ``cols``). Null-safe: a null partition value (the
    ``__HIVE_DEFAULT_PARTITION__`` directory) matches itself. The OR is
    built as a balanced tree so its depth stays logarithmic when a
    backfill batch touches thousands of partitions."""
    terms = [
        functools.reduce(operator.and_, [F.col(c).eqNullSafe(F.lit(v[c])) for c in cols])
        for v in values
    ]
    if not terms:
        return F.lit(False)
    while len(terms) > 1:
        paired = [a | b for a, b in zip(terms[::2], terms[1::2])]
        terms = paired + terms[len(paired) * 2 :]
    return terms[0]


def _data_files(path: str):
    """The files a parquet read of ``path`` takes as data: as Spark's
    file index does, it skips a file whose path below ``path`` has a
    component starting with ``.``, or with ``_`` unless it holds ``=``
    (a partition directory). So ``_SUCCESS``, ``.crc`` files and the
    ``_temporary/`` tree of a write that died are not data."""

    def hidden(name: str) -> bool:
        return name.startswith(".") or (name.startswith("_") and "=" not in name)

    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not hidden(d)]
        yield from (os.path.join(root, f) for f in files if not hidden(f))


def _table_exists(spark: SparkSession, path: str) -> bool:
    return next(_data_files(path), None) is not None


def foreach_batch_upsert(target_dir: str, keys: list[str], partition_cols: list[str] | None = None):
    """Adapter for ``writeStream.foreachBatch`` — the streaming sink that
    replaces the reference's per-file S3 merge round-trip. The batch is
    persisted for the duration of the upsert, so its source is decoded,
    and a stateful operator upstream runs, once per micro-batch."""

    def _sink(batch_df: DataFrame, _batch_id: int) -> None:
        batch_df.persist()
        try:
            upsert_parquet(batch_df, target_dir, keys, partition_cols)
        finally:
            batch_df.unpersist(blocking=True)

    return _sink
