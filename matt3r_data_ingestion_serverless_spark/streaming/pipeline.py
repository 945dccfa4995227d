"""Structured-Streaming topology (SURVEY.md §2.8, §3).

The reference's event-driven chain

    S3 raw → SNS → SQS → parse Lambda → landing
                          landing → SNS → SQS → infer Lambdas → events

becomes two chained streams with checkpointed exactly-once progress:

    readStream(binaryFile raw/) → decode
        → foreachBatch upsert on (device_id, channel, ts)
        → silver parquet (date/hour)
    readStream(parquet silver/) → W1/W2 inference
        → foreachBatch upsert → gold parquet (daily)

``Trigger.AvailableNow`` gives the serverless-shaped scheduling: each
invocation drains whatever new files exist, then stops — identical
semantics to the Lambda-per-object model, minus the 10 KB queue-message
and 600 s timeout limits (serverless.yml:179-204,72).

The silver sink's keyed upsert absorbs duplicate samples at rest.
``silver_signals_stream`` is the in-stream alternative: its 1.2 s
watermark dedupe reproduces the reference's in-flight reorder buffer
(W3, parse_canserver_filtered_log.py:268-289 with MAX_SR=1.2), and rows
later than the watermark are dropped from dedupe state, keeping state
bounded no matter how long the stream runs.

A one-shot query (the Structured Streaming paper's "run-once" trigger)
goes through :func:`run_once`, or :func:`collect_stream` for a memory
sink: it runs on a fresh checkpoint that is removed afterwards, waits
without a timeout, and stops the query on every exit path. The topology
legs above keep their own checkpoints, because those must persist.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from matt3r_data_ingestion_serverless_spark.operators.merge import foreach_batch_upsert
from matt3r_data_ingestion_serverless_spark.sources.canserver import read_canserver_stream

REORDER_WATERMARK = "1.2 seconds"  # MAX_SR, parse_canserver_filtered_log.py:117
# zero-speed samples closer than this fuse into one stationary session;
# 13 s is the reference's shortest stationary run
# (infer_stationary_states.py:81-106)
SESSION_GAP = "13 seconds"
# shuffle partitions (= state stores) of a one-shot query; see
# _run_available_now
ONE_SHOT_STATE_PARTITIONS = 8
SILVER_SCHEMA = (
    "device_id string, ts timestamp, channel string, values array<double>, state string, "
    "date date, hour int"
)


def silver_signals_stream(spark: SparkSession, raw_dir: str) -> DataFrame:
    """Stage-1 stream with in-stream dedupe: binary logs → deduplicated
    long-format signals.

    ``dropDuplicatesWithinWatermark`` on the natural key is the
    streaming form of the reference's epoch_dict bounded-disorder
    assembly (W3) + its cross-file overlap skip (J1): duplicates within
    the 1.2 s disorder horizon collapse, state is evicted past the
    watermark. ``_quarantine`` rows (bad files) carry the file's
    modification time, not an event time — they bypass the keyed dedupe
    state and are unioned back.
    """
    signals = read_canserver_stream(spark, raw_dir)
    good = (
        signals.filter(F.col("channel") != "_quarantine")
        .withWatermark("ts", REORDER_WATERMARK)
        .dropDuplicatesWithinWatermark(["device_id", "channel", "ts"])
    )
    return good.unionByName(signals.filter(F.col("channel") == "_quarantine"))


def run_silver_pipeline(
    spark: SparkSession, raw_dir: str, silver_dir: str, checkpoint_dir: str
) -> None:
    """Drain available raw files into the silver parquet table.

    No in-stream dedupe here: the foreachBatch upsert sink is already
    idempotent on (device_id, channel, ts), which subsumes W3's
    duplicate-collapse for the at-rest table — and skips the second
    decode pass the branched dedupe stream would cost. Use
    ``silver_signals_stream`` when a consumer needs exactly-once rows
    *within* the live stream itself.
    """
    stream = read_canserver_stream(spark, raw_dir)
    stream = stream.withColumn("date", F.to_date("ts")).withColumn("hour", F.hour("ts"))
    _start_upsert(
        stream, silver_dir, checkpoint_dir, ["device_id", "channel", "ts"], ["date", "hour"]
    ).awaitTermination()


def _start_upsert(
    stream: DataFrame,
    target_dir: str,
    checkpoint_dir: str,
    keys: list[str],
    partition_cols: list[str],
) -> StreamingQuery:
    """Start ``stream`` as an AvailableNow query whose sink upserts each
    micro-batch into ``target_dir``; the caller awaits it."""
    return (
        stream.writeStream.foreachBatch(foreach_batch_upsert(target_dir, keys, partition_cols))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def run_once(
    stream: DataFrame, on_batch, *, state_partitions: int = ONE_SHOT_STATE_PARTITIONS
) -> None:
    """Run the streaming ``stream`` over the input available now, handing
    each micro-batch to ``on_batch(batch_df, batch_id)`` (foreachBatch),
    and return once the last one has committed; a failure re-raises."""
    _run_available_now(
        stream.sparkSession, stream.writeStream.foreachBatch(on_batch), state_partitions
    )


def collect_stream(stream: DataFrame, output_mode: str = "append") -> DataFrame:
    """Run the streaming ``stream`` once into a memory sink and return
    the sink's rows as a batch DataFrame. The sink's temp view is
    dropped before returning: the returned frame holds the rows, and
    they are freed with it."""
    spark = stream.sparkSession
    name = f"collect_{uuid.uuid4().hex}"
    writer = stream.writeStream.format("memory").queryName(name).outputMode(output_mode)
    try:
        _run_available_now(spark, writer, ONE_SHOT_STATE_PARTITIONS)
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)


def _run_available_now(
    spark: SparkSession, writer: DataStreamWriter, state_partitions: int
) -> None:
    """Start ``writer`` with the ``availableNow`` trigger on a fresh
    checkpoint and wait for it without a timeout.

    The checkpoint goes under the session's
    ``spark.sql.streaming.checkpointLocation`` when that is set (so its
    WAL stays where the session keeps it), else in a temp dir.
    ``spark.sql.shuffle.partitions`` is pinned to ``state_partitions``
    while the query runs: each stateful micro-batch commits one state
    store per shuffle partition, and on small inputs more stores (a
    plain session would use 200) cost more commit overhead than they buy
    in parallelism. On every exit the query is stopped, the conf
    restored and the checkpoint removed."""
    base = spark.conf.get("spark.sql.streaming.checkpointLocation", None)
    if base:
        os.makedirs(base, exist_ok=True)
    checkpoint = tempfile.mkdtemp(prefix="run_once_", dir=base)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    query = None
    try:
        query = (
            writer.option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    finally:
        if query is not None and query.isActive:
            query.stop()
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        shutil.rmtree(checkpoint, ignore_errors=True)


# ---------------------------------------------------------------------------
# stage 2b streaming: autopilot transitions with cross-batch state
# ---------------------------------------------------------------------------

_AP_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("device_id", T.StringType()),
        T.StructField("ts_us", T.LongType()),
        T.StructField("status", T.StringType()),
        T.StructField("canbus_state", T.DoubleType()),
    ]
)
# last observed (ts_us, code) per device — the only state W1 needs
_AP_STATE_SCHEMA = T.StructType(
    [T.StructField("last_ts_us", T.LongType()), T.StructField("last_code", T.IntegerType())]
)


def _ap_transition_fn(key, pdfs, state: GroupState):
    """applyInPandasWithState body: W1 lag-transition scan with the lag
    carried across micro-batches (a transition split across two files /
    batches is still detected — strictly better than the reference's
    per-file scan which loses the boundary)."""
    prev_ts, prev_code = state.get if state.exists else (None, None)
    rows = pd.concat(list(pdfs), ignore_index=True).sort_values("ts_us")
    out = []
    for ts_us, code in zip(rows["ts_us"], rows["code"]):
        # monotonic guard: a sample of a file that lands after a later
        # file of the same device was drained carries an old timestamp;
        # replaying it against newer state would fabricate transitions
        if prev_ts is not None and int(ts_us) <= prev_ts:
            continue
        # a NULL code (FAULT, SNA, unknown) is a sample too: it becomes
        # the lag, so the next code makes no transition, as in batch W1
        code = None if pd.isna(code) else int(code)
        if prev_code is not None and code is not None:
            if code == 3 and prev_code <= 2:
                out.append((key[0], int(ts_us), "engagement", float(code)))
            elif code <= 2 and prev_code == 3:
                out.append((key[0], int(ts_us), "disengagement", float(code)))
        prev_ts, prev_code = int(ts_us), code
    if prev_ts is not None:
        state.update((prev_ts, prev_code))
    yield pd.DataFrame(out, columns=["device_id", "ts_us", "status", "canbus_state"])


def ap_transitions_stream(signals: DataFrame) -> DataFrame:
    """Streaming W1 over the silver signal stream: codes the
    ``ap_status`` rows, then runs :func:`ap_transitions_from_codes`."""
    from matt3r_data_ingestion_serverless_spark.operators.autopilot import ap_state_code

    coded = (
        signals.filter(F.col("channel") == "ap_status")
        .withColumn("code", ap_state_code(F.col("state")))
        .withColumn("ts_us", F.unix_micros("ts"))
        .select("device_id", "ts_us", "code")
    )
    return ap_transitions_from_codes(coded)


def ap_transitions_from_codes(coded: DataFrame) -> DataFrame:
    """W1's stateful lag scan over a coded ``(device_id, ts_us, code)``
    stream: custom stateful operator via applyInPandasWithState (SURVEY
    §2.9 mapping for the one operator Structured Streaming lacks
    natively)."""
    return coded.groupBy("device_id").applyInPandasWithState(
        _ap_transition_fn,
        outputStructType=_AP_OUTPUT_SCHEMA,
        stateStructType=_AP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_autopilot_pipeline(
    spark: SparkSession, silver_dir: str, gold_dir: str, checkpoint_dir: str
) -> None:
    """Stage-2b stream: silver parquet → autopilot transition events."""
    _start_autopilot(spark, silver_dir, gold_dir, checkpoint_dir).awaitTermination()


def _start_autopilot(
    spark: SparkSession, silver_dir: str, gold_dir: str, checkpoint_dir: str
) -> StreamingQuery:
    signals = spark.readStream.schema(SILVER_SCHEMA).parquet(silver_dir)
    events = ap_transitions_stream(signals)
    events = events.withColumn("date", F.to_date(F.timestamp_micros(F.col("ts_us"))))
    return _start_upsert(
        events, gold_dir, checkpoint_dir, ["device_id", "ts_us", "status"], ["date"]
    )


# per-device zero-run state for the EXACT streaming W2: the open run's
# boundaries plus the last seen timestamp (monotonic re-delivery guard)
_ST_STATE_SCHEMA = T.StructType(
    [
        T.StructField("run_start_us", T.LongType()),
        T.StructField("last_zero_us", T.LongType()),
        T.StructField("last_ts_us", T.LongType()),
    ]
)
_ST_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("device_id", T.StringType()),
        T.StructField("start_us", T.LongType()),
        T.StructField("end_us", T.LongType()),
        T.StructField("duration_s", T.DoubleType()),
    ]
)


def _stationary_fn_factory(zero_threshold: float, min_duration_s: float, trim_s: float):
    min_dur_us = int(min_duration_s * 1_000_000)
    trim_us = int(trim_s * 1_000_000)

    def fn(key, pdfs, state: GroupState):
        run_start, last_zero, last_ts = state.get if state.exists else (None, None, None)
        rows = pd.concat(list(pdfs), ignore_index=True).sort_values("ts_us")
        out = []
        for ts_us, speed in zip(rows["ts_us"], rows["speed"]):
            ts_us = int(ts_us)
            if last_ts is not None and ts_us <= last_ts:
                continue  # sample of an out-of-order file — no-op
            last_ts = ts_us
            if speed <= zero_threshold:
                if run_start is None:
                    run_start = ts_us
                last_zero = ts_us
            elif run_start is not None:
                # nonzero closes the run at the LAST zero sample
                # (infer_stationary_states.py:86-93 semantics)
                if last_zero - run_start >= min_dur_us:
                    out.append(
                        (
                            key[0],
                            run_start + trim_us,
                            last_zero - trim_us,
                            round((last_zero - run_start) / 1e6, 6),
                        )
                    )
                run_start = last_zero = None
        state.update((run_start, last_zero, last_ts))
        yield pd.DataFrame(out, columns=["device_id", "start_us", "end_us", "duration_s"])

    return fn


def stationary_intervals_stream(
    signals: DataFrame,
    *,
    zero_threshold: float = 0.0,
    min_duration_s: float = 13.0,
    trim_s: float = 3.0,
) -> DataFrame:
    """EXACT streaming W2 — identical semantics to the batch
    operators/stationary.py (zero-run boundaries, duration gate, trim),
    with the run carried across micro-batches in GroupState. Unlike the
    session_window variant (gap approximation, watermark-gated
    emission), a run emits the moment a nonzero sample closes it, and a
    run straddling any number of batches stays one run. Open runs at
    end-of-input remain in state (the batch operator closes them at
    series end — the one intentional difference, since a stream has no
    end)."""
    zero = (
        signals.filter(F.col("channel") == "speed")
        .withColumn("ts_us", F.unix_micros("ts"))
        .select("device_id", "ts_us", F.col("values")[0].alias("speed"))
    )
    return zero.groupBy("device_id").applyInPandasWithState(
        _stationary_fn_factory(zero_threshold, min_duration_s, trim_s),
        outputStructType=_ST_OUTPUT_SCHEMA,
        stateStructType=_ST_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_stationary_pipeline(
    spark: SparkSession, silver_dir: str, gold_dir: str, checkpoint_dir: str
) -> None:
    """Stage-2a stream: silver parquet → stationary-interval events —
    the third leg of the reference's fan-out (T2: parse ∥
    infer-autopilot ∥ infer-stationary, serverless.yml:69-122). Both
    stage-2 pipelines read the same silver table independently with
    their own checkpoints, mirroring the per-queue SQS subscriptions."""
    _start_stationary(spark, silver_dir, gold_dir, checkpoint_dir).awaitTermination()


def _start_stationary(
    spark: SparkSession, silver_dir: str, gold_dir: str, checkpoint_dir: str
) -> StreamingQuery:
    signals = spark.readStream.schema(SILVER_SCHEMA).parquet(silver_dir)
    sessions = stationary_sessions_stream(signals)
    sessions = sessions.withColumn("date", F.to_date(F.timestamp_micros(F.col("start_us"))))
    return _start_upsert(sessions, gold_dir, checkpoint_dir, ["device_id", "start_us"], ["date"])


def stationary_sessions_stream(signals: DataFrame) -> DataFrame:
    """Streaming W2 variant: session_window over stationary samples.

    Batch W2 defines a run as zero-samples bounded by nonzero samples;
    the streaming form uses a session gap (samples closer than
    ``SESSION_GAP`` fuse into one session) — the natural
    watermark-compatible reformulation (SURVEY §7.3 risk item:
    batch-first, session_window behind the same API). It keeps no dedupe
    state: the insert-only silver sink adds each sample to silver once.
    """
    zero = signals.filter((F.col("channel") == "speed") & (F.col("values")[0] <= 0.0))
    zero = zero.withWatermark("ts", "30 seconds")
    return (
        zero.groupBy("device_id", F.session_window("ts", SESSION_GAP).alias("w"))
        .agg(F.count("*").alias("n_samples"))
        .select(
            "device_id",
            F.unix_micros(F.col("w.start")).alias("start_us"),
            F.unix_micros(F.col("w.end")).alias("end_us"),
            "n_samples",
        )
    )


# ---------------------------------------------------------------------------
# stream-stream interval join
# ---------------------------------------------------------------------------


def speed_ap_joined_stream(
    signals: DataFrame,
    *,
    horizon: str = "5 seconds",
    watermark: str = "2 seconds",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: each speed sample paired with every
    autopilot-state report from the same device in the trailing
    ``horizon`` — the live form of the as-of enrichment the reference
    can only do after both daily files exist (infer_autopilot_states.py
    runs a day behind the speed channel).

    Scale: both sides carry watermarks and the join predicate bounds
    event-time distance, so the state store holds only ``horizon`` +
    ``watermark`` of each side per device — bounded regardless of
    stream length. The equi-key (device_id) hashes the two streams to
    the same partitions: the join is co-partitioned, no broadcast, no
    full-history scan."""
    speed = (
        signals.filter(F.col("channel") == "speed")
        .select(
            "device_id",
            F.col("ts").alias("s_ts"),
            F.col("values")[0].alias("speed_kph"),
        )
        .withWatermark("s_ts", watermark)
    )
    ap = (
        signals.filter(F.col("channel") == "ap_status")
        .select(
            F.col("device_id").alias("ap_device"),
            F.col("ts").alias("a_ts"),
            F.col("state").alias("ap_state"),
        )
        .withWatermark("a_ts", watermark)
    )
    cond = F.expr(
        f"device_id = ap_device AND a_ts BETWEEN s_ts - interval {horizon} AND s_ts"
    )
    # how="leftOuter": speed samples with NO autopilot report in the
    # horizon still emit (null ap columns) — but only once the watermark
    # passes their join window, i.e. the engine can PROVE no late match
    # can arrive. Null rows therefore surface a batch or two after their
    # match window closes; a stream that ends mid-window keeps its tail
    # rows in state (correct at-least-once semantics, asserted in
    # tests/test_streaming.py::test_stream_stream_left_outer_join).
    return speed.join(ap, cond, how).select(
        "device_id", "s_ts", "speed_kph", "a_ts", "ap_state"
    )


# ---------------------------------------------------------------------------
# streaming-materialized sketch tables
# ---------------------------------------------------------------------------

SKETCH_LG_K = 14  # matches plans/curation.py:sketch_hll_rollup


def _sketch_version(sketch_dir: str) -> int | None:
    """Newest complete version of the sketch table: the highest
    ``v=<n>`` directory whose write job committed (Spark's ``_SUCCESS``
    marker), or None before the first commit."""
    if not os.path.isdir(sketch_dir):
        return None
    done = [
        int(d[2:])
        for d in os.listdir(sketch_dir)
        if d.startswith("v=") and os.path.isfile(os.path.join(sketch_dir, d, "_SUCCESS"))
    ]
    return max(done, default=None)


def _sketch_merge_sink(sketch_dir: str, lg_k: int):
    """foreachBatch body: sketch the batch's term vocabulary per source,
    then MERGE into the at-rest sketch table via hll_union — the batch
    is scanned once and never again; the table stays K rows × ~2^lg_k
    bytes regardless of corpus size. Idempotent only at the table level
    (re-delivering a batch double-counts nothing: HLL registers are
    max-combine, so re-unioning the same items is a no-op).

    Each merge writes a new version directory next to the one it read,
    and older versions are dropped only after that write committed: a
    write that fails half-way leaves the last committed table in place
    for the replayed batch to merge into."""
    from matt3r_data_ingestion_serverless_spark.functions import text as textfns

    def _sink(batch_df: DataFrame, _batch_id: int) -> None:
        spark = batch_df.sparkSession
        new = (
            batch_df.select(
                "source", F.explode(textfns.tokens(F.col("text"))).alias("term")
            )
            .groupBy("source")
            .agg(F.hll_sketch_agg("term", F.lit(lg_k)).alias("sk"))
        )
        version = _sketch_version(sketch_dir)
        if version is not None:
            old = spark.read.parquet(os.path.join(sketch_dir, f"v={version}"))
            new = (
                old.unionByName(new)
                .groupBy("source")
                .agg(F.hll_union_agg("sk").alias("sk"))
            )
        latest = f"v={0 if version is None else version + 1}"
        # overwrite clears only what a failed attempt left in this version
        new.write.mode("overwrite").parquet(os.path.join(sketch_dir, latest))
        for d in os.listdir(sketch_dir):
            if d.startswith("v=") and d != latest:
                shutil.rmtree(os.path.join(sketch_dir, d))

    return _sink


def run_sketch_rollup_pipeline(
    spark: SparkSession,
    docs_dir: str,
    sketch_dir: str,
    checkpoint_dir: str,
    *,
    lg_k: int = SKETCH_LG_K,
    max_files_per_trigger: int | None = None,
) -> None:
    """Maintain a pre-aggregated distinct-term sketch table over a
    streaming documents source (SCALE.md roadmap: sketches materialized
    by the pipeline, not recomputed per query). Each drained micro-batch
    folds into the sketch table; any later distinct-count rollup is a
    merge of kilobytes via :func:`sketch_estimates` — the corpus is
    never rescanned. At 100 TB this turns vocabulary dashboards from a
    full-scan query into a constant-time lookup."""
    reader = spark.readStream.schema(
        "doc_id long, text string, lang string, source string, n_chars long"
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    docs = reader.parquet(docs_dir)
    (
        docs.writeStream.foreachBatch(_sketch_merge_sink(sketch_dir, lg_k))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def sketch_estimates(spark: SparkSession, sketch_dir: str) -> DataFrame:
    """Per-source + global distinct-term estimates from the materialized
    sketch table — the query side of run_sketch_rollup_pipeline, same
    output shape as plans/curation.py:sketch_hll_rollup."""
    sk = spark.read.parquet(os.path.join(sketch_dir, f"v={_sketch_version(sketch_dir)}"))
    per = sk.select(
        "source", F.hll_sketch_estimate("sk").cast("long").alias("est_distinct_terms")
    )
    glob = sk.agg(F.hll_union_agg("sk").alias("sk")).select(
        F.lit("ALL").alias("source"),
        F.hll_sketch_estimate("sk").cast("long").alias("est_distinct_terms"),
    )
    return per.unionByName(glob)
