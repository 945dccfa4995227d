"""Streaming-topology tests (SURVEY.md §5.4): AvailableNow micro-batch
runs over file sequences asserting idempotent re-delivery (T3),
watermark dedupe (W3), and cross-batch stateful transition detection.
"""

from __future__ import annotations

import os
import pathlib
import shutil
import tempfile
import time

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.operators.merge import (
    _data_files,
    _table_exists,
    upsert_parquet,
)
from matt3r_data_ingestion_serverless_spark.sources import canserver as cs
from matt3r_data_ingestion_serverless_spark.streaming import pipeline as pl
from tests.test_canserver import SYNC_US, build_stream

_OVERWRITE_MODE = "spark.sql.sources.partitionOverwriteMode"


@pytest.fixture()
def dirs(tmp_path):
    d = {
        "raw": tmp_path / "raw",
        "silver": tmp_path / "silver",
        "gold": tmp_path / "gold",
        "ckpt1": tmp_path / "ckpt1",
        "ckpt2": tmp_path / "ckpt2",
    }
    d["raw"].mkdir()
    return {k: str(v) for k, v in d.items()}


def _write_raw(dirs, name, frames, device="dev0"):
    d = pathlib.Path(dirs["raw"], device)
    d.mkdir(exist_ok=True)
    (d / name).write_bytes(build_stream(frames))


def test_silver_pipeline_and_idempotent_redelivery(spark, dirs, tmp_path):
    frames = [(i, 599, bytes([0x00, 0x40, 0x1F])) for i in range(5)] + [
        (10, 921, bytes([0x02])),
        (20, 921, bytes([0x03])),
    ]
    _write_raw(dirs, "veh_a.log", frames)

    pl.run_silver_pipeline(spark, dirs["raw"], dirs["silver"], dirs["ckpt1"])
    silver = spark.read.parquet(dirs["silver"])
    n1 = silver.count()
    assert n1 == 7
    assert set(silver.select("channel").distinct().toPandas()["channel"]) == {"speed", "ap_status"}
    # partitioned by (date, hour) for pruning
    assert {"date", "hour"} <= set(silver.columns)

    # re-delivery: the same object is processed again (fresh checkpoint
    # = the SQS at-least-once path) → sink must be a no-op
    pl.run_silver_pipeline(spark, dirs["raw"], dirs["silver"], str(tmp_path / "ckpt1b"))
    n2 = spark.read.parquet(dirs["silver"]).count()
    assert n2 == n1  # dedupe-upsert absorbed the duplicate delivery


def test_silver_keeps_a_quarantine_row_per_bad_file(spark, dirs):
    # a quarantine row's ts is its file's mtime, so two bad files of one
    # device are two silver rows; a re-delivered one adds none
    dev = pathlib.Path(dirs["raw"], "dev0")
    dev.mkdir()
    for i, name in enumerate(["bad0.log", "bad1.log"]):
        (dev / name).write_bytes(b"NOT_A_CANSERVER_FILE__")
        os.utime(dev / name, (1_000_000 + i, 1_000_000 + i))
    pl.run_silver_pipeline(spark, dirs["raw"], dirs["silver"], dirs["ckpt1"])
    shutil.copy2(dev / "bad1.log", dev / "bad1_again.log")  # keeps the mtime
    pl.run_silver_pipeline(spark, dirs["raw"], dirs["silver"], dirs["ckpt1"])
    rows = spark.read.parquet(dirs["silver"]).filter("channel = '_quarantine'").collect()
    assert sorted(os.path.basename(r.state.split(": ")[0]) for r in rows) == [
        "bad0.log", "bad1.log"
    ]


def test_silver_stream_watermark_dedupe(spark, dirs):
    # W3: the same (device, channel, ts) sample delivered twice inside
    # the 1.2 s disorder horizon collapses to one row IN-STREAM
    # (dropDuplicatesWithinWatermark), not just at the sink
    frames = [
        (5, 599, bytes([0x00, 0x40, 0x1F])),
        (5, 599, bytes([0x00, 0x40, 0x1F])),  # exact duplicate
        (7, 921, b"\x03"),
    ]
    _write_raw(dirs, "dup.log", frames)
    stream = pl.silver_signals_stream(spark, dirs["raw"])
    rows = pl.collect_stream(stream).collect()
    assert len(rows) == 2  # duplicate speed sample collapsed
    assert {r.channel for r in rows} == {"speed", "ap_status"}


def test_cross_batch_ap_transition_state(spark, dirs):
    # file 1 ends AVAILABLE(2); file 2 begins ACTIVE_NOMINAL(3):
    # the engagement straddles the gold-stream batch boundary, so the
    # lag must come from the persisted GroupState, not the batch.
    _write_raw(dirs, "f1.log", [(0, 921, bytes([0x00])), (100, 921, bytes([0x02]))])
    pl.run_silver_pipeline(spark, dirs["raw"], dirs["silver"], dirs["ckpt1"])
    pl.run_autopilot_pipeline(spark, dirs["silver"], dirs["gold"], dirs["ckpt2"])

    _write_raw(dirs, "f2.log", [(200, 921, bytes([0x03])), (300, 921, bytes([0x01]))])
    pl.run_silver_pipeline(spark, dirs["raw"], dirs["silver"], dirs["ckpt1"])
    pl.run_autopilot_pipeline(spark, dirs["silver"], dirs["gold"], dirs["ckpt2"])
    gold = spark.read.parquet(dirs["gold"]).collect()
    statuses = {(r.status, r.ts_us - SYNC_US) for r in gold}
    assert ("engagement", 200_000) in statuses
    assert ("disengagement", 300_000) in statuses


def test_null_ap_code_suppresses_the_next_transition(spark, dirs):
    # FAULT (14) and SNA (15) decode to a NULL code. Batch W1 lags over
    # them, so the code after a NULL makes no transition; the gold leg
    # must agree, also when the NULL is the last sample of a micro-batch
    codes = [2, 3, 2, 14, 3, 2, 15, 3]  # one sample a second from 1 s
    frames = [((i + 1) * 1000, 921, bytes([c])) for i, c in enumerate(codes)]
    for name, part in (("f1.log", frames[:4]), ("f2.log", frames[4:])):
        _write_raw(dirs, name, part)
        pl.run_silver_pipeline(spark, dirs["raw"], dirs["silver"], dirs["ckpt1"])
        pl.run_autopilot_pipeline(spark, dirs["silver"], dirs["gold"], dirs["ckpt2"])

    from matt3r_data_ingestion_serverless_spark.operators.autopilot import (
        ap_state_code,
        ap_transitions,
    )

    silver = spark.read.parquet(dirs["silver"]).filter("channel = 'ap_status'")
    batch = ap_transitions(silver.withColumn("code", ap_state_code(F.col("state"))))
    want = {("engagement", 2_000_000), ("disengagement", 3_000_000), ("disengagement", 6_000_000)}
    assert {(r.status, r.ts_us - SYNC_US) for r in batch.collect()} == want
    gold = spark.read.parquet(dirs["gold"]).collect()
    assert {(r.status, r.ts_us - SYNC_US) for r in gold} == want


def test_ap_state_code_maps_every_name(spark):
    # the reference's reverse map (infer_autopilot_states.py:22-23) has
    # the eight codes below 14; FAULT, SNA, NULL and an unknown name map
    # to NULL
    from matt3r_data_ingestion_serverless_spark.operators.autopilot import (
        AP_STATE_NAMES,
        ap_state_code,
    )

    want = {
        "DISABLED": 0, "UNAVAILABLE": 1, "AVAILABLE": 2, "ACTIVE_NOMINAL": 3,
        "ACTIVE_RESTRICTED": 4, "ACTIVE_NAV": 5, "ABORTING": 8, "ABORTED": 9,
        "FAULT": None, "SNA": None, None: None, "BOGUS": None, "disabled": None,
    }
    assert set(AP_STATE_NAMES.values()) <= set(want)
    df = spark.createDataFrame([(n,) for n in want], "state string")
    out = df.select("state", ap_state_code(F.col("state")).alias("code"))
    assert out.schema["code"].dataType.simpleString() == "int"
    assert dict(tuple(r) for r in out.collect()) == want


def test_full_fanout_topology(spark, dirs, tmp_path):
    # the reference's 3-Lambda fan-out (T2): one raw drop feeds silver,
    # then BOTH stage-2 pipelines run independently off the same silver
    # table and land in separate gold subdirs
    frames = [(i * 1000, 599, bytes([0x00, 0x40, 0x1F])) for i in range(20)] + [
        (25_000, 921, bytes([0x02])),
        (26_000, 921, bytes([0x03])),
    ]
    _write_raw(dirs, "drive.log", frames)
    pl.run_silver_pipeline(spark, dirs["raw"], dirs["silver"], dirs["ckpt1"])
    ap_gold = str(tmp_path / "gold_ap")
    st_gold = str(tmp_path / "gold_st")
    st_ckpt = str(tmp_path / "ckpt3")
    pl.run_autopilot_pipeline(spark, dirs["silver"], ap_gold, dirs["ckpt2"])
    pl.run_stationary_pipeline(spark, dirs["silver"], st_gold, st_ckpt)
    # ap transitions emit in-batch (stateful scan, no watermark gate)
    ap = spark.read.parquet(ap_gold).collect()
    assert {(r.status,) for r in ap} == {("engagement",)}

    # the session is still OPEN against the 30 s watermark after one
    # drain — append mode correctly withholds it until event time passes
    # session end + watermark; a later sample closes and releases it
    _write_raw(dirs, "later.log", [(65_000, 599, bytes([0x00, 0x40, 0x1F]))])
    pl.run_silver_pipeline(spark, dirs["raw"], dirs["silver"], dirs["ckpt1"])
    pl.run_stationary_pipeline(spark, dirs["silver"], st_gold, st_ckpt)
    st = spark.read.parquet(st_gold).collect()
    assert len(st) == 1
    assert st[0].n_samples == 20  # one fused zero-speed session


def test_exact_stationary_stream_matches_batch(spark, dirs, tmp_path):
    # EXACT streaming W2: a zero-run straddling the batch boundary stays
    # ONE run (GroupState carry) and the emitted interval equals the
    # batch operator's on the concatenated series
    from matt3r_data_ingestion_serverless_spark.operators.stationary import (
        stationary_intervals,
    )

    zero = bytes([0x00, 0x40, 0x1F])  # speed 0.0
    fast = bytes([0x00, 0xF0, 0xFF])  # speed 287.6
    f1 = [(i * 1000, 599, zero) for i in range(8)]  # zeros 0..7s
    f2 = [(i * 1000, 599, zero) for i in range(8, 15)] + [(20_000, 599, fast)]

    _write_raw(dirs, "f1.log", f1)
    pl.run_silver_pipeline(spark, dirs["raw"], dirs["silver"], dirs["ckpt1"])
    sink, ckpt = str(tmp_path / "st_exact"), str(tmp_path / "ckpt_st")

    def drain():
        signals = spark.readStream.schema(
            "device_id string, ts timestamp, channel string, values array<double>, "
            "state string, date date, hour int"
        ).parquet(dirs["silver"])
        (
            pl.stationary_intervals_stream(signals)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    drain()  # batch 1: run still open → nothing emitted
    _write_raw(dirs, "f2.log", f2)
    pl.run_silver_pipeline(spark, dirs["raw"], dirs["silver"], dirs["ckpt1"])
    drain()  # batch 2: nonzero closes the 0..14s run

    got = spark.read.parquet(sink).collect()
    assert len(got) == 1

    batch_signals = cs.read_canserver(spark, dirs["raw"]).select(
        "device_id", "ts", F.col("values")[0].alias("speed")
    )
    want = stationary_intervals(batch_signals, speed="speed").collect()
    assert [(r.device_id, r.start_us, r.end_us, r.duration_s) for r in got] == [
        (r.device_id, r.start_us, r.end_us, r.duration_s) for r in want
    ]


def test_upsert_parquet_partition_scoped_merge(spark, tmp_path):
    # the session stays in static overwrite mode: the upsert only
    # appends, so it neither needs nor changes the session's mode
    target = str(tmp_path / "t")

    def files():
        return {
            os.path.join(d, f): os.stat(os.path.join(d, f)).st_mtime_ns
            for d, _, fs in os.walk(target)
            for f in fs
            if f.endswith(".parquet")
        }

    prev = spark.conf.get(_OVERWRITE_MODE)
    spark.conf.set(_OVERWRITE_MODE, "STATIC")
    try:
        df1 = spark.createDataFrame(
            [(1, "a", 10), (2, "a", 20), (3, "b", 30), (5, None, 50), (None, "a", 70)],
            "k int, p string, v int",
        )
        upsert_parquet(df1, target, keys=["k"], partition_cols=["p"])
        # overlapping re-delivery + one new row in partition b and one in
        # the null partition (read back null-safely, so k=5 survives)
        df2 = spark.createDataFrame(
            [(3, "b", 99), (4, "b", 40), (6, None, 60)], "k int, p string, v int"
        )
        upsert_parquet(df2, target, keys=["k"], partition_cols=["p"])
        # re-delivering both batches adds no file and touches none
        committed = files()
        for df in (df1, df2):
            upsert_parquet(df, target, keys=["k"], partition_cols=["p"])
        assert files() == committed
        assert spark.conf.get(_OVERWRITE_MODE) == "STATIC"
    finally:
        spark.conf.set(_OVERWRITE_MODE, prev)
    rows = [(r.k, r.p, r.v) for r in spark.read.parquet(target).collect()]
    # k=3 keeps the FIRST committed value (idempotent, first-writer-wins);
    # the null key matches itself, so it stays one row
    assert len(rows) == 7 and set(rows) == {
        (1, "a", 10), (2, "a", 20), (3, "b", 30), (4, "b", 40), (5, None, 50), (6, None, 60),
        (None, "a", 70),
    }


def test_repeated_unpartitioned_upsert_adds_no_file(spark, tmp_path):
    target = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    for _ in range(3):
        upsert_parquet(df, target, keys=["k"])
    files = [f for f in os.listdir(target) if f.endswith(".parquet")]
    assert len(files) == 1
    assert spark.read.parquet(target).count() == 2


def test_upsert_recovers_from_a_write_that_died(spark, tmp_path):
    """A write that died leaves part files only under ``_temporary``:
    they are not data, so the next upsert into an empty target neither
    fails to infer a schema nor lets its commit publish them."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    batch = spark.createDataFrame([(1, "a", 10), (2, "b", 20)], "k int, p string, v int")
    first, later = str(tmp_path / "first"), str(tmp_path / "later")
    upsert_parquet(batch.limit(1), later, keys=["k"], partition_cols=["p"])
    for target, task in ((first, "task"), (later, "task/p=b")):
        os.makedirs(os.path.join(target, "_temporary", "0", task))
        stale = pa.table({"k": pa.array([2], pa.int32()), "v": pa.array([20], pa.int32())})
        pq.write_table(stale, os.path.join(target, "_temporary", "0", task, "part-0.parquet"))
    assert not _table_exists(spark, first)
    for target in (first, later):
        upsert_parquet(batch, target, keys=["k"], partition_cols=["p"])
        assert _rows(spark, target) == [(1, 10, "a"), (2, 20, "b")]
        assert not os.path.exists(os.path.join(target, "_temporary"))


def test_stationary_sessions_stream_schema(spark, dirs):
    # schema/plan sanity for the session_window variant (batch-mode run)
    _write_raw(
        dirs,
        "s.log",
        [(i * 1000, 599, bytes([0x00, 0x40, 0x1F])) for i in range(5)],  # speed 0.0
    )
    signals = cs.read_canserver(spark, dirs["raw"])
    sessions = pl.stationary_sessions_stream(signals).collect()
    assert len(sessions) == 1
    s = sessions[0]
    assert s["n_samples"] == 5 and s["end_us"] - s["start_us"] >= 4_000_000


def test_streamed_sketch_rollup_matches_batch(spark, tmp_path, monkeypatch):
    """Sketch table materialized incrementally by the stream == sketch
    built in one batch pass: HLL registers are max-combine, so merging
    per-batch sketches over a partition of the corpus is exact w.r.t.
    the one-shot sketch — including across a second pipeline run that
    folds new files into the existing table, and whose first attempt
    fails in the middle of writing the table."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    from matt3r_data_ingestion_serverless_spark.functions import text as textfns
    from matt3r_data_ingestion_serverless_spark.sources.tables import load_table
    from tests.conftest import SF_CORRECTNESS

    docs = load_table(spark, SF_CORRECTNESS, "documents")
    stream_dir, sketch_dir = str(tmp_path / "docs"), str(tmp_path / "sketch")

    # first two chunks drain as separate micro-batches (maxFilesPerTrigger=1)
    docs.filter(F.col("doc_id") % 3 == 0).coalesce(1).write.mode("append").parquet(stream_dir)
    docs.filter(F.col("doc_id") % 3 == 1).coalesce(1).write.mode("append").parquet(stream_dir)
    pl.run_sketch_rollup_pipeline(
        spark, stream_dir, sketch_dir, str(tmp_path / "ck1"), max_files_per_trigger=1
    )
    # third chunk arrives later: a NEW pipeline run folds it into the table
    docs.filter(F.col("doc_id") % 3 == 2).coalesce(1).write.mode("append").parquet(stream_dir)

    # its first attempt fails in a task of the table write, i.e. after an
    # overwrite would already have cleared the target
    def boom(_batches):
        raise RuntimeError("sketch write failed")
        yield

    def failing_write(df):
        return DataFrameWriter(df.mapInPandas(boom, df.schema))

    monkeypatch.setattr(ClassicDataFrame, "write", property(failing_write))
    with pytest.raises(StreamingQueryException, match="sketch write failed"):
        pl.run_sketch_rollup_pipeline(
            spark, stream_dir, sketch_dir, str(tmp_path / "ck1"), max_files_per_trigger=1
        )
    monkeypatch.undo()
    # the rerun replays the failed batch from the checkpoint
    pl.run_sketch_rollup_pipeline(
        spark, stream_dir, sketch_dir, str(tmp_path / "ck1"), max_files_per_trigger=1
    )
    assert len(os.listdir(sketch_dir)) == 1  # superseded versions are dropped

    streamed = {
        r["source"]: r["est_distinct_terms"]
        for r in pl.sketch_estimates(spark, sketch_dir).collect()
    }
    tok = docs.select("source", F.explode(textfns.tokens(F.col("text"))).alias("term"))
    batch = tok.groupBy("source").agg(
        F.hll_sketch_agg("term", F.lit(pl.SKETCH_LG_K)).alias("sk")
    )
    expected = {
        r["source"]: r["est"]
        for r in batch.select(
            "source", F.hll_sketch_estimate("sk").cast("long").alias("est")
        ).collect()
    }
    glob = tok.agg(F.hll_sketch_agg("term", F.lit(pl.SKETCH_LG_K)).alias("sk")).select(
        F.hll_sketch_estimate("sk").cast("long").alias("est")
    )
    expected["ALL"] = glob.collect()[0]["est"]
    assert streamed == expected


def test_stream_stream_interval_join(spark, dirs):
    # speed at t=1s has an ap report at t=0.5s inside the 5 s horizon →
    # joins; speed at t=20s has no ap report in [15s, 20s] → dropped by
    # the inner interval join. Both sides are live streams.
    frames = [
        (500, 921, bytes([0x03])),  # ap ACTIVE_NOMINAL @ 0.5s
        (1000, 599, bytes([0x00, 0x40, 0x1F])),  # speed @ 1s
        (20_000, 599, bytes([0x00, 0x40, 0x1F])),  # speed @ 20s, no ap near
    ]
    _write_raw(dirs, "join.log", frames)
    signals = cs.read_canserver_stream(spark, dirs["raw"])
    joined = pl.speed_ap_joined_stream(signals)
    rows = pl.collect_stream(joined).select(
        F.unix_micros("s_ts").alias("s_us"), "ap_state"
    ).collect()
    assert len(rows) == 1
    assert rows[0].s_us - SYNC_US == 1_000_000
    assert rows[0].ap_state == "ACTIVE_NOMINAL"


def test_stateful_stream_under_rocksdb_provider(spark, dirs):
    """The applyInPandasWithState pipeline must run unchanged on the
    RocksDB state-store provider — the off-heap backend a production
    cluster uses so state is disk-bounded, not executor-memory-bounded.
    (JVM-side only: unlike the state-v2 Python protocol, no protobuf.)"""
    _write_raw(
        dirs,
        "r1.log",
        [(0, 921, bytes([0x00])), (100, 921, bytes([0x02])), (200, 921, bytes([0x03])),
         (300, 921, bytes([0x01]))],
    )
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        signals = cs.read_canserver_stream(spark, dirs["raw"])
        out = pl.ap_transitions_stream(signals)
        rows = pl.collect_stream(out).collect()
    finally:
        if prev:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    got = {(r.status, r.ts_us - SYNC_US) for r in rows}
    assert got == {("engagement", 200_000), ("disengagement", 300_000)}


def test_chained_stateful_operators_one_stream(spark, dirs):
    """Two stateful operators in ONE streaming query (Spark 3.4+):
    watermarked keyed dedupe feeding a session_window aggregate —
    the reference's W3 reorder buffer and W2 sessionization fused in a
    single topology instead of two checkpointed hops through a table."""
    zero = bytes([0x00, 0x40, 0x1F])
    frames = (
        [(i * 1000, 599, zero) for i in range(6)]
        + [(3000, 599, zero)]  # duplicate mid-run sample (re-delivery)
        + [(40_000, 599, zero)]  # second session after a 34 s gap
        + [(60_000, 599, zero)]  # watermark pusher: closes both sessions
    )
    _write_raw(dirs, "chain.log", frames)
    signals = cs.read_canserver_stream(spark, dirs["raw"])
    zeroes = (
        signals.filter((signals.channel == "speed") & (signals["values"][0] <= 0.0))
        .withWatermark("ts", "2 seconds")
        .dropDuplicatesWithinWatermark(["device_id", "ts"])
    )
    sessions = (
        zeroes.groupBy("device_id", F.session_window("ts", "10 seconds"))
        .agg(F.count("*").alias("n_samples"))
    )
    rows = pl.collect_stream(sessions).orderBy("n_samples").collect()
    # 6 unique zero samples in session 1 (duplicate absorbed by the
    # dedupe stage, NOT counted twice), 1 in session 2
    assert [r.n_samples for r in rows] == [1, 6]


def test_stream_static_dimension_join(spark, dirs):
    """Stream-static join: the live signal stream enriched against a
    static dimension table (device registry). The static side is
    re-planned per micro-batch — no state store involved — and rows
    without a registry entry pass through null-extended (left join)."""
    _write_raw(dirs, "s1.log", [(0, 599, bytes([0x00, 0x40, 0x1F]))], device="dev0")
    _write_raw(dirs, "s2.log", [(0, 599, bytes([0x00, 0x40, 0x1F]))], device="dev1")
    registry = spark.createDataFrame(
        [("dev0", "fleet-a")], "device_id string, fleet string"
    )
    signals = cs.read_canserver_stream(spark, dirs["raw"])
    enriched = signals.filter(signals.channel == "speed").join(
        registry, "device_id", "left"
    )
    rows = {(r.device_id, r.fleet) for r in pl.collect_stream(enriched).collect()}
    assert rows == {("dev0", "fleet-a"), ("dev1", None)}


def test_stream_reads_each_file_once_across_device_dirs(spark, dirs, tmp_path):
    """A file that lands in an earlier-sorted device directory after a
    drain is read in the next drain, and no file is read twice: the
    stream's progress is the set of files it has seen, not a position
    in one sorted listing over all devices."""
    from collections import Counter

    speed = bytes([0x00, 0x40, 0x1F])
    drained = []

    def sink(batch_df, _batch_id):
        rows = batch_df.select("device_id", F.unix_micros("ts").alias("ts_us")).collect()
        drained.extend((r.device_id, r.ts_us) for r in rows)

    def drain():
        (
            cs.read_canserver_stream(spark, dirs["raw"])
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "multi_dev_ckpt"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    # each file holds two samples at its own offsets, so a row names its file
    _write_raw(dirs, "f0.log", [(0, 599, speed), (1, 599, speed)], device="devA")
    _write_raw(dirs, "f0.log", [(10, 599, speed), (11, 599, speed)], device="devB")
    drain()
    _write_raw(dirs, "f1.log", [(20, 599, speed), (21, 599, speed)], device="devA")
    drain()

    got = Counter((dev, ts - SYNC_US) for dev, ts in drained)
    assert got == Counter(
        {
            ("devA", 0): 1, ("devA", 1_000): 1,  # devA/f0
            ("devB", 10_000): 1, ("devB", 11_000): 1,  # devB/f0
            ("devA", 20_000): 1, ("devA", 21_000): 1,  # devA/f1
        }
    )


def test_drain_topology_scheduler(spark, dirs, tmp_path):
    """scheduler.drain_topology: one call = one serverless-style sweep.
    Sweep 2 with no new data is a no-op; a new raw drop is picked up
    incrementally from the checkpoints."""
    from matt3r_data_ingestion_serverless_spark.streaming.scheduler import (
        drain_topology,
        topology_paths,
    )

    zero = bytes([0x00, 0x40, 0x1F])
    frames = [(i * 1000, 599, zero) for i in range(20)] + [
        (25_000, 921, bytes([0x02])),
        (26_000, 921, bytes([0x03])),
    ]
    _write_raw(dirs, "a.log", frames)
    root = str(tmp_path / "topo")

    c1 = drain_topology(spark, dirs["raw"], root)
    assert c1["silver_rows"] > 0
    assert c1["autopilot_events"] == 1  # 2→3 engagement

    # idempotent sweep: no new files → identical counts
    c2 = drain_topology(spark, dirs["raw"], root)
    assert c2 == c1

    # incremental: one more raw drop advances silver AND closes the
    # stationary session (watermark passes), without reprocessing a.log
    _write_raw(dirs, "b.log", [(65_000, 599, zero)])
    c3 = drain_topology(spark, dirs["raw"], root)
    assert c3["silver_rows"] == c1["silver_rows"] + 1
    gold = topology_paths(root)["gold_stationary"]
    assert [r[3] for r in _rows(spark, gold)] == [20]  # n_samples

    # T3: the same object re-landed under a new name adds no silver row
    # and leaves the session's n_samples as it was
    dev = os.path.join(dirs["raw"], "dev0")
    shutil.copy(os.path.join(dev, "a.log"), os.path.join(dev, "a_again.log"))
    assert drain_topology(spark, dirs["raw"], root) == c3
    assert [r[3] for r in _rows(spark, gold)] == [20]


_ZERO, _FAST = bytes([0x00, 0x40, 0x1F]), bytes([0x00, 0xF0, 0xFF])
# a 3-sweep, 2-device timeline: per sweep, each device's new file
_DROPS = [
    {"dev0": [(i * 1000, 599, _ZERO) for i in range(12)] + [(12_500, 921, b"\x02")],
     "dev1": [(i * 1000, 599, _FAST) for i in range(5)] + [(6_000, 921, b"\x03")]},
    {"dev0": [(13_000, 921, b"\x03"), (30_000, 599, _FAST), (40_000, 921, b"\x01")],
     "dev1": [(i * 1000, 599, _ZERO) for i in range(20, 30)]},
    {"dev0": [(i * 1000, 599, _ZERO) for i in range(55, 63)] + [(65_000, 599, _FAST)],
     "dev1": [(35_000, 921, b"\x00"), (64_000, 599, _FAST)]},
]


def _land_drop(dirs, k):
    for device, frames in _DROPS[k].items():
        _write_raw(dirs, f"{device}_{k}.log", frames, device=device)


def _rows(spark, path):
    if not _table_exists(spark, path):
        return []  # no qualifying events yet
    return sorted(tuple(r) for r in spark.read.parquet(path).collect())


def test_drain_topology_matches_sequential_legs(spark, dirs, tmp_path):
    """The gold legs of a sweep run at once; over a multi-sweep timeline
    the gold tables equal those of sequential run_*_pipeline calls over
    the same silver, and the session's overwrite mode is untouched."""
    from matt3r_data_ingestion_serverless_spark.streaming.scheduler import (
        drain_topology,
        topology_paths,
    )

    root = str(tmp_path / "topo")
    p = topology_paths(root)
    ref = {k: str(tmp_path / "ref" / k) for k in ("ap", "st", "ck_ap", "ck_st")}
    prev = spark.conf.get(_OVERWRITE_MODE)
    spark.conf.set(_OVERWRITE_MODE, "STATIC")
    try:
        for k in range(len(_DROPS)):
            _land_drop(dirs, k)
            counts = drain_topology(spark, dirs["raw"], root)
            pl.run_autopilot_pipeline(spark, p["silver"], ref["ap"], ref["ck_ap"])
            pl.run_stationary_pipeline(spark, p["silver"], ref["st"], ref["ck_st"])
            assert _rows(spark, p["gold_autopilot"]) == _rows(spark, ref["ap"])
            assert counts["autopilot_events"] == len(_rows(spark, ref["ap"]))
        assert spark.conf.get(_OVERWRITE_MODE) == "STATIC"
    finally:
        spark.conf.set(_OVERWRITE_MODE, prev)
    assert {r[2] for r in _rows(spark, ref["ap"])} == {"engagement", "disengagement"}
    sessions = _rows(spark, ref["st"])
    assert sessions and _rows(spark, p["gold_stationary"]) == sessions
    assert counts["stationary_intervals"] == len(sessions)
    assert not spark.streams.active


def test_gold_legs_read_each_silver_row_once(spark, dirs, tmp_path):
    """Committed silver files are never rewritten, so the files each gold
    leg's file-source log lists for a sweep hold exactly the silver rows
    that sweep added."""
    import json
    from urllib.parse import unquote, urlparse

    import pyarrow.parquet as pq

    from matt3r_data_ingestion_serverless_spark.streaming.scheduler import (
        drain_topology,
        topology_paths,
    )

    root = str(tmp_path / "topo")
    p = topology_paths(root)
    logged = {"autopilot": set(), "stationary": set()}  # batch ids counted

    def rows_read(leg):
        log = os.path.join(p[f"ckpt_{leg}"], "sources", "0")
        n = 0
        for batch in {b for b in os.listdir(log) if b.isdigit()} - logged[leg]:
            logged[leg].add(batch)
            with open(os.path.join(log, batch), encoding="utf-8") as f:
                entries = [json.loads(line) for line in f.read().splitlines()[1:]]
            n += sum(pq.read_metadata(unquote(urlparse(e["path"]).path)).num_rows for e in entries)
        return n

    silver = 0
    for k in range(len(_DROPS)):
        _land_drop(dirs, k)
        added = drain_topology(spark, dirs["raw"], root)["silver_rows"] - silver
        silver += added
        assert added > 0
        assert rows_read("autopilot") == rows_read("stationary") == added


def _last_job_id(spark):
    """The newest Spark job id the status store has recorded (-1 if
    none): the difference of two readings counts the jobs run between
    them, also once the store has dropped old jobs."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)  # newest first
    return jobs.head().jobId() if jobs.nonEmpty() else -1


def test_idle_sweep_runs_no_spark_job(spark, dirs, tmp_path):
    """A sweep with no new raw files starts no micro-batch and reads its
    counts from parquet footers: it runs no Spark job."""
    from matt3r_data_ingestion_serverless_spark.streaming.scheduler import drain_topology

    root = str(tmp_path / "topo")
    _land_drop(dirs, 0)
    counts = drain_topology(spark, dirs["raw"], root)
    assert counts["silver_rows"] > 0
    before = _last_job_id(spark)
    assert drain_topology(spark, dirs["raw"], root) == counts
    assert _last_job_id(spark) == before


def test_zone_counts_equal_table_counts(spark, dirs, tmp_path):
    """The footer-summed zone counts equal a Spark count of every zone
    after each sweep, and still do with a null partition, ``_SUCCESS``,
    ``.crc`` and a dead write's ``_temporary`` files in the zones."""
    from matt3r_data_ingestion_serverless_spark.streaming.scheduler import (
        _ZONES,
        _zone_counts,
        drain_topology,
        topology_paths,
    )

    root = str(tmp_path / "topo")
    p = topology_paths(root)

    def spark_counts():
        return {
            name: spark.read.parquet(p[zone]).count() if _table_exists(spark, p[zone]) else 0
            for name, zone in _ZONES.items()
        }

    for k in range(len(_DROPS)):
        _land_drop(dirs, k)
        counts = drain_topology(spark, dirs["raw"], root)
        assert counts == _zone_counts(p) == spark_counts()
    assert all(counts.values())

    null_day = spark.createDataFrame(
        [("dev9", 1, "engagement", 3.0, None)],
        "device_id string, ts_us bigint, status string, canbus_state double, date date",
    )
    upsert_parquet(null_day, p["gold_autopilot"], ["device_id", "ts_us", "status"], ["date"])
    assert os.path.isdir(os.path.join(p["gold_autopilot"], "date=__HIVE_DEFAULT_PARTITION__"))
    for zone in _ZONES.values():
        names = {f for _, _, fs in os.walk(p[zone]) for f in fs}
        assert "_SUCCESS" in names and any(f.endswith(".crc") for f in names)
        src = next(_data_files(p[zone]))
        os.makedirs(os.path.join(p[zone], "_temporary", "0", "task"))
        shutil.copy(src, os.path.join(p[zone], "_temporary", "0", "task", "part-0.parquet"))
    assert _zone_counts(p) == spark_counts()
    assert _zone_counts(p)["autopilot_events"] == counts["autopilot_events"] + 1


def test_drain_topology_failed_leg_stops_every_stream(spark, dirs, tmp_path, monkeypatch):
    """A failing gold leg fails the sweep only after the other leg has
    finished, so no stream is left running; the next sweep resumes the
    failed leg from its checkpoint."""
    from matt3r_data_ingestion_serverless_spark.streaming.scheduler import (
        drain_topology,
        topology_paths,
    )

    root = str(tmp_path / "topo")
    p = topology_paths(root)
    real_sink = pl.foreach_batch_upsert

    def failing_sink(target_dir, keys, partition_cols=None):
        if target_dir != p["gold_autopilot"]:
            return real_sink(target_dir, keys, partition_cols)

        def _sink(_batch_df, _batch_id):
            raise RuntimeError("autopilot sink down")

        return _sink

    zero = bytes([0x00, 0x40, 0x1F])
    frames = [(i * 1000, 599, zero) for i in range(20)] + [
        (25_000, 921, bytes([0x02])),
        (26_000, 921, bytes([0x03])),
    ]
    _write_raw(dirs, "a.log", frames)
    monkeypatch.setattr(pl, "foreach_batch_upsert", failing_sink)
    with pytest.raises(StreamingQueryException, match="autopilot sink down"):
        drain_topology(spark, dirs["raw"], root)
    assert not spark.streams.active
    # the stationary leg ran to completion before the sweep raised
    assert os.listdir(os.path.join(p["ckpt_stationary"], "commits"))

    monkeypatch.undo()
    counts = drain_topology(spark, dirs["raw"], root)
    assert counts["autopilot_events"] == 1


@pytest.mark.parametrize("leg", ["silver", "gold_stationary"])
def test_sweep_replayed_after_its_sink_wrote_reaches_the_same_tables(
    spark, dirs, tmp_path, monkeypatch, leg
):
    """A sweep killed after a sink has written its batch, but before the
    batch is committed, replays that batch on the next sweep: the
    insert-only sinks add nothing twice, so every zone ends equal to an
    uninterrupted twin's."""
    from matt3r_data_ingestion_serverless_spark.streaming.scheduler import (
        drain_topology,
        topology_paths,
    )

    root, twin_root = str(tmp_path / "topo"), str(tmp_path / "twin")
    p, twin = topology_paths(root), topology_paths(twin_root)
    real_sink = pl.foreach_batch_upsert
    killed = []

    def sink_then_kill(target_dir, keys, partition_cols=None):
        sink = real_sink(target_dir, keys, partition_cols)
        if target_dir != p[leg]:
            return sink

        def _sink(batch_df, batch_id):
            before = len(_rows(spark, target_dir))
            sink(batch_df, batch_id)
            if not killed and len(_rows(spark, target_dir)) > before:
                killed.append(batch_id)
                raise RuntimeError("killed after the sink wrote")

        return _sink

    monkeypatch.setattr(pl, "foreach_batch_upsert", sink_then_kill)
    for k in range(len(_DROPS)):
        _land_drop(dirs, k)
        drain_topology(spark, dirs["raw"], twin_root)
        try:
            drain_topology(spark, dirs["raw"], root)
        except StreamingQueryException as e:
            assert "killed after the sink wrote" in str(e)
            assert not spark.streams.active
            drain_topology(spark, dirs["raw"], root)  # replays the killed batch
    assert killed
    assert not spark.streams.active
    keys = {
        "silver": ["device_id", "channel", "ts"],
        "gold_autopilot": ["device_id", "ts_us", "status"],
        "gold_stationary": ["device_id", "start_us"],
    }
    for zone, key in keys.items():
        rows = _rows(spark, p[zone])
        assert rows and rows == _rows(spark, twin[zone]), zone
        assert not spark.read.parquet(p[zone]).groupBy(*key).count().filter("count > 1").take(1)


def test_foreach_batch_upsert_evaluates_each_batch_once(spark, tmp_path):
    """The sink persists the micro-batch: a Python UDF upstream runs once
    per row even though the upsert reads the batch twice (partition
    values, then the merge), and no cached block outlives the batch."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from matt3r_data_ingestion_serverless_spark.operators.merge import foreach_batch_upsert

    src, target = tmp_path / "src", str(tmp_path / "t")
    src.mkdir()
    pq.write_table(pa.table({"k": [1, 2, 3], "v": [10, 20, 30]}), src / "b0.parquet")
    pq.write_table(pa.table({"k": [3, 4, 5], "v": [99, 40, 50]}), src / "b1.parquet")
    calls = spark.sparkContext.accumulator(0)

    def part_of(k):
        calls.add(1)
        return "even" if k % 2 == 0 else "odd"

    def cached_rdds():
        storage = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return {i.id() for i in storage if i.numCachedPartitions()}

    before = cached_rdds()  # earlier tests' local checkpoints may remain
    stream = (
        spark.readStream.schema("k long, v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withColumn("p", F.udf(part_of, "string")("k"))
    )
    pl.run_once(stream, foreach_batch_upsert(target, ["k"], ["p"]))
    assert calls.value == 6  # 2 micro-batches x 3 rows, each row once
    assert cached_rdds() <= before
    out = {(r.k, r.p, r.v) for r in spark.read.parquet(target).collect()}
    assert out == {(1, "odd", 10), (2, "even", 20), (3, "odd", 30), (4, "even", 40), (5, "odd", 50)}


def test_empty_micro_batch_writes_nothing(spark, tmp_path):
    """An empty micro-batch costs the one job that collects its partition
    values: no target read, no write, not even the target directory."""
    from matt3r_data_ingestion_serverless_spark.operators.merge import foreach_batch_upsert

    target = str(tmp_path / "t")
    empty = spark.createDataFrame([], "k int, p string, v int")
    before = _last_job_id(spark)
    foreach_batch_upsert(target, ["k"], ["p"])(empty, 0)
    assert _last_job_id(spark) - before == 1
    assert not os.path.exists(target)

    one = spark.createDataFrame([(1, "a", 10)], "k int, p string, v int")
    upsert_parquet(one, target, ["k"], ["p"])
    committed = sorted(os.listdir(target))
    before = _last_job_id(spark)
    foreach_batch_upsert(target, ["k"], ["p"])(empty, 1)
    assert _last_job_id(spark) - before == 1
    assert sorted(os.listdir(target)) == committed


def test_streamed_bollinger_matches_batch_across_batches(spark, tmp_path):
    """The streamed Bollinger monitor must equal the batch window query
    even when a user's series is SPLIT across micro-batches (ring
    buffer carried in GroupState), and re-delivered rows must be
    ignored."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql import types as T

    from matt3r_data_ingestion_serverless_spark.plans.timeseries import (
        _BOLL_N,
        _bollinger_state_fn,
    )

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

    cents = [100 + (i * 37) % 50 for i in range(_BOLL_N + 10)] + [10_000]
    rows = [
        {"ts_us": i * 1_000_000, "event_id": i, "cents": c}
        for i, c in enumerate(cents)
    ]
    # batch reference: trailing window over the whole series
    exp = []
    for i in range(len(cents)):
        w = cents[max(0, i - _BOLL_N):i]
        if len(w) < _BOLL_N:
            continue
        n, s1, s2 = len(w), sum(w), sum(v * v for v in w)
        dev = n * cents[i] - s1
        exp.append((i * 1_000_000, dev * dev * (n - 1) > 4 * n * (n * s2 - s1 * s1)))

    state = FakeState()
    got = []
    split = len(rows) // 2
    for chunk in (rows[:split], rows[split:], rows[:split]):  # 3rd = re-delivery
        out = list(
            _bollinger_state_fn(("7",), iter([pd.DataFrame(chunk)]), state)
        )[0]
        got.extend(zip(out["ts_us"], out["breach"]))
    assert [(int(t), bool(b)) for t, b in got] == exp
    assert any(b for _, b in got)  # the planted 10000-cent spike breaches


def test_stream_stream_left_outer_join(spark, dirs):
    # Left-outer interval join with watermark-gated null emission. Three
    # files replayed as three micro-batches (maxFilesPerTrigger=1,
    # mtime-ordered): batch 1 has a matched speed sample (t=1s, ap at
    # 0.5s) and an unmatched one (t=20s, no ap in [15s, 20s]); batch 2
    # advances both watermarks past the unmatched row's join window;
    # batch 3 triggers the state eviction that emits its null row. The
    # engine may only emit a null once the watermark PROVES no late
    # match can arrive — so the null surfaces in batch 3, not batch 1.
    import os
    import pathlib

    _write_raw(dirs, "a.log", [
        (500, 921, bytes([0x03])),
        (1000, 599, bytes([0x00, 0x40, 0x1F])),
        (20_000, 599, bytes([0x00, 0x40, 0x1F])),
    ])
    _write_raw(dirs, "b.log", [
        (40_000, 921, bytes([0x03])),
        (40_000, 599, bytes([0x00, 0x40, 0x1F])),
    ])
    _write_raw(dirs, "c.log", [
        (60_000, 921, bytes([0x03])),
        (60_000, 599, bytes([0x00, 0x40, 0x1F])),
    ])
    # pin the replay order: the file source orders batches by mtime
    for i, name in enumerate(("a.log", "b.log", "c.log")):
        p = pathlib.Path(dirs["raw"], "dev0", name)
        os.utime(p, (1_000_000 + i, 1_000_000 + i))

    signals = cs.read_canserver_stream(
        spark, dirs["raw"], options={"maxFilesPerTrigger": "1"}
    )
    joined = pl.speed_ap_joined_stream(signals, how="leftOuter")
    rows = pl.collect_stream(joined).select(
        F.unix_micros("s_ts").alias("s_us"), "ap_state"
    ).collect()
    got = {(r.s_us - SYNC_US, r.ap_state) for r in rows}
    assert got == {
        (1_000_000, "ACTIVE_NOMINAL"),   # matched in batch 1
        (20_000_000, None),              # null emitted after eviction
        (40_000_000, "ACTIVE_NOMINAL"),  # matched in batch 2
        (60_000_000, "ACTIVE_NOMINAL"),  # matched in batch 3
    }


def _checkpoint_dirs(spark):
    base = spark.conf.get("spark.sql.streaming.checkpointLocation", None)
    base = base or tempfile.gettempdir()
    return set(os.listdir(base)) if os.path.isdir(base) else set()


def _temp_views(spark):
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def _land_parquet(tmp_path, n_files):
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "src"
    src.mkdir()
    for i in range(n_files):
        pq.write_table(pa.table({"k": [i % 2, 7], "v": [i, 1]}), src / f"b{i}.parquet")
    return str(src)


def _file_stream(spark, src):
    return spark.readStream.schema("k long, v long").option("maxFilesPerTrigger", 1).parquet(src)


def test_collect_stream_complete_mode_leaves_nothing_behind(spark, tmp_path):
    src = _land_parquet(tmp_path, 3)
    views, ckpts = _temp_views(spark), _checkpoint_dirs(spark)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "13")
    try:
        sums = _file_stream(spark, src).groupBy("k").agg(F.sum("v").alias("s"))
        out = pl.collect_stream(sums, "complete")
        assert spark.conf.get("spark.sql.shuffle.partitions") == "13"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert {(r.k, r.s) for r in out.collect()} == {(0, 2), (1, 1), (7, 3)}
    assert _temp_views(spark) == views
    assert not spark.streams.active
    assert _checkpoint_dirs(spark) == ckpts


def test_run_once_reraises_a_failed_batch_and_cleans_up(spark, tmp_path):
    src = _land_parquet(tmp_path, 2)
    ckpts = _checkpoint_dirs(spark)
    prev = spark.conf.get("spark.sql.shuffle.partitions")

    def fail(_df, _batch_id):
        raise RuntimeError("sink down")

    with pytest.raises(StreamingQueryException, match="sink down"):
        pl.run_once(_file_stream(spark, src), fail, state_partitions=3)
    assert not spark.streams.active
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    assert _checkpoint_dirs(spark) == ckpts


def test_run_once_returns_after_the_last_batch(spark, tmp_path):
    src = _land_parquet(tmp_path, 4)
    seen = []

    def record(df, batch_id):
        time.sleep(0.2)  # a slow sink: the wait must outlast every batch
        seen.append((batch_id, df.count()))

    pl.run_once(_file_stream(spark, src), record)
    assert seen == [(0, 2), (1, 2), (2, 2), (3, 2)]
    assert not spark.streams.active
