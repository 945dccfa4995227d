"""Views over the long-format silver signal table reproducing the
reference's two output shapes (SURVEY.md §1.1-2/3).

- ``signals_to_wide``: the 14-column wide row table
  (parse_canserver_filtered_log.py:141-142) — long→wide pivot (A1) as a
  single conditional aggregation; real NULLs replace the 'NA' sentinel.
- ``channel_documents``: the per-hour channel-series JSON documents
  (parse_canserver_filtered_log.py:313-325,350) — collect + sort +
  to_json at the sink boundary only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _first_values(channel: str, col: str = "`values`") -> str:
    return f"first(IF(channel = '{channel}', {col}, NULL), true)"


def signals_to_wide(signals: DataFrame) -> DataFrame:
    """Long signals → wide rows keyed by (device_id, ts). One hash
    aggregate (map-side partials); no Window, no sort. Unit columns are
    constants by construction (acc 'm/s^2', gyro 'rad/s', speed 'KPH',
    parse_canserver_filtered_log.py:154,165,169)."""
    return (
        signals.groupBy("device_id", "ts")
        .agg(
            F.expr(f"{_first_values('accel')} AS _accel"),
            F.expr(f"{_first_values('gyro')} AS _gyro"),
            F.expr(f"{_first_values('location')} AS _loc"),
            F.expr(f"{_first_values('speed')} AS _speed"),
            F.expr(f"{_first_values('ap_status', 'state')} AS AP_status"),
        )
        .selectExpr(
            "device_id",
            "ts",
            "_accel[0] AS long_acc",
            "_accel[1] AS lat_acc",
            "_accel[2] AS vert_acc",
            "IF(_accel IS NULL, NULL, 'm/s^2') AS acc_unit",
            "_gyro[0] AS yaw_rate",
            "_gyro[1] AS pitch_rate",
            "_gyro[2] AS roll_rate",
            "IF(_gyro IS NULL, NULL, 'rad/s') AS gyro_unit",
            "_loc[0] AS lat",
            "_loc[1] AS long",
            "_speed[0] AS speed",
            "IF(_speed IS NULL, NULL, 'KPH') AS speed_unit",
            "AP_status",
        )
    )


def channel_documents(signals: DataFrame) -> DataFrame:
    """Per (device, hour) channel-document rows: each channel becomes a
    time-sorted array of {timestamp, value} structs; ``to_json`` only at
    this sink boundary (the engine's internal format stays columnar).

    ``sort_array`` on struct(ts_s, ...) replaces the reference's
    implicit scan order (O1) with an explicit, shuffle-local sort.
    """

    def collected(channel: str):
        struct = F.struct(
            (F.unix_micros(F.col("ts")) / 1e6).alias("timestamp"),
            F.col("values").alias("value"),
        )
        return F.sort_array(
            F.collect_list(F.when(F.col("channel") == channel, struct))
        ).alias(channel)

    ap_struct = F.struct(
        (F.unix_micros(F.col("ts")) / 1e6).alias("timestamp"),
        F.col("state").alias("value"),
    )
    docs = signals.groupBy(
        "device_id", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(
        collected("accel"),
        collected("gyro"),
        collected("location"),
        collected("speed"),
        F.sort_array(
            F.collect_list(F.when(F.col("channel") == "ap_status", ap_struct))
        ).alias("ap_status"),
    )
    return docs.select(
        "device_id",
        "hour",
        F.to_json(
            F.struct("accel", "gyro", "location", "speed", "ap_status")
        ).alias("document"),
    )


def stationary_documents(intervals: DataFrame) -> DataFrame:
    """Gold stationary-interval documents in the reference's exact
    shape (infer_stationary_states.py:108-114):
    ``{"IMU-telematics": {"stationary-state": [{"start": s, "end": e},…]}}``
    one row per (device, day). Epoch-seconds floats match the
    reference's float timestamps."""
    iv = F.struct(
        (F.col("start_us") / 1e6).alias("start"),
        (F.col("end_us") / 1e6).alias("end"),
    )
    day = F.to_date(F.timestamp_micros(F.col("start_us"))).alias("day")
    grouped = intervals.groupBy("device_id", day).agg(
        F.sort_array(F.collect_list(iv)).alias("_ivs")
    )
    return grouped.select(
        "device_id",
        "day",
        F.to_json(
            F.struct(
                F.struct(F.col("_ivs").alias("stationary-state")).alias("IMU-telematics")
            )
        ).alias("document"),
    )


def autopilot_documents(events: DataFrame) -> DataFrame:
    """Gold autopilot-event documents in the reference's shape
    (infer_autopilot_states.py:91-95):
    ``{"auditory": {"engagement": [{"timestamp": t, "canbus_state": c}],
    "disengagement": […]}}`` per (device, day) — keeping ALL events (the
    reference's dict-update drops all but the last per status, a
    documented serialization bug; its merge logic shows all were
    intended, SURVEY §3.3)."""

    def by_status(status: str):
        ev = F.struct(
            (F.col("ts_us") / 1e6).alias("timestamp"),
            F.col("canbus_state").alias("canbus_state"),
        )
        return F.sort_array(
            F.collect_list(F.when(F.col("status") == status, ev))
        ).alias(status)

    day = F.to_date(F.timestamp_micros(F.col("ts_us"))).alias("day")
    grouped = events.groupBy("device_id", day).agg(
        by_status("engagement"), by_status("disengagement")
    )
    return grouped.select(
        "device_id",
        "day",
        F.to_json(
            F.struct(F.struct("engagement", "disengagement").alias("auditory"))
        ).alias("document"),
    )
