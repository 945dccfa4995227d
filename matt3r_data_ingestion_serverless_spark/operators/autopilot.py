"""Lag-based state-transition detection (SURVEY.md §2.5 W1).

Reference semantics (infer_autopilot_states.py:78-88): order the
autopilot-state code series by time; emit ``engagement`` when the
current code == 3 (ACTIVE_NOMINAL) and the previous code <= 2, and
``disengagement`` when current <= 2 and previous == 3. Transitions
through 4/5/8/9 are deliberately ignored. The reference then keeps only
the LAST event per status (dict .update, infer_autopilot_states.py:95)
— a lossy serialization artifact; we keep all events (the merge logic
at :108-114 shows keep-all was intended).

Spark-first, and the 100×-scale fix (VERDICT r04 finding #1): a lag
window keyed by device alone single-tasks a device's entire history on
backfill. Instead the lag window is keyed by (device, DAY), and the one
lag a bucket cannot see — its first sample's predecessor across the
bucket edge — comes from a per-bucket summary. The plan is one scan and
two exchanges:

    exchange 1, keyed (device, DAY): the in-bucket lag gives each
        sample's status; in the same exchange one aggregate per
        (device, day) collects the bucket's transitions, its first
        sample and its last code
    exchange 2, keyed device: a device-ordered lag over the per-bucket
        rows hands each bucket the previous data-bearing bucket's last
        code (NULL included: a NULL-code final sample suppresses the
        next bucket's first transition, as in a single scan), which
        decides the first sample's status; the first transition and
        the collected list are exploded back to event rows

Max task input of the sample window is one device-day. The device
window holds one row per data-bearing bucket, so it is bounded by days
of history, not samples; each collected list is bounded by that
device-day's transitions. No branch of the plan re-reads the input,
so a scan or decode upstream of it runs once.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# parse_canserver_filtered_log.py:109-110 — 4-bit autopilot enum.
AP_STATE_NAMES = {
    0: "DISABLED",
    1: "UNAVAILABLE",
    2: "AVAILABLE",
    3: "ACTIVE_NOMINAL",
    4: "ACTIVE_RESTRICTED",
    5: "ACTIVE_NAV",
    8: "ABORTING",
    9: "ABORTED",
    14: "FAULT",
    15: "SNA",
}
# infer_autopilot_states.py:22-23 — the reverse map used by the infer
# stage omits FAULT/SNA (KeyError in the reference); we map them to NULL.
AP_CODE_BY_NAME = {v: k for k, v in AP_STATE_NAMES.items() if k < 14}
_AP_CODE_MAP = "map({})".format(", ".join(f"'{n}', {c}" for n, c in AP_CODE_BY_NAME.items()))


def ap_state_code(state: Column) -> Column:
    """String enum → int code (SURVEY §2.3 D6): one literal map lookup,
    NULL for FAULT, SNA, NULL and any unknown name."""
    return F.try_element_at(F.expr(_AP_CODE_MAP), state)


def ap_transitions(
    df: DataFrame,
    key: str = "device_id",
    ts: str = "ts",
    code: str = "code",
    *,
    active_code: int = 3,
    inactive_max: int = 2,
    bucket: str | None = "day",
) -> DataFrame:
    """Emit (key, ts_us, status, canbus_state) transition events.

    ``status`` is 'engagement' | 'disengagement'. Generalized over the
    code column so the same operator runs on any ordered enum series.
    ``bucket`` is the date_trunc granularity of the scale-out lag
    window; None falls back to the single-window-per-device plan (kept
    as the differential twin for property tests).
    """

    def event(t: str, cur: str, prev: str) -> list[str]:
        """The output columns of a sample at ``t`` with code ``cur``
        whose predecessor has code ``prev``; NULL status = no event."""
        return [
            f"unix_micros({t}) AS ts_us",
            f"CASE WHEN {cur} = {active_code} AND {prev} <= {inactive_max} THEN 'engagement'"
            f" WHEN {cur} <= {inactive_max} AND {prev} = {active_code} THEN 'disengagement'"
            " END AS status",
            f"CAST({cur} AS DOUBLE) AS canbus_state",
        ]

    if bucket is None:
        w = f"PARTITION BY {key} ORDER BY {ts}"
        return (
            df.selectExpr(key, ts, code, f"lag({code}) OVER ({w}) AS _prev")
            .selectExpr(key, *event(ts, code, "_prev"))
            .where("status IS NOT NULL")
        )
    w = f"PARTITION BY {key}, _bkt ORDER BY {ts}"
    first = ", ".join(event("_f.t", "_f.c", "_pc"))
    return (
        df.selectExpr(key, ts, code, f"date_trunc('{bucket}', {ts}) AS _bkt")
        .selectExpr("*", f"lag({code}) OVER ({w}) AS _prev")
        .selectExpr(key, ts, code, "_bkt", f"struct({', '.join(event(ts, code, '_prev'))}) AS _ev")
        # same exchange as the window: its partitioning satisfies the groupBy
        .groupBy(key, "_bkt")
        .agg(
            F.expr("collect_list(IF(_ev.status IS NULL, NULL, _ev)) AS _evs"),
            F.expr(f"min_by(struct({ts} AS t, {code} AS c), {ts}) AS _f"),
            F.expr(f"max_by({code}, {ts}) AS _lc"),
        )
        # one row per data-bearing bucket: bounded by days, not samples
        .selectExpr(
            key, "_evs", "_f", f"lag(_lc) OVER (PARTITION BY {key} ORDER BY _bkt) AS _pc"
        )
        .selectExpr(key, f"inline(concat(array(struct({first})), _evs))")
        .where("status IS NOT NULL")
    )
