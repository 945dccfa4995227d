"""Round-4 batch 10: behavioural edit-distance drift, grid-bucketed
radius nearest neighbour, and the streamed session-window gate.

Three more operator families: Levenshtein distance between a user's
consecutive daily event sequences (behavioural drift — both engines
ship the same classic DP built-in), an exact
within-radius nearest-neighbour join via 3×3 grid-cell blocking (the
planar spatial-join primitive), and native `session_window`
sessionization run through Structured Streaming (the streamed twin of
`session_window_gaps`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.functions.rounding import round6, round6_sql
from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table
from matt3r_data_ingestion_serverless_spark.streaming.pipeline import collect_stream

# ---------------------------------------------------------------------------
# day-over-day edit-distance drift
# ---------------------------------------------------------------------------

_SEQ_CAP = 40  # first 40 events of the day (caps the O(len²) DP)

_EDIT_SQL = f"""
WITH e AS (
  SELECT user_id, CAST(ts AS DATE) AS day, ts, event_id,
         substr(event_type, 1, 1) AS ch
  FROM events
),
seqs AS (
  SELECT user_id, day,
         substr(string_agg(ch, '' ORDER BY ts, event_id), 1, {_SEQ_CAP}) AS seq
  FROM e GROUP BY 1, 2
),
l AS (
  SELECT user_id, day, seq,
         lag(seq) OVER (PARTITION BY user_id ORDER BY day) AS prev
  FROM seqs
)
SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
       CAST(length(seq) AS INT) AS seq_len,
       CAST(length(prev) AS INT) AS prev_len,
       CAST(levenshtein(seq, prev) AS INT) AS lev_dist
FROM l WHERE prev IS NOT NULL
"""


@register("seq_edit_distance_drift", sql=_EDIT_SQL)
def seq_edit_distance_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioural drift: Levenshtein distance between a user's daily
    event-type sequences on consecutive ACTIVE days (each event type
    encodes as its distinct first letter; the day string caps at 40
    events so the DP stays O(40²) per pair). High distance = the user's
    within-day behaviour pattern changed — the sequence-level sibling
    of user_transition_entropy's memoryless view.

    Scale: one shuffle to (user, day) for the ordered string build
    (sort_array over collect_list — the aggregation buffer is ≤ day
    size, and the cap bounds the carried string), one user-partitioned
    window for the lag, and the levenshtein itself is a JVM built-in
    (both engines run the identical textbook DP, so the integer result
    is trivially cross-engine exact)."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.to_date("ts").alias("day"),
        F.struct(
            F.col("ts"), F.col("event_id"), F.substring("event_type", 1, 1).alias("ch")
        ).alias("rec"),
    )
    seqs = (
        e.groupBy("user_id", "day")
        .agg(F.array_sort(F.collect_list("rec")).alias("recs"))
        .select(
            "user_id",
            "day",
            F.substring(
                F.array_join(F.transform("recs", lambda r: r.ch), ""), 1, _SEQ_CAP
            ).alias("seq"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("day")
    l = seqs.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "seq",
        F.lag("seq").over(w).alias("prev"),
    ).filter(F.col("prev").isNotNull())
    return l.select(
        "user_id",
        "day",
        F.length("seq").cast("int").alias("seq_len"),
        F.length("prev").cast("int").alias("prev_len"),
        F.levenshtein("seq", "prev").cast("int").alias("lev_dist"),
    )


# ---------------------------------------------------------------------------
# grid-bucketed radius nearest neighbour
# ---------------------------------------------------------------------------

_NN_RADIUS = 0.15  # planar degrees; grid cell edge = 2·radius

_NN_POINTS_SQL = """
pts AS (
  SELECT DISTINCT user_id,
         49.0 + ((user_id * 2654435761 % 1000003) % 1000) / 1000.0 AS lat,
         -123.0 + ((user_id * 40503 % 65539) % 1000) / 1000.0 AS lon
  FROM events
)
"""

_NN_SQL = f"""
WITH {_NN_POINTS_SQL},
pairs AS (
  SELECT a.user_id, b.user_id AS nn_id,
         sqrt((a.lat - b.lat) * (a.lat - b.lat)
            + (a.lon - b.lon) * (a.lon - b.lon)) AS dist
  FROM pts a JOIN pts b ON a.user_id != b.user_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY dist, nn_id) AS rk
  FROM pairs WHERE dist <= {_NN_RADIUS}
)
SELECT user_id, nn_id, {round6_sql('dist')} AS dist_r
FROM ranked WHERE rk = 1
"""


@register("geo_radius_nn_join", sql=_NN_SQL)
def geo_radius_nn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest neighbour within radius r for every user point (planar
    degree coordinates derived deterministically from user_id, as in
    geo_grid_density): the spatial-join primitive behind "closest
    depot/peer within range" queries. Users with no neighbour inside r
    drop out (inner semantics).

    Scale: EXACT with one equi-join — cell edge = 2r, so any point
    within r of p lies in p's 3×3 cell neighbourhood with a full
    r of slack (a floor-boundary ulp can shift an index by one, never
    the two it would take to escape the neighbourhood); the left side
    keys by its home cell, the right side replicates 9× to its
    neighbourhood cells, and the join is a plain hash join on the cell
    key (no BroadcastNestedLoopJoin, no distance cross-product). The
    oracle brute-forces all pairs. Per-candidate distance is computed
    with the identical expression tree in both engines, so the
    (dist, nn_id) tiebreak order is bit-stable."""
    ev = load_table(spark, sf_dir, "events")
    pts = (
        ev.select("user_id")
        .distinct()
        .select(
            "user_id",
            (
                49.0 + ((F.col("user_id") * 2654435761 % 1000003) % 1000) / 1000.0
            ).alias("lat"),
            (
                -123.0 + ((F.col("user_id") * 40503 % 65539) % 1000) / 1000.0
            ).alias("lon"),
        )
    )
    cell = lambda c: F.floor(c / (2 * _NN_RADIUS)).cast("long")  # noqa: E731
    a = pts.select(
        F.col("user_id").alias("a_id"),
        F.col("lat").alias("a_lat"),
        F.col("lon").alias("a_lon"),
        cell(F.col("lat")).alias("cx"),
        cell(F.col("lon")).alias("cy"),
    )
    shifts = F.explode(
        F.array(
            *[
                F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                for dx in (-1, 0, 1)
                for dy in (-1, 0, 1)
            ]
        )
    ).alias("sh")
    b = pts.select(
        F.col("user_id").alias("nn_id"),
        F.col("lat").alias("b_lat"),
        F.col("lon").alias("b_lon"),
        cell(F.col("lat")).alias("bx"),
        cell(F.col("lon")).alias("by"),
    ).select("*", shifts).select(
        "nn_id",
        "b_lat",
        "b_lon",
        (F.col("bx") + F.col("sh.dx")).alias("cx"),
        (F.col("by") + F.col("sh.dy")).alias("cy"),
    )
    dist = F.sqrt(
        (F.col("a_lat") - F.col("b_lat")) * (F.col("a_lat") - F.col("b_lat"))
        + (F.col("a_lon") - F.col("b_lon")) * (F.col("a_lon") - F.col("b_lon"))
    )
    cand = (
        a.join(b, ["cx", "cy"])
        .filter(F.col("a_id") != F.col("nn_id"))
        .select(F.col("a_id").alias("user_id"), "nn_id", dist.alias("dist"))
        .filter(F.col("dist") <= _NN_RADIUS)
    )
    wr = Window.partitionBy("user_id").orderBy("dist", "nn_id")
    return (
        cand.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") == 1)
        .select("user_id", "nn_id", round6(F.col("dist")).alias("dist_r"))
    )


# ---------------------------------------------------------------------------
# streamed session windows (11th streamed gate)
# ---------------------------------------------------------------------------

_SESS_SQL = """
WITH o AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
)
SELECT user_id,
       epoch_us(min(ts)) AS session_start_us,
       epoch_us(max(ts) + INTERVAL 30 MINUTE) AS session_end_us,
       count(*) AS n_events
FROM s GROUP BY user_id, sid
"""


@register("streamed_session_windows", sql=_SESS_SQL)
def streamed_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native `session_window` sessionization through Structured
    Streaming (30-minute inactivity gap, complete mode): the streaming
    state store carries each user's OPEN sessions across micro-batches
    and fuses windows that an out-of-order event bridges — the
    streamed twin of `session_window_gaps`, graded against the same
    batch islands oracle (session end = last event + gap; a gap of
    exactly 30 min starts a new session, mirrored as `>=` in the SQL).
    At production this runs in append mode behind a watermark so
    closed sessions emit incrementally and state evicts; complete mode
    here lets the entire result be graded (update mode is rejected by
    the engine for session windows — checked empirically)."""
    from matt3r_data_ingestion_serverless_spark.plans.telemetry import events_stream

    out = (
        events_stream(spark, sf_dir)
        .select("user_id", "ts")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
    )
    return collect_stream(out, "complete").select(
        "user_id",
        F.unix_micros(F.col("w.start")).alias("session_start_us"),
        F.unix_micros(F.col("w.end")).alias("session_end_us"),
        "n_events",
    )
