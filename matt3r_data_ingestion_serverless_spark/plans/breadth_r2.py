"""Round-2 breadth extensions: training-data mixture sampling, stateful
integer folds (capped balance), capped sessionization, arg-extrema
aggregates, regex extraction surface, a data-driven curation rules
engine, and last-touch attribution on the as-of operator.

Each query demonstrates a distinct engine capability the earlier
families don't: non-linear integer folds, two-level session keys,
deterministic MAX_BY/MIN_BY, config-as-data filtering, and
business-semantics composition over the temporal operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.functions.rounding import (
    CENTS_SQL,
    cents,
    round6,
    round6_sql,
)
from matt3r_data_ingestion_serverless_spark.operators.temporal import asof_join
from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# training-data mixture sampling
# ---------------------------------------------------------------------------

_MIX_WEIGHTS = {"en": 0.6, "de": 0.1, "es": 0.1, "fr": 0.1, "zh": 0.1}
_MIX_FRACTION = 0.5  # target corpus size = half the input corpus

_MIX_CASE = "CASE lang " + " ".join(
    f"WHEN '{lang}' THEN {w}" for lang, w in _MIX_WEIGHTS.items()
) + " ELSE 0.0 END"


@register(
    "ns_dataset_mixture_sampling",
    sql=f"""
WITH quota AS (
  SELECT CAST(floor(({_MIX_CASE})
               * ((SELECT CAST(count(*) AS DOUBLE) FROM documents)
                  * {_MIX_FRACTION})) AS BIGINT) AS q, lang AS qlang
  FROM (SELECT DISTINCT lang FROM documents) langs
),
ranked AS (
  SELECT doc_id, lang, source,
         row_number() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
           AS rnk
  FROM documents
)
SELECT doc_id, lang, source, rnk
FROM ranked JOIN quota ON lang = qlang AND rnk <= q
""",
)
def ns_dataset_mixture_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture sampling: draw a target corpus whose language
    composition matches configured weights (60% en, 10% each de/es/fr/
    zh), the way LLM pretraining mixes re-weight heterogeneous sources.
    Selection is a deterministic pseudo-random permutation — rank by
    md5(doc_id) within each stratum, take the per-stratum quota
    floor(weight × target_size) — so the sample is reproducible across
    runs/engines and quota arithmetic uses floor (a pure binary
    function, immune to the round() repr trap). Scale: one window per
    stratum (hash-partitioned by lang); quotas are a tiny broadcast
    join; no global sort. A stratum short of quota contributes what it
    has — the join cap, not an error."""
    docs = load_table(spark, sf_dir, "documents")
    total = docs.agg(F.count("*").alias("n"))
    weight = F.element_at(
        F.create_map(
            *[F.lit(x) for kv in _MIX_WEIGHTS.items() for x in kv]
        ),
        F.col("lang"),
    )
    quota = (
        docs.select("lang")
        .distinct()
        .crossJoin(F.broadcast(total))
        .select(
            F.col("lang").alias("qlang"),
            F.floor(
                F.coalesce(weight, F.lit(0.0)) * (F.col("n") * _MIX_FRACTION)
            ).alias("q"),
        )
    )
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    ranked = docs.select(
        "doc_id", "lang", "source", F.row_number().over(w).alias("rnk")
    )
    return ranked.join(
        F.broadcast(quota),
        (ranked.lang == quota.qlang) & (ranked.rnk <= quota.q),
    ).select("doc_id", "lang", "source", "rnk")


# ---------------------------------------------------------------------------
# capped running balance — a non-linear integer fold
# ---------------------------------------------------------------------------


@register(
    "capped_running_balance",
    sql=f"""
WITH txn AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'purchase' THEN {CENTS_SQL}
              ELSE -{CENTS_SQL} END AS delta
  FROM events WHERE event_type IN ('purchase', 'error')
)
SELECT user_id, count(*) AS n_txns,
       list_reduce(list_prepend(CAST(0 AS BIGINT),
                                list(delta ORDER BY ts, event_id)),
                   (acc, x) -> greatest(CAST(0 AS BIGINT), acc + x))
         AS final_balance_cents
FROM txn GROUP BY user_id
""",
)
def capped_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Floor-capped running balance (inventory / prepaid-credit
    semantics): balance_t = max(0, balance_{t-1} + delta_t). The cap
    makes the recurrence NON-LINEAR — unlike a running SUM there is no
    window-frame rewrite (the clamp depends on every prefix), so this
    is the second fold operator (after EWMA) built on aggregate() over
    a sorted collect_list. Purchases credit, errors debit, all in
    integer cents: the fold is exact integer arithmetic, deterministic
    on any engine with zero float caveats."""
    ev = load_table(spark, sf_dir, "events")
    txn = ev.filter(F.col("event_type").isin("purchase", "error")).select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        F.when(F.col("event_type") == "purchase", cents())
        .otherwise(-cents())
        .alias("delta"),
    )
    deltas = F.transform(
        F.array_sort(
            F.collect_list(F.struct("ts_us", "event_id", F.col("delta").alias("d")))
        ),
        lambda s: s["d"],
    )
    bal = F.aggregate(
        deltas,
        F.lit(0).cast("long"),
        lambda acc, x: F.greatest(F.lit(0).cast("long"), acc + x),
    )
    return txn.groupBy("user_id").agg(
        F.count("*").alias("n_txns"),
        bal.alias("final_balance_cents"),
    )


# ---------------------------------------------------------------------------
# sessionization with inactivity gap AND max-length cap
# ---------------------------------------------------------------------------

_GAP_US = 6 * 3600 * 1_000_000  # 6 h inactivity closes a session
_CAP_US = 24 * 3600 * 1_000_000  # 24 h hard cap splits long sessions


@register(
    "session_cap_split",
    sql=f"""
WITH seq AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > {_GAP_US} THEN 1
              WHEN lag(epoch_us(ts))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   IS NULL THEN 1
              ELSE 0 END AS is_new
  FROM events
),
gsess AS (
  SELECT user_id, event_id, ts_us,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                           ROWS UNBOUNDED PRECEDING) AS g
  FROM seq
),
sub AS (
  SELECT user_id, g, ts_us,
         (ts_us - min(ts_us) OVER (PARTITION BY user_id, g)) // {_CAP_US}
           AS s
  FROM gsess
)
SELECT user_id, g AS session_no, s AS split_no, count(*) AS n_events,
       min(ts_us) AS start_us, max(ts_us) AS end_us
FROM sub GROUP BY user_id, g, s
""",
)
def session_cap_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level sessionization: inactivity gaps (>6 h) open sessions
    (classic islands via cumulative is_new flags), then a 24 h hard cap
    splits marathon sessions into aligned sub-windows from the session
    start — the semantics analytics stacks call 'session timeout + max
    duration'. Both levels are window algebra over one user_id shuffle;
    the cap is integer division of the offset-from-session-start, no
    second pass. (session_window_gaps covers the native Spark
    session_window; this is the composable two-key variant.)"""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    seq = ev.select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us")
    ).withColumn(
        "is_new",
        F.when(
            (F.col("ts_us") - F.lag("ts_us").over(w) > _GAP_US)
            | F.lag("ts_us").over(w).isNull(),
            1,
        ).otherwise(0),
    )
    gsess = seq.withColumn(
        "g", F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    wg = Window.partitionBy("user_id", "g")
    sub = gsess.withColumn(
        "s",
        ((F.col("ts_us") - F.min("ts_us").over(wg)) / _CAP_US).cast("long"),
    )
    return sub.groupBy(
        "user_id",
        F.col("g").alias("session_no"),
        F.col("s").alias("split_no"),
    ).agg(
        F.count("*").alias("n_events"),
        F.min("ts_us").alias("start_us"),
        F.max("ts_us").alias("end_us"),
    )


# ---------------------------------------------------------------------------
# arg-extrema aggregate surface
# ---------------------------------------------------------------------------


@register(
    "argmax_aggregates",
    sql="""
SELECT event_type,
       arg_max(user_id, event_id) AS latest_user,
       arg_min(user_id, event_id) AS earliest_user,
       count_if(value > 250.0) AS n_high_value,
       count(*) AS n_events
FROM events GROUP BY event_type
""",
)
def argmax_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAX_BY / MIN_BY / COUNT_IF: the arg-extrema aggregates that save
    a self-join ("who produced the extreme row?" without joining the
    extreme back). Keyed on event_id — unique, so the arg is
    deterministic; keying arg_max on a non-unique column is the classic
    nondeterminism bug this query's contract documents by construction.
    One hash agg, all algebraic, map-side partials."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.max_by("user_id", "event_id").alias("latest_user"),
        F.min_by("user_id", "event_id").alias("earliest_user"),
        F.count_if(F.col("value") > 250.0).alias("n_high_value"),
        F.count("*").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# regex extraction surface
# ---------------------------------------------------------------------------


@register(
    "regex_extract_surface",
    sql=r"""
SELECT event_id,
       array_to_string(regexp_extract_all(props, '[0-9]+'), ',') AS digits,
       regexp_replace(event_type, '[aeiou]', '', 'g') AS consonants,
       CASE WHEN regexp_matches(event_type, '^(click|view)$') THEN 1 ELSE 0 END
         AS is_engagement
FROM events
""",
)
def regex_extract_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex extraction surface: REGEXP_EXTRACT_ALL (all numeric runs
    in the JSON props), global REGEXP_REPLACE (vowel strip), and an
    anchored match flag. All three run inside codegen on the scan
    stage — row-parallel, no shuffle at all; the oracle proves the two
    engines' regex dialects agree on this (POSIX-class-free) subset."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.array_join(
            F.regexp_extract_all(F.col("props"), F.lit("[0-9]+"), 0), ","
        ).alias("digits"),
        F.regexp_replace(F.col("event_type"), "[aeiou]", "").alias("consonants"),
        F.when(
            F.col("event_type").rlike("^(click|view)$"), F.lit(1)
        ).otherwise(0).alias("is_engagement"),
    )


# ---------------------------------------------------------------------------
# data-driven curation rules engine
# ---------------------------------------------------------------------------

_RULES = [
    # (rule_id, lang filter or None=any, min_chars, max_chars)
    (1, "en", 100, 100_000),
    (2, "de", 200, 5_000),
    (3, None, 300, 10_000),
]

_RULES_VALUES = ", ".join(
    f"({rid}, {'NULL' if lang is None else repr(lang)}, {lo}, {hi})"
    for rid, lang, lo, hi in _RULES
)


@register(
    "ns_rules_engine_filter",
    sql=f"""
WITH rules(rule_id, lang_eq, min_chars, max_chars) AS (
  VALUES {_RULES_VALUES}
)
SELECT rule_id, count_if((lang_eq IS NULL OR lang = lang_eq)
                         AND n_chars BETWEEN min_chars AND max_chars)
         AS n_pass,
       count(*) AS n_docs,
       {round6_sql("CAST(count_if((lang_eq IS NULL OR lang = lang_eq)"
                   " AND n_chars BETWEEN min_chars AND max_chars) AS DOUBLE)"
                   " / count(*)")} AS pass_rate
FROM documents CROSS JOIN rules
GROUP BY rule_id
""",
)
def ns_rules_engine_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Config-as-data curation rules: quality gates live in a RULES
    table (lang scope + length band), not in code — editing the mix
    means editing rows, the way production curation pipelines version
    their filter configs. Every (doc, rule) pair is evaluated in one
    broadcast cross join (|rules| ≪ corpus, so the fan-out is ×3 on
    the small side of a map-side join) and graded into per-rule pass
    rates. At 100 TB the same shape applies rule sets of hundreds of
    predicates in a single corpus pass instead of one scan per rule."""
    docs = load_table(spark, sf_dir, "documents")
    rules = spark.createDataFrame(
        _RULES, "rule_id int, lang_eq string, min_chars int, max_chars int"
    )
    passed = (
        F.col("lang_eq").isNull() | (F.col("lang") == F.col("lang_eq"))
    ) & F.col("n_chars").between(F.col("min_chars"), F.col("max_chars"))
    return (
        docs.crossJoin(F.broadcast(rules))
        .groupBy("rule_id")
        .agg(
            F.count_if(passed).alias("n_pass"),
            F.count("*").alias("n_docs"),
            round6(
                F.count_if(passed).cast("double") / F.count("*")
            ).alias("pass_rate"),
        )
    )


# ---------------------------------------------------------------------------
# last-touch attribution on the as-of operator
# ---------------------------------------------------------------------------

_ATTR_WINDOW_US = 7 * 24 * 3600 * 1_000_000


@register(
    "last_touch_attribution",
    sql=f"""
WITH p AS (SELECT user_id, ts, {CENTS_SQL} AS rev_cents
           FROM events WHERE event_type = 'purchase'),
t AS (SELECT user_id, ts, event_type FROM events
      WHERE event_type IN ('click', 'view'))
SELECT t.event_type AS touch_type, count(*) AS n_purchases,
       round(CAST(sum(p.rev_cents) AS DOUBLE) / 100.0, 2) AS revenue
FROM p ASOF JOIN t ON p.user_id = t.user_id AND t.ts <= p.ts
WHERE epoch_us(p.ts) - epoch_us(t.ts) <= {_ATTR_WINDOW_US}
GROUP BY t.event_type
""",
)
def last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: each purchase credits the
    user's most recent click/view within a 7-day lookback; revenue
    rolls up by touch channel. Business-semantics composition over the
    as-of operator (operators/temporal.py) — the same union + last
    (ignorenulls) window plan as asof_join_purchase_view, one user_id
    shuffle, then a 2-row channel agg in exact cents. Purchases with
    no eligible touch fall out (inner-asof semantics), matching the
    DuckDB ASOF JOIN oracle."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", cents().alias("rev_cents")
    )
    t = ev.filter(F.col("event_type").isin("click", "view")).select(
        "user_id", "ts", F.col("event_type").alias("touch_type")
    )
    joined = asof_join(
        p, t, key="user_id", left_ts="ts", right_ts="ts", right_cols=["touch_type"]
    )
    return (
        joined.filter(
            F.col("asof_ts").isNotNull()
            & (F.unix_micros("ts") - F.unix_micros("asof_ts") <= _ATTR_WINDOW_US)
        )
        .groupBy("touch_type")
        .agg(
            F.count("*").alias("n_purchases"),
            F.round(F.sum("rev_cents").cast("double") / 100.0, 2).alias("revenue"),
        )
    )
