"""Round-4 batch 16: Apriori frequent triples and the streamed SCD2
point-in-time enrichment gate.

Two operator families: candidate-pruned frequent-itemset mining one
size up from basket_pair_lift's pairs (the Apriori join+prune step on
a composite-item universe where pruning actually bites), and the
13th streamed gate: events enriched AS-OF their effective date against
the SCD2 dimension history (the feature-store PIT-correctness rule run
inside a stream).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table
from matt3r_data_ingestion_serverless_spark.streaming.pipeline import collect_stream

# ---------------------------------------------------------------------------
# Apriori frequent triples
# ---------------------------------------------------------------------------

# item = event_type × cents-parity bucket (10 items; baskets average
# ~2 distinct items, so a wider universe starves every triple) with a
# RELATIVE 1% support threshold — calibrated so the frequent set is
# non-trivial (≈22 of 120 possible triples at the graded SF) and the
# prune step actually eliminates candidates at every SF
_APRIORI_MINSUP = 0.01

_ITEM_SQL = "event_type || '_' || CAST(CAST(floor(value * 100 + 0.5) AS BIGINT) % 2 AS VARCHAR)"

_TRIPLES_SQL = f"""
WITH b0 AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day, {_ITEM_SQL} AS item
  FROM events
),
nb AS (SELECT count(DISTINCT (user_id, day)) AS n FROM b0),
minsup AS (SELECT CAST(ceil(n * {_APRIORI_MINSUP}) AS BIGINT) AS m FROM nb),
f1 AS (
  SELECT item FROM b0 GROUP BY item
  HAVING count(*) >= (SELECT m FROM minsup)
),
b1 AS (SELECT b0.* FROM b0 JOIN f1 USING (item)),
f2 AS (
  SELECT a.item AS ia, b.item AS ib
  FROM b1 a JOIN b1 b
    ON a.user_id = b.user_id AND a.day = b.day AND a.item < b.item
  GROUP BY 1, 2 HAVING count(*) >= (SELECT m FROM minsup)
),
cand AS (
  -- Apriori candidate gen: join pairs sharing the first item, then
  -- PRUNE candidates whose third face (ib, ic) is not frequent
  SELECT p.ia, p.ib, q.ib AS ic
  FROM f2 p JOIN f2 q ON p.ia = q.ia AND p.ib < q.ib
  WHERE EXISTS (SELECT 1 FROM f2 r WHERE r.ia = p.ib AND r.ib = q.ib)
),
sup AS (
  SELECT c.ia, c.ib, c.ic, count(*) AS support
  FROM cand c
  JOIN b1 x ON x.item = c.ia
  JOIN b1 y ON y.item = c.ib AND y.user_id = x.user_id AND y.day = x.day
  JOIN b1 z ON z.item = c.ic AND z.user_id = x.user_id AND z.day = x.day
  GROUP BY 1, 2, 3
),
-- scale-aware threshold (r08): the 1% bar when it reports anything,
-- else the top-10 support cut — the support distribution concentrates
-- near its mean as baskets grow, so a fixed relative bar can starve at
-- 10x rows while top-k stays non-vacuous at every SF
thr AS (
  SELECT CASE WHEN max(support) >= (SELECT m FROM minsup)
              THEN (SELECT m FROM minsup)
              ELSE (SELECT min(support)
                    FROM (SELECT support FROM sup ORDER BY support DESC LIMIT 10))
         END AS t
  FROM sup
)
SELECT ia, ib, ic, support FROM sup
WHERE support >= (SELECT t FROM thr)
"""


@register("basket_triples_apriori", sql=_TRIPLES_SQL)
def basket_triples_apriori(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 3-itemsets via Apriori over (user, day) baskets of
    10 composite items: frequent singles filter the basket rows,
    frequent pairs generate candidate triples by prefix join, the
    downward-closure PRUNE drops candidates with an infrequent face
    BEFORE any counting (the step that makes Apriori beat counting all
    C(10,3) triples), and one 3-way basket join counts support for the
    survivors. Support is relative (1% of baskets), with a TOP-10
    fallback when the 1% bar reports nothing (r08): triple-support
    fractions concentrate toward their mean as baskets grow (the
    max/mean ratio shrank from 1.03% of baskets at sf0.1 to 0.93% at
    sf1's 400k baskets), so a fixed relative bar sitting in the noise
    tail goes vacuous at 10x rows while top-k degrades gracefully —
    the standard top-k frequent-itemset formulation. The fallback only
    fires when the bar is empty, so sf0.01/sf0.1 results are
    unchanged.

    Scale: baskets and singles are one distinct + groupBy; the pair
    join is basket-keyed (per-key width = items-per-basket, a
    constant); candidate gen and prune run on the frequent-pair table
    (lattice-sized, tiny, broadcast); the final support count joins
    the basket rows three times on (user, day, item) equi-keys —
    candidates-bounded fan-out, never the item lattice."""
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    item = F.concat_ws("_", "event_type", (cents % 2).cast("string"))
    b0 = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("day"), item.alias("item"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    import math

    nb = b0.select("user_id", "day").distinct().count()
    minsup = math.ceil(nb * _APRIORI_MINSUP)
    f1 = (
        b0.groupBy("item")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= minsup)
        .select("item")
    )
    b1 = b0.join(F.broadcast(f1), "item").localCheckpoint(eager=True)
    a = b1.select("user_id", "day", F.col("item").alias("ia"))
    b = b1.select("user_id", "day", F.col("item").alias("ib"))
    f2 = (
        a.join(b, ["user_id", "day"])
        .filter(F.col("ia") < F.col("ib"))
        .groupBy("ia", "ib")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= minsup)
        .select("ia", "ib")
        .localCheckpoint(eager=True)
    )
    p = f2
    q = f2.select(F.col("ia").alias("qa"), F.col("ib").alias("ic"))
    face = f2.select(F.col("ia").alias("fa"), F.col("ib").alias("fb"))
    cand = (
        p.join(F.broadcast(q), p.ia == q.qa)
        .filter(F.col("ib") < F.col("ic"))
        .join(
            F.broadcast(face),
            (F.col("fa") == F.col("ib")) & (F.col("fb") == F.col("ic")),
            "left_semi",
        )
        .select("ia", "ib", "ic")
    )
    x = b1.select("user_id", "day", F.col("item").alias("ia"))
    y = b1.select("user_id", "day", F.col("item").alias("ib"))
    z = b1.select("user_id", "day", F.col("item").alias("ic"))
    sup = (
        cand.join(x, "ia")
        .join(y, ["user_id", "day", "ib"])
        .join(z, ["user_id", "day", "ic"])
        .groupBy("ia", "ib", "ic")
        .agg(F.count(F.lit(1)).alias("support"))
        .localCheckpoint(eager=True)
    )
    # scale-aware threshold: the 1% bar if non-vacuous, else top-10.
    # One bounded 2-scalar collect over the LATTICE-sized support table
    # (<= C(items, 3) rows, never data-sized — same class as the nb
    # count above); a range-join against a 1-row threshold would turn
    # the plan's all-equijoin shape into a BroadcastNestedLoopJoin
    # (pinned by tests/test_plan_shapes_r4c.py).
    row = sup.agg(F.max("support").alias("mx")).first()
    if row.mx is not None and row.mx >= minsup:
        thr = minsup
    else:
        top = sup.orderBy(F.col("support").desc()).limit(10).agg(
            F.min("support").alias("s10")
        ).first()
        thr = top.s10 if top.s10 is not None else minsup
    return sup.filter(F.col("support") >= thr).select("ia", "ib", "ic", "support")


# ---------------------------------------------------------------------------
# streamed SCD2 point-in-time enrichment (13th streamed gate)
# ---------------------------------------------------------------------------


def _scd2_pit_stream_sql() -> str:
    from matt3r_data_ingestion_serverless_spark.plans.llmprep import (
        _SCD2_EFF,
        _SCD2_START,
    )

    return f"""
WITH dim AS (
  SELECT c_custkey, c_mktsegment, c_acctbal, '{_SCD2_START}' AS valid_from
  FROM customer WHERE c_custkey <= 1000
),
upd AS (SELECT c_custkey, 'DELINQUENT' AS new_seg FROM dim WHERE c_acctbal < 0),
hist AS (
  SELECT d.c_custkey, d.c_mktsegment AS segment, d.valid_from,
         CASE WHEN u.c_custkey IS NOT NULL THEN '{_SCD2_EFF}'
              ELSE '9999-12-31' END AS valid_to
  FROM dim d LEFT JOIN upd u USING (c_custkey)
  UNION ALL
  SELECT c_custkey, 'DELINQUENT', '{_SCD2_EFF}', '9999-12-31' FROM upd
),
ev AS (
  SELECT user_id,
         user_id % 1000 + 1 AS ck,
         strftime(DATE '1992-01-01' + CAST(event_id % 3000 AS INT),
                  '%Y-%m-%d') AS eff,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
),
j AS (
  SELECT h.segment, e.user_id, e.cents
  FROM ev e JOIN hist h
    ON h.c_custkey = e.ck AND e.eff >= h.valid_from AND e.eff < h.valid_to
)
SELECT segment, count(*) AS n_events, sum(cents) AS sum_cents,
       count(DISTINCT user_id) AS n_users
FROM j GROUP BY segment
"""


@register("streamed_scd2_pit_enrichment", sql=_scd2_pit_stream_sql())
def streamed_scd2_pit_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streamed point-in-time SCD2 enrichment: each event joins the
    dimension VERSION valid on its effective date (a deterministic
    1992-2000 date derived from the event time, spanning the SCD2
    change boundary) — the feature-store leakage rule (scd2_pit_join)
    run inside Structured Streaming. The SCD2 history is static, so the
    micro-batch join needs no watermark or join state (stream⋈static
    broadcasts the dimension); the equi-key is the business key and
    the validity-interval containment is a residual predicate.
    Complete-mode state is keyed (segment, user) so the rolled-up
    distinct-user count falls out of the materialized table, as in
    streamed_dim_enrichment."""
    from matt3r_data_ingestion_serverless_spark.plans.llmprep import (
        scd2_customer_history,
    )
    from matt3r_data_ingestion_serverless_spark.plans.telemetry import events_stream

    hist = scd2_customer_history(spark, sf_dir).select(
        "c_custkey", "segment", "valid_from", "valid_to"
    )
    s = events_stream(spark, sf_dir).select(
        "user_id",
        "event_id",
        (F.col("user_id") % 1000 + 1).alias("ck"),
        F.date_format(
            F.date_add(
                F.lit("1992-01-01").cast("date"),
                (F.col("event_id") % 3000).cast("int"),
            ),
            "yyyy-MM-dd",
        ).alias("eff"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
    )
    joined = s.join(
        F.broadcast(hist),
        (F.col("ck") == F.col("c_custkey"))
        & (F.col("eff") >= F.col("valid_from"))
        & (F.col("eff") < F.col("valid_to")),
    )
    per_user = joined.groupBy(
        "segment", F.col("user_id").alias("uid")
    ).agg(F.count("*").alias("n_events"), F.sum("cents").alias("cents"))
    return (
        collect_stream(per_user, "complete")
        .groupBy("segment")
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.sum("cents").cast("long").alias("sum_cents"),
            F.count("*").cast("long").alias("n_users"),
        )
    )
