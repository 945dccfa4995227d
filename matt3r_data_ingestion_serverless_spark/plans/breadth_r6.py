"""Round-4 batch 2: CDC log apply / time travel, scalable exact heavy
hitters (Misra–Gries candidates + exact recount),
leave-one-out target encoding, the hashing trick, largest-remainder
apportionment, and GROUP BY ALL surface parity.

Each is a building block the reference's imperative stages would
hand-roll (cf. the iterrows loops at infer_autopilot_states.py:80-86 and
the per-file list merges at infer_stationary_states.py:117-133 — the CDC
apply here is the keyed, ordered generalization of exactly that merge).
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.functions import text
from matt3r_data_ingestion_serverless_spark.functions.hashing import (
    md5_hash64,
    md5_hash64_sql,
)
from matt3r_data_ingestion_serverless_spark.functions.rounding import round6, round6_sql
from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table, spread

# ---------------------------------------------------------------------------
# CDC ordered apply + time travel
# ---------------------------------------------------------------------------

# Synthetic-but-deterministic change log derived from orders:
#   seq 1 'I': every order at its original price
#   seq 2 'U': open orders repriced to 90% (integer cents, floor)
#   seq 3 'D': every 97th order tombstoned
_CDC_LOG_CTE = """
log AS (
  SELECT o_orderkey, 1 AS seq, 'I' AS op,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
         o_orderpriority
  FROM orders
  UNION ALL
  SELECT o_orderkey, 2, 'U',
         CAST(round(o_totalprice * 100, 0) AS BIGINT) * 9 // 10,
         o_orderpriority
  FROM orders WHERE o_orderstatus = 'O'
  UNION ALL
  SELECT o_orderkey, 3, 'D', CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR)
  FROM orders WHERE o_orderkey % 97 = 0
)
"""


def _cdc_apply_sql(seq_pred: str) -> str:
    return f"""
WITH {_CDC_LOG_CTE.strip()},
r AS (
  SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
  FROM log WHERE {seq_pred}
)
SELECT o_orderkey, cents, o_orderpriority,
       CAST(seq AS INT) AS last_seq, op AS last_op
FROM r WHERE rn = 1 AND op <> 'D'
"""


def _cdc_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three change generations in ONE orders scan: each order row
    explodes into its I row, plus a U row when open, plus a D row when
    tombstoned — a conditional-array explode instead of three unioned
    scans of the same parquet (3× the I/O for the same rows)."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    mk = "seq int, op string, cents long, o_orderpriority string"
    ins = F.struct(
        F.lit(1).alias("seq"),
        F.lit("I").alias("op"),
        cents.alias("cents"),
        F.col("o_orderpriority"),
    )
    # cents < 2^53, so double multiply/divide is exact pre-floor
    upd = F.struct(
        F.lit(2).alias("seq"),
        F.lit("U").alias("op"),
        F.floor(cents * 9 / 10).cast("long").alias("cents"),
        F.col("o_orderpriority"),
    )
    dels = F.struct(
        F.lit(3).alias("seq"),
        F.lit("D").alias("op"),
        F.lit(None).cast("long").alias("cents"),
        F.lit(None).cast("string").alias("o_orderpriority"),
    )
    changes = F.concat(
        F.array(ins),
        F.when(F.col("o_orderstatus") == "O", F.array(upd)).otherwise(
            F.array().cast(f"array<struct<{mk.replace(', ', ',')}>>")
        ),
        F.when(F.col("o_orderkey") % 97 == 0, F.array(dels)).otherwise(
            F.array().cast(f"array<struct<{mk.replace(', ', ',')}>>")
        ),
    )
    return o.select("o_orderkey", F.explode(changes).alias("c")).select(
        "o_orderkey", "c.seq", "c.op", "c.cents", "c.o_orderpriority"
    )


def _cdc_apply(log: DataFrame) -> DataFrame:
    last = F.max_by(F.struct("op", "cents", "o_orderpriority"), "seq").alias("last")
    applied = log.groupBy("o_orderkey").agg(last, F.max("seq").alias("last_seq"))
    return applied.filter(F.col("last.op") != "D").select(
        "o_orderkey",
        F.col("last.cents").alias("cents"),
        F.col("last.o_orderpriority").alias("o_orderpriority"),
        F.col("last_seq").cast("int").alias("last_seq"),
        F.col("last.op").alias("last_op"),
    )


@register("cdc_apply_log", _cdc_apply_sql("TRUE"))
def cdc_apply_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply an ordered CDC change log (insert / update / delete per key,
    monotone sequence numbers) to produce the final table state — the
    core of every lakehouse CDC sink (Debezium → Delta/Iceberg MERGE).

    Spark-first: per key, `max_by(struct(payload), seq)` picks the
    latest change in ONE hash aggregate — partial max_by combines
    map-side, so 100 TB of log shuffles one row per key, never the
    history. Tombstones (`op = 'D'`) are dropped after the argmax,
    which is exactly "latest wins, delete is a real state". The
    row_number-then-filter formulation the oracle uses would sort each
    key group; argmax needs no sort and no window state.

    Reference parity: the per-file prepend/append/skip merge at
    infer_stationary_states.py:117-133 is this operator with file
    granularity instead of keys and arrival order instead of seq.
    """
    return _cdc_apply(_cdc_log(spark, sf_dir))


@register("cdc_time_travel", _cdc_apply_sql("seq <= 2"))
def cdc_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over the CDC log: reconstruct the table AS OF
    sequence 2 by filtering the log before the same latest-wins apply —
    snapshot isolation as a plain predicate. Because the filter is on
    the log's own ordering column, it pushes down to the scan; a
    lakehouse table with `seq` in the file-level min/max stats prunes
    whole files of later changes (partition pruning by version), so
    reconstructing an old snapshot reads only the history up to it.
    """
    log = _cdc_log(spark, sf_dir).filter(F.col("seq") <= 2)
    return _cdc_apply(log)


def _footer_key_intervals(bdf: DataFrame, key: str) -> list[tuple] | None:
    """Key covers of a file-source micro-batch straight from its parquet
    FOOTERS (driver-side, zero Spark jobs): the file-source batch IS its
    files, so per-row-group ``key`` min/max is a complete cover —
    merge()'s touched-file pass then needs no batch-scan agg job. Falls
    back to the scan path (returns None) if any footer lacks stats OR
    reports null keys — parquet min/max exclude nulls, so a null-key
    source row would be covered by no interval and a stale null-key row
    in an 'untouched' file would silently survive the merge (groupBy
    treats nulls as equal)."""
    from urllib.parse import urlparse

    import pyarrow.parquet as pq

    ivs: list[tuple] = []
    for uri in bdf.inputFiles():
        meta = pq.ParquetFile(urlparse(uri).path).metadata
        idx = next(
            i for i in range(meta.num_columns) if meta.schema.column(i).name == key
        )
        for rg in range(meta.num_row_groups):
            st = meta.row_group(rg).column(idx).statistics
            if st is None or st.min is None or st.max is None:
                return None
            if st.null_count is None or st.null_count > 0:
                return None
            ivs.append((st.min, st.max))
    return ivs or None


@register("cdc_streamed_apply", _cdc_apply_sql("TRUE"))
def cdc_streamed_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC apply as a STREAMING sink, graded in the oracle gate
    (eighth streamed entry): the change log lands as three files (one
    per seq generation), a file-source stream delivers them one file
    per micro-batch, and a foreachBatch merge folds each batch into the
    at-rest state table — latest-wins BY SEQ, not by arrival, so the
    sink is correct under ANY file arrival order (the out-of-order
    protection a real Debezium→lakehouse sink needs). Tombstones are
    RETAINED in state — dropping them would let a late lower-seq row
    resurrect a deleted key — and filtered only at read time. Parity
    with the batch apply (same oracle as cdc_apply_log) proves
    streamed == batch.

    Scale (VERDICT r04 next-step 2): state lives in a
    :class:`LakehouseTable` and each micro-batch folds in through
    ``merge(..., version_col="seq")`` — the latest-wins MERGE INTO with
    manifest file pruning. A batch's state read is only the data files
    whose [min, max] key stats overlap the batch's keys
    (`_touched_files`); everything else is carried into the next
    snapshot BY REFERENCE, so per-batch cost is O(touched files), not
    O(state). The state files stay range-partitioned on the key across
    merges, keeping per-file key ranges disjoint for the next batch's
    prune. (This synthetic log's update generations deliberately touch
    uniformly-spread keys, so HERE every file is touched; the key-local
    batches a real CDC stream sends prune hard —
    tests/test_lakehouse_r5.py::test_cdc_batch_reads_only_touched_files
    plants one and asserts the read set is a strict subset.) Durable
    recovery point = the committed snapshot chain itself.

    Perf (VERDICT r04 next-step 2, measured at sf0.1): per batch is now
    exactly TWO jobs — the touched-file scan and a bucketed write whose
    per-file stats are collected by observe() during the write (the
    old path wrote a full snapshot + a harvest job); the state table's
    initial split points come free from an Observation on the landing
    write; the log builds in ONE orders scan (conditional-array explode
    instead of three unioned scans). 2.94 s → ~2.7 s steady-state; the
    rest is micro-batch machinery (3 sequential triggers + offset/commit
    logs ≈ 0.5 s) and the landing write — per-batch merge cost is
    O(touched files), the property that matters at 100× state.
    """
    from matt3r_data_ingestion_serverless_spark.operators.lakehouse import (
        LakehouseTable,
    )
    from matt3r_data_ingestion_serverless_spark.session import scratch_dir
    from matt3r_data_ingestion_serverless_spark.streaming.pipeline import run_once

    from pyspark.sql import Observation

    log = _cdc_log(spark, sf_dir)
    root = scratch_dir("cdc_stream_")
    land = f"{root}/land"
    # one file per generation, one landing job; discovery order is
    # arbitrary within the job — the seq-keyed merge does not rely on
    # it. The key extent is observed DURING the landing write (free) so
    # the state table's initial file split points need no sampling job.
    obs = Observation()
    (
        log.observe(obs, F.min("o_orderkey").alias("lo"), F.max("o_orderkey").alias("hi"))
        .repartition(3, "seq")
        .write.partitionBy("seq")
        .parquet(land)
    )
    lo, hi = obs.get["lo"], obs.get["hi"]
    boundaries = [lo + (hi - lo) * i // 4 for i in (1, 2, 3)]
    holder: list[LakehouseTable] = []

    def apply_batch(bdf: DataFrame, bid: int) -> None:
        if not holder:
            holder.append(
                LakehouseTable.create_bucketed(
                    bdf,
                    f"{root}/state",
                    key="o_orderkey",
                    boundaries=boundaries,
                    stats_cols=["o_orderkey"],
                    keys=["o_orderkey"],
                    version_col="seq",
                )
            )
        else:
            holder[0].merge(
                bdf,
                ["o_orderkey"],
                version_col="seq",
                source_intervals=_footer_key_intervals(bdf, "o_orderkey"),
            )

    src = (
        spark.readStream.schema(log.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(land)
    )
    run_once(src, apply_batch, state_partitions=4)
    final = (
        holder[0]
        .read()
        .filter(F.col("op") != "D")
        .select(
            "o_orderkey",
            "cents",
            "o_orderpriority",
            F.col("seq").cast("int").alias("last_seq"),
            F.col("op").alias("last_op"),
        )
    )
    # the result stays a LAZY read over the state table's files —
    # materializing it here (localCheckpoint) just to rmtree the scratch
    # dir early cost a full extra pass over the final snapshot per run;
    # instead the scratch dir lives until process exit (few MB per run)
    return final


# ---------------------------------------------------------------------------
# exact heavy hitters at scale: Misra–Gries candidates + exact recount
# ---------------------------------------------------------------------------

_MG_K = 4095  # counters per partition summary; error ≤ n_part/(k+1)
_HH_PERMILLE = 1  # report terms with > 0.1% of all token occurrences

_HH_SQL = f"""
WITH toks AS (
  SELECT unnest(string_split(lower(text), ' ')) AS term FROM documents
),
tot AS (SELECT count(*) AS n FROM toks)
SELECT term, count(*) AS cnt,
       {round6_sql("count(*) * 1000.0 / max(n)")} AS share_permille
FROM toks, tot
GROUP BY term
HAVING count(*) * 1000 > max(n) * {_HH_PERMILLE}
"""


def _mg_candidates(batches: Iterator) -> Iterator:
    """Per-partition Misra–Gries ("Frequent") summary with _MG_K
    counters, batch-merged: add each Arrow batch's value_counts, then
    if over k counters subtract the (k+1)-th largest and drop ≤ 0 (the
    mergeable-summaries trim of Agarwal et al. 2012). Any term with
    partition count > n_part/(k+1) survives with a positive counter, so
    the union over partitions is a SUPERSET of every term with global
    share > 1/(k+1) — the exact recount downstream makes the final
    answer exact, and the summary is O(k) memory per task regardless of
    vocabulary size."""
    import pandas as pd

    d: dict[str, int] = {}
    for pdf in batches:
        for t, c in pdf["term"].value_counts().items():
            d[t] = d.get(t, 0) + int(c)
        if len(d) > _MG_K:
            m = sorted(d.values(), reverse=True)[_MG_K]
            d = {t: c - m for t, c in d.items() if c > m}
    yield pd.DataFrame({"term": list(d.keys())})


@register("heavy_hitters_mg_exact", _HH_SQL)
def heavy_hitters_mg_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT frequent terms (> 0.1% of all token occurrences) without a
    full-vocabulary shuffle: phase 1 runs a Misra–Gries summary per
    partition (mapInPandas, O(k) state) whose union provably contains
    every term above threshold (threshold 1/1000 > 1/(k+1), k=4095);
    phase 2 broadcast-semi-joins the candidate set back onto the token
    stream and recounts ONLY candidates exactly.

    This is the 100 TB pattern for frequent-item queries: the naive
    groupBy shuffles the whole vocabulary (trillions of rows); here the
    shuffle carries ≤ k rows per partition for candidates plus one row
    per (partition, candidate) for the recount. The oracle is the plain
    full GROUP BY ... HAVING — identical output by the MG superset
    guarantee (property-tested in tests/test_breadth_r6.py)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = spread(docs.select(F.explode(text.tokens(F.col("text"))).alias("term")))
    cand = toks.mapInPandas(_mg_candidates, "term string").distinct()
    tot = toks.agg(F.count("*").alias("n"))
    counts = (
        toks.join(F.broadcast(cand), "term")
        .groupBy("term")
        .agg(F.count("*").alias("cnt"))
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        .filter(F.col("cnt") * 1000 > F.col("n") * _HH_PERMILLE)
        .select(
            "term",
            "cnt",
            round6(F.col("cnt") * 1000.0 / F.col("n")).alias("share_permille"),
        )
    )


# ---------------------------------------------------------------------------
# leave-one-out target encoding (leakage-safe categorical features)
# ---------------------------------------------------------------------------

_LOO_SQL = """
WITH t AS (
  SELECT o_orderkey, o_orderpriority,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders
),
w AS (
  SELECT *,
         sum(cents) OVER (PARTITION BY o_orderpriority) AS s_g,
         count(*)   OVER (PARTITION BY o_orderpriority) AS n_g,
         sum(cents) OVER () AS s_all,
         count(*)   OVER () AS n_all
  FROM t
)
SELECT o_orderkey, o_orderpriority, cents,
       {loo} AS loo_mean,
       {smooth} AS smoothed_mean
FROM w WHERE o_orderkey <= 5000
""".replace(
    "{loo}",
    round6_sql("CAST(s_g - cents AS DOUBLE) / (n_g - 1) / 100.0"),
).replace(
    "{smooth}",
    round6_sql(
        "(CAST(s_g - cents AS DOUBLE)"
        " + 10.0 * (CAST(s_all AS DOUBLE) / n_all))"
        " / (n_g + 9) / 100.0"
    ),
)


@register("ns_target_encoding_loo", _LOO_SQL)
def ns_target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of a categorical feature
    (o_orderpriority) by the order-value target: each row's encoding is
    the category mean EXCLUDING the row itself — (Σ_g − x)/(n_g − 1) —
    plus an m=10 prior-smoothed variant. The leakage-safe categorical
    feature every tabular-ML pipeline derives before training.

    Spark-first: the category means come from ONE window shuffle by
    category; the global prior is a 1-row aggregate CROSS-JOINED back
    as a broadcast — NOT a window `OVER ()`, which would funnel the
    whole table through a SinglePartition exchange (the plan-shape test
    pins this). The output filter keeps the demo small but stats are
    over ALL rows, so the predicate must stay above the windows;
    Catalyst keeps it correct because it references window inputs.
    """
    o = load_table(spark, sf_dir, "orders")
    t = o.select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    wg = Window.partitionBy("o_orderpriority")
    glob = t.agg(
        F.sum("cents").alias("s_all"), F.count("*").alias("n_all")
    )
    w = t.select(
        "*",
        F.sum("cents").over(wg).alias("s_g"),
        F.count("*").over(wg).alias("n_g"),
    ).crossJoin(F.broadcast(glob))
    loo = (F.col("s_g") - F.col("cents")).cast("double") / (F.col("n_g") - 1) / 100.0
    smooth = (
        (
            (F.col("s_g") - F.col("cents")).cast("double")
            + 10.0 * (F.col("s_all").cast("double") / F.col("n_all"))
        )
        / (F.col("n_g") + 9)
        / 100.0
    )
    return w.filter(F.col("o_orderkey") <= 5000).select(
        "o_orderkey",
        "o_orderpriority",
        "cents",
        round6(loo).alias("loo_mean"),
        round6(smooth).alias("smoothed_mean"),
    )


# ---------------------------------------------------------------------------
# the hashing trick (feature hashing) — engine-portable md5 variant
# ---------------------------------------------------------------------------

_FH_BUCKETS = 32

_FH_SQL = f"""
WITH f AS (
  SELECT unnest([
    'flag=' || l_returnflag,
    'status=' || l_linestatus,
    'qty=' || CAST(CAST(l_quantity AS BIGINT) AS VARCHAR)
  ]) AS feat
  FROM lineitem
),
h AS (
  SELECT feat, {md5_hash64_sql('feat')} AS hv FROM f
)
SELECT CAST(hv % {_FH_BUCKETS} AS INT) AS bucket,
       count(*) AS n_features,
       CAST(sum(CASE WHEN (hv // {_FH_BUCKETS}) % 2 = 0
                     THEN 1 ELSE -1 END) AS BIGINT) AS signed_sum
FROM h
GROUP BY 1
"""


@register("ns_feature_hashing", _FH_SQL)
def ns_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick (Weinberger et al. 2009): map unbounded
    categorical features into a fixed 32-dim space with a signed hash —
    bucket = H(f) mod D, sign = parity of the next hash bit — and
    aggregate the signed counts per bucket. The unbiased fixed-width
    featurization used when the category vocabulary is unbounded
    (IDs, n-grams) and a fitted encoder dictionary can't exist.

    Uses the repo's md5-based 60-bit hash so Spark and the oracle agree
    bit-for-bit (Spark's murmur `hash()` has no DuckDB twin). The sign
    bit comes from `div`, not float division — h exceeds 2^53, so a
    double round-trip would corrupt low bits. One explode + one hash
    agg: partial sums map-side, 32 rows shuffle. l_quantity is integral
    by construction, so the double→bigint cast agrees across engines
    (Spark truncates, DuckDB rounds — identical on integral values).
    """
    li = load_table(spark, sf_dir, "lineitem")
    feats = li.select(
        F.explode(
            F.array(
                F.concat(F.lit("flag="), F.col("l_returnflag")),
                F.concat(F.lit("status="), F.col("l_linestatus")),
                F.concat(
                    F.lit("qty="), F.col("l_quantity").cast("long").cast("string")
                ),
            )
        ).alias("feat")
    )
    h = feats.select(md5_hash64(F.col("feat")).alias("hv"))
    sign = F.when(F.expr(f"(hv div {_FH_BUCKETS}) % 2") == 0, 1).otherwise(-1)
    return h.groupBy((F.col("hv") % _FH_BUCKETS).cast("int").alias("bucket")).agg(
        F.count("*").alias("n_features"),
        F.sum(sign).cast("long").alias("signed_sum"),
    )


# ---------------------------------------------------------------------------
# largest-remainder apportionment (exact pro-rata integer allocation)
# ---------------------------------------------------------------------------

_SEATS = 10_000

_APPORTION_SQL = f"""
WITH rev AS (
  SELECT n.n_nationkey, n.n_name,
         sum(CAST(round(o.o_totalprice * 100, 0) AS BIGINT)) AS cents
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2
),
q AS (
  SELECT *,
         (cents * {_SEATS}) // sum(cents) OVER () AS floor_seats,
         (cents * {_SEATS}) %  sum(cents) OVER () AS remainder
  FROM rev
),
r AS (
  SELECT *,
         {_SEATS} - sum(floor_seats) OVER () AS deficit,
         row_number() OVER (ORDER BY remainder DESC, n_nationkey) AS rk
  FROM q
)
SELECT n_name, CAST(cents AS BIGINT) AS cents,
       CAST(floor_seats AS BIGINT) AS floor_seats,
       CAST(floor_seats + CASE WHEN rk <= deficit THEN 1 ELSE 0 END AS BIGINT)
         AS seats
FROM r
"""


@register("apportion_largest_remainder", _APPORTION_SQL)
def apportion_largest_remainder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment: allocate exactly
    10,000 budget units across nations proportional to revenue — floor
    of each exact integer quota, then the leftover units go to the
    largest remainders (ties broken by nation key). The pro-rata
    integer-allocation primitive of billing, quota, and shard-assignment
    systems; float shares would both mis-sum and tie nondeterministically,
    so quotas stay in exact bigint cents end to end.

    Shape: a 3-table join aggregates to one row per nation (the join's
    dimension sides broadcast), then three windows over a 25-row table.
    Σseats = 10,000 identically — asserted in the property test.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_nationkey", "n_name")
        .agg(F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("cents"))
    )
    wall = Window.partitionBy()
    tot = F.sum("cents").over(wall)
    q = rev.select(
        "*",
        F.expr(f"(cents * {_SEATS}) div sum(cents) OVER ()").alias("floor_seats"),
        ((F.col("cents") * _SEATS) % tot).alias("remainder"),
    )
    r = q.select(
        "*",
        (F.lit(_SEATS) - F.sum("floor_seats").over(wall)).alias("deficit"),
        F.row_number()
        .over(Window.orderBy(F.desc("remainder"), F.asc("n_nationkey")))
        .alias("rk"),
    )
    return r.select(
        "n_name",
        "cents",
        F.col("floor_seats").cast("long").alias("floor_seats"),
        (
            F.col("floor_seats") + F.when(F.col("rk") <= F.col("deficit"), 1).otherwise(0)
        )
        .cast("long")
        .alias("seats"),
    )


# ---------------------------------------------------------------------------
# GROUP BY ALL surface parity
# ---------------------------------------------------------------------------

_GBA_SQL = """
SELECT l_returnflag, l_linestatus,
       count(*) AS n,
       sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS rev_cents
FROM lineitem
GROUP BY ALL
"""


@register("group_by_all_revenue", _GBA_SQL)
def group_by_all_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL parity: both engines infer the grouping keys from
    the non-aggregate select list (SQL-surface convenience added in
    Spark 3.4 / DuckDB 0.6) — run through spark.sql to exercise the
    actual parser path, not a DataFrame translation."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("li_gba")
    return spark.sql(_GBA_SQL.replace("FROM lineitem", "FROM li_gba"))
