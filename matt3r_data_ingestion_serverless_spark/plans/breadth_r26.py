"""Round-2 batch 1 (this run): probabilistic-filter audits, latest-row
dedup parity, rank correlation, and an A/B z-test.

All md5-keyed randomness follows functions/hashing.py's cross-engine
contract; floats follow SCALE.md §7 (exact integers where possible,
round6 for arbitrary quotients).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.functions import hashing
from matt3r_data_ingestion_serverless_spark.functions.rounding import round6, round6_sql
from matt3r_data_ingestion_serverless_spark.functions.text import tokens, tokens_sql
from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table, spread

# ---------------------------------------------------------------------------
# deterministic Bloom filter membership audit
# ---------------------------------------------------------------------------

_BLOOM_M = 8192  # bits
_BLOOM_K = 4  # hash functions

_BLOOM_SQL = f"""
WITH members AS (
  SELECT CAST(p_partkey AS VARCHAR) AS key FROM part WHERE p_size <= 25
),
bits AS (
  SELECT DISTINCT
         {hashing.md5_hash64_sql("concat('bloom', i, ':', key)")} % {_BLOOM_M} AS pos
  FROM members, (SELECT unnest(range(0, {_BLOOM_K})) AS i)
),
probes AS (
  SELECT CAST(p_partkey AS VARCHAR) AS key, p_size <= 25 AS is_member FROM part
),
probe_bits AS (
  SELECT key, is_member,
         {hashing.md5_hash64_sql("concat('bloom', i, ':', key)")} % {_BLOOM_M} AS pos
  FROM probes, (SELECT unnest(range(0, {_BLOOM_K})) AS i)
),
hits AS (
  SELECT pb.key, pb.is_member,
         count(*) = {_BLOOM_K} AS pass
  FROM probe_bits pb JOIN bits b ON pb.pos = b.pos
  GROUP BY pb.key, pb.is_member
)
SELECT CAST(sum(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT) AS n_members,
       CAST(sum(CASE WHEN is_member THEN 0 ELSE 1 END) AS BIGINT) AS n_nonmembers,
       CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
       CAST(sum(CASE WHEN pass AND is_member THEN 1 ELSE 0 END) AS BIGINT) AS true_pos,
       CAST(sum(CASE WHEN pass AND NOT is_member THEN 1 ELSE 0 END) AS BIGINT) AS false_pos,
       {round6_sql("sum(CASE WHEN pass AND NOT is_member THEN 1 ELSE 0 END)"
                   " / greatest(sum(CASE WHEN is_member THEN 0 ELSE 1 END), 1)")} AS fpr
FROM (SELECT p.key, p.is_member, coalesce(h.pass, FALSE) AS pass
      FROM probes p LEFT JOIN hits h ON p.key = h.key)
"""


@register("ns_bloom_filter_audit", _BLOOM_SQL)
def ns_bloom_filter_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom filter built, probed, and AUDITED inside the engine: the
    m=8192/k=4 bit set over a dimension subset (parts with size ≤ 25),
    probed with every part key, reporting hit counts and the realized
    false-positive rate. Bit positions come from the md5 hash contract
    (functions/hashing.py) so filter contents are BIT-IDENTICAL across
    engines and the audit hash-matches — the same construction Spark
    itself uses for runtime-filter semi-join pushdown at 100 TB (a
    broadcastable ~1 KB bitset standing in for a million-key IN list);
    zero true positives may be lost (Bloom guarantees no false
    negatives, asserted in tests). The bit set is a distinct-aggregate
    of member×k rows; the probe join is broadcast-sized by
    construction."""
    part = load_table(spark, sf_dir, "part")
    probes = part.select(
        F.col("p_partkey").cast("string").alias("key"),
        (F.col("p_size") <= 25).alias("is_member"),
    )
    ks = F.explode(F.sequence(F.lit(0), F.lit(_BLOOM_K - 1))).alias("i")
    pos = (
        hashing.md5_hash64(F.concat(F.lit("bloom"), F.col("i"), F.lit(":"), F.col("key")))
        % _BLOOM_M
    ).alias("pos")
    bits = probes.filter("is_member").select("key", ks).select(pos).distinct()
    probe_bits = probes.select("key", "is_member", ks).select("key", "is_member", pos)
    hits = (
        probe_bits.join(F.broadcast(bits), "pos")
        .groupBy("key", "is_member")
        .agg((F.count("*") == _BLOOM_K).alias("pass"))
    )
    audited = probes.join(hits.select("key", "pass"), "key", "left").select(
        "is_member", F.coalesce("pass", F.lit(False)).alias("pass")
    )
    member_n = F.sum(F.when(F.col("is_member"), 1).otherwise(0))
    nonmember_n = F.sum(F.when(F.col("is_member"), 0).otherwise(1))
    fp = F.sum(F.when(F.col("pass") & ~F.col("is_member"), 1).otherwise(0))
    return audited.agg(
        member_n.cast("long").alias("n_members"),
        nonmember_n.cast("long").alias("n_nonmembers"),
        F.sum(F.when(F.col("pass"), 1).otherwise(0)).cast("long").alias("n_pass"),
        F.sum(F.when(F.col("pass") & F.col("is_member"), 1).otherwise(0))
        .cast("long")
        .alias("true_pos"),
        fp.cast("long").alias("false_pos"),
        round6(fp / F.greatest(nonmember_n, F.lit(1))).alias("fpr"),
    )


# ---------------------------------------------------------------------------
# deterministic Count-Min sketch vs exact heavy hitters
# ---------------------------------------------------------------------------

_CMS_D = 4  # hash rows
_CMS_W = 512  # counters per row

_CMS_SQL = f"""
WITH tok AS (
  SELECT unnest({tokens_sql("text")}) AS token FROM documents
),
exact AS (
  SELECT token, count(*) AS exact_n FROM tok WHERE token <> '' GROUP BY token
),
buckets AS (
  SELECT token, exact_n, r,
         {hashing.md5_hash64_sql("concat('cms', r, '|', token)")} % {_CMS_W} AS b
  FROM exact, (SELECT unnest(range(0, {_CMS_D})) AS r)
),
counters AS (
  SELECT r, b, sum(exact_n) AS c FROM buckets GROUP BY r, b
),
est AS (
  SELECT bu.token, bu.exact_n, min(c.c) AS cms_n
  FROM buckets bu JOIN counters c ON bu.r = c.r AND bu.b = c.b
  GROUP BY bu.token, bu.exact_n
)
SELECT token, CAST(exact_n AS BIGINT) AS exact_n, CAST(cms_n AS BIGINT) AS cms_n,
       CAST(cms_n - exact_n AS BIGINT) AS overcount
FROM est
ORDER BY exact_n DESC, token ASC
LIMIT 20
"""


@register("ns_countmin_heavy_hitters", _CMS_SQL)
def ns_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (d=4, w=512) graded against exact counts for
    the top-20 vocabulary: per-term estimate = min over rows of the
    hashed counter, overcount = CMS − exact (never negative — the
    one-sided error bound, asserted in tests). Hashes are md5-derived
    so the sketch is identical across engines and the whole audit
    hash-matches. The counters build FROM the exact per-token count
    table (sum of counts per bucket == count of hashed occurrences) —
    one shuffle over distinct tokens instead of a second pass over the
    raw stream; at 100 TB the 4×512 counter grid is the mergeable
    map-side state that replaces an unbounded exact-count shuffle."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    tok = docs.select(F.explode(tokens(F.col("text"))).alias("token")).filter(
        F.col("token") != ""
    )
    exact = tok.groupBy("token").agg(F.count("*").alias("exact_n"))
    rs = F.explode(F.sequence(F.lit(0), F.lit(_CMS_D - 1))).alias("r")
    buckets = exact.select("token", "exact_n", rs).withColumn(
        "b",
        hashing.md5_hash64(F.concat(F.lit("cms"), F.col("r"), F.lit("|"), F.col("token")))
        % _CMS_W,
    )
    counters = buckets.groupBy("r", "b").agg(F.sum("exact_n").alias("c"))
    est = (
        buckets.join(F.broadcast(counters), ["r", "b"])
        .groupBy("token", "exact_n")
        .agg(F.min("c").alias("cms_n"))
    )
    return (
        est.select(
            "token",
            F.col("exact_n").cast("long").alias("exact_n"),
            F.col("cms_n").cast("long").alias("cms_n"),
            (F.col("cms_n") - F.col("exact_n")).cast("long").alias("overcount"),
        )
        .orderBy(F.desc("exact_n"), F.asc("token"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# DISTINCT ON / QUALIFY parity: latest row per key
# ---------------------------------------------------------------------------

_DISTINCT_ON_SQL = """
SELECT user_id, epoch_us(ts) AS last_ts_us, event_type, value
FROM events
QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
"""


@register("distinct_on_latest", _DISTINCT_ON_SQL)
def distinct_on_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest row per key — the DISTINCT ON / QUALIFY idiom (oracle
    uses DuckDB's QUALIFY clause; Spark expresses the same plan as a
    row_number window + filter, which Catalyst collapses into one
    shuffle-and-rank with the filter pushed into the WindowExec's rank
    limit — the TopK-per-key physical plan, no second pass). This is
    the canonical CDC compaction / snapshot-read primitive: at 100 TB
    it is a single hash-partition by key with rank-1 early exit, never
    a global sort."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.unix_micros("ts").alias("last_ts_us"),
            "event_type",
            "value",
        )
    )


# ---------------------------------------------------------------------------
# Spearman rank correlation (average ranks for ties, exact integer sums)
# ---------------------------------------------------------------------------

_SPEARMAN_SQL = f"""
WITH r AS (
  SELECT l_returnflag AS flag,
         2 * rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
           + count(*) OVER (PARTITION BY l_returnflag, l_quantity) - 1 AS rx,
         2 * rank() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice)
           + count(*) OVER (PARTITION BY l_returnflag, l_extendedprice) - 1 AS ry
  FROM lineitem
),
s AS (
  SELECT flag, count(*) AS n,
         sum(rx) AS sx, sum(ry) AS sy,
         sum(CAST(rx AS HUGEINT) * ry) AS sxy,
         sum(CAST(rx AS HUGEINT) * rx) AS sxx,
         sum(CAST(ry AS HUGEINT) * ry) AS syy
  FROM r GROUP BY flag
)
SELECT flag, CAST(n AS BIGINT) AS n,
       {round6_sql(
           "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
           " / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
           " * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
       )} AS spearman_rho
FROM s
"""


@register("spearman_rank_corr", _SPEARMAN_SQL)
def spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation of quantity vs extended price per
    return flag — the robust (monotone, outlier-proof) dependence
    measure. Ties take AVERAGE ranks, doubled so they stay integers
    (2·rank + tiecount − 1); rank sums stay exact int64 while the
    second-moment sums accumulate as exact DECIMAL(38,0)/HUGEINT, and
    only the final closed form touches doubles — identical operands,
    identical op order, so the result is bit-stable across engines.
    Two window ranks + one aggregate over the same flag partitioning =
    one Exchange.

    The second-moment sums are bounded by n·(2n)² — ~1e20 at sf1's 6M
    lineitem rows, past int64 — so the products accumulate as exact
    DECIMAL(38,0) (Spark) / HUGEINT (DuckDB); rank sums themselves stay
    int64 (≤ n·2n ≈ 4e13). Caught by the r07 sf1 sweep: the long-sum
    version threw ARITHMETIC_OVERFLOW at 10x rows."""
    li = load_table(spark, sf_dir, "lineitem")

    def avg_rank2(col: str) -> F.Column:
        return (
            2 * F.rank().over(Window.partitionBy("l_returnflag").orderBy(col))
            + F.count("*").over(Window.partitionBy("l_returnflag", col))
            - 1
        ).cast("long")

    r = li.select(
        F.col("l_returnflag").alias("flag"),
        avg_rank2("l_quantity").alias("rx"),
        avg_rank2("l_extendedprice").alias("ry"),
    )
    rxd = F.col("rx").cast("decimal(38,0)")
    ryd = F.col("ry").cast("decimal(38,0)")
    s = r.groupBy("flag").agg(
        F.count("*").alias("n"),
        F.sum("rx").alias("sx"),
        F.sum("ry").alias("sy"),
        F.sum(rxd * ryd).alias("sxy"),
        F.sum(rxd * rxd).alias("sxx"),
        F.sum(ryd * ryd).alias("syy"),
    )
    n, sx, sy = F.col("n").cast("double"), F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx, syy = (
        F.col("sxy").cast("double"),
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
    )
    rho = (n * sxy - sx * sy) / (
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    )
    return s.select("flag", F.col("n").cast("long").alias("n"), round6(rho).alias("spearman_rho"))


# ---------------------------------------------------------------------------
# two-proportion z-test (A/B experiment readout)
# ---------------------------------------------------------------------------

_ZTEST_SQL = f"""
WITH g AS (
  SELECT user_id % 2 AS grp,
         count(*) AS n,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY user_id % 2
),
w AS (
  SELECT max(CASE WHEN grp = 0 THEN n END) AS n_a,
         max(CASE WHEN grp = 1 THEN n END) AS n_b,
         max(CASE WHEN grp = 0 THEN conv END) AS conv_a,
         max(CASE WHEN grp = 1 THEN conv END) AS conv_b
  FROM g
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       CAST(conv_a AS BIGINT) AS conv_a, CAST(conv_b AS BIGINT) AS conv_b,
       {round6_sql("CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)")} AS p_a,
       {round6_sql("CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)")} AS p_b,
       {round6_sql(
           "(CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE))"
           " / sqrt((CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))"
           " * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))"
           " * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))"
       )} AS z_score
FROM w
"""


@register("ab_proportion_ztest", _ZTEST_SQL)
def ab_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion pooled z-test between experiment arms (users
    split by id parity; conversion = purchase share of events) — the
    experimentation readout every product pipeline computes. Counts
    aggregate exactly; the z statistic is one double expression over
    exact integers, identical across engines. One partial-aggregated
    scan (map-side combine into 2 groups), then a 2-row pivot."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy((F.col("user_id") % 2).alias("grp")).agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("conv"),
    )
    w = g.agg(
        F.max(F.when(F.col("grp") == 0, F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("grp") == 1, F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("grp") == 0, F.col("conv"))).alias("conv_a"),
        F.max(F.when(F.col("grp") == 1, F.col("conv"))).alias("conv_b"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    ca, cb = F.col("conv_a").cast("double"), F.col("conv_b").cast("double")
    pooled = (ca + cb) / (na + nb)
    z = (ca / na - cb / nb) / F.sqrt(pooled * (1.0 - pooled) * (1.0 / na + 1.0 / nb))
    return w.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("conv_a").cast("long").alias("conv_a"),
        F.col("conv_b").cast("long").alias("conv_b"),
        round6(ca / na).alias("p_a"),
        round6(cb / nb).alias("p_b"),
        round6(z).alias("z_score"),
    )
