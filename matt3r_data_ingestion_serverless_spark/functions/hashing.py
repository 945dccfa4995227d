"""Deterministic cross-engine hashing primitives for the dedup /
fingerprinting operators.

Everything here must produce BIT-IDENTICAL values in Spark and in the
DuckDB oracle, so the base hash is md5 (same algorithm everywhere):

    H(s) = int(md5(s)[:15 hex], 16)       — 60 bits, fits a signed long
    Spark:  conv(substr(md5(s),1,15),16,10)::long
    DuckDB: try_cast('0x' || substr(md5(s),1,15) AS BIGINT)

MinHash uses the classic affine family h_i(x) = (a_i·H(x)+b_i) mod P
with fixed odd multipliers — P = 2^61-1 keeps a_i·H < 2^63 overflow?
no: a_i ≤ 2·N_HASHES+1 (small), H < 2^60, so a_i·H < 2^66 — would
overflow; therefore H is first reduced mod P32 (2^31-1) and the affine
step stays well inside int64. Collision risk at 2^31 over ~10^2 tokens
per doc is negligible for LSH bucketing (verified pairs are re-checked
with exact Jaccard anyway).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.functions import text

P31 = 2_147_483_647  # 2^31 - 1 (Mersenne)
N_MINHASHES = 16
SIMHASH_BITS = 32
SHINGLE_N = 3  # word n-gram width for near-dup shingling
MINHASH_BANDS, MINHASH_ROWS = 4, 4  # 16 minhashes → 4 bands of 4

# rolling-combine base for integer shingle hashing; intermediates stay
# under 2^63: (h % P31)·B ≈ 2³¹·10⁶ ≈ 2·10¹⁵
TOKEN_B = 1_000_003

MINHASH_A = [2 * i + 1 for i in range(N_MINHASHES)]
MINHASH_B = [i * i + 7 for i in range(N_MINHASHES)]


def md5_hash64(col: Column) -> Column:
    """60-bit integer hash of a string, identical across engines."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def md5_hash64_sql(expr: str) -> str:
    return f"try_cast(concat('0x', substr(md5({expr}),1,15)) AS BIGINT)"


# (a_i, b_i) coefficient structs as one literal array so the signature
# fold is a single pass: acc[i] = min(acc[i], (a_i·h + b_i) mod P31)
def _ab_structs() -> Column:
    return F.array(
        *[
            F.struct(F.lit(a).cast("long").alias("a"), F.lit(b).cast("long").alias("b"))
            for a, b in zip(MINHASH_A, MINHASH_B)
        ]
    )


def minhash_from_hashes(hashes_mod: Column) -> Column:
    """Signature from pre-reduced hashes (h mod P31): ONE aggregate pass
    over the array updating all N_MINHASHES minima via zip_with — md5 is
    never recomputed and the expression tree stays codegen-sized."""
    init = F.array_repeat(F.lit(P31).cast("long"), N_MINHASHES)
    return F.aggregate(
        hashes_mod,
        init,
        lambda acc, h: F.zip_with(
            acc, _ab_structs(), lambda m, ab: F.least(m, (ab["a"] * h + ab["b"]) % P31)
        ),
    )


def minhash_from_hashes_expr(h_expr: str) -> Column:
    """The SAME expression as :func:`minhash_from_hashes`, built as one
    SQL string parsed JVM-side. The Column-builder twin costs ~0.46 s of
    py4j round-trips per plan construction (measured — the 16 (a, b)
    literal structs alone are hundreds of gateway calls); this parses in
    ~2 ms. Plan construction runs inside every timed bench sample and on
    the driver's critical path at any scale, so the chatty builder was
    pure per-query driver overhead. Collect-verified equal output."""
    structs = ", ".join(
        f"named_struct('a', {a}L, 'b', {b}L)" for a, b in zip(MINHASH_A, MINHASH_B)
    )
    return F.expr(
        f"aggregate({h_expr}, array_repeat({P31}L, {N_MINHASHES}), "
        f"(acc, h) -> zip_with(acc, array({structs}), "
        f"(m, ab) -> least(m, (ab.a * h + ab.b) % {P31}L)))"
    )


def minhash_signature(tokens: Column) -> Column:
    """Array of N_MINHASHES min-hashes over a token array (SURVEY §7.2
    M5: shingle→minhash). Pure higher-order functions — JVM-side."""
    return minhash_from_hashes(F.transform(tokens, lambda t: md5_hash64(t) % P31))


def minhash_from_hashes_sql(h_expr: str) -> str:
    parts = [
        f"list_min(list_transform({h_expr}, h -> ({a} * h + {b}) % {P31}))"
        for a, b in zip(MINHASH_A, MINHASH_B)
    ]
    return "[" + ", ".join(parts) + "]"


def with_hashed_shingles(df: DataFrame) -> DataFrame:
    """Attach ``sh``: distinct integer 3-gram shingle hashes of ``text``.

    Each TOKEN is md5'd once (mod P31); a shingle hash is the rolling
    combine of its 3 token hashes — no n-gram strings are ever built and
    md5 runs once per token instead of once per (longer) shingle. All
    downstream set ops (Jaccard), the minhash fold, and the simhash
    accumulators consume these 8-byte ints. Collisions at 2³¹ over ~10²
    shingles/doc are negligible and, being md5-derived, identical in
    the oracle."""
    # Built as TWO SQL strings parsed JVM-side: the Column-builder
    # version of this function cost ~0.42 s of py4j round-trips per plan
    # construction (measured) — pure driver overhead billed to every
    # timed sample of every shingle-based query. Expressions identical.
    th = (
        "transform(split(lower(text), ' '), "
        f"t -> CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT) % {P31}L)"
    )
    comb = (
        f"((element_at(_th, i) * {TOKEN_B}L + element_at(_th, i + 1)) % {P31}L"
        f" * {TOKEN_B}L + element_at(_th, i + 2)) % {P31}L"
    )
    sh = (
        f"array_distinct(CASE WHEN size(_th) - {SHINGLE_N - 1} >= 1 "
        f"THEN transform(sequence(1, size(_th) - {SHINGLE_N - 1}), i -> {comb}) "
        f"ELSE CAST(array() AS ARRAY<BIGINT>) END)"
    )
    return df.withColumn("_th", F.expr(th)).withColumn("sh", F.expr(sh)).drop("_th")


def hashed_shingles_cte() -> str:
    """CTE pair `th, d` producing d(doc_id, sh) over ``documents`` — the
    oracle twin of :func:`with_hashed_shingles`."""
    th = (
        f"list_transform({text.tokens_sql('text')}, "
        f"t -> ({md5_hash64_sql('t')}) % {P31})"
    )
    comb = f"(((th[i] * {TOKEN_B} + th[i+1]) % {P31}) * {TOKEN_B} + th[i+2]) % {P31}"
    return (
        f"th AS (SELECT doc_id, {th} AS th FROM documents),\n"
        f"d AS (SELECT doc_id, list_distinct(list_transform("
        f"range(1, greatest(len(th) - {SHINGLE_N - 1}, 0) + 1), i -> {comb})) AS sh FROM th)"
    )


def jaccard(a: Column, b: Column) -> Column:
    return F.size(F.array_intersect(a, b)) / F.size(F.array_union(a, b))


def jaccard_sql(a: str, b: str) -> str:
    return (
        f"len(list_intersect({a}, {b}))::DOUBLE"
        f" / len(list_distinct(list_concat({a}, {b})))"
    )


def minhash_band_structs(sig: Column) -> Column:
    """(band, key) structs: key = '-'-joined minhash values of the band.
    The Column-builder reference for :func:`minhash_band_structs_expr`."""
    bands = []
    for b in range(MINHASH_BANDS):
        band = F.slice(sig, b * MINHASH_ROWS + 1, MINHASH_ROWS)
        key = F.concat_ws("-", F.transform(band, lambda x: x.cast("string")))
        bands.append(F.struct(F.lit(b).alias("band"), key.alias("key")))
    return F.array(*bands)


def minhash_band_structs_expr(sig_expr: str) -> Column:
    """SQL-string twin of :func:`minhash_band_structs` (~2 ms to build
    instead of ~0.22 s of py4j round-trips; identical expression)."""
    parts = ", ".join(
        f"named_struct('band', {b}, 'key', concat_ws('-', "
        f"transform(slice({sig_expr}, {b * MINHASH_ROWS + 1}, {MINHASH_ROWS}), "
        f"x -> CAST(x AS STRING))))"
        for b in range(MINHASH_BANDS)
    )
    return F.expr(f"array({parts})")


def minhash_band_structs_sql() -> str:
    parts = [
        f"{{'band': {b}, 'key': array_to_string("
        f"list_slice(sig, {b * MINHASH_ROWS + 1}, {(b + 1) * MINHASH_ROWS}), '-')}}"
        for b in range(MINHASH_BANDS)
    ]
    return "[" + ", ".join(parts) + "]"


def band_keys_cte() -> str:
    """CTEs `th, d, s, bk` producing s(doc_id, sh, sig) and bk(doc_id,
    band, key) over ``documents`` — the oracle twin of shingles →
    signature → band explode."""
    return (
        f"{hashed_shingles_cte()},\n"
        f"s AS (SELECT doc_id, sh, {minhash_from_hashes_sql('sh')} AS sig FROM d),\n"
        f"bk AS (SELECT doc_id, unnest({minhash_band_structs_sql()}, recursive := true) FROM s)"
    )


def token_hashes(tokens: Column) -> Column:
    """Hash each token ONCE; the simhash bit accumulators fold over this
    integer array (md5 is the expensive step — never re-hash per bit)."""
    return F.transform(tokens, md5_hash64)


def token_hashes_sql(tokens_expr: str) -> str:
    return f"list_transform({tokens_expr}, t -> {md5_hash64_sql('t')})"


def _pows() -> Column:
    return F.array(*[F.lit(1 << j).cast("long") for j in range(SIMHASH_BITS)])


def simhash_fingerprint(hashes: Column) -> Column:
    """SimHash over a pre-hashed token array: per-bit ±1 sums, then
    fingerprint = Σ 2^j·[sum_j > 0]. ONE aggregate pass carrying all 32
    bit counters as an array (a per-bit aggregate would traverse the
    token array 32× and blow up the codegen tree)."""
    counts = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), SIMHASH_BITS),
        lambda acc, h: F.zip_with(
            acc,
            _pows(),
            lambda c, p: c
            + F.when(h.bitwiseAND(p) != 0, F.lit(1)).otherwise(F.lit(-1)).cast("long"),
        ),
    )
    return F.aggregate(
        F.zip_with(counts, _pows(), lambda c, p: F.when(c > 0, p).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )


def simhash_fingerprint_expr(h_expr: str) -> Column:
    """SQL-string twin of :func:`simhash_fingerprint` (same expression,
    ~2 ms to build instead of ~0.41 s of py4j round-trips)."""
    pows = ", ".join(f"{1 << j}L" for j in range(SIMHASH_BITS))
    counts = (
        f"aggregate({h_expr}, array_repeat(0L, {SIMHASH_BITS}), "
        f"(acc, h) -> zip_with(acc, array({pows}), "
        f"(c, p) -> c + CAST(CASE WHEN (h & p) != 0 THEN 1 ELSE -1 END AS BIGINT)))"
    )
    return F.expr(
        f"aggregate(zip_with({counts}, array({pows}), "
        f"(c, p) -> CASE WHEN c > 0 THEN p ELSE 0L END), 0L, (a, x) -> a + x)"
    )


def simhash_fingerprint_sql(hashes_expr: str) -> str:
    terms = []
    for j in range(SIMHASH_BITS):
        sum_j = (
            f"list_sum(list_transform({hashes_expr}, "
            f"h -> CASE WHEN (h & {1 << j}) != 0 THEN 1 ELSE -1 END))"
        )
        terms.append(f"(CASE WHEN {sum_j} > 0 THEN {1 << j} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"
