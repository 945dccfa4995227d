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

from pyspark.sql import Column
from pyspark.sql import functions as F

P31 = 2_147_483_647  # 2^31 - 1 (Mersenne)
N_MINHASHES = 16
SIMHASH_BITS = 32

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
