"""Cross-engine-stable rounding (SCALE.md §7 determinism rules).

`round(x, 6)` is NOT portable for arbitrary doubles: Spark rounds the
shortest decimal repr of the double (BigDecimal.valueOf) while DuckDB
rounds the binary value, so the same IEEE double can round differently
within an ulp of .5 at the rounding digit (two sf0.1 divergences in
round 2 traced to exactly this). The fix is one explicit formula —
sign(x)·floor(|x|·1e6 + 0.5)/1e6 — evaluated identically by both
engines. Use it whenever the value being rounded is an arbitrary
quotient/fold of doubles; plain round() stays fine for values with
≤ round-digit decimal precision (e.g. cents/100).

DOMAIN (r08): Spark's floor(double) returns LONG, so |x|·1e6 + 0.5
must stay under 2^63 — |x| < ~9.2e12 — or Spark saturates while
DuckDB's double floor keeps going and the engines diverge. Every
current call site is a ratio, probability, log, or per-unit price
(audited r08); quantities that GROW with data volume (sums of squares,
raw SSEs) must pre-scale before micro-rounding — ml_cart_root_split's
argmin key overflowed exactly this way at sf1 (breadth_r93.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def round6(col: Column) -> Column:
    return F.signum(col) * F.floor(F.abs(col) * 1e6 + 0.5) / 1e6


def round6_sql(expr: str) -> str:
    return (
        f"sign({expr}) * floor(abs({expr}) * 1e6 + 0.5) / 1e6"
    )


# Integer cents of a 2-decimal value, rounded half away from zero by
# both engines. Other queries use floor(value * 100 + 0.5), which
# rounds half up: the two rules differ on a value that lands on a .5
# boundary (-0.5 cent is -1 here, 0 there), so each oracle names its
# own rule.
CENTS_SQL = "CAST(round(value * 100, 0) AS BIGINT)"


def cents(col: str = "value") -> Column:
    return F.round(F.col(col) * 100, 0).cast("long")
