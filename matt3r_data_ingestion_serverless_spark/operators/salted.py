"""Salted two-phase aggregation (SURVEY §7.2 M6 scale hygiene).

When one group key is hot enough that its partition exceeds executor
memory (a chatty device at fleet scale), a plain groupBy ships every
row of that key to one reducer. Salting splits the hot key across
``n_salt`` reducers: phase 1 aggregates on (key, salt) — map-side
partials still apply — phase 2 combines the ``n_salt`` partials per
key. Results are identical to the unsalted aggregate for any
associative-commutative aggregate (sum/count/min/max).

AQE's skew handling covers skewed *joins*; aggregation skew still needs
this pattern, so it is a first-class operator here rather than a note.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_SALT = 8


def salted_sum_count(
    df: DataFrame, keys: list[str], value: str, n_salt: int = DEFAULT_SALT
) -> DataFrame:
    """sum/count of ``value`` per ``keys`` via salt-split two-phase
    aggregation. The salt derives from a hash of the row's value column
    (any per-row varying expression works — it only needs to spread
    rows of one key across reducers)."""
    salt = (F.abs(F.xxhash64(F.col(value))) % n_salt).alias("_salt")
    phase1 = df.groupBy(*keys, salt).agg(
        F.sum(value).alias("_psum"), F.count(value).alias("_pcnt")
    )
    return phase1.groupBy(*keys).agg(
        F.sum("_psum").alias(f"sum_{value}"),
        F.sum("_pcnt").alias(f"cnt_{value}"),
    )

