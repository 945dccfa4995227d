"""Query registry: every operator from SURVEY.md §2 is exposed as a
named query over the driver test tables, paired with an ANSI-SQL oracle
(DuckDB) when the semantics are SQL-expressible.

The driver contract (__spark_entry__.py) reads this registry.
"""

from __future__ import annotations

import importlib
import pkgutil

from matt3r_data_ingestion_serverless_spark.plans.registry import QUERIES, all_queries, register

# Import every module of this package for its side effect: each one
# registers its queries.
for _mod in pkgutil.iter_modules(__path__):
    importlib.import_module(f"{__name__}.{_mod.name}")

__all__ = ["QUERIES", "all_queries", "register"]
