"""Declared-query modules, one per query family. Importing them
registers into registry.QUERIES.

A query lives in the family its subject names (the first word after
`q_`: `q_orders_*` in orders.py, `q_stats_*` in stats.py, ...).
`deciles.py` holds the shared rank and decile helpers and declares no
query. Cross-family helpers live in `functions/` (one copy each), so no
query module imports a private name from another; tests/
test_query_modules.py pins that layout.
"""

from __future__ import annotations

import importlib

_MODULES = (
    "relational",
    "aggregates",
    "windows",
    "warehouse",
    "strings_dates",
    "events",
    "text",
    "similarity",
    "udfs",
    "dedup_ext",
    "multimodal_ext",
    "scale_ext",
    "profiling",
    "stats",
    "orders",
    "graph",
    "tpch",
    "warc_ext",
    "wds_ext",
    "curation",
)


def load() -> None:
    for m in _MODULES:
        importlib.import_module(f"datawarehouse1_spark.queries.{m}")
