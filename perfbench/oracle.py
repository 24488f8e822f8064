"""Output checks: canonical result digests and the DuckDB oracle.

A result is canonicalised the way the engine's own oracle tests do it:
columns sorted by name, cells normalised (float repr, ISO timestamps),
rows sorted. The digest covers column names, type classes and values, so
a schema change, a lost row or a changed value all change it.
"""

from __future__ import annotations

import hashlib
import math
import os
from datetime import date, datetime

import duckdb

_INT = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "INT", "LONG", "SHORT", "BYTE"}
_FLOAT = {"FLOAT", "DOUBLE", "REAL"}


def type_class(type_name: str) -> str:
    """Engine type name -> the class that decides how a cell renders."""
    t = type_name.upper()
    if "DECIMAL" in t:
        return "decimal"
    if t in _INT:
        return "int"
    if t in _FLOAT:
        return "float"
    if "TIMESTAMP" in t:
        return "ts"
    if t == "DATE":
        return "date"
    return "other"


def _cell(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, datetime):
        return v.isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def digest(columns: list[str], types: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(tuple(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    h.update(repr([(columns[i], type_class(types[i])) for i in order]).encode())
    for row in canon:
        h.update(repr(row).encode())
    return h.hexdigest()


def spark_digest(df, rows) -> str:
    return digest(
        df.columns,
        [f.dataType.simpleString() for f in df.schema.fields],
        [tuple(r) for r in rows],
    )


class DuckOracle:
    """DuckDB over the generated parquet, one view per table."""

    def __init__(self, data_dir: str, tables):
        self.con = duckdb.connect()
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def digest(self, sql: str) -> str:
        rel = self.con.sql(sql)
        return digest(list(rel.columns), [str(t) for t in rel.types], rel.fetchall())

    def close(self) -> None:
        self.con.close()
