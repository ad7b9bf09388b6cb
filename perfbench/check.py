"""Output-correctness checks, run in the untimed pass of every run.

A query's result and its DuckDB oracle's result are reduced to one hash
with the canonical normalization of the engine's oracle-parity test:
columns sorted by name, cells canonicalized (Decimal -> str, datetimes
-> naive ISO, NaN -> "NaN"), rows sorted by value. Equal hashes mean
bit-identical results.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
import sqlite3


def _sort_key(v):
    if v is None:
        return (0, "")
    if isinstance(v, float) and math.isnan(v):
        return (1, "nan")
    return (2, str(v))


def _canon(v):
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def result_hash(colnames: list[str], rows) -> str:
    """Order-insensitive hash of a result (rows and columns)."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = [tuple(r[i] for i in order) for r in rows]
    out.sort(key=lambda r: tuple(_sort_key(v) for v in r))
    h = hashlib.sha256(repr([colnames[i] for i in order]).encode())
    for r in out:
        h.update(repr(tuple(_canon(v) for v in r)).encode())
    return h.hexdigest()


class Oracle:
    """DuckDB views over the generated parquet tables."""

    def __init__(self, data_dir: str):
        import duckdb

        from workshop3_etl_spark.sources.tables import TABLE_NAMES

        self.con = duckdb.connect()
        for name in TABLE_NAMES:
            self.con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM '{data_dir}/{name}.parquet'"
            )

    def hash(self, sql: str) -> str:
        res = self.con.execute(sql)
        return result_hash([c[0] for c in res.description], res.fetchall())

    def close(self) -> None:
        self.con.close()


def spark_hash(df) -> str:
    return result_hash(df.columns, [tuple(r) for r in df.collect()])


def warehouse_state(db_path: str) -> tuple[int, int]:
    """(rows, rows with a null prediction) in the ``predictions`` table."""
    con = sqlite3.connect(db_path)
    try:
        return con.execute(
            "SELECT COUNT(*), SUM(y_pred IS NULL) FROM predictions"
        ).fetchone()
    finally:
        con.close()
