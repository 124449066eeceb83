"""Result checks, kept outside every timed region.

A batch result is compared with its DuckDB oracle on the same input as
an order-insensitive multiset: columns by name, cells normalized (floats
to 9 decimals, timestamps naive, arrays and structs as tuples, a null
and a NaN alike), rows sorted. The digest of the normalized rows stands
for the checked result, so later passes are checked against it without
running the oracle again.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math

import numpy as np
import pandas as pd

_EXACT_FLOAT = 2**53


def _cell(v):
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return None
        if f.is_integer() and abs(f) < _EXACT_FLOAT:
            return int(f)
        return round(f, 9) + 0.0
    if isinstance(v, pd.Timestamp):
        v = v.to_pydatetime()
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, np.ndarray):
        return tuple(_cell(x) for x in v.tolist())
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _cell(x)) for k, x in v.items()))
    if hasattr(v, "asDict"):  # pyspark Row
        return tuple(sorted((k, _cell(x)) for k, x in v.asDict().items()))
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


def normalize(columns: list[str], rows) -> tuple[list[str], list[tuple]]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_cell(r[i]) for i in order) for r in rows]
    out.sort(key=repr)
    return [columns[i] for i in order], out


def digest(columns: list[str], rows: list[tuple]) -> str:
    h = hashlib.sha256(repr(columns).encode())
    for r in rows:
        h.update(repr(r).encode())
    return h.hexdigest()


def normalize_pandas(pdf: pd.DataFrame) -> tuple[list[str], list[tuple]]:
    cols = list(pdf.columns)
    return normalize(cols, pdf.itertuples(index=False, name=None))


def oracle_rows(con, sql: str) -> tuple[list[str], list[tuple]]:
    rel = con.sql(sql)
    return normalize(list(rel.columns), rel.fetchall())


def first_difference(a: tuple[list, list], b: tuple[list, list]) -> str:
    if a[0] != b[0]:
        return f"columns {a[0]} != {b[0]}"
    if len(a[1]) != len(b[1]):
        return f"row count {len(a[1])} != {len(b[1])}"
    diffs = [(x, y) for x, y in zip(a[1], b[1]) if x != y][:3]
    return f"first differing rows {diffs}"


def duck_connection(sf_dir: str, tables):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con
