"""Result checking for the catalog workloads.

A result is reduced to a digest that does not depend on row order, column
order or the Python types each engine hands back: columns are sorted by
name, every cell is rendered canonically (numbers as ``repr(float)``, dates
and timestamps in ISO form, lists element-wise), and rows are sorted by
that rendering. A Spark result is correct when its digest equals the digest
of the query's DuckDB oracle (``QuerySpec.oracle``) over the same generated
tables. The canonical rendering follows the cell equality of
``tools/check_oracle.py``: values compare as numbers where either side is
numeric, so DECIMAL and DOUBLE results agree.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math


def _cell(v) -> str:
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float, decimal.Decimal)):
        f = float(v)
        return "nan" if math.isnan(f) else repr(f)
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if hasattr(v, "asDict"):  # a Spark struct Row (a tuple) against a DuckDB dict
        v = v.asDict()
    if isinstance(v, dict):
        return "{" + ",".join(f"{_cell(k)}:{_cell(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def digest(columns, rows) -> str:
    """Order-insensitive digest of a result set."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x1f".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\x1e" + line.encode())
    return h.hexdigest()


def duck_digest(sql: str, data_dir: str) -> str:
    """Digest of the DuckDB oracle ``sql`` over the parquet tables in ``data_dir``."""
    import duckdb

    from catalog_data import TABLES

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        cur = con.execute(sql)
        return digest([d[0] for d in cur.description], cur.fetchall())
    finally:
        con.close()
