"""JDBC native source: dialect SQL executed over a raw DBAPI connection.

Reference: core/.../reader/TableReaderJdbcNative.scala:30-158 +
utils/JdbcNativeUtils.scala — the reader that runs the generated (or
user-supplied) SQL over a plain JDBC connection and builds the DataFrame
from the result set itself, for statements the Spark JDBC reader cannot
express (vendor-specific SQL, non-SELECT statements returning cursors,
drivers too quirky for the ``dbtable`` subquery wrapping).

Python-side the connection is any DBAPI 2.0 driver: the stdlib
``sqlite3`` works out of the box (``sqlite.path`` option) and anything
else plugs in via ``connection.factory`` ("pkg.module:callable" returning
an open connection).

Scale note: like the reference, a native read materializes through ONE
connection on the driver. The rows then reach the JVM as Arrow record
batches (``session.local_frame``) and Spark plans them as a
``LocalRelation``, so no Python worker starts: like the reference's
JVM-side reader, the write that follows runs no Python. It is the escape
hatch for control-plane and medium result sets, not the bulk path (that
is ``JdbcSource``, where Spark's JDBC reader partitions the read).
``fetch.size`` bounds driver memory per batch.
"""

from __future__ import annotations

import datetime as _dt
import decimal as _decimal
import threading
from typing import Any, Dict, List, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from pramen_spark.session import local_frame
from pramen_spark.sources.jdbc_source import JdbcSource

# inference ranks: a column's type is the highest rank seen across ALL its
# values (single pass, no transposed copy), so int-then-float promotes to
# double, int-then-Decimal promotes to decimal, and anything mixed/unknown
# (uuid, time, ...) falls back to string with the VALUES coerced to match —
# a schema the verifier accepts beats a TypeError mid-ingestion
(
    _RANK_BOOL,
    _RANK_LONG,
    _RANK_DECIMAL,
    _RANK_DOUBLE,
    _RANK_BYTES,
    _RANK_TS,
    _RANK_DATE,
    _RANK_STR,
) = range(8)


def _rank_of(v: Any) -> int:
    if isinstance(v, bool):
        return _RANK_BOOL
    if isinstance(v, int):
        return _RANK_LONG
    if isinstance(v, float):
        return _RANK_DOUBLE
    if isinstance(v, _decimal.Decimal):
        # non-finite decimals (NaN/Inf) cannot live in DecimalType
        return _RANK_DECIMAL if v.is_finite() else _RANK_STR
    if isinstance(v, bytes):
        return _RANK_BYTES
    if isinstance(v, _dt.datetime):
        return _RANK_TS
    if isinstance(v, _dt.date):
        return _RANK_DATE
    return _RANK_STR


def _merge_rank(a: Optional[int], b: int) -> int:
    if a is None or a == b:
        return b
    pair = {a, b}
    if pair <= {_RANK_LONG, _RANK_DOUBLE} or pair == {_RANK_DECIMAL, _RANK_DOUBLE}:
        return _RANK_DOUBLE  # numeric promotion
    if pair == {_RANK_LONG, _RANK_DECIMAL}:
        return _RANK_DECIMAL  # ints are exact decimals
    return _RANK_STR  # any other mix: stringly-typed


_RANK_TYPES = {
    _RANK_BOOL: T.BooleanType(),
    _RANK_LONG: T.LongType(),
    _RANK_DOUBLE: T.DoubleType(),
    _RANK_BYTES: T.BinaryType(),
    _RANK_TS: T.TimestampType(),
    _RANK_DATE: T.DateType(),
    _RANK_STR: T.StringType(),
}


def _decimal_digits(v: _decimal.Decimal) -> Tuple[int, int]:
    """(integral digits, scale) of one finite Decimal value."""
    t = v.as_tuple()
    scale = max(-t.exponent, 0)
    int_digits = max(len(t.digits) + t.exponent, 0)
    return int_digits, scale


def _infer_schema(
    rows: List[tuple],
    names: List[str],
    incorrect_decimals_as_string: bool = False,
) -> T.StructType:
    """Value-driven schema inference. DECIMAL columns get a
    ``DecimalType`` with value-derived precision/scale (the reference
    derives them from JDBC metadata — ResultSetToRowIterator.scala:
    245-255 getDecimalSparkSchema); values that cannot fit decimal(38, _)
    fall back to ``decimal(38, 18)``, or to string when
    ``incorrect.decimals.as.string`` is set (JdbcConfig.scala:37)."""
    ranks: List[Optional[int]] = [None] * len(names)
    dec_int_digits = [0] * len(names)
    dec_scale = [0] * len(names)
    int_max = [0] * len(names)
    for row in rows:
        for i, v in enumerate(row):
            if v is None:
                continue
            ranks[i] = _merge_rank(ranks[i], _rank_of(v))
            if isinstance(v, _decimal.Decimal) and v.is_finite():
                d, s = _decimal_digits(v)
                dec_int_digits[i] = max(dec_int_digits[i], d)
                dec_scale[i] = max(dec_scale[i], s)
            elif isinstance(v, int) and not isinstance(v, bool):
                int_max[i] = max(int_max[i], abs(v))
    fields = []
    for i, (n, r) in enumerate(zip(names, ranks)):
        r = r if r is not None else _RANK_STR
        if r == _RANK_DECIMAL:
            int_digits = max(dec_int_digits[i], len(str(int_max[i])) if int_max[i] else 0, 1)
            scale = dec_scale[i]
            if int_digits + scale <= 38:
                dtype: T.DataType = T.DecimalType(int_digits + scale, scale)
            elif int_digits <= 20 and not incorrect_decimals_as_string:
                dtype = T.DecimalType(38, 18)
            else:
                # cannot fit decimal(38, _): stringly-typed, like the
                # reference's incorrectDecimalsAsString escape hatch
                dtype = T.StringType()
        else:
            dtype = _RANK_TYPES[r]
        fields.append(T.StructField(n, dtype, True))
    return T.StructType(fields)


def _coerce(rows: List[tuple], schema: T.StructType) -> List[tuple]:
    """Convert values to their column's inferred type (int -> Decimal
    under decimal promotion, int -> float under numeric promotion,
    unfittable Decimal -> str, ...) so the row verifier of
    ``local_frame`` accepts every row."""
    casters = []
    for f in schema.fields:
        if isinstance(f.dataType, T.DoubleType):
            casters.append(lambda v: float(v) if v is not None else None)
        elif isinstance(f.dataType, T.DecimalType):
            exp = _decimal.Decimal(1).scaleb(-f.dataType.scale)
            # a 38-digit context: the default 28-digit one rejects
            # quantizations whose result needs more coefficient digits
            ctx = _decimal.Context(prec=38, rounding=_decimal.ROUND_HALF_UP)

            def _to_dec(v, exp=exp, ctx=ctx):
                if v is None:
                    return None
                return _decimal.Decimal(v).quantize(exp, context=ctx)

            casters.append(_to_dec)
        elif isinstance(f.dataType, T.StringType):
            casters.append(lambda v: str(v) if v is not None and not isinstance(v, str) else v)
        else:
            casters.append(lambda v: v)
    return [tuple(c(v) for c, v in zip(casters, row)) for row in rows]


class JdbcNativeSource(JdbcSource):
    """Options (in addition to ``JdbcSource``'s dialect/pushdown options):

    - ``connection.factory``: "pkg.module.callable" -> DBAPI connection
    - ``sqlite.path``: shortcut for the stdlib sqlite3 backend
    - ``fetch.size``: rows per cursor.fetchmany batch (default 10000)
    - ``sql``-typed queries may use ``@infoDateBegin`` / ``@infoDateEnd`` /
      ``@infoDate`` tokens, substituted as quoted ISO dates
      (TableReaderJdbcNative.applyInfoDateExpressionToQuery)
    """

    def __init__(self, spark: SparkSession, options: Optional[Dict[str, Any]] = None):
        super().__init__(spark, options)
        self._conn = None
        # task attempts run on varying threads (runner pool + watchdog
        # threads): queries serialize on this lock, and the sqlite backend
        # opens with check_same_thread=False for the same reason
        self._lock = threading.Lock()

    # --- connection ---

    def _connect(self):
        if self._conn is not None:
            return self._conn
        factory = self.options.get("connection.factory")
        if factory:
            from pramen_spark.api import load_class

            self._conn = load_class(factory)()
        elif "sqlite.path" in self.options:
            import sqlite3

            # connection.timeout (README.md:631-632) maps to sqlite's
            # busy-wait timeout; the reference sets the JDBC login timeout
            self._conn = sqlite3.connect(
                self.options["sqlite.path"],
                check_same_thread=False,
                timeout=float(self.options.get("connection.timeout", 60)),
            )
            if self._opt_bool("autocommit", False):
                # DBAPI autocommit (README.md:643-644; native reader only)
                self._conn.isolation_level = None
        else:
            raise ValueError(
                "JdbcNativeSource needs 'connection.factory' or 'sqlite.path'"
            )
        return self._conn

    def close(self) -> None:
        if self._conn is not None:
            try:
                self._conn.close()
            finally:
                self._conn = None

    # --- execution over DBAPI ---

    def _fetch_all(self, sql: str) -> Tuple[List[str], List[tuple], tuple]:
        with self._lock:
            cur = self._connect().cursor()
            cur.execute(sql)
            description = tuple(cur.description)
            names = [d[0] for d in description]
            fetch_size = int(self.options.get("fetch.size", 10_000))
            rows: List[tuple] = []
            while True:
                batch = cur.fetchmany(fetch_size)
                if not batch:
                    break
                rows.extend(tuple(r) for r in batch)
            cur.close()
        return names, rows, description

    def _fetch_scalar(self, sql: str):
        with self._lock:
            cur = self._connect().cursor()
            cur.execute(sql)
            value = cur.fetchone()[0]
            cur.close()
        return value

    def _run_query(self, sql: str, is_data_query: bool = True) -> DataFrame:
        from pramen_spark.sources.jdbc_type_fixes import (
            add_metadata_from_fields,
            field_metadata_from_description,
        )

        names, rows, description = self._fetch_all(sql)
        schema = _infer_schema(
            rows,
            names,
            self._opt_bool("incorrect.decimals.as.string", False),
        )
        if is_data_query and self._opt_bool("enable.schema.metadata", False):
            # DBAPI cursor.description plays ResultSetMetaData
            # (TableReaderJdbcNative.scala:108,142): VARCHAR(n) columns
            # gain maxLength metadata when the driver reports sizes
            # (sqlite3 reports None — no annotation, correctly)
            schema = add_metadata_from_fields(
                schema, field_metadata_from_description(description)
            )
        df = local_frame(self.spark, _coerce(rows, schema), schema)
        # sanitize.datetime is structurally a no-op here: Python datetime
        # objects are bounded to years 1..9999 by construction, so only
        # save.timestamps.as.dates applies (metadata handled above since
        # the probe IS the data cursor on this path)
        from pramen_spark.sources.jdbc_type_fixes import convert_timestamps_to_dates

        if self._opt_bool("save.timestamps.as.dates", False):
            df = convert_timestamps_to_dates(df)
        return df

    @staticmethod
    def _substitute_dates(sql: str, date_from: _dt.date, date_to: _dt.date) -> str:
        # longest token first: @infoDateBegin must not be clobbered by @infoDate
        return (
            sql.replace("@infoDateBegin", f"'{date_from.isoformat()}'")
            .replace("@infoDateEnd", f"'{date_to.isoformat()}'")
            .replace("@infoDate", f"'{date_to.isoformat()}'")
        )

    # --- Source protocol ---

    def has_info_date_column(self) -> bool:
        return bool(self.options.get("has.information.date.column", True))

    def get_data(self, query: Any, date_from: _dt.date, date_to: _dt.date) -> DataFrame:
        if isinstance(query, dict) and "sql" in query:
            return self._run_query(self._substitute_dates(query["sql"], date_from, date_to))
        table = query["table"] if isinstance(query, dict) else str(query)
        return self._run_query(self.build_data_sql(table, date_from, date_to))

    def get_record_count(self, query: Any, date_from: _dt.date, date_to: _dt.date) -> int:
        if isinstance(query, dict) and "sql" in query:
            sql = self._substitute_dates(query["sql"], date_from, date_to)
            return int(self._fetch_scalar(f"SELECT COUNT(*) FROM ({sql}) AS q"))
        table = query["table"] if isinstance(query, dict) else str(query)
        return int(self._fetch_scalar(self.build_count_sql(table, date_from, date_to)))

    def get_data_incremental(self, query, info_date, offset_from, offset_to) -> DataFrame:
        if isinstance(query, dict) and "sql" in query:
            raise ValueError(
                "Incremental ingestion needs a 'table' query for the native reader "
                "(TableReaderJdbcNative.getIncrementalData)"
            )
        table = query["table"] if isinstance(query, dict) else str(query)
        return self._run_query(
            self.build_incremental_sql(
                table,
                info_date,
                self._as_offset_value(offset_from),
                self._as_offset_value(offset_to),
            )
        )
