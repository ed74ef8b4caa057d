"""``session.local_frame``: driver-side rows become a frame through Arrow
batches. The frame's schema, rows, row order, timestamps and rejections
equal those of the row path (``createDataFrame(rows, schema)``), its plan
holds no Python RDD, and the pipeline's packages build no frame from rows
any other way.

Every write runs in a thread joined with a timeout, so a write that never
returns fails the test instead of hanging the suite."""

import ast
import calendar
import datetime as dt
import decimal
import os
import sqlite3
import threading
import time

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pramen_spark.config.models import DataFormat, OperationDef, TableConfig
from pramen_spark.metastore.metastore import Metastore
from pramen_spark.runner.bookkeeper import Bookkeeper, JournalEntry
from pramen_spark.runner.jobs import IngestionJob
from pramen_spark.runner.task_runner import RunStatus, TaskRunner
from pramen_spark.scheduling.strategies import TaskPreDef, TaskRunReason
from pramen_spark.session import local_frame
from pramen_spark.sources import jdbc_native_source
from pramen_spark.sources.jdbc_native_source import JdbcNativeSource, _coerce, _infer_schema
from pramen_spark.sources.raw_file_source import RawFileSource
from pramen_spark.store import DeltaStore, spark_schema

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
D = dt.date(2024, 1, 10)
WAIT_S = 120
Dec = decimal.Decimal


def bounded(fn):
    """``fn()`` in a thread; fails if it has not returned within WAIT_S."""
    box = {}

    def run():
        try:
            box["value"] = fn()
        except BaseException as exc:  # noqa: BLE001 — re-raised below
            box["error"] = exc

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(WAIT_S)
    assert not t.is_alive(), f"still running after {WAIT_S} s"
    if "error" in box:
        raise box["error"]
    return box["value"]


def row_path(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def inferred(raw_rows, names):
    """Rows and schema as the JDBC-native source hands them over."""
    schema = _infer_schema(raw_rows, names)
    return _coerce(raw_rows, schema), schema


# one column each, values as a DBAPI cursor returns them
COLUMNS = {
    "long": ([1, -(2**63), 2**63 - 1, None], T.LongType()),
    "double": ([1.5, -0.0, float("inf"), None], T.DoubleType()),
    "bool": ([True, False, None], T.BooleanType()),
    "bytes": ([b"ab", b"", b"\x00\xff", None], T.BinaryType()),
    "date": ([dt.date(2024, 1, 2), dt.date(1, 1, 1), dt.date(9999, 12, 31), None], T.DateType()),
    "string": (["x", "", "ünï €", None], T.StringType()),
    "decimal": ([Dec("12.345"), Dec("-0.5"), 7, None], T.DecimalType(5, 3)),
    "decimal_38_18": (
        [Dec("12345678901234567890.123456789012345678901"), Dec("1.5"), None],
        T.DecimalType(38, 18),
    ),
    "nonfinite_decimal": ([Dec("NaN"), Dec("1.5"), Dec("Infinity"), None], T.StringType()),
    "all_null": ([None, None], T.StringType()),
}


class TestSameAsRowPath:
    @pytest.mark.parametrize("name", sorted(COLUMNS))
    def test_one_column(self, spark, name):
        values, expected_type = COLUMNS[name]
        rows, schema = inferred([(v,) for v in values], [name])
        assert schema[name].dataType == expected_type
        got, want = local_frame(spark, rows, schema), row_path(spark, rows, schema)
        assert got.schema == want.schema == schema
        assert got.collect() == want.collect()

    def test_all_columns_in_one_frame(self, spark):
        n = max(len(v) for v, _ in COLUMNS.values())
        raw = [
            tuple(values[i % len(values)] for values, _ in COLUMNS.values())
            for i in range(3 * n)
        ]
        rows, schema = inferred(raw, list(COLUMNS))
        got, want = local_frame(spark, rows, schema), row_path(spark, rows, schema)
        assert got.schema == want.schema
        assert got.collect() == want.collect()

    def test_no_rows(self, spark):
        schema = T.StructType(
            [T.StructField(name, t) for name, (_, t) in COLUMNS.items()]
            + [T.StructField("ts", T.TimestampType()),
               T.StructField("sig", T.ArrayType(T.LongType(), False))]
        )
        got = local_frame(spark, [], schema)
        assert got.schema == row_path(spark, [], schema).schema == schema
        assert got.collect() == []

    def test_more_rows_than_one_arrow_batch_keep_their_order(self, spark):
        key = "spark.sql.execution.arrow.maxRecordsPerBatch"
        before = spark.conf.get(key)
        spark.conf.set(key, "7")
        try:
            rows = [(i, f"r{i}") for i in range(100, 0, -1)]
            schema = T.StructType([T.StructField("id", T.LongType()), T.StructField("s", T.StringType())])
            df = local_frame(spark, rows, schema)
        finally:
            spark.conf.set(key, before)
        assert [tuple(r) for r in df.collect()] == rows
        assert df.collect() == row_path(spark, rows, schema).collect()


class TestTimestamps:
    """A naive ``datetime`` is read in the process's local zone on both
    paths (``TimestampType.toInternal`` uses ``time.mktime``)."""

    STAMPS = [
        dt.datetime(2024, 1, 15, 12, 30, 45, 123456),  # standard time
        dt.datetime(2024, 7, 15, 0, 0, 0, 1),  # daylight saving time
        dt.datetime(1970, 1, 1),
        None,
    ]

    @pytest.fixture(params=["America/New_York", "Asia/Kolkata"])
    def local_zone(self, request):
        before = os.environ.get("TZ")
        os.environ["TZ"] = request.param
        time.tzset()
        try:
            yield request.param
        finally:
            if before is None:
                os.environ.pop("TZ", None)
            else:
                os.environ["TZ"] = before
            time.tzset()

    def test_same_instants_as_row_path(self, spark, local_zone):
        rows, schema = inferred([(v,) for v in self.STAMPS], ["ts"])
        assert schema["ts"].dataType == T.TimestampType()
        micros = F.unix_micros("ts").alias("us")
        got = [r.us for r in local_frame(spark, rows, schema).select(micros).collect()]
        want = [r.us for r in row_path(spark, rows, schema).select(micros).collect()]
        assert got == want
        local = [
            int(time.mktime(v.timetuple())) * 1_000_000 + v.microsecond if v else None
            for v in self.STAMPS
        ]
        as_utc = [
            calendar.timegm(v.timetuple()) * 1_000_000 + v.microsecond if v else None
            for v in self.STAMPS
        ]
        assert got == local != as_utc


class TestRejections:
    """What the row path's verifier rejects still raises, with the same
    error type."""

    @pytest.mark.parametrize("rows,schema", [
        ([(2**63,)], "l long"),
        ([(-(2**63) - 1,)], "l long"),
        ([("1",)], "l long"),
        ([(1.5,)], "l long"),
        ([(None,)], T.StructType([T.StructField("l", T.LongType(), False)])),
        ([(1, 2)], "l long"),
    ], ids=["long_overflow", "long_underflow", "str_in_long", "float_in_long",
            "null_in_not_null", "too_many_fields"])
    def test_raises_like_row_path(self, spark, rows, schema):
        if isinstance(schema, str):
            schema = T._parse_datatype_string(schema)
        with pytest.raises(Exception) as want:
            row_path(spark, rows, schema)
        with pytest.raises(type(want.value)):
            local_frame(spark, rows, schema)


def test_non_string_in_string_column_raises(spark):
    """The row path's verifier takes any value for a string column and the
    JVM stores its ``toString`` (``True`` becomes ``'true'``); here such a
    value raises instead of changing its spelling."""
    schema = T.StructType([T.StructField("s", T.StringType())])
    assert row_path(spark, [(True,)], schema).collect()[0].s == "true"
    with pytest.raises(TypeError):
        local_frame(spark, [(True,)], schema)


def _plan_text(df):
    qe = df._jdf.queryExecution()
    return qe.analyzed().toString() + qe.executedPlan().toString() + qe.toRdd().toDebugString()


def test_plan_holds_no_python_rdd(spark):
    rows = [(i, f"r{i}") for i in range(20)]
    schema = T.StructType([T.StructField("id", T.LongType()), T.StructField("s", T.StringType())])
    plan = _plan_text(local_frame(spark, rows, schema))
    assert "LocalRelation" in plan
    assert "ExistingRDD" not in plan and "PythonRDD" not in plan
    # the row path, for contrast
    assert "PythonRDD" in _plan_text(row_path(spark, rows, schema))


def _sqlite(path, n):
    conn = sqlite3.connect(path)
    conn.execute("CREATE TABLE t (id INTEGER, info_date TEXT, amount REAL, note TEXT, price NUMERIC)")
    conn.executemany(
        "INSERT INTO t VALUES (?, ?, ?, ?, ?)",
        [(i, D.isoformat(), i / 4, f"n{i % 7}" if i % 5 else None, i * 3) for i in range(n)],
    )
    conn.commit()
    conn.close()


def _ingest(spark, db, out):
    ms = Metastore(spark, [TableConfig(name="t", format=DataFormat.parquet(out))])
    bk = Bookkeeper()
    source = JdbcNativeSource(spark, {
        "sqlite.path": db,
        "vendor": "generic",
        "information.date.column": "info_date",
        "information.date.type": "string",
    })
    job = IngestionJob(
        OperationDef(name="ingest_t", kind="ingestion", output_table="t"),
        ms, bk, ms.table_config("t"), source, {"table": "t"},
    )
    try:
        r = bounded(lambda: TaskRunner(bk).run_task(job, TaskPreDef(D, TaskRunReason.NEW)))
    finally:
        source.close()
    assert r.status == RunStatus.SUCCEEDED, r.error
    part = os.path.join(out, f"pramen_info_date={D.isoformat()}")
    file_rows = sorted(
        pq.read_metadata(os.path.join(part, f)).num_rows
        for f in os.listdir(part) if f.endswith(".parquet")
    )
    data = sorted(tuple(x) for x in spark.read.parquet(part).collect())
    return r.records, file_rows, data


def test_jdbc_native_ingestion_writes_as_the_row_path(spark, tmp_path, monkeypatch):
    """Both paths spread rows over ``defaultParallelism`` partitions; with
    at least that many rows they write as many files, although the rows
    may split between them a little differently."""
    db = str(tmp_path / "src.db")
    _sqlite(db, 550)
    got = _ingest(spark, db, str(tmp_path / "arrow"))
    monkeypatch.setattr(jdbc_native_source, "local_frame", row_path)
    want = _ingest(spark, db, str(tmp_path / "rows"))
    assert got[0] == want[0] == 550
    assert len(got[1]) == len(want[1]) == spark.sparkContext.defaultParallelism
    assert got[2] == want[2]


def test_jdbc_native_ingestion_of_fewer_rows_than_cores(spark, tmp_path, monkeypatch):
    """The row path also writes an empty file for the empty first of its
    ``defaultParallelism`` slices; a ``LocalRelation`` makes only as many
    partitions as it has rows, so that file is left out."""
    db = str(tmp_path / "src.db")
    n = spark.sparkContext.defaultParallelism - 1
    _sqlite(db, n)
    got = _ingest(spark, db, str(tmp_path / "arrow"))
    monkeypatch.setattr(jdbc_native_source, "local_frame", row_path)
    want = _ingest(spark, db, str(tmp_path / "rows"))
    assert got[0] == want[0] == n
    assert got[2] == want[2]
    assert got[1] == [x for x in want[1] if x] == [1] * n


class TestRawFileSource:
    def test_count_equals_rows_when_days_list_a_file_twice(self, spark, tmp_path):
        for name in ("a_2024-01.csv", "b_2024-01.csv", "c_2024-02.csv", "d_2024-03.csv"):
            (tmp_path / name).write_text("x\n")
        query = {"path": str(tmp_path / "*_{{yyyy-MM}}.csv")}
        src = RawFileSource(spark, {})
        first, last = dt.date(2024, 1, 30), dt.date(2024, 2, 2)
        df = src.get_data(query, first, last)
        assert sorted(r.file_name for r in df.collect()) == [
            "a_2024-01.csv", "b_2024-01.csv", "c_2024-02.csv"]
        assert src.get_record_count(query, first, last) == df.count() == 3

    def test_count_runs_no_spark(self, tmp_path):
        (tmp_path / "f_2024-01-10.txt").write_text("x\n")
        src = RawFileSource(None, {})  # any Spark call would fail
        assert src.get_record_count(str(tmp_path / "f_{{yyyy-MM-dd}}.txt"), D, D) == 1
        assert src.get_record_count(str(tmp_path), D, D) == 1


def test_delta_store_frame(spark, tmp_path):
    """The frame a ``DeltaStore`` writes, built without delta-spark."""
    entries = [
        JournalEntry("a", "2024-01-10", "Succeeded", 1.0, 2.5, 10, "new"),
        JournalEntry("b", "2024-01-11", "Failed", 3.0, 4.0),
    ]
    store = DeltaStore(spark, str(tmp_path / "journal"), JournalEntry)
    df = store._frame(entries)
    assert df.schema == spark_schema(JournalEntry)
    assert [store._record(r.asDict()) for r in df.collect()] == entries


# --- guard: the pipeline's packages and the query catalog's operators
# build frames from rows only through local_frame ---

GUARDED = [
    os.path.join(ROOT, "pramen_spark", d)
    for d in ("sources", "sinks", "metastore", "runner", "streaming", "operators", "queries")
] + [os.path.join(ROOT, "pramen_spark", "store.py")]


def create_dataframe_calls(source: str, filename: str = "<src>"):
    """``(line, data argument)`` of each ``createDataFrame`` call.

    A name or a call can hold a Python list as well as a literal can, and
    which one it holds is not visible in the syntax tree, so every call
    counts, whatever its data argument."""
    out = []
    for node in ast.walk(ast.parse(source, filename)):
        if not isinstance(node, ast.Call):
            continue
        func = node.func
        name = func.attr if isinstance(func, ast.Attribute) else getattr(func, "id", None)
        if name != "createDataFrame":
            continue
        data = node.args[0] if node.args else next(
            (k.value for k in node.keywords if k.arg == "data"), None)
        out.append((node.lineno, ast.unparse(data) if data is not None else ""))
    return out


def _guarded_files():
    for target in GUARDED:
        if target.endswith(".py"):
            yield target
            continue
        for dirpath, _, names in os.walk(target):
            yield from (os.path.join(dirpath, n) for n in sorted(names) if n.endswith(".py"))


def test_guard_finds_list_arguments():
    src = (
        "spark.createDataFrame([(1,)], 'a long')\n"
        "spark.createDataFrame([r for r in rows], schema)\n"
        "self.spark.createDataFrame(files, FILE_SCHEMA)\n"
        "spark.createDataFrame(data=rows, schema=s)\n"
        "local_frame(spark, rows, schema)\n"
    )
    assert [line for line, _ in create_dataframe_calls(src)] == [1, 2, 3, 4]


def test_pipeline_builds_frames_from_rows_only_through_local_frame():
    found = []
    paths = list(_guarded_files())
    assert len(paths) > 20, paths  # the packages are where the guard looks
    for path in paths:
        with open(path) as f:
            for line, data in create_dataframe_calls(f.read(), path):
                found.append(f"{os.path.relpath(path, ROOT)}:{line} createDataFrame({data}, ...)")
    assert found == [], (
        "build driver-side frames with pramen_spark.session.local_frame: "
        "createDataFrame on rows starts Python workers\n" + "\n".join(found)
    )
