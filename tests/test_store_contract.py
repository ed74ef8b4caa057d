"""One contract for the bookkeeper, run journal and offset ledger, run over
every record-store backend: memory, JSON lines, Spark parquet (by plain
path and by ``file:///`` URI) and DBAPI (sqlite). Each backend opens any number of instances over one storage
location, so "reopen" and "a second driver" are both a fresh instance."""

import datetime as dt
import json
import sys
import threading

import pytest
from pyspark.sql import types as T

from pramen_spark.offsets.ledger import OffsetEvent, OffsetLedger, OffsetRecord, OffsetTransaction
from pramen_spark.offsets.spark_ledger import SparkOffsetLedger
from pramen_spark.runner.bookkeeper import (
    Bookkeeper,
    DataChunk,
    Journal,
    JournalEntry,
    JsonBookkeeper,
    SchemaVersion,
)
from pramen_spark.runner.dbapi_bookkeeper import (
    DbApiBookkeeper,
    DbApiConnection,
    DbApiJournal,
    DbApiOffsetLedger,
)
from pramen_spark.runner.spark_bookkeeper import SparkBookkeeper, SparkJournal
from pramen_spark.sql.generators import OffsetType, OffsetValue
from pramen_spark.store import MemoryStore, spark_schema, sql_columns

D = dt.date(2024, 1, 10)
D1 = D + dt.timedelta(days=1)


class MemoryBackend:
    def __init__(self, tmp_path, spark):
        self.chunks, self.schemas = MemoryStore(DataChunk), MemoryStore(SchemaVersion)
        self.entries, self.events = MemoryStore(JournalEntry), MemoryStore(OffsetEvent)

    def bookkeeper(self):
        return Bookkeeper(self.chunks, self.schemas)

    def journal(self):
        return Journal(store=self.entries)

    def ledger(self):
        return OffsetLedger(store=self.events)


class JsonLinesBackend:
    def __init__(self, tmp_path, spark):
        self.root = tmp_path / "bk"

    def bookkeeper(self):
        return JsonBookkeeper(str(self.root / "bookkeeping.jsonl"))

    def journal(self):
        return Journal(path=str(self.root / "journal.jsonl"))

    def ledger(self):
        return OffsetLedger(str(self.root / "offsets.jsonl"))


class SparkParquetBackend:
    def __init__(self, tmp_path, spark):
        self.spark, self.root = spark, str(tmp_path / "bk")

    def bookkeeper(self):
        return SparkBookkeeper(self.spark, self.root)

    def journal(self):
        return SparkJournal(self.spark, f"{self.root}/journal")

    def ledger(self):
        return SparkOffsetLedger(self.spark, f"{self.root}/offsets")


class SparkParquetUriBackend(SparkParquetBackend):
    """The parquet datasets opened by ``file:///`` URI: the same Hadoop
    FileSystem code path as ``hdfs://`` or ``s3a://`` locations."""

    def __init__(self, tmp_path, spark):
        super().__init__(tmp_path, spark)
        self.root = (tmp_path / "bk").as_uri()


class DbApiSqliteBackend:
    def __init__(self, tmp_path, spark):
        self.path = str(tmp_path / "bk.db")

    def bookkeeper(self):
        return DbApiBookkeeper(DbApiConnection(sqlite_path=self.path))

    def journal(self):
        return DbApiJournal(DbApiConnection(sqlite_path=self.path))

    def ledger(self):
        return DbApiOffsetLedger(DbApiConnection(sqlite_path=self.path))


BACKENDS = {
    "memory": MemoryBackend,
    "jsonl": JsonLinesBackend,
    "spark_parquet": SparkParquetBackend,
    "spark_parquet_uri": SparkParquetUriBackend,
    "dbapi_sqlite": DbApiSqliteBackend,
}


@pytest.fixture(params=list(BACKENDS))
def backend(request, tmp_path):
    spark = request.getfixturevalue("spark") if request.param.startswith("spark") else None
    return BACKENDS[request.param](tmp_path, spark)


def _entry(table, finished, status="Succeeded", records=10, error=""):
    return JournalEntry(table, D.isoformat(), status, finished - 1.0, finished, records, error=error)


def _commit(ledger, batch, lo, hi, day=D, offset_type=OffsetType.INTEGRAL, wrap=OffsetValue.integral):
    tx = ledger.start_write("t", day, batch, offset_type)
    ledger.commit(tx, wrap(lo), wrap(hi))
    return tx


class TestBookkeeperContract:
    def test_chunks_after_reopen(self, backend):
        bk = backend.bookkeeper()
        bk.set_record_count("t", D, 100, 90, 1.0, 2.0, batch_id=7)
        bk.set_record_count("t", D, 5, 5, 3.0, 4.0, batch_id=8)
        bk.set_record_count("t", D1, 50, 50, 5.0, 6.0, batch_id=9)

        reopened = backend.bookkeeper()
        assert reopened.get_latest_processed_date("t") == D1
        assert reopened.get_latest_processed_date("t", until=D) == D
        assert reopened.get_latest_processed_date("other") is None
        chunk = reopened.get_latest_data_chunk("t", D)
        assert (chunk.input_record_count, chunk.output_record_count, chunk.batch_id) == (5, 5, 8)
        assert reopened.get_data_chunks_count("t", D, D1) == 3
        assert reopened.get_data_availability("t", D, D1) == {D: 2, D1: 1}

    def test_schema_history_after_reopen(self, backend):
        v1 = {"type": "struct", "fields": []}
        v2 = {"type": "struct", "fields": [{"name": "a", "type": "long", "nullable": True, "metadata": {}}]}
        bk = backend.bookkeeper()
        bk.save_schema("t", D1, json.dumps(v2))
        bk.save_schema("t", D, json.dumps(v1))

        reopened = backend.bookkeeper()
        assert reopened.get_latest_schema("t") == v2
        assert reopened.get_latest_schema("t", until=D) == v1
        assert reopened.get_latest_schema("t", until=D - dt.timedelta(days=1)) is None

    def test_refresh_sees_second_instance(self, backend):
        a, b = backend.bookkeeper(), backend.bookkeeper()
        a.set_record_count("t", D, 10, 10, 1.0, 2.0)
        a.save_schema("t", D, json.dumps({"type": "struct", "fields": []}))
        assert b.get_latest_processed_date("t") is None  # in-memory view
        b.refresh()
        assert b.get_latest_processed_date("t") == D
        assert b.get_latest_schema("t") == {"type": "struct", "fields": []}

    def test_compact_keeps_records(self, backend):
        bk = backend.bookkeeper()
        for i in range(3):
            bk.set_record_count("t", D, i, i, 1.0, 2.0)
        assert bk.compact() == 3
        assert backend.bookkeeper().get_data_chunks_count("t", D, D) == 3

    def test_refresh_after_second_instance_compacts(self, backend):
        """A driver that has read the records sees each exactly once after
        another driver compacts them, along with what came after."""
        a, b = backend.bookkeeper(), backend.bookkeeper()
        for i in range(3):
            a.set_record_count("t", D, i, i, 1.0, 2.0)
        a.refresh()
        assert b.compact() == 3
        b.set_record_count("t", D1, 9, 9, 3.0, 4.0)
        a.refresh()
        assert a.get_data_availability("t", D, D1) == {D: 3, D1: 1}


class TestJournalContract:
    def test_time_range(self, backend):
        j = backend.journal()
        assert j.get_entries(0.0, 100.0) == []
        j.add(_entry("c", 30.0))
        j.add(_entry("a", 10.0))
        j.add(_entry("b", 20.0, status="Failed", records=0, error="x"))
        got = j.get_entries(15.0, 25.0)
        assert [e.table_name for e in got] == ["b"]
        assert (got[0].status, got[0].records, got[0].error) == ("Failed", 0, "x")
        assert [e.table_name for e in j.get_entries(0.0, 100.0)] == ["a", "b", "c"]

    def test_second_instance_sees_entries(self, backend):
        a, b = backend.journal(), backend.journal()
        a.add(_entry("t", 5.0))
        assert [e.table_name for e in a.entries] == ["t"]
        assert b.entries == []  # this driver's view; no replay at open
        assert [e.table_name for e in b.get_entries(0.0, 10.0)] == ["t"]


class TestOffsetLedgerContract:
    def test_start_commit_rollback(self, backend):
        ledger = backend.ledger()
        tx = ledger.start_write("t", D, 100, OffsetType.INTEGRAL)
        assert [r.batch_id for r in ledger.get_uncommitted("t")] == [100]
        ledger.commit(tx, OffsetValue.integral(1), OffsetValue.integral(500))
        assert ledger.get_uncommitted("t") == []
        latest = ledger.get_max_info_date_and_offset("t")
        assert (latest[0], latest[1].value, latest[2].value) == (D, 1, 500)

        tx2 = ledger.start_write("t", D, 101, OffsetType.INTEGRAL)
        ledger.rollback(tx2)
        assert [r.batch_id for r in ledger.get_offsets("t")] == [100]
        with pytest.raises(KeyError):
            ledger.commit(tx, OffsetValue.integral(1), OffsetValue.integral(2))
        with pytest.raises(KeyError):
            ledger.rollback(tx)

    def test_replay_with_orphan(self, backend):
        ledger = backend.ledger()
        _commit(ledger, 1, 1, 100)
        ledger.start_write("t", D, 2, OffsetType.INTEGRAL)  # uncommitted (crash)

        recovered = backend.ledger()
        assert len(recovered.get_offsets("t")) == 2
        orphans = recovered.get_uncommitted("t")
        assert [r.batch_id for r in orphans] == [2]
        assert recovered.get_max_info_date_and_offset("t")[2].value == 100
        recovered.rollback(OffsetTransaction("t", D.isoformat(), 2))  # orphan repair
        assert backend.ledger().get_uncommitted("t") == []

    def test_committed_is_final_on_key_reuse(self, backend):
        ledger = backend.ledger()
        _commit(ledger, 7, 1, 9)
        ledger.rollback(ledger.start_write("t", D, 7, OffsetType.INTEGRAL))
        for lg in (ledger, backend.ledger()):
            assert lg.get_max_info_date_and_offset("t")[2].value == 9
            assert lg.get_uncommitted("t") == []

    def test_max_over_latest_date_after_compact(self, backend):
        ledger = backend.ledger()
        for i, (lo, hi) in enumerate([(1, 100), (101, 250), (251, 300)]):
            _commit(ledger, i, lo, hi)
        ledger.compact()
        latest = backend.ledger().get_max_info_date_and_offset("t")
        assert (latest[0], latest[1].value, latest[2].value) == (D, 1, 300)
        _commit(ledger, 3, 301, 380, day=D1)
        latest = backend.ledger().get_max_info_date_and_offset("t")
        assert (latest[0], latest[1].value, latest[2].value) == (D1, 301, 380)
        assert backend.ledger().get_max_info_date_and_offset("t", D)[2].value == 300

    def test_datetime_offsets(self, backend):
        ts0 = dt.datetime(2024, 1, 10, 8, 0, tzinfo=dt.timezone.utc)
        ts1 = dt.datetime(2024, 1, 10, 9, 30, tzinfo=dt.timezone.utc)
        _commit(backend.ledger(), 1, ts0, ts1, offset_type=OffsetType.DATETIME, wrap=OffsetValue.datetime)
        latest = backend.ledger().get_max_info_date_and_offset("t")
        assert latest[1].value == ts0 and latest[2].value == ts1

    def test_second_instance_sees_commit(self, backend):
        """A second ledger over the same storage follows a transaction it
        first saw open through to its commit."""
        a, b = backend.ledger(), backend.ledger()
        tx = a.start_write("t", D, 1, OffsetType.INTEGRAL)
        assert [r.batch_id for r in b.get_uncommitted("t")] == [1]
        a.commit(tx, OffsetValue.integral(1), OffsetValue.integral(42))
        assert b.get_uncommitted("t") == []
        assert b.get_max_info_date_and_offset("t")[2].value == 42


def test_concurrent_appends_all_land(backend):
    """Runner threads write the journal and the bookkeeper at once (the
    default parallel.tasks is 4): every append must land, none may raise."""
    journal, bk = backend.journal(), backend.bookkeeper()
    n_threads, per_thread = 6, 3
    errors = []

    def work(t):
        try:
            for i in range(per_thread):
                journal.add(_entry(f"t{t}", 10.0 * t + i))
            bk.set_record_count(f"t{t}", D, t, t, 1.0, 2.0)
        except Exception as exc:  # collected and asserted below
            errors.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=work, args=(t,)) for t in range(n_threads)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=300)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    assert len(backend.journal().get_entries(0.0, 1e9)) == n_threads * per_thread
    reopened = backend.bookkeeper()
    assert all(reopened.get_data_chunks_count(f"t{t}", D, D) == 1 for t in range(n_threads))


def test_layouts_match_stored_datasets_and_tables():
    """Layouts derived from the record dataclasses are the column names,
    order and types existing state was written with."""
    S, L, Dbl = T.StringType(), T.LongType(), T.DoubleType()

    def struct(*cols):
        return T.StructType([T.StructField(name, typ) for name, typ in cols])

    assert spark_schema(DataChunk) == struct(
        ("table_name", S), ("info_date", S), ("input_record_count", L),
        ("output_record_count", L), ("job_started", Dbl), ("job_finished", Dbl), ("batch_id", L),
    )
    assert spark_schema(SchemaVersion) == struct(
        ("table_name", S), ("info_date", S), ("schema_json", S), ("updated_at", Dbl),
    )
    assert spark_schema(JournalEntry) == struct(
        ("table_name", S), ("info_date", S), ("status", S), ("started", Dbl),
        ("finished", Dbl), ("records", L), ("reason", S), ("error", S),
    )
    assert spark_schema(OffsetEvent) == struct(
        ("op", S), ("table_name", S), ("info_date", S), ("offset_type", S), ("batch_id", L),
        ("created_at", Dbl), ("committed_at", Dbl), ("min_offset", S), ("max_offset", S),
        ("seq", L),
    )
    assert sql_columns(DataChunk) == (
        "table_name TEXT, info_date TEXT, input_record_count INTEGER, "
        "output_record_count INTEGER, job_started REAL, job_finished REAL, batch_id INTEGER"
    )
    assert sql_columns(SchemaVersion) == (
        "table_name TEXT, info_date TEXT, schema_json TEXT, updated_at REAL"
    )
    assert sql_columns(JournalEntry) == (
        "table_name TEXT, info_date TEXT, status TEXT, started REAL, "
        "finished REAL, records INTEGER, reason TEXT, error TEXT"
    )
    assert sql_columns(OffsetRecord) == (
        "table_name TEXT, info_date TEXT, offset_type TEXT, batch_id INTEGER, "
        "created_at REAL, committed_at REAL, min_offset TEXT, max_offset TEXT"
    )


@pytest.mark.parametrize(
    "settings, classes",
    [
        ({}, (Bookkeeper, Journal, type(None))),
        ({"bookkeeping.location": "{tmp}/bk.jsonl"}, (JsonBookkeeper, Journal, OffsetLedger)),
        (
            {"bookkeeping.location": "{tmp}/bk", "bookkeeping.hadoop.format": "parquet"},
            (SparkBookkeeper, SparkJournal, SparkOffsetLedger),
        ),
        ({"bookkeeping.jdbc.sqlite.path": "{tmp}/bk.db"}, (DbApiBookkeeper, DbApiJournal, DbApiOffsetLedger)),
    ],
    ids=["none", "text", "parquet", "sqlite"],
)
def test_cli_opens_the_configured_backend(spark, tmp_path, settings, classes):
    from pramen_spark.cli import open_stores
    from pramen_spark.config.loader import load_workflow
    from pramen_spark.offsets.cached import CachedOffsetLedger

    conf = {k: v.format(tmp=tmp_path) for k, v in settings.items()}
    bookkeeper, journal, ledger = open_stores(spark, load_workflow({"pramen": conf}))
    assert type(bookkeeper) is classes[0] and type(journal) is classes[1]
    if ledger is not None:
        assert isinstance(ledger, CachedOffsetLedger)
        ledger = ledger._inner
    assert type(ledger) is classes[2]
