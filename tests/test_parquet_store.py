"""The parquet record store (pramen_spark.store.ParquetStore): appends from
several OS processes and threads, compaction while others append and read,
datasets written by Spark before the store wrote through the Hadoop file
system, and which failures read as empty.

Each test bounds its own waits (thread joins, subprocess timeouts), so a
deadlock fails the test instead of hanging the suite."""

import os
import subprocess
import sys
import textwrap
import threading
import time
from dataclasses import astuple

import pyarrow as pa
import pyarrow.dataset as ds
import pytest

from pramen_spark.runner.bookkeeper import JournalEntry
from pramen_spark.runner.spark_bookkeeper import SparkBookkeeper, SparkJournal
from pramen_spark.store import DeltaStore, ParquetStore, arrow_schema, spark_schema

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WAIT_S = 300


def _entry(table, finished=1.0, status="Succeeded"):
    return JournalEntry(table, "2024-01-10", status, finished - 1.0, finished, 10)


def _spark_write(spark, path, entries):
    """Append ``entries`` the way the Spark-job store wrote them: one
    coalesced ``DataFrameWriter`` append per call."""
    df = spark.createDataFrame([astuple(e) for e in entries], schema=spark_schema(JournalEntry))
    df.coalesce(1).write.mode("append").parquet(path)


def _data_files(path):
    return [n for n in os.listdir(path) if not n.startswith((".", "_"))]


_CHILD = textwrap.dedent("""
    import os, sys, time
    from pramen_spark.session import build_session
    from pramen_spark.runner.bookkeeper import JournalEntry
    from pramen_spark.runner.spark_bookkeeper import SparkJournal

    path, sync, name, n = sys.argv[1], sys.argv[2], sys.argv[3], int(sys.argv[4])
    spark = build_session(app_name=name, master="local[1]",
                          extra_conf={"spark.driver.memory": "512m"})
    journal = SparkJournal(spark, path)
    open(os.path.join(sync, name), "w").close()
    deadline = time.time() + 240
    while not os.path.exists(os.path.join(sync, "go")):
        if time.time() > deadline:
            sys.exit("no go signal")
        time.sleep(0.05)
    for i in range(n):
        journal.add(JournalEntry(f"{name}-{i}", "2024-01-10", "Succeeded", 0.0, 1.0))
    spark.stop()
""")


def test_two_processes_append_to_one_journal(spark, tmp_path):
    """Two drivers append to one parquet journal at the same time; every
    row lands (the Spark-job writer shared one ``_temporary/0``)."""
    path, sync = str(tmp_path / "journal"), tmp_path / "sync"
    sync.mkdir()
    n = 15
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])))
    procs = [
        subprocess.Popen([sys.executable, "-c", _CHILD, path, str(sync), name, str(n)],
                         env=env, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE)
        for name in ("a", "b")
    ]
    try:
        deadline = time.time() + WAIT_S
        while not all((sync / name).exists() for name in ("a", "b")):
            assert all(p.poll() is None for p in procs), "a writer exited before it was ready"
            assert time.time() < deadline, "writers did not start in time"
            time.sleep(0.1)
        (sync / "go").touch()
        errs = [p.communicate(timeout=WAIT_S)[1] for p in procs]
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
                p.wait()
    assert [p.returncode for p in procs] == [0, 0], b"\n".join(errs).decode()[-2000:]
    got = sorted(e.table_name for e in SparkJournal(spark, path).get_entries(0.0, 10.0))
    assert got == sorted(f"{name}-{i}" for name in ("a", "b") for i in range(n))


def test_compact_while_threads_append_and_read(spark, tmp_path):
    """Compactions run while threads append and another instance reads:
    no read sees a record twice, and in the end every record is there
    exactly once, in one file."""
    path = str(tmp_path / "journal")
    n_threads, per_thread = 4, 6
    compactor, reader = (ParquetStore(spark, path, JournalEntry) for _ in range(2))
    errors, duplicated = [], []
    writing = threading.Event()
    writing.set()

    def append(t):
        try:
            store = ParquetStore(spark, path, JournalEntry)
            for i in range(per_thread):
                store.append(_entry(f"t{t}-{i}"))
        except Exception as exc:  # collected and asserted below
            errors.append(exc)

    def read():
        try:
            while writing.is_set():
                names = [e.table_name for e in reader.read()]
                if len(names) != len(set(names)):
                    duplicated.append(names)
        except Exception as exc:  # collected and asserted below
            errors.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        appenders = [threading.Thread(target=append, args=(t,)) for t in range(n_threads)]
        readers = [threading.Thread(target=read)]
        for th in appenders + readers:
            th.start()
        deadline = time.time() + WAIT_S
        while any(th.is_alive() for th in appenders) and time.time() < deadline:
            compactor.compact()
        for th in appenders:
            th.join(timeout=max(deadline - time.time(), 1.0))
        writing.clear()
        for th in readers:
            th.join(timeout=WAIT_S)
    finally:
        writing.clear()
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in appenders + readers)
    assert errors == []
    assert duplicated == []
    expected = sorted(f"t{t}-{i}" for t in range(n_threads) for i in range(per_thread))
    assert compactor.compact() == len(expected)
    assert len(_data_files(path)) == 1
    assert sorted(e.table_name for e in reader.read()) == expected


def test_reader_skips_files_a_compaction_replaced(spark, tmp_path):
    """Between writing the combined file and deleting the files it replaces,
    a reader lists both; it must count their records once."""
    path = str(tmp_path / "journal")
    store = ParquetStore(spark, path, JournalEntry)
    for t in ("a", "b"):
        store.append(_entry(t))
    store.fs.delete = lambda p: False  # a compaction that stops before deleting
    assert store.compact() == 2
    assert len(_data_files(path)) == 3
    assert sorted(e.table_name for e in ParquetStore(spark, path, JournalEntry).read()) == ["a", "b"]
    del store.fs.delete
    assert store.compact() == 2
    assert len(_data_files(path)) == 1


def test_spark_written_dataset_opens_and_mixes_with_new_files(spark, tmp_path):
    path = str(tmp_path / "journal")
    _spark_write(spark, path, [_entry("old1", 1.0), _entry("old2", 2.0)])
    names = os.listdir(path)
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)
    assert any(n.startswith("part-") and n.endswith(".snappy.parquet") for n in names)

    journal = SparkJournal(spark, path)
    assert [e.table_name for e in journal.get_entries(0.0, 10.0)] == ["old1", "old2"]
    journal.add(_entry("new", 3.0))
    assert [e.table_name for e in SparkJournal(spark, path).get_entries(0.0, 10.0)] == [
        "old1", "old2", "new"
    ]
    assert ParquetStore(spark, path, JournalEntry).compact() == 3
    assert [e.table_name for e in SparkJournal(spark, path).get_entries(0.0, 10.0)] == [
        "old1", "old2", "new"
    ]


def test_new_files_keep_the_spark_layout(spark, tmp_path):
    """Readers of the journal directory (pyarrow datasets, as the benchmark
    reads it, and Spark) see the column names and types Spark wrote."""
    old, new = str(tmp_path / "old"), str(tmp_path / "new")
    _spark_write(spark, old, [_entry("a")])
    journal = SparkJournal(spark, new)
    journal.add(_entry("a"))
    journal.add(JournalEntry("b", "2024-01-10", "Failed", 1.0, 2.0, 0, "why", "boom"))

    def layout(path):
        schema = ds.dataset(path, format="parquet", partitioning="hive").schema
        return [(f.name, f.type) for f in schema]

    assert layout(new) == layout(old) == [(f.name, f.type) for f in arrow_schema(JournalEntry)]
    assert spark.read.parquet(new).schema == spark.read.parquet(old).schema
    rows = spark.read.schema(spark_schema(JournalEntry)).parquet(new).orderBy("table_name").collect()
    assert [tuple(r) for r in rows] == [
        ("a", "2024-01-10", "Succeeded", 0.0, 1.0, 10, "", ""),
        ("b", "2024-01-10", "Failed", 1.0, 2.0, 0, "why", "boom"),
    ]


def test_only_a_missing_directory_reads_as_empty(spark, tmp_path):
    """An unreadable file must raise: an empty read would make the
    bookkeeper rerun every date and the ledger forget its offsets."""
    base = tmp_path / "bk"
    store = ParquetStore(spark, str(base / "journal"), JournalEntry)
    assert store.read() == []
    (base / "journal").mkdir(parents=True)
    assert store.read() == []
    (base / "records").mkdir()
    (base / "records" / "part-x.parquet").write_bytes(b"not parquet")
    with pytest.raises(pa.ArrowInvalid):
        SparkBookkeeper(spark, str(base))


def test_delta_store_reads_empty_only_when_the_table_is_missing(spark, tmp_path):
    """A directory that is not a loadable delta table raises, as an
    unreadable parquet file does; only a missing path reads as empty.
    Holds without delta-spark: there the load itself fails."""
    store = DeltaStore(spark, str(tmp_path / "journal"), JournalEntry)
    assert store.read() == []
    (tmp_path / "journal").mkdir()
    (tmp_path / "journal" / "part-x.parquet").write_bytes(b"not a delta table")
    with pytest.raises(Exception):
        store.read()
    uri_store = DeltaStore(spark, (tmp_path / "journal").as_uri(), JournalEntry)
    with pytest.raises(Exception):
        uri_store.read()
    assert DeltaStore(spark, (tmp_path / "nope").as_uri(), JournalEntry).read() == []
