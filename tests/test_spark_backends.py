"""Spark-dataset-backed bookkeeper and offset ledger (reference:
core/.../bookkeeper/BookkeeperDeltaBase.scala, OffsetManagerJdbc.scala —
persistent backends shared between concurrent drivers)."""

import datetime as dt

import pytest

from pramen_spark.offsets.ledger import OffsetLedger
from pramen_spark.offsets.spark_ledger import SparkOffsetLedger
from pramen_spark.runner.bookkeeper import Journal, JournalEntry
from pramen_spark.runner.spark_bookkeeper import SparkBookkeeper, SparkJournal
from pramen_spark.sql.generators import OffsetType, OffsetValue

D = dt.date(2024, 1, 10)


class TestSparkOffsetLedger:
    def test_start_commit(self, spark, tmp_path):
        ledger = SparkOffsetLedger(spark, str(tmp_path / "offsets"))
        tx = ledger.start_write("t", D, 100, OffsetType.INTEGRAL)
        assert len(ledger.get_uncommitted("t")) == 1
        ledger.commit(tx, OffsetValue.integral(1), OffsetValue.integral(500))
        assert ledger.get_uncommitted("t") == []
        latest = ledger.get_max_info_date_and_offset("t")
        assert latest is not None
        assert latest[0] == D and latest[2].value == 500

    def test_rollback(self, spark, tmp_path):
        ledger = SparkOffsetLedger(spark, str(tmp_path / "offsets"))
        tx = ledger.start_write("t", D, 100, OffsetType.INTEGRAL)
        ledger.rollback(tx)
        assert ledger.get_offsets("t") == []

    def test_datetime_offsets(self, spark, tmp_path):
        ledger = SparkOffsetLedger(spark, str(tmp_path / "offsets"))
        ts0 = dt.datetime(2024, 1, 10, 8, 0, tzinfo=dt.timezone.utc)
        ts1 = dt.datetime(2024, 1, 10, 9, 30, tzinfo=dt.timezone.utc)
        tx = ledger.start_write("t", D, 1, OffsetType.DATETIME)
        ledger.commit(tx, OffsetValue.datetime(ts0), OffsetValue.datetime(ts1))
        latest = SparkOffsetLedger(spark, str(tmp_path / "offsets")).get_max_info_date_and_offset("t")
        assert latest[1].value == ts0 and latest[2].value == ts1

    def test_compact_preserves_state(self, spark, tmp_path):
        path = str(tmp_path / "offsets")
        ledger = SparkOffsetLedger(spark, path)
        for i, (lo, hi) in enumerate([(1, 100), (101, 250), (251, 300)]):
            tx = ledger.start_write("t", D, i, OffsetType.INTEGRAL)
            ledger.commit(tx, OffsetValue.integral(lo), OffsetValue.integral(hi))
        n = ledger.compact()
        assert n == 6  # 3 starts + 3 commits
        latest = SparkOffsetLedger(spark, path).get_max_info_date_and_offset("t")
        assert (latest[1].value, latest[2].value) == (1, 300)

    def test_bad_format_rejected(self, spark, tmp_path):
        with pytest.raises(ValueError):
            SparkOffsetLedger(spark, str(tmp_path / "x"), data_format="csv")


class TestSparkBookkeeper:
    """Round trips, schema history and refresh are in test_store_contract.py."""

    def test_data_availability(self, spark, tmp_path):
        bk = SparkBookkeeper(spark, str(tmp_path / "bk"))
        bk.set_record_count("t", D, 10, 10, 1.0, 2.0)
        bk.set_record_count("t", D, 5, 5, 3.0, 4.0)
        avail = bk.get_data_availability("t", D, D)
        assert avail == {D: 2}

class TestSparkJournal:
    @staticmethod
    def _entry(table, finished, status="Succeeded", records=10):
        return JournalEntry(
            table_name=table,
            info_date=D.isoformat(),
            status=status,
            started=finished - 1.0,
            finished=finished,
            records=records,
        )

    def test_empty_journal(self, spark, tmp_path):
        j = SparkJournal(spark, str(tmp_path / "journal"))
        assert j.get_entries(0.0, 1.0) == []

    def test_bad_format_rejected(self, spark, tmp_path):
        with pytest.raises(ValueError):
            SparkJournal(spark, str(tmp_path / "x"), data_format="orc")

    def test_base_journal_get_entries(self):
        j = Journal()
        j.add(self._entry("a", 1.0))
        j.add(self._entry("b", 2.0))
        assert [e.table_name for e in j.get_entries(1.5, 3.0)] == ["b"]


class TestJsonLedgerStillGreen:
    """The refactored fold must not change JSONL replay semantics."""

    def test_fold_matches_jsonl(self, tmp_path):
        path = str(tmp_path / "o.jsonl")
        ledger = OffsetLedger(path)
        tx = ledger.start_write("t", D, 1, OffsetType.INTEGRAL)
        ledger.commit(tx, OffsetValue.integral(1), OffsetValue.integral(9))
        tx2 = ledger.start_write("t", D, 2, OffsetType.INTEGRAL)
        ledger.rollback(tx2)
        recovered = OffsetLedger(path)
        recs = recovered.get_offsets("t")
        assert len(recs) == 1 and recs[0].max_offset == "9"
