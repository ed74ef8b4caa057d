"""Incremental ingestion tests: offset-tracked reads, append semantics,
rerun, and uncommitted-offset recovery (reference:
IncrementalIngestionJob.scala:60-300)."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from pramen_spark.config.models import DataFormat, OperationDef, Schedule, TableConfig
from pramen_spark.metastore.metastore import Metastore
from pramen_spark.offsets.ledger import OffsetLedger
from pramen_spark.runner.bookkeeper import Bookkeeper
from pramen_spark.runner.incremental import IncrementalIngestionJob
from pramen_spark.runner.task_runner import RunStatus, TaskRunner
from pramen_spark.scheduling.strategies import TaskPreDef, TaskRunReason
from pramen_spark.sources.spark_source import SparkSource
from pramen_spark.sql.generators import OffsetType

D = dt.date(2024, 1, 10)


@pytest.fixture()
def env(spark, tmp_path):
    # source data: events with increasing event_id
    src_path = str(tmp_path / "src")
    spark.range(100).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 7).alias("user_id"),
        F.lit("click").alias("event_type"),
    ).write.parquet(src_path)
    ms = Metastore(
        spark,
        [
            TableConfig(
                name="events_inc",
                format=DataFormat.parquet(str(tmp_path / "events_inc")),
                save_mode="append",
                info_date_start=dt.date(2024, 1, 1),
            )
        ],
    )
    bk = Bookkeeper()
    ledger = OffsetLedger(str(tmp_path / "offsets.jsonl"))
    source = SparkSource(spark, {"format": "parquet", "offset.column": "event_id",
                                 "has.information.date.column": False})
    job = IncrementalIngestionJob(
        OperationDef(name="inc", kind="ingestion", output_table="events_inc",
                     schedule=Schedule.parse("incremental")),
        ms, bk, ms.table_config("events_inc"),
        source, {"path": src_path}, ledger, "event_id", OffsetType.INTEGRAL,
    )
    return spark, ms, bk, ledger, job, src_path


class TestIncrementalIngestion:
    def test_first_run_reads_everything(self, env):
        spark, ms, bk, ledger, job, _ = env
        r = TaskRunner(bk, batch_id=1).run_task(job, TaskPreDef(D, TaskRunReason.NEW))
        assert r.status == RunStatus.SUCCEEDED, r.error
        assert ms.get_table("events_inc", D, D).count() == 100
        latest = ledger.get_max_info_date_and_offset("events_inc")
        assert (latest[1].value, latest[2].value) == (0, 99)

    def test_second_run_reads_only_new(self, env):
        spark, ms, bk, ledger, job, src_path = env
        TaskRunner(bk, batch_id=1).run_task(job, TaskPreDef(D, TaskRunReason.NEW))
        # new source rows arrive
        spark.range(100, 150).select(
            F.col("id").alias("event_id"),
            (F.col("id") % 7).alias("user_id"),
            F.lit("view").alias("event_type"),
        ).write.mode("append").parquet(src_path)
        r = TaskRunner(bk, batch_id=2).run_task(job, TaskPreDef(D, TaskRunReason.NEW))
        assert r.status == RunStatus.SUCCEEDED, r.error
        df = ms.get_table("events_inc", D, D)
        assert df.count() == 150  # appended, not overwritten
        assert df.filter(F.col("pramen_batchid") == 2).count() == 50  # only the delta
        latest = ledger.get_max_info_date_and_offset("events_inc")
        assert latest[2].value == 149

    def test_batch_id_column_stamped(self, env):
        spark, ms, bk, ledger, job, _ = env
        TaskRunner(bk, batch_id=777).run_task(job, TaskPreDef(D, TaskRunReason.NEW))
        df = ms.get_table("events_inc", D, D)
        assert {r["pramen_batchid"] for r in df.select("pramen_batchid").distinct().collect()} == {777}

    def test_rerun_rereads_committed_interval(self, env):
        spark, ms, bk, ledger, job, src_path = env
        TaskRunner(bk, batch_id=1).run_task(job, TaskPreDef(D, TaskRunReason.NEW))
        r = TaskRunner(bk, batch_id=2).run_task(job, TaskPreDef(D, TaskRunReason.RERUN))
        assert r.status == RunStatus.SUCCEEDED, r.error
        # rerun re-reads [0, 99]
        df = ms.get_table("events_inc", D, D)
        assert df.filter(F.col("pramen_batchid") == 2).count() == 100

    def test_uncommitted_recovery_commits_from_storage(self, env):
        spark, ms, bk, ledger, job, _ = env
        r = TaskRunner(bk, batch_id=1).run_task(job, TaskPreDef(D, TaskRunReason.NEW))
        assert r.status == RunStatus.SUCCEEDED
        # simulate a crash: an open transaction without commit
        ledger.start_write("events_inc", D, 999, OffsetType.INTEGRAL)
        assert len(ledger.get_uncommitted("events_inc")) == 1
        handled = job.repair_uncommitted()
        assert handled == 1
        assert ledger.get_uncommitted("events_inc") == []
        # recovery recomputed offsets from storage
        latest = ledger.get_max_info_date_and_offset("events_inc")
        assert (latest[1].value, latest[2].value) == (0, 99)

    def test_uncommitted_recovery_rolls_back_when_no_data(self, env):
        spark, ms, bk, ledger, job, _ = env
        # nothing was ever written; an orphan transaction exists
        ledger.start_write("events_inc", D, 999, OffsetType.INTEGRAL)
        handled = job.repair_uncommitted()
        assert handled == 1
        assert ledger.get_uncommitted("events_inc") == []
        assert ledger.get_max_info_date_and_offset("events_inc") is None

    def test_commit_failure_leaves_tx_uncommitted(self, env, monkeypatch):
        """Rows written but the offset commit fails: the tx must stay
        UNCOMMITTED (not rolled back) so the next run adopts the stored
        rows via repair_uncommitted instead of re-reading the same source
        rows into duplicates."""
        spark, ms, bk, ledger, job, _ = env

        def boom(tx, mn, mx):
            raise IOError("transient storage error during the commit")

        monkeypatch.setattr(ledger, "commit", boom)
        r = TaskRunner(bk, batch_id=1).run_task(job, TaskPreDef(D, TaskRunReason.NEW))
        assert r.status == RunStatus.FAILED
        assert ms.get_table("events_inc", D, D).count() == 100  # rows landed
        unc = ledger.get_uncommitted("events_inc")
        assert len(unc) == 1 and unc[0].batch_id == 1
        monkeypatch.undo()
        # next run: validate() repairs, then reads only beyond the adopted max
        r2 = TaskRunner(bk, batch_id=2).run_task(job, TaskPreDef(D, TaskRunReason.NEW))
        assert r2.status in (RunStatus.SUCCEEDED, RunStatus.NO_DATA), r2.error
        assert ms.get_table("events_inc", D, D).count() == 100  # no duplicates
        latest = ledger.get_max_info_date_and_offset("events_inc")
        assert latest[2].value == 99

    def test_offsets_committed_from_written_data(self, spark, tmp_path):
        """A source whose plan yields DIFFERENT rows per evaluation must still
        commit offsets matching the rows actually stored (the old pre-write
        min/max would commit values from a separate evaluation)."""
        import random

        from pramen_spark.api import Source

        nd_udf = F.udf(lambda x: x + random.randint(0, 10**9), "long").asNondeterministic()

        class NonDeterministicSource(Source):
            def has_info_date_column(self):
                return False

            def get_data(self, query, date_from, date_to):
                return self.spark.range(50).select(nd_udf(F.col("id")).alias("event_id"))

        ms = Metastore(
            spark,
            [
                TableConfig(
                    name="nd_inc",
                    format=DataFormat.parquet(str(tmp_path / "nd_inc")),
                    save_mode="append",
                    info_date_start=dt.date(2024, 1, 1),
                )
            ],
        )
        bk = Bookkeeper()
        ledger = OffsetLedger(str(tmp_path / "offsets.jsonl"))
        job = IncrementalIngestionJob(
            OperationDef(name="nd", kind="ingestion", output_table="nd_inc",
                         schedule=Schedule.parse("incremental")),
            ms, bk, ms.table_config("nd_inc"),
            NonDeterministicSource(spark), {}, ledger, "event_id", OffsetType.INTEGRAL,
        )
        r = TaskRunner(bk, batch_id=1).run_task(job, TaskPreDef(D, TaskRunReason.NEW))
        assert r.status == RunStatus.SUCCEEDED, r.error

        stored = ms.get_table("nd_inc", D, D).agg(
            F.min("event_id").alias("mn"), F.max("event_id").alias("mx")
        ).collect()[0]
        latest = ledger.get_max_info_date_and_offset("nd_inc")
        assert (latest[1].value, latest[2].value) == (stored["mn"], stored["mx"])

    def test_no_new_data_noop(self, env):
        spark, ms, bk, ledger, job, _ = env
        TaskRunner(bk, batch_id=1).run_task(job, TaskPreDef(D, TaskRunReason.NEW))
        r = TaskRunner(bk, batch_id=2).run_task(job, TaskPreDef(D, TaskRunReason.NEW))
        assert r.status == RunStatus.SUCCEEDED
        # empty batch: rolled back, offsets unchanged, no rows appended
        df = ms.get_table("events_inc", D, D)
        assert df.filter(F.col("pramen_batchid") == 2).count() == 0
        latest = ledger.get_max_info_date_and_offset("events_inc")
        assert latest[2].value == 99
