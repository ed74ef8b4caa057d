"""Writes count their rows inside the write job (``counted``): the values
match a ``count()`` before the write, empty and failing writes return
promptly, and only records-per-partition sizing still counts up front.

Every write runs in a thread joined with a timeout, so a count that never
arrives fails the test instead of hanging the suite."""

import datetime as dt
import json
import math
import os
import threading

import pytest
from pyspark.sql import functions as F

from pramen_spark.api import Transformer
from pramen_spark.config.models import DataFormat, OperationDef, PartitionInfo, TableConfig
from pramen_spark.metastore.metastore import Metastore
from pramen_spark.metastore.persistence import counted
from pramen_spark.runner.bookkeeper import Bookkeeper, Journal
from pramen_spark.runner.jobs import IngestionJob, TransformationJob
from pramen_spark.runner.runner import PipelineRunner
from pramen_spark.runner.task_runner import RunStatus, TaskRunner
from pramen_spark.scheduling.strategies import ScheduleParams, TaskPreDef, TaskRunReason
from pramen_spark.sinks.local_csv_sink import LocalCsvSink
from pramen_spark.sinks.spark_sink import SparkSink
from pramen_spark.sources.spark_source import SparkSource

D = dt.date(2024, 3, 10)
WAIT_S = 120


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


def rows(spark, n):
    return spark.range(n).select(F.col("id"), (F.col("id") % 7).cast("string").alias("k"))


def parquet_files(d):
    return [f for f in os.listdir(d) if f.endswith(".parquet")]


def metastore(spark, tmp_path, partition_info=None, save_mode=None, name="t"):
    cfg = TableConfig(
        name=name,
        format=DataFormat.parquet(str(tmp_path / name), partition_info=partition_info),
        save_mode=save_mode,
    )
    return Metastore(spark, [cfg])


class TestCounted:
    def test_count_after_the_write(self, spark, tmp_path):
        df, get_count = counted(rows(spark, 25))
        bounded(lambda: df.coalesce(1).write.parquet(str(tmp_path / "o")))
        assert bounded(get_count) == 25

    def test_each_call_observes_its_own_action(self, spark, tmp_path):
        # one pair per attempt: a second attempt is not read from the first
        src = rows(spark, 8)
        for i, keep in enumerate((8, 3)):
            df, get_count = counted(src.where(F.col("id") < keep))
            bounded(lambda: df.write.parquet(str(tmp_path / f"o{i}")))
            assert bounded(get_count) == keep


    def test_count_that_never_arrives_falls_back_to_counting(self, spark, monkeypatch):
        # no action ever runs the observed frame, so no count can arrive
        from pramen_spark.metastore import persistence

        monkeypatch.setattr(persistence, "OBSERVED_COUNT_WAIT_S", 0.2)
        _df, get_count = counted(rows(spark, 6))
        assert bounded(get_count) == 6


class TestParquetWriteResult:
    def test_overwrite_matches_count(self, spark, tmp_path):
        ms = metastore(spark, tmp_path)
        df = rows(spark, 40)
        res = bounded(lambda: ms.save_table("t", df, D))
        assert (res.records, res.records_appended) == (df.count(), df.count()) == (40, 40)
        # overwriting the date again reports the new frame, not a sum
        res = bounded(lambda: ms.save_table("t", rows(spark, 12), D))
        assert (res.records, res.records_appended) == (12, 12)
        assert ms.get_table("t", D, D).count() == 12

    def test_two_appends_to_one_date(self, spark, tmp_path):
        ms = metastore(spark, tmp_path, save_mode="append")
        first = bounded(lambda: ms.save_table("t", rows(spark, 7), D))
        second = bounded(lambda: ms.save_table("t", rows(spark, 5), D))
        assert (first.records, first.records_appended) == (7, 7)
        # records is the partition's total after the append
        assert (second.records, second.records_appended) == (12, 5)
        assert ms.get_table("t", D, D).count() == 12

    @pytest.mark.parametrize("make", [
        lambda spark: spark.range(0),
        lambda spark: spark.createDataFrame([], "id long"),
        lambda spark: spark.range(10).where(F.lit(False)),
        lambda spark: spark.range(10).limit(0),
    ], ids=["range0", "local_relation", "where_false", "limit0"])
    def test_empty_frame(self, spark, tmp_path, make):
        ms = metastore(spark, tmp_path)
        res = bounded(lambda: ms.save_table("t", make(spark), D))
        assert (res.records, res.records_appended) == (0, 0)


class TestRecordsPerPartitionGate:
    @pytest.mark.parametrize("n,rpp", [(10, 3), (9, 3), (1, 4)])
    def test_sized_by_count_files(self, spark, tmp_path, n, rpp):
        ms = metastore(spark, tmp_path, PartitionInfo.per_record_count(rpp))
        res = bounded(lambda: ms.save_table("t", rows(spark, n).repartition(5), D))
        assert res.records == n
        part_dir = str(tmp_path / "t" / f"pramen_info_date={D.isoformat()}")
        assert len(parquet_files(part_dir)) == math.ceil(n / rpp)

    def test_other_sizing_counts_in_the_write(self, spark, tmp_path):
        assert PartitionInfo.per_record_count(3).sized_by_count
        assert not PartitionInfo.explicit(2).sized_by_count
        assert not PartitionInfo.default().sized_by_count
        ms = metastore(spark, tmp_path, PartitionInfo.explicit(2))
        res = bounded(lambda: ms.save_table("t", rows(spark, 10), D))
        assert res.records == 10
        part_dir = str(tmp_path / "t" / f"pramen_info_date={D.isoformat()}")
        assert len(parquet_files(part_dir)) == 2

    def test_spark_sink_records_per_partition(self, spark, tmp_path):
        out = str(tmp_path / "sink")
        sink = SparkSink(spark, {"path": out, "records.per.partition": 4})
        assert bounded(lambda: sink.send(rows(spark, 10), "t", D, {})) == 10
        assert len(parquet_files(out)) == math.ceil(10 / 4)

    def test_spark_sink_counts_in_the_write(self, spark, tmp_path):
        sink = SparkSink(spark, {"path": str(tmp_path / "s1")})
        assert bounded(lambda: sink.send(rows(spark, 17), "t", D, {})) == 17
        assert bounded(lambda: sink.send(spark.range(0), "t", D, {})) == 0

    def test_spark_sink_skips_empty_output(self, spark, tmp_path):
        out = str(tmp_path / "s2")
        sink = SparkSink(spark, {"path": out, "save.empty": "false"})
        assert bounded(lambda: sink.send(spark.range(0), "t", D, {})) == 0
        assert not os.path.exists(out)
        assert bounded(lambda: sink.send(rows(spark, 3), "t", D, {})) == 3


class TestLocalCsvSink:
    def test_count_and_file(self, spark, tmp_path):
        sink = LocalCsvSink(spark, {"path": str(tmp_path / "csv"), "csv.header": "true"})
        assert bounded(lambda: sink.send(rows(spark, 9).repartition(3), "t", D, {})) == 9
        (name,) = os.listdir(str(tmp_path / "csv"))
        with open(str(tmp_path / "csv" / name)) as f:
            assert len(f.read().splitlines()) == 10  # header + 9 rows

    def test_empty_frame(self, spark, tmp_path):
        sink = LocalCsvSink(spark, {"path": str(tmp_path / "csv")})
        assert bounded(lambda: sink.send(spark.range(0), "t", D, {})) == 0


class _Returns(Transformer):
    def __init__(self, df):
        self.df = df

    def run(self, metastore, info_date, options):
        return self.df


class TestFailedWrite:
    def test_task_fails_and_records_no_count(self, spark, tmp_path):
        ms = metastore(spark, tmp_path, name="out")
        bk, journal = Bookkeeper(), Journal()
        bad = spark.range(20).select(
            F.when(F.col("id") == 13, F.raise_error(F.lit("boom"))).otherwise(F.col("id")).alias("v")
        )
        job = TransformationJob(
            OperationDef(name="fails", kind="transformation", output_table="out"),
            ms, bk, ms.table_config("out"), _Returns(bad),
        )
        r = bounded(lambda: TaskRunner(bk, journal).run_task(job, TaskPreDef(D, TaskRunReason.NEW)))
        assert r.status == RunStatus.FAILED
        assert "boom" in r.error
        assert r.records == 0
        assert bk.get_latest_data_chunk("out", D) is None
        (entry,) = journal.get_entries(0, 2e9)
        assert (entry.status, entry.records) == ("failed", 0)


def _ingestion(spark, ms, bk, name, src_dir):
    return IngestionJob(
        OperationDef(name=f"ingest_{name}", kind="ingestion", output_table=name),
        ms, bk, ms.table_config(name),
        SparkSource(spark, {"format": "parquet"}), {"path": src_dir},
    )


class TestIngestion:
    def test_parallel_tasks_keep_their_own_counts(self, spark, tmp_path):
        sizes = {"a": 11, "b": 23, "c": 37, "d": 5, "e": 61}
        ms = Metastore(spark, [
            TableConfig(name=n, format=DataFormat.parquet(str(tmp_path / "ms" / n)))
            for n in sizes
        ])
        bk, journal = Bookkeeper(), Journal()
        jobs = []
        for n, size in sizes.items():
            src = str(tmp_path / "src" / n)
            rows(spark, size).write.parquet(src)
            jobs.append(_ingestion(spark, ms, bk, n, src))
        runner = PipelineRunner(ms, bk, journal=journal, parallel_tasks=4)
        result = bounded(lambda: runner.run(jobs, ScheduleParams.normal(D)))
        assert result.failed == 0, [(r.table_name, r.error) for r in result.results]
        records = {e.table_name: e.records for e in journal.get_entries(0, 2e9)}
        assert records == sizes
        for n, size in sizes.items():
            assert bk.get_latest_data_chunk(n, D).output_record_count == size

    def test_no_count_only_job_after_the_pre_run_count(self, spark, tmp_path):
        """Read from Spark's status store: after the pre-run source count,
        every job that reads rows also writes them. A ``count()`` before
        the write would add a job that reads the source and writes
        nothing."""
        sc = spark.sparkContext._jsc.sc()
        src = str(tmp_path / "src")
        rows(spark, 50).coalesce(1).write.parquet(src)
        ms = metastore(spark, tmp_path, name="raw")
        bk, journal = Bookkeeper(), Journal()
        job = _ingestion(spark, ms, bk, "raw", src)
        marks = []
        pre_run_check = job.pre_run_check

        def marked_pre_run_check(*args, **kwargs):
            res = pre_run_check(*args, **kwargs)
            marks.append(int(sc.dagScheduler().nextJobId()) - 1)
            return res

        job.pre_run_check = marked_pre_run_check
        r = bounded(lambda: TaskRunner(bk, journal).run_task(job, TaskPreDef(D, TaskRunReason.NEW)))
        assert r.status == RunStatus.SUCCEEDED, r.error
        assert r.records == 50
        last = int(sc.dagScheduler().nextJobId()) - 1
        sc.listenerBus().waitUntilEmpty(30_000)
        store = sc.statusStore()
        io = []  # (input records, output records) per job
        for job_id in range(marks[0] + 1, last + 1):
            stage_ids = store.job(job_id).stageIds()
            stages = [store.lastStageAttempt(stage_ids.apply(i)) for i in range(stage_ids.size())]
            io.append((sum(int(s.inputRecords()) for s in stages),
                       sum(int(s.outputRecords()) for s in stages)))
        assert io, "the write ran no Spark job"
        assert [x for x in io if x[0] > 0 and x[1] == 0] == [], io
        assert sum(out for _, out in io) == 50


def jobs_of(spark, fn):
    """(result of ``fn()``, Spark jobs it started)."""
    sc = spark.sparkContext._jsc.sc()
    first = int(sc.dagScheduler().nextJobId())
    value = bounded(fn)
    return value, int(sc.dagScheduler().nextJobId()) - first


def plain_write_jobs(spark, df, path):
    return jobs_of(spark, lambda: df.write.mode("overwrite").parquet(path))[1]


class TestEnceladusSink:
    @staticmethod
    def _sink(spark, tmp_path, **opts):
        from pramen_spark.sinks.enceladus_sink import EnceladusSink

        return EnceladusSink(spark, {"path": str(tmp_path / "lake"), "format": "parquet", **opts})

    @staticmethod
    def _info_count(tmp_path, version=1):
        with open(str(tmp_path / "lake" / "2024" / "03" / "10" / f"v{version}" / "_INFO")) as f:
            info = json.load(f)
        return {int(c["controls"][0]["controlValue"]) for c in info["checkpoints"]}

    @pytest.mark.parametrize("n", [13, 0])
    def test_count_and_info_file(self, spark, tmp_path, n):
        sink = self._sink(spark, tmp_path)
        df = rows(spark, n).repartition(3)
        # the write is the only job: no count() runs before it
        assert jobs_of(spark, lambda: sink.send(df, "t", D, {})) == (
            n, plain_write_jobs(spark, df, str(tmp_path / "plain")))
        assert self._info_count(tmp_path) == {n}
        assert spark.read.parquet(str(tmp_path / "lake" / "2024" / "03" / "10" / "v1")).count() == n

    def test_skips_empty_output(self, spark, tmp_path):
        sink = self._sink(spark, tmp_path, **{"save.empty": False})
        assert bounded(lambda: sink.send(rows(spark, 0), "t", D, {})) == 0
        assert not os.path.exists(str(tmp_path / "lake"))
        assert bounded(lambda: sink.send(rows(spark, 4), "t", D, {})) == 4
        assert self._info_count(tmp_path) == {4}


class TestCmdLineSink:
    @pytest.mark.parametrize("n", [11, 0])
    def test_count_with_format(self, spark, tmp_path, n):
        from pramen_spark.sinks.cmd_line_sink import CmdLineSink

        sink = CmdLineSink(spark, {"cmd.line": "ls @dataPath", "format": "parquet"})
        df = rows(spark, n).repartition(3)
        assert jobs_of(spark, lambda: sink.send(df, "t", D, {})) == (
            n, plain_write_jobs(spark, df, str(tmp_path / "plain")))
        assert "_SUCCESS" in sink.last_output

    @pytest.mark.parametrize("n", [6, 0])
    def test_count_without_format(self, spark, n):
        from pramen_spark.sinks.cmd_line_sink import CmdLineSink

        sink = CmdLineSink(spark, {"cmd.line": "echo @tableName"})
        assert bounded(lambda: sink.send(rows(spark, n), "t", D, {})) == n
        assert sink.last_output == "t"
