"""Staged metastore writes: a parquet partition is written into a hidden
staging directory and swapped in only after the write and its checks have
succeeded; the row count, the expectation aggregates and the incremental
offset range come from that one write job, and single-date reads take
their schema from a data file's footer.

Every Spark action runs in a thread joined with a timeout (``bounded``),
so an observation that never arrives fails the test instead of hanging
the suite."""

import ast
import datetime as dt
import decimal
import os

import pytest
from pyspark.sql import functions as F

from pramen_spark.api import Transformer
from pramen_spark.config.models import DataFormat, OperationDef, Schedule, TableConfig
from pramen_spark.metastore import persistence
from pramen_spark.metastore.metastore import Metastore
from pramen_spark.offsets.ledger import OffsetLedger, decode_offset
from pramen_spark.runner.bookkeeper import Bookkeeper, Journal
from pramen_spark.runner.incremental import IncrementalIngestionJob
from pramen_spark.runner.jobs import IngestionJob, TransformationJob
from pramen_spark.runner.task_runner import RunStatus, TaskRunner
from pramen_spark.scheduling.strategies import TaskPreDef, TaskRunReason
from pramen_spark.sources.spark_source import SparkSource
from pramen_spark.sql.generators import OffsetType
from test_observed_count import bounded, jobs_of

D = dt.date(2024, 3, 10)
# sources are given their schema, as the benchmark's are, so that no
# source-side schema inference job shows among a task's jobs
SCHEMA = "id BIGINT, k STRING"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def rows(spark, n, start=0):
    return spark.range(start, start + n).select(
        F.col("id"), (F.col("id") % 7).cast("string").alias("k")
    )


def failing_at_row_14(spark):
    return spark.range(20).select(
        F.when(F.col("id") == 13, F.raise_error(F.lit("boom"))).otherwise(F.col("id")).alias("id"),
        F.lit("x").alias("k"),
    )


def metastore(spark, root, name="t", save_mode=None):
    cfg = TableConfig(name=name, format=DataFormat.parquet(f"{root}/{name}"), save_mode=save_mode)
    return Metastore(spark, [cfg])


def ids(df):
    return sorted(r["id"] for r in df.collect())


def staging_entries(table_dir):
    d = os.path.join(table_dir, persistence.STAGING_DIR)
    return sorted(os.listdir(d)) if os.path.isdir(d) else []


class _Returns(Transformer):
    def __init__(self, df):
        self.df = df

    def run(self, metastore, info_date, options):
        return self.df


def transformation(ms, bk, df, expectations=(), action="fail", name="t"):
    return TransformationJob(
        OperationDef(name=f"make_{name}", kind="transformation", output_table=name,
                     expectations=list(expectations), expectations_action=action),
        ms, bk, ms.table_config(name), _Returns(df),
    )


def run_task(job, bk, batch_id=None):
    return bounded(lambda: TaskRunner(bk, Journal(), batch_id=batch_id).run_task(
        job, TaskPreDef(D, TaskRunReason.NEW)))


# --- failures leave the partition unchanged ---


class TestFailuresLeaveThePartitionUnchanged:
    def test_failed_overwrite(self, spark, tmp_path):
        ms = metastore(spark, str(tmp_path))
        bounded(lambda: ms.save_table("t", rows(spark, 40), D))
        with pytest.raises(Exception, match="boom"):
            bounded(lambda: ms.save_table("t", failing_at_row_14(spark), D))
        assert ids(ms.get_table("t", D, D)) == list(range(40))
        assert ms.get_latest_available_date("t") == D
        assert staging_entries(str(tmp_path / "t")) == []

    def test_failed_append(self, spark, tmp_path):
        ms = metastore(spark, str(tmp_path), save_mode="append")
        bounded(lambda: ms.save_table("t", rows(spark, 5), D))
        with pytest.raises(Exception, match="boom"):
            bounded(lambda: ms.save_table("t", failing_at_row_14(spark), D))
        assert ids(ms.get_table("t", D, D)) == list(range(5))
        assert staging_entries(str(tmp_path / "t")) == []

    def test_failing_fail_action_expectation(self, spark, tmp_path):
        ms = metastore(spark, str(tmp_path))
        bounded(lambda: ms.save_table("t", rows(spark, 40), D))
        bk = Bookkeeper()
        job = transformation(ms, bk, rows(spark, 30, start=100), [
            {"name": "id_small", "kind": "in_range", "col": "id", "lo": 0, "hi": 119},
            {"name": "k_unique", "kind": "unique", "col": "k"},
            {"name": "id_present", "kind": "not_null", "col": "id"},
        ])
        r = run_task(job, bk)
        assert r.status == RunStatus.FAILED
        # rule order, violation counts, and the passing rule left out
        assert r.error == "Expectations failed: id_small (10 violations); k_unique (23 violations)"
        assert ids(ms.get_table("t", D, D)) == list(range(40))
        assert bk.get_latest_data_chunk("t", D) is None
        assert bk.get_latest_schema("t", D) is None
        assert staging_entries(str(tmp_path / "t")) == []

    def test_staging_left_by_a_killed_driver(self, spark, tmp_path):
        import pyarrow.dataset as ds

        ms = metastore(spark, str(tmp_path))
        bounded(lambda: ms.save_table("t", rows(spark, 40), D))
        # a driver that died between the staged write and the commit
        leftover = tmp_path / "t" / persistence.STAGING_DIR / f"pramen_info_date={D}-0123abcd"
        rows(spark, 7, start=1000).write.parquet(str(leftover))
        assert ids(ms.get_table("t", D, D)) == list(range(40))
        assert ids(ms.get_table("t")) == list(range(40))
        assert ms.get_latest_available_date("t") == D
        assert sorted(ds.dataset(str(tmp_path / "t"), format="parquet", partitioning="hive")
                      .to_table().column("id").to_pylist()) == list(range(40))
        # the next write of that partition deletes it
        bounded(lambda: ms.save_table("t", rows(spark, 3), D))
        assert ids(ms.get_table("t", D, D)) == [0, 1, 2]
        assert staging_entries(str(tmp_path / "t")) == []

    def test_raw_copy_failure(self, spark, tmp_path):
        src = tmp_path / "in"
        src.mkdir()
        (src / "a.csv").write_text("1\n")
        cfg = TableConfig(name="raw", format=DataFormat.raw(str(tmp_path / "raw")))
        ms = Metastore(spark, [cfg])
        listing = lambda *names: spark.createDataFrame(  # noqa: E731
            [(str(src / n),) for n in names], "path string")
        assert ms.save_table("raw", listing("a.csv"), D).records == 1
        with pytest.raises(Exception):
            ms.save_table("raw", listing("a.csv", "missing.csv"), D)
        assert [r["file_name"] for r in ms.get_table("raw", D, D).collect()] == ["a.csv"]
        assert staging_entries(str(tmp_path / "raw")) == []


# --- Spark jobs per task kind, read from the status store ---


def job_names(spark, fn):
    """(result of ``fn()``, the action name of each Spark job it ran)."""
    sc = spark.sparkContext._jsc.sc()
    first = int(sc.dagScheduler().nextJobId())
    value = bounded(fn)
    last = int(sc.dagScheduler().nextJobId())
    sc.listenerBus().waitUntilEmpty(30_000)
    store = sc.statusStore()
    return value, [str(store.job(j).name()).split(" at ")[0] for j in range(first, last)]


class TestJobCount:
    """The jobs a task runs: its write, plus only what no write can carry.
    Before staging, the gate added a persist and a 4-job collect, each
    single-date read a footer schema-inference job, each append a
    read-back count and each incremental save a min/max read-back."""

    def test_ingestion(self, spark, tmp_path):
        src = str(tmp_path / "src")
        rows(spark, 50).coalesce(1).write.parquet(src)
        ms = metastore(spark, str(tmp_path), name="raw")
        bk = Bookkeeper()
        job = IngestionJob(
            OperationDef(name="ingest", kind="ingestion", output_table="raw"),
            ms, bk, ms.table_config("raw"), SparkSource(spark, {"format": "parquet", "schema": SCHEMA}),
            {"path": src},
        )
        r, names = job_names(spark, lambda: run_task(job, bk))
        assert r.status == RunStatus.SUCCEEDED and r.records == 50, r.error
        # the pre-run source count (one job per AQE query stage), the write
        assert len(names) == 3 and names[-1] == "parquet", names

    def test_transformation_with_expectations(self, spark, tmp_path):
        ms = Metastore(spark, [
            TableConfig(name="src", format=DataFormat.parquet(str(tmp_path / "src"))),
            TableConfig(name="out", format=DataFormat.parquet(str(tmp_path / "out"))),
        ])
        bounded(lambda: ms.save_table("src", rows(spark, 60), D))
        bk = Bookkeeper()
        job = TransformationJob(
            OperationDef(name="gated", kind="transformation", output_table="out", input_tables=["src"],
                         expectations=[
                             {"name": "id_present", "kind": "not_null", "col": "id"},
                             {"name": "id_range", "kind": "in_range", "col": "id", "lo": 0, "hi": 100},
                             {"name": "id_unique", "kind": "unique", "col": "id"},
                         ]),
            ms, bk, ms.table_config("out"), _ReadsSrc(),
        )
        r, names = job_names(spark, lambda: run_task(job, bk))
        assert r.status == RunStatus.SUCCEEDED and r.records == 60, r.error
        # the write (with not_null and in_range observed on it), then the
        # unique aggregate over the staged files: one job per AQE query
        # stage of its two exchanges. No schema inference for the input.
        assert names[0] == "parquet" and len(names) == 4, names

    def test_incremental_ingestion(self, spark, tmp_path):
        ms, ledger, job = incremental_env(spark, tmp_path, 80)
        bk = job.bookkeeper
        r, names = job_names(spark, lambda: run_task(job, bk, batch_id=1))
        assert r.status == RunStatus.SUCCEEDED and r.records == 80, r.error
        assert names == ["parquet"]
        # a second append: the total comes from the footers, no count job
        append_more(spark, tmp_path, 80, 20)
        r, names = job_names(spark, lambda: run_task(job, bk, batch_id=2))
        assert r.status == RunStatus.SUCCEEDED and r.records == 100, r.error
        assert names == ["parquet"]


class _ReadsSrc(Transformer):
    def run(self, metastore, info_date, options):
        return metastore.get_table("src", info_date, info_date).drop("pramen_info_date")


# --- incremental offsets come from the write ---


def incremental_env(spark, tmp_path, n):
    src = str(tmp_path / "src")
    rows(spark, n).write.parquet(src)
    cfg = TableConfig(name="inc", format=DataFormat.parquet(str(tmp_path / "inc")), save_mode="append")
    ms = Metastore(spark, [cfg])
    ledger = OffsetLedger(str(tmp_path / "offsets.jsonl"))
    job = IncrementalIngestionJob(
        OperationDef(name="inc", kind="ingestion", output_table="inc", schedule=Schedule.parse("incremental")),
        ms, Bookkeeper(), cfg,
        SparkSource(spark, {"format": "parquet", "schema": SCHEMA, "offset.column": "id",
                            "has.information.date.column": False}),
        {"path": src}, ledger, "id", OffsetType.INTEGRAL,
    )
    return ms, ledger, job


def append_more(spark, tmp_path, start, n):
    rows(spark, n, start=start).write.mode("append").parquet(str(tmp_path / "src"))


class TestOffsets:
    def test_committed_offsets_equal_storage(self, spark, tmp_path):
        ms, ledger, job = incremental_env(spark, tmp_path, 30)
        for batch_id, more in ((1, None), (2, (30, 12)), (3, (42, 5))):
            if more:
                append_more(spark, tmp_path, *more)
            r = run_task(job, job.bookkeeper, batch_id=batch_id)
            assert r.status == RunStatus.SUCCEEDED, r.error
        stored = {
            r["pramen_batchid"]: (r["mn"], r["mx"])
            for r in ms.get_table("inc", D, D).groupBy("pramen_batchid")
            .agg(F.min("id").alias("mn"), F.max("id").alias("mx")).collect()
        }
        committed = {
            rec.batch_id: (decode_offset(OffsetType.INTEGRAL, rec.min_offset).value,
                           decode_offset(OffsetType.INTEGRAL, rec.max_offset).value)
            for rec in ledger.get_offsets("inc", D)
        }
        assert committed == stored == {1: (0, 29), 2: (30, 41), 3: (42, 46)}

    def test_offsets_without_an_observation(self, spark, tmp_path, monkeypatch):
        # an observation that never arrives: the offsets come from the
        # staged files, not from the upstream plan again
        monkeypatch.setattr(persistence, "observed", lambda df, aggs: (df, lambda: None))
        ms, ledger, job = incremental_env(spark, tmp_path, 25)
        r = run_task(job, job.bookkeeper, batch_id=1)
        assert r.status == RunStatus.SUCCEEDED and r.records == 25, r.error
        (rec,) = ledger.get_offsets("inc", D)
        assert (rec.min_offset, rec.max_offset) == ("0", "24")


class TestObservationNeverArrives:
    def test_gate_reads_the_staged_files_not_the_plan(self, spark, tmp_path, monkeypatch):
        monkeypatch.setattr(persistence, "observed", lambda df, aggs: (df, lambda: None))
        acc = spark.sparkContext.accumulator(0)

        def bump(v):
            acc.add(1)
            return v

        bumped = spark.range(50).select(F.udf(bump, "long")(F.col("id")).alias("id"))
        ms = metastore(spark, str(tmp_path))
        bk = Bookkeeper()
        job = transformation(ms, bk, bumped, [
            {"name": "id_range", "kind": "in_range", "col": "id", "lo": 0, "hi": 39},
        ], action="warn")
        r = run_task(job, bk)
        assert r.status == RunStatus.SUCCEEDED and r.records == 50, r.error
        assert r.warnings == ["Expectations failed: id_range (10 violations)"]
        assert acc.value == 50  # the upstream plan ran once, for the write


# --- single-date reads take the schema from a footer ---


TYPED = [
    ("long", "id"),
    ("double", "id / 3"),
    ("decimal", "cast(id as decimal(20,4))"),
    ("date", "date_add(date'2024-01-01', cast(id as int))"),
    ("timestamp", "timestamp_seconds(id * 3601)"),
    ("binary", "cast(cast(id as string) as binary)"),
    ("string", "concat('s', cast(id as string))"),
    ("nested", "named_struct('a', id, 'b', array(id, cast(null as bigint)), 'm', map('k', id))"),
    ("all_null", "cast(null as string)"),
]


class TestFooterSchema:
    @pytest.mark.parametrize("name,expr", TYPED, ids=[t[0] for t in TYPED])
    def test_equals_spark_inference(self, spark, tmp_path, name, expr):
        ms = metastore(spark, str(tmp_path))
        bounded(lambda: ms.save_table("t", spark.range(6).select(F.expr(expr).alias(name)), D))
        part = str(tmp_path / "t" / f"pramen_info_date={D}")
        got, n_jobs = jobs_of(spark, lambda: ms.get_table("t", D, D))
        assert n_jobs == 0
        assert got.schema == self._inferred(spark, part).schema
        assert sorted(got.collect()) == sorted(self._inferred(spark, part).collect())

    def test_all_types_together(self, spark, tmp_path):
        ms = metastore(spark, str(tmp_path))
        bounded(lambda: ms.save_table("t", spark.range(4).select(*[F.expr(e).alias(n) for n, e in TYPED]), D))
        part = str(tmp_path / "t" / f"pramen_info_date={D}")
        assert ms.get_table("t", D, D).schema == self._inferred(spark, part).schema

    def test_partition_written_without_staging(self, spark, tmp_path):
        # the layout an earlier version wrote: straight into the partition
        part = str(tmp_path / "t" / f"pramen_info_date={D}")
        spark.range(5).select(F.col("id"), (F.col("id") * 1.5).alias("x")).write.parquet(part)
        ms = metastore(spark, str(tmp_path))
        got = ms.get_table("t", D, D)
        assert got.schema == self._inferred(spark, part).schema
        assert sorted(got.collect()) == sorted(self._inferred(spark, part).collect())

    def test_footer_without_the_spark_key(self, spark, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        part = tmp_path / "t" / f"pramen_info_date={D}"
        part.mkdir(parents=True)
        table = pa.table({"id": pa.array([1, 2, 3], pa.int32()), "s": ["a", None, "c"],
                          "ts": pa.array([0, 10**6, None], pa.timestamp("us"))})
        pq.write_table(table, str(part / "part-0.parquet"))
        ms = metastore(spark, str(tmp_path))
        assert persistence.HadoopFs(spark, str(part)).parquet_footer(
            str(part / "part-0.parquet")).spark_schema is None
        got = ms.get_table("t", D, D)
        assert got.schema == self._inferred(spark, str(part)).schema
        assert sorted(got.collect()) == sorted(self._inferred(spark, str(part)).collect())

    @staticmethod
    def _inferred(spark, part):
        return spark.read.parquet(part).withColumn("pramen_info_date", F.lit(D.isoformat()).cast("date"))


def test_decimal_and_timestamp_values_round_trip(spark, tmp_path):
    ms = metastore(spark, str(tmp_path))
    df = spark.createDataFrame(
        [(decimal.Decimal("12.3456"), dt.datetime(2024, 1, 2, 3, 4, 5, 678901))],
        "d decimal(10,4), ts timestamp",
    )
    bounded(lambda: ms.save_table("t", df, D))
    row = ms.get_table("t", D, D).first()
    assert (row["d"], row["ts"]) == (decimal.Decimal("12.3456"), dt.datetime(2024, 1, 2, 3, 4, 5, 678901))


def test_persisted_transient_table_runs_no_inference_job(spark, tmp_path):
    from pramen_spark.config.models import CachePolicy

    ms = Metastore(spark, [TableConfig(name="tr", format=DataFormat.transient(CachePolicy.PERSIST))],
                   temp_dir=str(tmp_path / "tmp"))
    _, n_jobs = jobs_of(spark, lambda: ms.save_table("tr", rows(spark, 9), D))
    assert n_jobs == 1  # the write; the read-back passes the known schema
    assert ms.get_table("tr", D, D).count() == 9


# --- the metastore reaches storage only through pramen_spark.fs ---

FS_MODULES = {"os", "shutil", "pathlib", "glob", "tempfile"}


def file_system_calls(source: str, filename: str = "<src>"):
    """``(line, call)`` of each call into a local file-system module (by
    name or through a name imported from one) and of the ``open`` builtin."""
    tree = ast.parse(source, filename)
    imported = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            imported |= {a.asname or a.name for a in node.names if a.name.split(".")[0] in FS_MODULES}
        elif isinstance(node, ast.ImportFrom) and (node.module or "").split(".")[0] in FS_MODULES:
            imported |= {a.asname or a.name for a in node.names}
    out = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        root = node.func
        while isinstance(root, ast.Attribute):
            root = root.value
        if isinstance(root, ast.Name) and (root.id in imported or root.id == "open"):
            out.append((node.lineno, ast.unparse(node.func)))
    return out


def test_guard_finds_file_system_calls():
    src = (
        "import os, shutil\n"
        "from os import path as p\n"
        "os.path.isdir(d)\n"
        "shutil.rmtree(d)\n"
        "p.join(a, b)\n"
        "open(f)\n"
        "posixpath.join(a, b)\n"
        "self.fs.list(d)\n"
    )
    assert file_system_calls(src) == [
        (3, "os.path.isdir"), (4, "shutil.rmtree"), (5, "p.join"), (6, "open")]


def test_metastore_makes_no_local_file_system_call():
    pkg = os.path.join(ROOT, "pramen_spark", "metastore")
    found = []
    for name in sorted(os.listdir(pkg)):
        if name.endswith(".py"):
            path = os.path.join(pkg, name)
            with open(path) as f:
                found += [f"{name}:{line} {call}" for line, call in file_system_calls(f.read(), path)]
    assert found == [], "route metastore file-system calls through pramen_spark.fs\n" + "\n".join(found)


# --- any Hadoop path: file:/// URIs ---


def test_metastore_on_file_uris(spark, tmp_path):
    from pramen_spark.metastore.metadata import MetadataManager

    root = tmp_path.as_uri()
    ms = metastore(spark, root)
    assert ms.get_latest_available_date("t") is None
    bounded(lambda: ms.save_table("t", rows(spark, 8), D))
    bounded(lambda: ms.save_table("t", rows(spark, 4), D + dt.timedelta(days=1)))
    assert ms.get_latest_available_date("t") == D + dt.timedelta(days=1)
    assert ms.is_data_available("t", D, D)
    assert ids(ms.get_table("t", D, D)) == list(range(8))
    ms._persistence_for("t").delete_partition(D)
    assert not ms.is_data_available("t", D, D)

    mm = MetadataManager(f"{root}/meta/metadata.json", spark)
    mm.set_metadata("t", D, "k", "v1")
    mm.set_metadata("t", D, "k", "v2")
    assert MetadataManager(f"{root}/meta/metadata.json", spark).get_metadata("t", D, "k").value == "v2"
