"""Structured Streaming tests: file stream -> watermarked windows,
stateful sessionization, metastore foreachBatch sink."""

import datetime as dt
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pramen_spark.config.models import DataFormat, TableConfig
from pramen_spark.metastore.metastore import Metastore
from pramen_spark.streaming.stream import (
    metastore_foreach_batch_sink,
    read_file_stream,
    sessionize,
    windowed_aggregation,
)

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def write_events(spark, path, base=dt.datetime(2024, 1, 10, 12, 0, 0)):
    rows = []
    for i in range(60):
        rows.append((i, base + dt.timedelta(minutes=i), i % 3, float(i)))
    spark.createDataFrame(rows, EVENTS_SCHEMA).write.mode("overwrite").parquet(path)


def run_available_now(stream_df, sink_fn=None, query_name="q"):
    if sink_fn is not None:
        q = (
            stream_df.writeStream.foreachBatch(sink_fn)
            .trigger(availableNow=True)
            .option("checkpointLocation", f"/tmp/ckpt_{query_name}_{time.time_ns()}")
            .start()
        )
    else:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(query_name)
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", f"/tmp/ckpt_{query_name}_{time.time_ns()}")
            .start()
        )
    try:
        terminated = q.awaitTermination(120)
    finally:
        q.stop()
    assert terminated, f"availableNow query {query_name} still running after 120 s"
    return q


class TestStreamingDedup:
    def test_duplicates_dropped_within_watermark(self, spark, tmp_path):
        from pramen_spark.streaming.stream import streaming_dedup

        src = str(tmp_path / "events")
        base = dt.datetime(2024, 1, 10, 12, 0, 0)
        rows = [(i, base + dt.timedelta(minutes=i), i % 3, float(i)) for i in range(20)]
        rows += rows[:5]  # redelivered duplicates
        spark.createDataFrame(rows, EVENTS_SCHEMA).write.mode("overwrite").parquet(src)

        stream = read_file_stream(spark, src, EVENTS_SCHEMA)
        deduped = streaming_dedup(stream, "ts", key_cols=("event_id",))
        run_available_now(deduped, query_name="sdedup")
        out = spark.sql("SELECT event_id FROM sdedup").collect()
        ids = sorted(r["event_id"] for r in out)
        assert ids == list(range(20))  # each id exactly once

    def test_unbounded_variant(self, spark, tmp_path):
        from pramen_spark.streaming.stream import streaming_dedup

        src = str(tmp_path / "events2")
        write_events(spark, src)
        stream = read_file_stream(spark, src, EVENTS_SCHEMA)
        deduped = streaming_dedup(stream, "ts", key_cols=("user_id",),
                                  within_watermark=False)
        run_available_now(deduped, query_name="sdedup2")
        assert spark.sql("SELECT COUNT(*) n FROM sdedup2").collect()[0]["n"] == 3


class TestWindowedAggregation:
    def test_tumbling_windows(self, spark, tmp_path):
        src = str(tmp_path / "events")
        write_events(spark, src)
        stream = read_file_stream(spark, src, EVENTS_SCHEMA)
        agg = windowed_aggregation(stream, "ts", "10 minutes", watermark="5 minutes",
                                   group_cols=("user_id",), value_col="value")
        run_available_now(agg, query_name="win1")
        out = spark.sql("SELECT * FROM win1").collect()
        # 60 minutes of data -> 6 windows x 3 users, but append mode only
        # emits windows the watermark (max event time - 5 min) has passed:
        # the final 12:50-13:00 window per user stays open -> 15 emitted
        assert len(out) == 15
        assert all(r["cnt"] > 0 for r in out)
        total = sum(r["sum_value"] for r in out)
        assert total == sum(range(50))  # events 50..59 are in the open window

    def test_batch_mode_windows_too(self, spark, tmp_path):
        # the same helper works on batch DataFrames (no watermark state)
        src = str(tmp_path / "events_b")
        write_events(spark, src)
        df = spark.read.parquet(src)
        agg = windowed_aggregation(df, "ts", "30 minutes", watermark="5 minutes")
        rows = agg.collect()
        assert len(rows) == 2
        assert sum(r["cnt"] for r in rows) == 60


class TestSessionize:
    def test_sessions_close_on_gap(self, spark, tmp_path):
        src = str(tmp_path / "sess")
        base = dt.datetime(2024, 1, 10, 12, 0, 0)
        rows = []
        # user 1: two bursts separated by 2 hours -> 2 sessions
        for i in range(5):
            rows.append((i, base + dt.timedelta(minutes=i), 1, 0.0))
        for i in range(5):
            rows.append((100 + i, base + dt.timedelta(hours=2, minutes=i), 1, 0.0))
        spark.createDataFrame(rows, EVENTS_SCHEMA).write.mode("overwrite").parquet(src)

        stream = read_file_stream(spark, src, EVENTS_SCHEMA)
        sessions = sessionize(stream, "user_id", "ts", gap="30 minutes")
        run_available_now(sessions, query_name="sess1")
        out = spark.sql("SELECT * FROM sess1").collect()
        # both micro-batch arrivals land in one batch; the first session
        # closes when the second burst arrives past the gap
        assert len(out) >= 1
        s = out[0]
        assert s["n_events"] == 5
        assert s["session_start"] == base
        assert s["session_end"] == base + dt.timedelta(minutes=4)


class TestMetastoreForeachBatch:
    def test_stream_to_metastore_partitions(self, spark, tmp_path):
        src = str(tmp_path / "events_ms")
        base = dt.datetime(2024, 1, 10, 23, 30, 0)
        rows = [(i, base + dt.timedelta(minutes=i), i % 2, float(i)) for i in range(60)]
        spark.createDataFrame(rows, EVENTS_SCHEMA).write.mode("overwrite").parquet(src)

        ms = Metastore(
            spark,
            [TableConfig(name="stream_events",
                         format=DataFormat.parquet(str(tmp_path / "stream_events")),
                         save_mode="append")],
        )
        stream = read_file_stream(spark, src, EVENTS_SCHEMA)
        sink = metastore_foreach_batch_sink(ms, "stream_events", "ts")
        run_available_now(stream, sink_fn=sink, query_name="ms1")

        # events straddle midnight -> two partitions
        d1, d2 = dt.date(2024, 1, 10), dt.date(2024, 1, 11)
        n1 = ms.get_table("stream_events", d1, d1).count()
        n2 = ms.get_table("stream_events", d2, d2).count()
        assert n1 == 30 and n2 == 30
        df = ms.get_table("stream_events", d1, d2)
        assert "pramen_batchid" in df.columns


class TestSessionizeBatch:
    def test_batch_sessions(self, spark):
        from pramen_spark.streaming.stream import sessionize_batch

        base = dt.datetime(2024, 1, 10, 12, 0, 0)
        rows = []
        for i in range(5):
            rows.append((i, base + dt.timedelta(minutes=i), 1, 0.0))
        for i in range(5):
            rows.append((100 + i, base + dt.timedelta(hours=2, minutes=i), 1, 0.0))
        rows.append((200, base, 2, 0.0))
        df = spark.createDataFrame(rows, EVENTS_SCHEMA)
        out = {(r["user_id"], r["session_start"], r["n_events"])
               for r in sessionize_batch(df, "user_id", "ts", "30 minutes").collect()}
        assert out == {
            (1, base, 5),
            (1, base + dt.timedelta(hours=2), 5),
            (2, base, 1),
        }


class TestStreamingNearDupDedup:
    """The incremental near-dup contract under Structured Streaming: a
    document stream processed by neardup_foreach_batch_sink must produce
    EXACTLY the corpus that batch-mode chained minhash_dedup_against
    calls produce over the same batch split, and the signature index must
    carry one row per survivor."""

    def _docs(self, spark, lo, hi, dup_of=None):
        rows = []
        for i in range(lo, hi):
            if dup_of and i in dup_of:
                # near-copy of an earlier doc: its template + tiny suffix
                o = dup_of[i]
                rows.append((i, f"unique content {o} with distinct tokens "
                                f"alpha{o} beta{o} gamma{o} delta{o} epsilon{o} x"))
            else:
                rows.append((i, f"unique content {i} with distinct tokens "
                                f"alpha{i} beta{i} gamma{i} delta{i} epsilon{i}"))
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_streamed_batches_equal_chained_batch_mode(self, spark, tmp_path):
        from pramen_spark.operators.dedup import minhash_dedup_against
        from pramen_spark.streaming.stream import neardup_foreach_batch_sink

        kw = dict(num_hashes=32, num_bands=16, threshold=0.5, shingle_size=3)
        # batch 1: docs 0-19; batch 2: docs 20-39 where 25/26 near-copy 3
        # and 30 near-copies 21 (within... across batches)
        dup_of = {25: 3, 26: 3, 30: 3}
        b1 = self._docs(spark, 0, 20)
        b2 = self._docs(spark, 20, 40, dup_of=dup_of)

        landing = tmp_path / "landing"
        landing.mkdir()
        b1.coalesce(1).write.parquet(str(landing / "f1"))
        index_path = str(tmp_path / "sig_index")
        output_path = str(tmp_path / "clean_docs")
        ckpt = str(tmp_path / "ckpt")
        sink = neardup_foreach_batch_sink(index_path, output_path, **kw)
        schema = b1.schema

        def run_stream():
            q = (
                spark.readStream.schema(schema)
                .parquet(str(landing / "*"))
                .writeStream.foreachBatch(sink)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        run_stream()                      # processes f1
        b2.coalesce(1).write.parquet(str(landing / "f2"))
        run_stream()                      # resumes from checkpoint: only f2

        got = {r.doc_id for r in spark.read.parquet(output_path).collect()}

        # batch-mode chained reference over the same split
        from pyspark.sql import types as T
        empty = spark.createDataFrame(
            [], T.StructType([T.StructField("doc_id", T.LongType()),
                              T.StructField("signature",
                                            T.ArrayType(T.LongType(), False))]))
        s1 = minhash_dedup_against(b1, empty, **kw).persist()
        idx1 = s1.select("doc_id", "signature")
        s2 = minhash_dedup_against(b2, idx1, **kw)
        want = ({r.doc_id for r in s1.collect()}
                | {r.doc_id for r in s2.collect()})
        assert got == want
        # the cross-batch near-dups of doc 3 must have been dropped
        assert got.isdisjoint({25, 26, 30})
        # index carries exactly one signature row per survivor
        idx = spark.read.parquet(index_path)
        assert idx.count() == len(got)
        assert {r.doc_id for r in idx.select("doc_id").collect()} == got
