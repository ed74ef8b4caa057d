"""Structured Streaming support.

The reference is strictly batch (SURVEY §1.5) — its "incremental mode" is
offset-tracked batch. This module is the Spark-native extension of the
same data model to continuous sources: a stream writes into the metastore
as info-date-partitioned micro-batches via ``foreachBatch``, so downstream
batch transformers see exactly the same table layout either way.

Components:
- ``read_file_stream``: file-based streaming source (schema required, as
  Structured Streaming demands).
- ``windowed_aggregation``: watermarked tumbling/sliding-window agg for
  late data.
- ``sessionize``: custom stateful operator via ``applyInPandasWithState``
  (session windows with a gap timeout) — the pattern for operators Spark's
  built-ins can't express.
- ``metastore_foreach_batch_sink``: writes each micro-batch into a
  metastore table partition derived from event time, stamped with the
  micro-batch id as the batch id.
"""

from __future__ import annotations

import datetime as _dt
from contextlib import contextmanager
from typing import Callable, Iterable, List, Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from pramen_spark.session import local_frame

#: Session-conf key for the shuffle/state-store partition count scoped
#: around a stream START. A stateful stream's shuffle-partition count is
#: frozen into its checkpoint at first run, so production deployments
#: size it to expected STATE cardinality (keys in flight), never to the
#: launching session's batch parallelism — inheriting a batch-tuned
#: spark.sql.shuffle.partitions silently multiplies per-micro-batch
#: state-store open/commit overhead by the core count. Measured at
#: sf0.1/local[32]: 32 state partitions cost 1.18 s vs 0.68 s at 8 for
#: the windowed-counts parity stream (state is a few thousand keys).
STREAM_STATE_PARTITIONS_CONF = "spark.pramen.stream.statePartitions"
_STREAM_STATE_PARTITIONS_DEFAULT = 8


@contextmanager
def stream_state_partitions(spark: SparkSession):
    """Scope ``spark.sql.shuffle.partitions`` to the stream-sized value
    for the duration of a ``writeStream.start()`` + ``awaitTermination``
    block, restoring the session's batch value afterwards."""
    n = spark.conf.get(
        STREAM_STATE_PARTITIONS_CONF, str(_STREAM_STATE_PARTITIONS_DEFAULT)
    )
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n)
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def read_file_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    fmt: str = "parquet",
    options: Optional[dict] = None,
) -> DataFrame:
    reader = spark.readStream.format(fmt).schema(schema)
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    return reader.load(path)


def windowed_aggregation(
    df: DataFrame,
    ts_col: str,
    window_duration: str = "10 minutes",
    slide_duration: Optional[str] = None,
    watermark: str = "30 minutes",
    group_cols: Tuple[str, ...] = (),
    value_col: Optional[str] = None,
) -> DataFrame:
    """Watermarked windowed aggregation: counts (+ sum of value_col when
    given) per (window, group_cols). Late rows beyond the watermark are
    dropped by Spark's state store."""
    win = (
        F.window(F.col(ts_col), window_duration, slide_duration)
        if slide_duration
        else F.window(F.col(ts_col), window_duration)
    )
    aggs = [F.count(F.lit(1)).alias("cnt")]
    if value_col:
        aggs.append(F.sum(value_col).alias(f"sum_{value_col}"))
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(win.alias("window"), *[F.col(c) for c in group_cols])
        .agg(*aggs)
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *group_cols,
            *[a_name for a_name in (["cnt"] + ([f"sum_{value_col}"] if value_col else []))],
        )
    )


def streaming_dedup(
    df: DataFrame,
    ts_col: str,
    key_cols: Tuple[str, ...] = ("event_id",),
    watermark: str = "30 minutes",
    within_watermark: bool = True,
) -> DataFrame:
    """Streaming exact dedup — the continuous counterpart of
    ``operators.dedup.exact_dedup`` for at-least-once sources (Kafka
    redeliveries, file re-drops).

    ``within_watermark=True`` uses ``dropDuplicatesWithinWatermark``: state
    per key is evicted once the watermark passes its event time, so state
    is bounded by (arrival rate x watermark), not by the stream's lifetime
    key cardinality — the only form that survives at 100 TB/day. The
    unbounded ``dropDuplicates`` form is kept for short-lived backfills
    where exact global dedup matters more than state size."""
    out = df.withWatermark(ts_col, watermark)
    if within_watermark:
        return out.dropDuplicatesWithinWatermark(list(key_cols))
    return out.dropDuplicates(list(key_cols))


SESSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
    ]
)

# start/last are epoch MICROSECONDS (ints): float seconds would lose
# sub-microsecond precision and trip Arrow's safe timestamp cast on output
_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start", T.LongType()),
        T.StructField("last", T.LongType()),
        T.StructField("count", T.LongType()),
    ]
)


def _session_frame(user_id, sessions):
    return pd.DataFrame(
        {
            "user_id": [user_id] * len(sessions),
            "session_start": [pd.Timestamp(s, unit="us") for s, _, _ in sessions],
            "session_end": [pd.Timestamp(e, unit="us") for _, e, _ in sessions],
            "n_events": [int(c) for _, _, c in sessions],
        }
    )


def _sessionize_fn(gap_seconds: float):
    gap_us = int(gap_seconds * 1_000_000)

    def fn(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            start, last, count = state.get
            state.remove()
            yield _session_frame(user_id, [(start, last, count)])
            return
        ts_values: List[int] = []
        for pdf in pdfs:
            # tz-aware or naive -> UTC epoch micros
            ts_values.extend(
                pdf["ts"].to_numpy(dtype="datetime64[ns]").astype("int64") // 1000
            )
        if not ts_values:
            return
        ts_values.sort()
        # sessions found so far: [start, last, count]; seed with open state
        sessions: List[List[int]] = []
        if state.exists:
            start, last, count = state.get
            sessions.append([start, last, count])
        for t in ts_values:
            if sessions and t - sessions[-1][1] <= gap_us:
                sessions[-1][1] = max(sessions[-1][1], t)
                sessions[-1][2] += 1
            else:
                sessions.append([int(t), int(t), 1])
        # all but the last are closed by an in-batch gap; last stays open
        *closed, open_s = sessions
        state.update((int(open_s[0]), int(open_s[1]), int(open_s[2])))
        # the session closes once the watermark passes its last event
        # plus the gap; late rows are dropped before they get here, so
        # this deadline is never behind the watermark
        state.setTimeoutTimestamp((int(open_s[1]) + gap_us) // 1000)
        if closed:
            yield _session_frame(user_id, closed)

    return fn


def sessionize(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
) -> DataFrame:
    """Session windows with an inactivity gap via applyInPandasWithState —
    the custom-stateful-operator pattern (state: per-user open session;
    output: closed sessions).

    Sessions close on event time: the input carries a watermark of one
    gap, and an open session times out once the watermark passes its last
    event plus the gap. A processing-time timeout would make Spark plan
    another batch forever, so an ``availableNow`` query never ended."""
    gap_seconds = _parse_duration_seconds(gap)
    events = df.select(
        F.col(user_col).alias("user_id"), F.col(ts_col).alias("ts")
    ).withWatermark("ts", gap)
    return events.groupBy("user_id").applyInPandasWithState(
        _sessionize_fn(gap_seconds),
        outputStructType=SESSION_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def sessionize_batch(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
) -> DataFrame:
    """Batch twin of ``sessionize``: session windows over a static
    DataFrame via window functions (lag -> gap flag -> cumulative session
    id -> per-session agg). Returns ALL sessions (batch has no notion of
    an open session): (user_id, session_start, session_end, n_events).

    Scale: two window passes and one aggregation, all partitioned by
    user — a single shuffle on the user key; no Python."""
    from pyspark.sql import Window as W

    from pramen_spark.operators.tsutils import ts_instant

    gap_us = int(_parse_duration_seconds(gap) * 1_000_000)
    # ts_instant: tolerate TIMESTAMP_NTZ input (Spark 4 parquet inference)
    # and make session_start/session_end instant-typed on the way out.
    base = df.select(
        F.col(user_col).alias("user_id"), ts_instant(F.col(ts_col)).alias("ts")
    )
    w = W.partitionBy("user_id").orderBy("ts")
    prev_us = F.unix_micros(F.lag("ts").over(w))
    marked = base.withColumn(
        "_new_sess",
        (
            prev_us.isNull() | (F.unix_micros(F.col("ts")) - prev_us > gap_us)
        ).cast("int"),
    )
    w2 = W.partitionBy("user_id").orderBy("ts")
    with_sid = marked.withColumn("_sid", F.sum("_new_sess").over(w2))
    return (
        with_sid.groupBy("user_id", "_sid")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .drop("_sid")
    )


def _parse_duration_seconds(s: str) -> float:
    num, _, unit = s.strip().partition(" ")
    mult = {
        "second": 1, "seconds": 1,
        "minute": 60, "minutes": 60,
        "hour": 3600, "hours": 3600,
    }[unit.lower()]
    return float(num) * mult


def metastore_foreach_batch_sink(
    metastore,
    table_name: str,
    ts_col: str = "ts",
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function: route each micro-batch's rows to metastore
    partitions by their event date. Use with
    ``stream.writeStream.foreachBatch(...)``; the metastore table should
    use ``save_mode='append'`` so concurrent micro-batches accumulate."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        dates = [
            r["d"]
            for r in batch_df.select(F.to_date(ts_col).alias("d")).distinct().collect()
        ]
        for d in dates:
            slice_df = batch_df.filter(F.to_date(ts_col) == F.lit(d))
            slice_df = slice_df.withColumn(
                metastore.table_config(table_name).batch_id_column, F.lit(batch_id)
            )
            metastore.save_table(table_name, slice_df, d)

    return write_batch


def neardup_foreach_batch_sink(
    index_path: str,
    output_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_size: int = 3,
    num_bands: int = 16,
    threshold: float = 0.8,
    max_shingle_freq: Optional[int] = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function: incremental NEAR-dup dedup under Structured
    Streaming. Each micro-batch dedups against the persisted signature
    index (operators/dedup.py::minhash_dedup_against), survivors append
    to ``output_path`` and their signatures extend ``index_path`` — so a
    document stream dedups continuously with per-batch cost
    O(batch + candidates), never O(corpus), and the index carries
    signatures only (64 longs/doc), never text.

    foreachBatch batches run sequentially with replay-safe ids, so the
    chained result equals batch-mode chained minhash_dedup_against calls
    over the same batch split; a restarted query resumes from the
    checkpoint and the already-extended index. (Exactly-once caveat: a
    crash BETWEEN the two appends can re-deliver a batch; at 100 TB,
    stage both writes under one transactional table format or key the
    appends by batch_id for idempotent replay.)"""
    from pyspark.sql import types as T

    from pramen_spark.operators.dedup import minhash_dedup_against

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        from pyspark.errors import AnalysisException

        try:
            idx = spark.read.parquet(index_path).select(id_col, "signature")
        except AnalysisException:  # first batch: no index yet
            idx = local_frame(
                spark,
                [],
                T.StructType(
                    [
                        T.StructField(id_col, T.LongType()),
                        T.StructField(
                            "signature", T.ArrayType(T.LongType(), False)
                        ),
                    ]
                ),
            )
        survivors = minhash_dedup_against(
            batch_df,
            idx,
            id_col=id_col,
            text_col=text_col,
            num_hashes=num_hashes,
            shingle_size=shingle_size,
            num_bands=num_bands,
            threshold=threshold,
            max_shingle_freq=max_shingle_freq,
        ).persist()
        survivors.drop("signature").write.mode("append").parquet(output_path)
        survivors.select(id_col, "signature").write.mode("append").parquet(
            index_path
        )
        survivors.unpersist()

    return write_batch


def lateness_profile(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    arrival_col: str,
) -> DataFrame:
    """Watermark-lateness profile: how far behind its key's
    high-watermark does each event arrive, in ``arrival_col`` order —
    THE number that picks `withWatermark`'s delay threshold. Set the
    watermark at this profile's p99 and you drop 1% of late data; set
    it at max and state never ages out; guessing sets it wrong both
    ways.

    Lateness of an event = max(previous watermark − event time, 0)
    where the watermark is the running max event time over the key's
    earlier arrivals (one window partitioned BY KEY — per-key
    watermarks, so the profile parallelizes; a global watermark is the
    degenerate single-key case). First arrivals per key have no
    watermark and drop from the profile.

    Returns one row: (n, n_late, late_share, p50_s, p99_s, max_s),
    seconds at round 6.
    """
    w = (
        Window.partitionBy(key_col)
        .orderBy(arrival_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    us = F.unix_micros(F.col(ts_col))
    lagged = df.select(
        (F.max(us).over(w) - us).alias("_behind_us")
    ).where(F.col("_behind_us").isNotNull())
    late_s = (
        F.greatest(F.col("_behind_us"), F.lit(0)).cast("double")
        / F.lit(1_000_000.0)
    )
    flagged = lagged.select(late_s.alias("_late_s"))
    return flagged.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("_late_s") > 0).cast("int")).cast("long").alias(
            "n_late"
        ),
        F.round(
            F.sum((F.col("_late_s") > 0).cast("int")).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("late_share"),
        F.round(F.percentile(F.col("_late_s"), 0.5), 6).alias("p50_s"),
        F.round(F.percentile(F.col("_late_s"), 0.99), 6).alias("p99_s"),
        F.round(F.max("_late_s"), 6).alias("max_s"),
    )
