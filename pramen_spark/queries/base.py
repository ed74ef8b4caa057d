"""Query catalog: every driver-checkable operator gets a (Spark builder,
DuckDB oracle SQL) pair.

Determinism rules (both engines must produce bit-identical values so the
driver's value-hash matches):

- Money/2-decimal columns are cast to DECIMAL before SUM so aggregation is
  exact and order-independent; the final value is cast back to DOUBLE.
- AVG is expressed as exact-decimal SUM cast to double, divided by COUNT.
- Counts/sizes are cast to BIGINT on the Spark side (DuckDB len()/COUNT
  return BIGINT).
- Top-N queries always carry a unique tie-break column in the ordering.

Scale notes are in each builder's docstring: what shuffles, what is
broadcast, and why the plan survives a 100x scale-up.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Dict, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pramen_spark.operators.rowlevel import (
    add_batch_id,
    add_info_date,
    apply_filters,
    sanitize_df_columns,
)
from pramen_spark.operators.tsutils import pin_utc, ts_instant

import datetime as _dt
import os as _os

#: (path stat, newest data file, inference conf) -> StructType. Production
#: engines resolve table schemas from a catalog/metastore instead of
#: re-sniffing parquet footers on every query; this cache is that behavior
#: for the path-addressed testdata tables. Metadata only — the DATA is always
#: scanned from parquet at execution time. A directory's own stat does not
#: change when a part file is rewritten in place, so the key also holds the
#: newest data file's name, mtime and size, and the conf that changes what
#: inference returns. Measured cost of footer inference: ~75 ms per
#: spark.read.parquet call vs ~16 ms with an explicit schema (floor probe,
#: r15); at ~570 load calls per bench pass the inference was ~10% of the
#: whole suite.
_SCHEMA_CACHE: dict = {}


def _newest_data_file(path: str):
    """(mtime_ns, name, size) of the newest data file under ``path``; files
    and directories named ``_*`` or ``.*`` are Spark/Hadoop metadata."""
    newest = None
    for root, dirs, files in _os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for name in files:
            if not name.startswith(("_", ".")):
                full = _os.path.join(root, name)
                st = _os.stat(full)
                found = (st.st_mtime_ns, full, st.st_size)
                if newest is None or found > newest:
                    newest = found
    return newest


def _parquet_schema(spark: SparkSession, path: str):
    st = _os.stat(path)
    key = (
        path,
        st.st_mtime_ns,
        st.st_size,
        _newest_data_file(path),
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None),
    )
    sch = _SCHEMA_CACHE.get(key)
    if sch is None:
        sch = spark.read.parquet(path).schema
        _SCHEMA_CACHE[key] = sch
    return sch


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return load_events(spark, sf_dir)
    path = f"{sf_dir}/{name}.parquet"
    return spark.read.schema(_parquet_schema(spark, path)).parquet(path)


def load_documents_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents scan pre-spread for amplifying consumers (shingling,
    char-bigram explosion): the partition introspection runs on the RAW
    scan, where it is a file listing, and is a no-op when the corpus
    already arrives in >= default-parallelism splits (any real-scale
    read). See operators/partitioning.py."""
    from pramen_spark.operators.partitioning import spread_input

    return spread_input(load_table(spark, sf_dir, "documents"), "doc_id")


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load events.parquet with ``ts`` normalized to TIMESTAMP (UTC instant).

    Two storage-drift cases are absorbed here so every downstream query can
    assume an instant-typed ``ts``:

    - TIMESTAMP(NANOS) files: Spark only reads those as long
      (spark.sql.legacy.parquet.nanosAsLong); convert with integer division
      (double division would lose precision on epoch-nanos magnitudes).
    - tz-less TIMESTAMP(MICROS) files: Spark 4 infers TIMESTAMP_NTZ
      (inferTimestampNTZ defaults true) and ``unix_micros`` et al. reject
      NTZ input. Re-tag as TIMESTAMP under a pinned-UTC session timezone —
      the driver owns the session, so pin here, not in session.py alone.
    """
    pin_utc(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # schema cached AFTER the nanosAsLong conf is pinned, so the cached
    # entry is the same StructType every direct inference would produce
    path = f"{sf_dir}/events.parquet"
    df = spark.read.schema(_parquet_schema(spark, path)).parquet(path)
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", ts_instant("ts"))
    return df


@dataclass
class QuerySpec:
    build: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]  # DuckDB SQL over pre-registered views; None -> rows-only check
    description: str = ""
    tags: tuple = ()


QUERIES: Dict[str, QuerySpec] = {}


def query(name: str, oracle: Optional[str], description: str = "", tags: tuple = ()):
    def deco(fn):
        QUERIES[name] = QuerySpec(fn, oracle, description, tags)
        return fn

    return deco


