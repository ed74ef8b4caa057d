"""The catalog's parquet schema cache (queries/base.py) must not serve a
schema the table no longer has."""

import os

import pyarrow as pa
import pyarrow.parquet as pq

from pramen_spark.queries.base import load_table


def test_part_file_rewritten_in_place_is_reinferred(spark, tmp_path):
    table_dir = tmp_path / "t.parquet"
    table_dir.mkdir()
    part = table_dir / "part-00000.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), part)
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]

    # same file name, new schema; the directory's own stat is left as it was
    st = os.stat(table_dir)
    pq.write_table(pa.table({"a": [3], "b": ["x"]}), part)
    os.utime(table_dir, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert os.stat(table_dir).st_mtime_ns == st.st_mtime_ns

    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert [tuple(r) for r in df.collect()] == [(3, "x")]
