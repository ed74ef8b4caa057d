"""Round trips through pramen_spark.fs, by plain path and by ``file:///``
URI (the URI path is the one ``hdfs://`` and ``s3a://`` locations take)."""

import pytest

from pramen_spark.fs import HadoopFs


@pytest.fixture(params=["path", "uri"])
def root(request, tmp_path):
    base = tmp_path / "fs"
    return str(base) if request.param == "path" else base.as_uri()


def test_write_read_list_delete(spark, root):
    fs = HadoopFs(spark, root)
    data = bytes(range(256)) * 5
    fs.write_atomic(f"{root}/deep/a.bin", data)
    fs.write_atomic(f"{root}/deep/b.bin", b"")

    assert fs.exists(f"{root}/deep/a.bin")
    assert fs.read_bytes(f"{root}/deep/a.bin") == data
    assert fs.read_bytes(f"{root}/deep/b.bin") == b""
    # only hidden checksum files beside the data, no temp file left
    visible = [n for n in fs.list(f"{root}/deep") if not n.startswith(".")]
    assert sorted(visible) == ["a.bin", "b.bin"]

    assert fs.delete(f"{root}/deep/a.bin") is True
    assert fs.delete(f"{root}/deep/a.bin") is False
    assert not fs.exists(f"{root}/deep/a.bin")
    assert [n for n in fs.list(f"{root}/deep") if not n.startswith(".")] == ["b.bin"]


def test_missing_paths_raise_file_not_found(spark, root):
    fs = HadoopFs(spark, root)
    assert not fs.exists(f"{root}/nope")
    with pytest.raises(FileNotFoundError):
        fs.list(f"{root}/nope")
    with pytest.raises(FileNotFoundError):
        fs.read_bytes(f"{root}/nope.bin")


def test_plain_path_and_uri_see_the_same_files(spark, tmp_path):
    path, uri = str(tmp_path / "x"), (tmp_path / "x").as_uri()
    HadoopFs(spark, path).write_atomic(f"{path}/f", b"1")
    assert HadoopFs(spark, uri).read_bytes(f"{uri}/f") == b"1"


def _count_py4j_calls(spark, fn):
    """``fn()`` and the number of py4j commands it sent."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = []

    def counting(*args, **kwargs):
        calls.append(1)
        return send(*args, **kwargs)

    client.send_command = counting
    try:
        result = fn()
    finally:
        del client.send_command
    return result, len(calls)


def test_list_makes_a_fixed_number_of_py4j_calls(spark, root):
    fs = HadoopFs(spark, root)
    fs.write_atomic(f"{root}/few/f0", b"")
    for i in range(40):
        fs.write_atomic(f"{root}/many/f{i}", b"")
    few, few_calls = _count_py4j_calls(spark, lambda: fs.list(f"{root}/few"))
    many, many_calls = _count_py4j_calls(spark, lambda: fs.list(f"{root}/many"))
    assert [n for n in few if not n.startswith(".")] == ["f0"]
    assert sorted(n for n in many if not n.startswith(".")) == sorted(f"f{i}" for i in range(40))
    assert many_calls == few_calls == 5  # not three more per entry
    fs.write_atomic(f"{root}/empty/x", b"")
    fs.delete(f"{root}/empty/x")
    assert [n for n in fs.list(f"{root}/empty") if not n.startswith(".")] == []


def test_list_round_trips_unusual_names(spark, root, tmp_path):
    """Names with the join separator (a comma), the URI escape and
    fragment characters, braces, spaces and non-ASCII letters come back
    exactly, never split or decoded."""
    names = {"a b", "c,d", "x%20y", "h#1", "{br}", "}", "ünï", "e,", "plain.parquet"}
    d = tmp_path / "odd"
    d.mkdir()
    for n in names:
        (d / n).write_bytes(b"")
    where = str(d) if "://" not in root else d.as_uri()
    fs = HadoopFs(spark, where)
    assert set(fs.list(where)) == names
    (d / "c,d").unlink()
    (d / "e,").unlink()
    assert set(fs.list(where)) == names - {"c,d", "e,"}


def test_directories_rename_copy_and_size(spark, root, tmp_path):
    fs = HadoopFs(spark, root)
    fs.mkdirs(f"{root}/a/b")
    fs.write_atomic(f"{root}/a/b/f1", b"12345")
    fs.write_atomic(f"{root}/a/f2", b"67")
    assert fs.content_size(f"{root}/a") == 7
    assert fs.content_size(f"{root}/a/f2") == 2
    assert fs.list_files(f"{root}/a") == ["f2"]  # not the directory b

    fs.rename(f"{root}/a", f"{root}/c")
    assert not fs.exists(f"{root}/a")
    assert fs.read_bytes(f"{root}/c/b/f1") == b"12345"
    fs.mkdirs(f"{root}/d")
    with pytest.raises(FileExistsError):
        fs.rename(f"{root}/c", f"{root}/d")  # never moved into, never replaced
    with pytest.raises(OSError):
        fs.rename(f"{root}/nope", f"{root}/e")

    (tmp_path / "plain.txt").write_bytes(b"copied")
    fs.copy_from(str(tmp_path / "plain.txt"), f"{root}/d/plain.txt")
    assert fs.read_bytes(f"{root}/d/plain.txt") == b"copied"

    assert fs.delete(f"{root}/c", recursive=True) is True
    assert not fs.exists(f"{root}/c/b/f1")
    with pytest.raises(FileNotFoundError):
        fs.content_size(f"{root}/c")


def test_write_atomic_replaces(spark, root):
    fs = HadoopFs(spark, root)
    fs.write_atomic(f"{root}/doc.json", b"first")
    fs.write_atomic(f"{root}/doc.json", b"second")
    assert fs.read_bytes(f"{root}/doc.json") == b"second"
    assert [n for n in fs.list(root) if not n.startswith(".")] == ["doc.json"]


def test_parquet_footer(spark, root):
    df = spark.range(7).selectExpr("id", "cast(id as decimal(9,2)) AS d")
    df.coalesce(1).write.parquet(f"{root}/p")
    fs = HadoopFs(spark, root)
    (name,) = [n for n in fs.list(f"{root}/p") if n.endswith(".parquet")]
    footer = fs.parquet_footer(f"{root}/p/{name}")
    assert footer.rows == 7
    assert footer.spark_schema == df.schema.jsonValue()
    with pytest.raises(FileNotFoundError):
        fs.parquet_footer(f"{root}/p/missing.parquet")
