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
