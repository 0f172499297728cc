"""The one in-process memo of ``io``: every value read off a parquet file
set (an analyzed frame, a scan's split count, a footer total) is stored
with the files' (path, size, mtime_ns) identity and derived again when a
table is rewritten at the same path; ``cache_path`` hashes that identity."""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile

from conftest import SF_SMOKE

from data_pipeline_spark import io


def _plans_exchange(df) -> bool:
    return "Repartition" in df._jdf.queryExecution().logical().toString()


def test_load_spread_follows_a_rewritten_table(spark, tmp_path):
    """``documents.parquet`` rewritten at the same path, from one file to a
    directory of ``defaultParallelism`` files and back: ``load_spread``
    plans its round-robin exchange exactly when the scan now at that path
    has fewer splits than cores."""
    src = os.path.join(SF_SMOKE, "documents.parquet")
    path = str(tmp_path / "documents.parquet")
    target = spark.sparkContext.defaultParallelism

    def check():
        splits = spark.read.parquet(path).rdd.getNumPartitions()
        out = io.load_spread(spark, str(tmp_path), "documents")
        assert _plans_exchange(out) == (splits < target), (splits, target)
        # the memo returns the same plan for the same files
        again = io.load_spread(spark, str(tmp_path), "documents")
        assert _plans_exchange(again) == _plans_exchange(out)
        return splits

    shutil.copyfile(src, path)
    assert check() == 1

    spark.read.parquet(src).repartition(target).write.parquet(str(tmp_path / "w"))
    os.remove(path)
    os.rename(str(tmp_path / "w"), path)
    assert check() >= target

    shutil.rmtree(path)
    shutil.copyfile(src, path)
    assert check() == 1


def test_memo_identity_missing_path_and_bound(tmp_path, monkeypatch):
    monkeypatch.setattr(io, "_MEMO", {})
    calls = []

    def compute():
        calls.append(1)
        return len(calls)

    f = tmp_path / "t.parquet"
    f.write_bytes(b"one")
    key = ("test", str(f))
    assert io._memo(key, io._file_set(str(f)), compute) == 1
    assert io._memo(key, io._file_set(str(f)), compute) == 1
    f.write_bytes(b"three")  # a changed identity recomputes
    assert io._memo(key, io._file_set(str(f)), compute) == 2
    assert io._memo(key, io._file_set(str(f)), compute) == 2

    gone = str(tmp_path / "missing.parquet")
    assert io._file_set(gone) is None
    assert io._memo(("test", gone), io._file_set(gone), compute) == 3
    assert io._memo(("test", gone), io._file_set(gone), compute) == 4
    assert ("test", gone) not in io._MEMO

    files = io._file_set(str(f))
    for i in range(io._MEMO_BOUND + 100):
        io._memo(("bound", i), files, compute)
        assert len(io._MEMO) <= io._MEMO_BOUND
        assert ("bound", i) in io._MEMO


def _md5_key(kind, sources, *extra, name, root=None):
    """The file-source key formula ``cache_path`` has always used: an md5
    of the kind, each source's (path, size, mtime_ns) and the extras."""
    ident = [kind]
    for p in sources:
        st = os.stat(p)
        ident += [p, st.st_size, st.st_mtime_ns]
    key = hashlib.md5("|".join(map(str, ident + list(extra))).encode())
    if root is None:
        root = os.path.join(tempfile.gettempdir(), f"spark_graft_{kind}")
    return os.path.join(root, key.hexdigest()[:12], name)


def test_cache_path_of_file_sources_keeps_its_key(tmp_path):
    a = tmp_path / "embeddings.parquet"
    b = tmp_path / "lib.jar"
    a.write_bytes(b"parquet bytes")
    b.write_bytes(b"jar")
    srcs = [str(a), str(b)]
    assert io.cache_path("k", srcs, name="out") == _md5_key("k", srcs, name="out")
    assert io.cache_path("k", srcs[:1], '{"m": 8}', 3, name="model.json") == (
        _md5_key("k", srcs[:1], '{"m": 8}', 3, name="model.json")
    )
    root = str(tmp_path / "cds")
    assert io.cache_path("cds", srcs, name="driver.jsa", root=root) == (
        _md5_key("cds", srcs, name="driver.jsa", root=root)
    )
