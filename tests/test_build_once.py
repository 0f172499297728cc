"""``io.build_once``: the one way a derived artifact becomes visible.

Contract: one build per artifact however many threads ask for it, a
build that raises publishes nothing (its stage is removed by the next
build), and a warm call takes no mutex.  Plus the catalog artifact it
fixed: the z-order copy of lineitem follows a rewritten source file.
"""

from __future__ import annotations

import os
import shutil
import threading

import pytest

from conftest import SF_SMOKE
from data_pipeline_spark import coordination
from data_pipeline_spark.io import build_once, cache_path


@pytest.fixture
def tempdir(tmp_path, monkeypatch):
    """A private ``tempfile.gettempdir()`` for the artifacts."""
    import tempfile

    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    return tmp


def _source(tmp_path, text="v1"):
    src = tmp_path / "source.txt"
    src.write_text(text)
    return str(src)


def test_cache_path_keys_on_kind_source_identity_and_extra(tempdir, tmp_path):
    src = _source(tmp_path)
    a = cache_path("k", [src], 1, name="out")
    assert a == cache_path("k", [src], 1, name="out")
    assert a.startswith(str(tempdir / "spark_graft_k"))
    assert os.path.basename(a) == "out"
    assert cache_path("k", [src], 2, name="out") != a
    assert cache_path("j", [src], 1, name="out") != a
    with open(src, "a") as fh:
        fh.write("more")  # a rewritten source names a new artifact
    assert cache_path("k", [src], 1, name="out") != a


def test_racing_threads_build_one_artifact_once(tempdir, tmp_path):
    """Threads that ask for a missing artifact while its build runs wait
    for it rather than building again: every thread gets the artifact,
    and the build ran once."""
    final = cache_path("k", [_source(tmp_path)], name="out")
    builds = []
    started = threading.Event()
    release = threading.Event()

    def build(stage):
        builds.append(stage)
        started.set()
        release.wait(30)
        with open(stage, "w") as fh:
            fh.write("built")

    got = []

    def call():
        got.append(build_once(final, build))

    threads = [threading.Thread(target=call) for _ in range(8)]
    threads[0].start()
    assert started.wait(30)
    for t in threads[1:]:
        t.start()
    threads[1].join(0.5)
    assert threads[1].is_alive()  # waits on the mutex while the build runs
    release.set()
    for t in threads:
        t.join(30)
    assert not any(t.is_alive() for t in threads)
    assert got == [final] * len(threads)
    assert builds == [f"{final}.tmp"]
    with open(final) as fh:
        assert fh.read() == "built"


@pytest.mark.parametrize("as_dir", [False, True])
def test_raising_build_publishes_nothing_and_next_removes_its_stage(
    tempdir, tmp_path, as_dir
):
    """A build that raises midway leaves its stage and no artifact; the
    next build starts from an empty stage and publishes only its own
    output."""
    final = cache_path("k", [_source(tmp_path)], name="out")

    def broken(stage):
        if as_dir:
            os.makedirs(stage)
            open(os.path.join(stage, "half"), "w").close()
        else:
            with open(stage, "w") as fh:
                fh.write("half")
        raise OSError("disk full")

    with pytest.raises(OSError, match="disk full"):
        build_once(final, broken)
    assert not os.path.exists(final)
    assert os.path.exists(f"{final}.tmp")

    seen = []

    def build(stage):
        seen.append(os.path.exists(stage))
        if as_dir:
            os.makedirs(stage)
            open(os.path.join(stage, "whole"), "w").close()
        else:
            with open(stage, "w") as fh:
                fh.write("whole")

    assert build_once(final, build) == final
    assert seen == [False]
    assert not os.path.exists(f"{final}.tmp")
    if as_dir:
        assert os.listdir(final) == ["whole"]
    else:
        with open(final) as fh:
            assert fh.read() == "whole"


def test_warm_call_takes_no_mutex(tempdir, tmp_path, monkeypatch):
    final = cache_path("k", [_source(tmp_path)], name="out")
    build_once(final, lambda stage: open(stage, "w").close())

    def no_mutex(base):
        raise AssertionError(f"warm call took the mutex on {base}")

    monkeypatch.setattr(coordination, "process_mutex", no_mutex)
    assert build_once(final, lambda stage: pytest.fail("rebuilt")) == final


def test_zorder_layout_follows_a_rewritten_lineitem(spark, tempdir, tmp_path):
    """``zorder_box_query`` serves a z-ordered copy of lineitem built once
    per lineitem file.  Rewriting the file under the same sf path makes a
    new copy: the answer follows the new rows and equals the oracle on
    them, instead of the old file's layout."""
    import duckdb
    import pyarrow.parquet as papq

    from data_pipeline_spark.queries import QUERIES
    from oracle_utils import compare_query

    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copy(f"{SF_SMOKE}/lineitem.parquet", sf / "lineitem.parquet")
    spec = QUERIES["zorder_box_query"]
    before = spec.spark(spark, str(sf)).collect()
    path = str(sf / "lineitem.parquet")
    table = papq.read_table(path)
    papq.write_table(table.slice(0, table.num_rows // 2), path)
    with duckdb.connect() as con:
        con.execute(f"CREATE VIEW lineitem AS SELECT * FROM '{path}'")
        ok, detail = compare_query(spark, con, spec, str(sf))
    assert ok, detail
    assert spec.spark(spark, str(sf)).collect() != before
    assert len(list(tempdir.glob("spark_graft_zorder_lineitem/*/layout"))) == 2
