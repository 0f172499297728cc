"""The driver-side commit log under every ledger (``io.CommitLog``): its
crash windows, and reads and compactions that overlap a compaction, for
the log itself and through the offset ledger and the topic watermark
sidecar.  None of these run a Spark job, so none starts a session."""

from __future__ import annotations

import os

import pyarrow as pa
import pytest

from data_pipeline_spark import io
from data_pipeline_spark.io import max_per_key
from data_pipeline_spark.sources.file_topic import OffsetLedger, TopicStore

SCHEMA = pa.schema([("k", pa.string()), ("v", pa.int64())])


def _visible(path):
    return sorted(n for n in os.listdir(path) if not n.startswith((".", "_")))


def _keep_max(rows):
    return sorted(max_per_key(rows).items())


class _Crash(RuntimeError):
    pass


def _log(tmp_path):
    log = io.CommitLog(str(tmp_path / "log"), SCHEMA)
    for rows in ([("a", 1), ("b", 7)], [("a", 4)], [("c", 2), ("b", 3)]):
        log.append(rows)
    # the Spark writer's sibling, which a compaction removes too
    open(os.path.join(log.path, "_SUCCESS"), "w").close()
    return log


@pytest.mark.parametrize(
    "crash", ["append_before_rename", "compact_file_landed", "compact_first_removal"]
)
def test_commit_log_crash_matrix(tmp_path, monkeypatch, crash):
    """A crash at each point of append and compact leaves a fresh
    reader's fold as it was before the operation (plus the appended row
    once its rename landed), and a rerun converges to one file."""
    log = _log(tmp_path)
    before = max_per_key(log.rows())
    assert before == {"a": 4, "b": 7, "c": 2}

    if crash == "append_before_rename":

        def rename(src, dst):
            raise _Crash(crash)

        monkeypatch.setattr(os, "rename", rename)
        with pytest.raises(_Crash):
            log.append([("a", 9)])
    else:
        real_remove = os.remove
        removed = []

        def remove(path):
            if crash == "compact_file_landed" or removed:
                raise _Crash(crash)
            removed.append(path)
            real_remove(path)

        monkeypatch.setattr(os, "remove", remove)
        with pytest.raises(_Crash):
            log.compact(_keep_max)
    monkeypatch.undo()

    fresh = io.CommitLog(log.path, SCHEMA)
    assert max_per_key(fresh.rows()) == before
    if crash == "append_before_rename":
        fresh.append([("a", 9)])
        before = {**before, "a": 9}
    fresh.compact(_keep_max)
    assert max_per_key(io.CommitLog(log.path, SCHEMA).rows()) == before
    assert len(_visible(log.path)) == 1
    assert "_SUCCESS" not in os.listdir(log.path)


def test_commit_log_missing_directory_reads_empty(tmp_path):
    log = io.CommitLog(str(tmp_path / "never"), SCHEMA)
    assert log.rows() == []
    log.compact(_keep_max)  # nothing to compact, nothing created
    assert not os.path.exists(log.path)
    hive = io.CommitLog(
        str(tmp_path / "hive"),
        pa.schema([("w", pa.string()), ("k", pa.string()), ("v", pa.int64())]),
        "w",
    )
    assert hive.rows() == []
    hive.append([("a", 1)], part="x")
    hive.append([("b",)], part="y", columns=["k"])
    assert sorted(hive.rows()) == [("x", "a", 1), ("y", "b", None)]
    assert sorted(os.listdir(hive.path)) == ["w=x", "w=y"]


# -- reads and compactions overlapping a compaction ----------------------------


def _offsets(tmp_path):
    ledger = OffsetLedger(None, str(tmp_path / "offsets"))
    schema = pa.schema(
        [
            ("group", pa.string()),
            ("topic", pa.string()),
            ("partition", pa.int32()),
            ("next_offset", pa.int64()),
        ]
    )
    for rows in (
        [("g", "t", 0, 5), ("g", "t", 1, 3)],
        [("g", "t", 0, 9)],
        [("h", "t", 0, 1)],
    ):
        io.write_rows(ledger.path, schema, rows)
    reads = {
        "committed": lambda: (ledger.committed("g", "t"), ledger.committed("h", "t"))
    }
    return ledger.path, reads, ledger.compact


def _sidecar(tmp_path):
    store = TopicStore(None, str(tmp_path / "topics"))
    meta = store._meta_dir("t")
    for rows in (
        [(0, 10, "w:0", 0), (1, 4, "w:0", 0)],
        [(0, 12, None, 10)],
        [(0, 15, "v:0", 12), (1, 6, "v:0", 4)],
    ):
        io.write_rows(meta, TopicStore._meta_arrow_schema(), rows)
    reads = {
        "high_watermarks": lambda: store.high_watermarks("t"),
        "find_publish": lambda: (
            store.find_publish("t", "w:0"),
            store.find_publish("t", "v:0"),
        ),
    }
    return meta, reads, lambda: store.compact_meta("t")


_LEDGERS = {"offsets": _offsets, "sidecar": _sidecar}


def _after_first_listing(monkeypatch, fn):
    """Run ``fn`` once, right after the next pyarrow dataset listing and
    before that dataset's files are read."""
    import pyarrow.dataset as pads

    real = pads.dataset
    armed = [True]

    def dataset(*a, **k):
        ds = real(*a, **k)
        if armed[0]:
            armed[0] = False
            fn()
        return ds

    monkeypatch.setattr(pads, "dataset", dataset)


@pytest.mark.parametrize(
    "ledger, read",
    [("offsets", "committed"), ("sidecar", "high_watermarks"), ("sidecar", "find_publish")],
)
def test_read_overlapping_a_compaction_folds_the_same(
    tmp_path, monkeypatch, ledger, read
):
    """A compaction that removes the files a read listed, between the
    listing and the read, changes nothing the read returns."""
    path, reads, compact = _LEDGERS[ledger](tmp_path)
    before = reads[read]()
    _after_first_listing(monkeypatch, compact)
    assert reads[read]() == before
    monkeypatch.undo()
    assert len(_visible(path)) == 1


@pytest.mark.parametrize("ledger", ["offsets", "sidecar"])
@pytest.mark.parametrize("overlap", ["read", "removal"])
def test_compactions_overlapping_each_other_converge(
    tmp_path, monkeypatch, ledger, overlap
):
    """A second compaction that runs inside the first one — between its
    listing and its read, or before its first removal — removes files the
    first one listed; the first one finishes, every read folds the same,
    and the log holds one file."""
    path, reads, compact = _LEDGERS[ledger](tmp_path)
    before = {name: fn() for name, fn in reads.items()}
    if overlap == "read":
        _after_first_listing(monkeypatch, compact)
    else:
        real_remove = os.remove
        armed = [True]

        def remove(p):
            if armed[0]:
                armed[0] = False
                compact()
            real_remove(p)

        monkeypatch.setattr(os, "remove", remove)
    compact()
    monkeypatch.undo()
    assert {name: fn() for name, fn in reads.items()} == before
    compact()
    assert {name: fn() for name, fn in reads.items()} == before
    assert len(_visible(path)) == 1
