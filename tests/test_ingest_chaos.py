"""Exactly-once + scale properties of the dedup-gated ingest sink's
index-sidecar commit protocol (streaming/ingest.py):

- crash sweep over every window (after gate / after corpus append /
  after index append) -> replay leaves exactly one copy of every
  admitted doc, and the final corpus equals a never-crashed control run
- a partially-appended corpus epoch (crash mid-write) is purged and
  rewritten identically on replay
- a foreign writer's committed data survives another writer's replay
  untouched, and a foreign writer's UNCOMMITTED debris never gates
- gate decisions off the persisted index are identical to the
  corpus-text-scan path (incremental_dedup_gate)
- the steady-state gate plan reads INDEX files only — never corpus text
"""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from data_pipeline_spark.llmops.dedup import incremental_dedup_gate
from data_pipeline_spark.streaming.ingest import ChaosCrash, DedupGatedIngest

DOCS1 = [
    (1, "the quick brown fox jumps over the lazy dog near the wall"),
    (2, "spark writes parquet files into partitioned warehouse tables"),
    (3, "completely different content about streaming watermark sidecars"),
]
DOCS2 = [
    (10, "the quick brown fox jumps over the lazy dog near the wall"),  # exact dup of 1
    (11, "the quick brown fox jumps over the lazy dog near the door"),  # near dup of 1
    (12, "a fresh document mentioning bloom filters and posting lists"),
    (13, "another novel arrival with entirely disjoint vocabulary here"),
]


def _sink(spark, tmp_path, name="a", **kw):
    return DedupGatedIngest(
        spark,
        corpus_dir=str(tmp_path / "corpus"),
        ledger_path=str(tmp_path / f"ledger_{name}"),
        threshold=0.5,
        **kw,
    )


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


def _corpus_ids(spark, tmp_path):
    return sorted(
        r.doc_id
        for r in spark.read.parquet(str(tmp_path / "corpus")).collect()
    )


@pytest.mark.parametrize("crash_at", ["after_gate", "after_corpus", "after_index"])
def test_crash_window_replay_is_exactly_once(spark, tmp_path, crash_at):
    sink = _sink(spark, tmp_path)
    assert sink.admit_batch(_df(spark, DOCS1), 0) == 3

    sink.crash_points = {crash_at}
    with pytest.raises(ChaosCrash):
        sink.admit_batch(_df(spark, DOCS2), 1)

    # a recovered sink (fresh process: no cached epoch state) replays the
    # epoch; every admitted doc appears exactly once
    recovered = _sink(spark, tmp_path)
    assert recovered.admit_batch(_df(spark, DOCS2), 1) == 2  # 12 and 13
    assert _corpus_ids(spark, tmp_path) == [1, 2, 3, 12, 13]
    # and a further replay of the committed epoch is a no-op
    assert recovered.admit_batch(_df(spark, DOCS2), 1) == 0
    assert _corpus_ids(spark, tmp_path) == [1, 2, 3, 12, 13]


def test_partial_corpus_append_is_purged_and_rewritten(spark, tmp_path):
    sink = _sink(spark, tmp_path)
    assert sink.admit_batch(_df(spark, DOCS1), 0) == 3

    # simulate a crash mid-append: a PARTIAL epoch-1 corpus partition
    # (one of the admitted docs, written without index rows or ledger row)
    partial_dir = (
        tmp_path
        / "corpus"
        / f"ingest_writer={sink.writer_id}"
        / "ingest_epoch=1"
    )
    _df(spark, [DOCS2[2]]).drop().write.parquet(str(partial_dir))
    assert os.path.isdir(partial_dir)

    recovered = _sink(spark, tmp_path)
    assert recovered.admit_batch(_df(spark, DOCS2), 1) == 2
    assert _corpus_ids(spark, tmp_path) == [1, 2, 3, 12, 13]


def test_foreign_writer_survives_replay_and_debris_never_gates(spark, tmp_path):
    a = _sink(spark, tmp_path, "a")
    assert a.admit_batch(_df(spark, DOCS1), 0) == 3

    # foreign writer B commits one novel doc into the shared corpus
    b = _sink(spark, tmp_path, "b")
    assert b.admit_batch(
        _df(spark, [(50, "foreign writer contributes a unique document")]), 0
    ) == 1

    # ...and leaves UNCOMMITTED debris for its next epoch (crash after
    # index append, before ledger)
    b.crash_points = {"after_index"}
    with pytest.raises(ChaosCrash):
        b.admit_batch(
            _df(spark, [(51, "uncommitted foreign debris document text")]), 1
        )

    # A's replay of an uncommitted epoch purges only A's partitions;
    # B's committed doc 50 still gates (doc 60 is its exact dup), while
    # B's uncommitted 51-debris does NOT reject an identical arrival
    recovered_a = _sink(spark, tmp_path, "a")
    batch = _df(
        spark,
        [
            (60, "foreign writer contributes a unique document"),  # dup of 50
            (61, "uncommitted foreign debris document text"),  # 51 never committed
        ],
    )
    assert recovered_a.admit_batch(batch, 1) == 1
    # the COMMITTED corpus view: B's 51-debris is invisible (its epoch
    # never reached the ledger) even though its files still sit on disk
    # until B's own replay purges them
    assert sorted(
        r.doc_id for r in recovered_a.corpus().collect()
    ) == [1, 2, 3, 50, 61]

    # B's recovery then replays its crashed epoch: the purge removes the
    # debris files, and 51 is now an exact dup of A's committed 61, so it
    # stays out — one copy total
    recovered_b = _sink(spark, tmp_path, "b")
    assert recovered_b.admit_batch(
        _df(spark, [(51, "uncommitted foreign debris document text")]), 1
    ) == 0
    assert _corpus_ids(spark, tmp_path) == [1, 2, 3, 50, 61]


def test_within_batch_neardup_collapse(spark, tmp_path):
    sink = _sink(spark, tmp_path)
    batch = _df(
        spark,
        [
            (1, "the quick brown fox jumps over the lazy dog near the wall"),
            (2, "the quick brown fox jumps over the lazy dog near the door"),
            (3, "entirely unrelated text with its own distinct vocabulary"),
        ],
    )
    assert sink.admit_batch(batch, 0) == 2  # 2 collapses onto keeper 1
    assert _corpus_ids(spark, tmp_path) == [1, 3]

    # opting out preserves the pre-sidecar behavior (gap documented)
    loose = _sink(spark, tmp_path / "loose", within_batch_neardup=False)
    assert loose.admit_batch(batch, 0) == 3


def test_index_gate_matches_corpus_scan_gate(spark, tmp_path):
    """Decisions off the persisted index == decisions off corpus text."""
    sink = _sink(spark, tmp_path)
    sink.admit_batch(_df(spark, DOCS1), 0)
    sink.admit_batch(_df(spark, DOCS2), 1)

    probe = _df(
        spark,
        [
            (100, "the quick brown fox jumps over the lazy dog near the wall"),
            (101, "a fresh document mentioning bloom filters and posting lists"),
            (102, "the quick brown fox jumps over the lazy dog by the door"),
            (103, "genuinely new material unseen by any prior batch at all"),
        ],
    )
    from data_pipeline_spark.llmops.dedup import indexed_dedup_gate

    via_index = indexed_dedup_gate(
        sink.committed_index(), probe, "doc_id", "text", threshold=0.5
    )
    via_text = incremental_dedup_gate(
        sink.corpus(), probe, "doc_id", "text", threshold=0.5
    )
    rows_i = sorted(map(tuple, via_index.collect()))
    rows_t = sorted(map(tuple, via_text.collect()))
    assert rows_i == rows_t
    assert [r[0] for r in rows_i if r[4] == 1] == [103]


def _epoch_dirs(base):
    out = []
    if not os.path.isdir(base):
        return out
    for w in os.listdir(base):
        if w.startswith("ingest_writer="):
            for e in os.listdir(os.path.join(base, w)):
                if e.startswith("ingest_epoch="):
                    out.append((w.split("=")[1], int(e.split("=")[1])))
    return sorted(out)


def test_compact_consolidates_partitions_and_preserves_decisions(spark, tmp_path):
    sink = _sink(spark, tmp_path)
    sink.admit_batch(_df(spark, DOCS1), 0)
    sink.admit_batch(_df(spark, DOCS2), 1)
    sink.admit_batch(
        _df(spark, [(30, "late arrival with novel words and fresh phrasing")]), 2
    )
    before = sorted(r.doc_id for r in sink.corpus().collect())
    assert len(_epoch_dirs(str(tmp_path / "corpus"))) == 3

    n = sink.compact()
    assert n == len(before)
    # one compact partition remains per dataset; originals deleted
    dirs = _epoch_dirs(str(tmp_path / "corpus"))
    assert len(dirs) == 1 and dirs[0][0].startswith("c") and dirs[0][1] == 0
    assert sorted(r.doc_id for r in sink.corpus().collect()) == before

    # gate decisions identical post-compaction, and new epochs still admit
    probe = _df(
        spark,
        [
            (70, "late arrival with novel words and fresh phrasing"),  # dup of 30
            (71, "an after-compaction document with brand new content"),
        ],
    )
    assert sink.admit_batch(probe, 3) == 1
    assert sorted(r.doc_id for r in sink.corpus().collect()) == before + [71]
    # replay of a pre-compaction epoch is still ledger-skipped
    assert sink.admit_batch(_df(spark, DOCS2), 1) == 0


@pytest.mark.parametrize("crash_at", ["compact_before_ledger", "compact_after_ledger"])
def test_compact_crash_windows_never_lose_or_duplicate(spark, tmp_path, crash_at):
    sink = _sink(spark, tmp_path)
    sink.admit_batch(_df(spark, DOCS1), 0)
    sink.admit_batch(_df(spark, DOCS2), 1)
    before = sorted(r.doc_id for r in sink.corpus().collect())

    sink.crash_points = {crash_at}
    with pytest.raises(ChaosCrash):
        sink.compact()
    sink.crash_points = set()

    # whatever the window, the committed view holds exactly one copy of
    # every admitted doc, and the gate still rejects duplicates of them
    recovered = _sink(spark, tmp_path)
    assert sorted(r.doc_id for r in recovered.corpus().collect()) == before
    dup = _df(spark, [(90, DOCS2[3][1])])  # copy of doc 13
    assert recovered.admit_batch(dup, 2) == 0

    # vacuum (also run by the next compact) clears the debris; a fresh
    # compaction then converges to a single live partition
    recovered.compact()
    dirs = _epoch_dirs(str(tmp_path / "corpus"))
    live = [d for d in dirs]
    assert len([d for d in live if d[0].startswith("c")]) >= 1
    assert sorted(r.doc_id for r in recovered.corpus().collect()) == before
    # and every surviving on-disk partition is exactly the committed view
    raw = sorted(
        r.doc_id
        for r in spark.read.parquet(str(tmp_path / "corpus")).collect()
    )
    assert raw == before


def test_string_doc_ids_and_backfill_gate_path(spark, tmp_path):
    """The sink is generic over the id type (index schema follows it): a
    backfill batch of string-id docs takes the one gate path a streaming
    trigger takes, exact copies of committed docs included."""
    sink = DedupGatedIngest(
        spark,
        corpus_dir=str(tmp_path / "corpus"),
        ledger_path=str(tmp_path / "ledger"),
        threshold=0.5,
    )
    b1 = spark.createDataFrame(
        [
            ("a-1", "the quick brown fox jumps over the lazy dog near the wall"),
            ("a-2", "spark writes parquet files into partitioned warehouse tables"),
        ],
        "doc_id STRING, text STRING",
    )
    assert sink.admit_batch(b1, 0) == 2
    b2 = spark.createDataFrame(
        [
            ("b-1", "the quick brown fox jumps over the lazy dog near the wall"),
            ("b-2", "a genuinely novel backfill document with fresh words"),
        ],
        "doc_id STRING, text STRING",
    )
    assert sink.admit_batch(b2, 1) == 1
    assert sorted(r.doc_id for r in sink.corpus().collect()) == [
        "a-1", "a-2", "b-2",
    ]


def test_gate_flags_and_ingest_stats_observability(spark, tmp_path):
    sink = _sink(spark, tmp_path)
    sink.admit_batch(_df(spark, DOCS1), 0)
    sink.admit_batch(_df(spark, DOCS2), 1)

    flags = {r[0]: (r.exact_dup, r.near_dup, r.keep)
             for r in sink.gate_flags(_df(spark, DOCS2)).collect()}
    assert flags[10] == (1, 1, 0)   # exact copy of doc 1 (jaccard 1 too)
    assert flags[11][1] == 1 and flags[11][2] == 0  # near dup
    assert flags[12] == (1, 1, 0)   # now IN the corpus from epoch 1
    stats = {r[0]: r for r in sink.ingest_stats().collect()}
    s = stats[sink.writer_id]
    assert (s.n_epochs, s.n_live_epochs, s.n_admitted_live, s.max_epoch) == (
        2, 2, 5, 1,
    )

    # after compaction: original epochs revoked, totals preserved
    sink.compact()
    rows = sink.ingest_stats().collect()
    total_live = sum(r.n_admitted_live for r in rows)
    assert total_live == 5
    s = {r[0]: r for r in rows}[sink.writer_id]
    assert s.n_live_epochs == 0 and s.n_epochs == 2


def test_gate_flags_on_empty_sink_keep_everything(spark, tmp_path):
    sink = _sink(spark, tmp_path)
    rows = sink.gate_flags(_df(spark, DOCS2 + [(14, None)])).collect()
    assert sorted(r.doc_id for r in rows) == [10, 11, 12, 13, 14]
    assert all(
        (r.exact_dup, r.near_dup, r.best_jaccard, r.keep) == (0, 0, None, 1)
        for r in rows
    )


def test_gate_flags_equal_the_band_pruned_library_gate(spark, tmp_path):
    """On a committed sink, gate_flags is the library gate against the
    committed index — no within-batch collapse (10 and 11 are both
    judged against doc 1)."""
    from data_pipeline_spark.llmops.dedup import indexed_dedup_gate

    sink = _sink(spark, tmp_path)
    sink.admit_batch(_df(spark, DOCS1), 0)
    batch = _df(spark, DOCS2)
    got = sorted(map(tuple, sink.gate_flags(batch).collect()))
    want = sorted(
        map(
            tuple,
            indexed_dedup_gate(
                sink.committed_index(),
                batch,
                "doc_id",
                "text",
                threshold=0.5,
                band_prune=True,
            ).collect(),
        )
    )
    assert got == want
    flags = {r[0]: (r[1], r[2], r[4]) for r in got}
    assert flags[10] == (1, 1, 0)  # exact copy of doc 1
    assert flags[11] == (0, 1, 0)  # near copy of doc 1
    assert flags[12] == (0, 0, 1) and flags[13] == (0, 0, 1)  # novel


def test_compact_writer_prefix_is_reserved(spark, tmp_path):
    """vacuum() removes uncommitted partitions of compaction writers
    (ids starting with 'c'), so a stream writer may not take such an id:
    its in-flight epoch would be swept by another sink's vacuum.  A
    crashed writer with any other explicit id keeps its debris."""
    for wid in ("crawler-1", "c0"):
        with pytest.raises(ValueError, match="reserved"):
            _sink(spark, tmp_path, writer_id=wid)

    a = _sink(spark, tmp_path, "a", writer_id="w-crawler-1")
    a.crash_points = {"after_index"}
    with pytest.raises(ChaosCrash):
        a.admit_batch(_df(spark, DOCS1), 0)
    debris = _writer_epoch_dir(a, 0)
    assert os.path.isdir(debris)
    assert _sink(spark, tmp_path, "b").vacuum() == 0
    assert os.path.isdir(debris)


def test_null_text_normalizes_for_admission(spark, tmp_path):
    """NULL text is admitted as '' exactly once across batches — without
    normalization, NULL join semantics admit every later NULL doc."""
    sink = _sink(spark, tmp_path)
    b1 = spark.createDataFrame(
        [(1, None), (2, None), (3, "a real document body")],
        "doc_id LONG, text STRING",
    )
    assert sink.admit_batch(b1, 0) == 2  # NULLs collapse to keeper 1
    b2 = spark.createDataFrame(
        [(10, None), (11, "")], "doc_id LONG, text STRING"
    )
    assert sink.admit_batch(b2, 1) == 0  # both are dups of stored ''
    assert sorted(r.doc_id for r in sink.corpus().collect()) == [1, 3]


def test_serialized_writers_share_one_corpus(spark, tmp_path):
    """serialize_writers: two streams interleaving commits under the
    lease each see the other's committed docs — the cross-stream
    duplicate window closes."""
    a = _sink(spark, tmp_path, "a", serialize_writers=True)
    b = _sink(spark, tmp_path, "b", serialize_writers=True)
    assert a.admit_batch(
        _df(spark, [(1, "first stream contributes this document body")]), 0
    ) == 1
    # B's first epoch gates against A's committed doc
    assert b.admit_batch(
        _df(spark, [(2, "first stream contributes this document body"),
                     (3, "second stream adds an entirely different one")]), 0
    ) == 1
    assert a.admit_batch(
        _df(spark, [(4, "second stream adds an entirely different one")]), 1
    ) == 0
    assert sorted(r.doc_id for r in a.corpus().collect()) == [1, 3]


def test_steady_state_gate_reads_index_not_corpus(spark, tmp_path):
    """The per-trigger gate plan scans index files only: the corpus dir
    never appears in the optimized plan's file sources — the assertion
    that the 100 TB trigger cost is O(index), not O(corpus text)."""
    sink = _sink(spark, tmp_path)
    sink.admit_batch(_df(spark, DOCS1), 0)

    gated = sink.gate_batch(_df(spark, DOCS2))
    files = gated.inputFiles()
    corpus_abs = os.path.abspath(str(tmp_path / "corpus")) + "/"
    docs_abs = os.path.abspath(sink._docs_dir) + "/"
    assert files, "gate plan should have file sources"
    assert not any(corpus_abs in f for f in files), (
        "gate plan must not scan corpus files"
    )
    assert any(docs_abs in f for f in files), (
        "gate plan should scan the index sidecar"
    )
    # and the decision itself is right: one exact + one near dup rejected
    assert sorted(r.doc_id for r in gated.collect()) == [12, 13]


# -- composition with the table-maintenance compactor (r9) --------------------
#
# operators.maintenance.compact_small_files is a DIFFERENT mechanism from
# the sink's own ledger-protocol compact(): it rewrites one leaf parquet
# directory in place via temp-write + validate + rename swap.  Running it
# against a COMMITTED epoch partition of a live gated-ingest corpus must
# compose: partition values live in the directory names (the files carry
# only data columns), gating reads the index sidecar rather than corpus
# text, and the swap's validation must leave the corpus intact on failure.


def _writer_epoch_dir(sink, epoch):
    return os.path.join(
        sink.corpus_dir,
        f"ingest_writer={sink.writer_id}",
        f"ingest_epoch={epoch}",
    )


def _spark_write(path, table):
    """``io.write_table`` the way a Spark writer committed a trigger's
    files before they moved to the driver: four part files, with
    ``.crc`` siblings and ``_SUCCESS``."""
    from pyspark.sql import SparkSession

    SparkSession.active().createDataFrame(table).repartition(4).write.mode(
        "append"
    ).parquet(path)


def test_maintenance_compact_of_committed_epoch_composes_with_ingest(
    spark, tmp_path, monkeypatch
):
    """Compacting a committed epoch's leaf dir while the sink keeps
    admitting: corpus contents, gate decisions, and replay semantics all
    unchanged; the leaf holds fewer (validated) files."""
    from data_pipeline_spark.operators.maintenance import compact_small_files

    from data_pipeline_spark.streaming import ingest

    sink = _sink(spark, tmp_path)
    # a trigger writes one file per epoch, so the multi-file epoch 0 is
    # one a Spark writer left
    with monkeypatch.context() as m:
        m.setattr(ingest, "write_table", _spark_write)
        assert sink.admit_batch(_df(spark, DOCS1), 0) == len(DOCS1)
    sink.admit_batch(_df(spark, DOCS2), 1)
    before = sorted(r.doc_id for r in sink.corpus().collect())

    leaf = _writer_epoch_dir(sink, 0)
    files_before = len(
        [f for f in os.listdir(leaf) if f.endswith(".parquet")]
    )
    assert files_before > 1
    stats = compact_small_files(spark, leaf)
    files_after = len(
        [f for f in os.listdir(leaf) if f.endswith(".parquet")]
    )
    assert files_after < files_before and stats["rows"] == len(DOCS1)

    # the corpus view is unchanged and the stream continues: duplicates
    # of epoch-0 docs still reject (gate reads the index, not the
    # rewritten files), novel docs still admit, replay still skips
    assert sorted(r.doc_id for r in sink.corpus().collect()) == before
    probe = _df(
        spark,
        [(80, DOCS1[0][1]),  # exact dup of compacted doc 1
         (81, "fresh post-compaction arrival with unshared vocabulary")],
    )
    assert sink.admit_batch(probe, 2) == 1
    assert sink.admit_batch(_df(spark, DOCS1), 0) == 0  # replay skipped
    assert sorted(r.doc_id for r in sink.corpus().collect()) == before + [81]


def test_maintenance_compact_failure_leaves_live_corpus_intact(
    spark, tmp_path
):
    """A rewrite that dies mid-flight (here: sorting on a column that
    doesn't exist) must leave the original epoch directory untouched and
    leak no temp/backup debris — the validate-before-swap contract — and
    the ingest stream must continue unaffected."""
    from data_pipeline_spark.operators.maintenance import compact_small_files

    sink = _sink(spark, tmp_path)
    sink.admit_batch(_df(spark, DOCS1).repartition(3), 0)
    before = sorted(r.doc_id for r in sink.corpus().collect())
    leaf = _writer_epoch_dir(sink, 0)
    listing_before = sorted(os.listdir(leaf))

    with pytest.raises(Exception):
        compact_small_files(spark, leaf, sort_col="no_such_column")

    assert sorted(os.listdir(leaf)) == listing_before  # untouched
    parent = os.path.dirname(leaf)
    debris = [
        d for d in os.listdir(parent)
        if "__compact" in d or "__bak" in d
    ]
    assert debris == [], debris
    assert sorted(r.doc_id for r in sink.corpus().collect()) == before
    assert sink.admit_batch(
        _df(spark, [(82, "post-failure novel document keeps flowing")]), 1
    ) == 1


def test_maintenance_compact_sorted_epoch_keeps_partition_columns(
    spark, tmp_path
):
    """Range-sorted maintenance compaction inside a leaf partition dir:
    the rewritten files carry only data columns, so the partition values
    (writer, epoch) must still be inferred from the directory names when
    reading the whole corpus."""
    from data_pipeline_spark.operators.maintenance import compact_small_files

    sink = _sink(spark, tmp_path)
    sink.admit_batch(_df(spark, DOCS1).repartition(3), 0)
    leaf = _writer_epoch_dir(sink, 0)
    compact_small_files(spark, leaf, sort_col="doc_id")

    full = spark.read.parquet(sink.corpus_dir)
    rows = {
        (r.doc_id, r.ingest_writer, int(r.ingest_epoch))
        for r in full.collect()
    }
    assert rows == {(d, sink.writer_id, 0) for d, _t in DOCS1}


# -- per-trigger cost and decisions -------------------------------------------


def _actions_in_group(spark, group: str, fn):
    """(result, Spark actions run by ``fn``): jobs of the group counted as
    SQL executions — adaptive execution runs one action as a varying
    number of stage jobs — plus any job run outside an execution."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    actions = set()
    for job in sc.statusTracker().getJobIdsForGroup(group):
        execution = store.jobWithAssociatedSql(job)._2()
        actions.add(f"x{execution.get()}" if execution.isDefined() else f"j{job}")
    return out, len(actions)


def test_steady_state_trigger_action_budget(spark, tmp_path):
    """A steady-state trigger stages its batch once and decides against
    the index in one action; its corpus and index files and the commit
    state are written and read by the driver (no Spark job at all)."""
    import uuid

    sink = _sink(spark, tmp_path)
    sink.admit_batch(_df(spark, DOCS1), 0)
    sink.admit_batch(_df(spark, DOCS2), 1)  # the sink's first indexed trigger
    probe = _df(
        spark,
        [
            (40, DOCS1[1][1]),  # exact dup of committed doc 2
            (41, "a steady state arrival with words nobody has used yet"),
        ],
    )
    tag = uuid.uuid4().hex
    n, actions = _actions_in_group(
        spark, f"admit-{tag}", lambda: sink.admit_batch(probe, 2)
    )
    assert n == 1
    assert actions <= 2, actions

    fresh = _sink(spark, tmp_path)
    assert _actions_in_group(spark, f"last-{tag}", fresh._last_committed) == (2, 0)
    pairs, a = _actions_in_group(spark, f"pairs-{tag}", fresh._committed_pairs)
    assert len(pairs) == 3 and a == 0
    stats, a = _actions_in_group(
        spark, f"stats-{tag}", lambda: fresh.ingest_stats().collect()
    )
    assert [tuple(r)[1:] for r in stats] == [(3, 3, 6, 2)] and a == 0


def test_per_trigger_decision_counts(spark, tmp_path):
    """The sink keeps what its gate decided on the last trigger."""
    from data_pipeline_spark.streaming.ingest import GateDecisions

    sink = _sink(spark, tmp_path)
    assert sink.last_decisions is None
    sink.admit_batch(_df(spark, DOCS1), 0)
    assert sink.last_decisions == GateDecisions(0, 0, 0, 0, 0, 3)
    # 11 is a near copy of 10 inside the batch (8 of 10 shingles shared),
    # 10 an exact copy of committed doc 1
    sink.admit_batch(_df(spark, DOCS2), 1)
    assert sink.last_decisions == GateDecisions(1, 0, 1, 1, 0, 2)
    sink.admit_batch(
        _df(
            spark,
            [
                (30, "late arrival with novel words and fresh phrasing"),
                (31, "late arrival with novel words and fresh phrasing"),
                (32, "the quick brown fox jumps over the lazy dog near the gate"),
            ],
        ),
        2,
    )
    assert sink.last_decisions == GateDecisions(2, 1, 0, 0, 1, 1)
    # a replayed epoch decides nothing and keeps the record
    assert sink.admit_batch(_df(spark, DOCS2), 1) == 0
    assert sink.last_decisions.epoch == 2


# -- driver-written trigger files ---------------------------------------------


def _files(path):
    return sorted(os.listdir(path)) if os.path.isdir(path) else []


@pytest.mark.parametrize("target", ["corpus", "index"])
def test_trigger_file_rename_crash_leaves_only_skipped_tmp(
    spark, tmp_path, monkeypatch, target
):
    """A crash inside a trigger's corpus or index file write, before its
    rename, leaves one dot-tmp file in the uncommitted epoch directory:
    every reader skips it, and the replay commits the epoch once."""
    sink = _sink(spark, tmp_path)
    assert sink.admit_batch(_df(spark, DOCS1), 0) == 3
    base = sink.corpus_dir if target == "corpus" else sink._docs_dir
    leaf = os.path.join(base, f"ingest_writer={sink.writer_id}", "ingest_epoch=1")
    real = os.rename

    def crash(src, dst):
        if os.path.dirname(dst) == leaf:
            raise OSError("crash before the rename")
        return real(src, dst)

    monkeypatch.setattr(os, "rename", crash)
    with pytest.raises(OSError):
        sink.admit_batch(_df(spark, DOCS2), 1)
    monkeypatch.undo()
    debris = _files(leaf)
    assert len(debris) == 1 and debris[0].startswith(".") and debris[0].endswith(".tmp")

    assert sorted(r.doc_id for r in sink.corpus().collect()) == [1, 2, 3]
    assert sorted(r.cor_id for r in sink.committed_index().collect()) == [1, 2, 3]
    assert spark.read.parquet(base).count() == 3

    recovered = _sink(spark, tmp_path)
    assert recovered.admit_batch(_df(spark, DOCS2), 1) == 2
    assert recovered.admit_batch(_df(spark, DOCS2), 1) == 0
    assert sorted(r.doc_id for r in recovered.corpus().collect()) == [1, 2, 3, 12, 13]
    assert sorted(r.cor_id for r in recovered.committed_index().collect()) == [
        1, 2, 3, 12, 13
    ]
    for b in (sink.corpus_dir, sink._docs_dir):
        files = _files(os.path.join(b, f"ingest_writer={sink.writer_id}", "ingest_epoch=1"))
        assert len(files) == 1 and files[0].startswith("part-"), files


# triggers of the back-compat run: exact and near copies of earlier epochs
# land in the driver-written epochs too
COMPAT_EPOCHS = [
    DOCS1 + [(4, "a fourth document so the spark epoch spans four files")],
    DOCS2,
    [
        (30, "late arrival with novel words and fresh phrasing"),
        (31, DOCS2[2][1]),  # exact dup of committed 12
        (32, "the quick brown fox jumps over the lazy dog near the gate"),
        (33, "yet another unseen document about compaction and vacuum"),
    ],
    [
        (40, "late arrival with novel words and fresh phrasing again"),  # near 30
        (41, "a final novel document before the maintenance pass"),
    ],
]
COMPAT_PROBE = [
    (50, DOCS1[2][1]),  # exact dup of a Spark-written doc
    (51, "yet another unseen document about compaction and vacuum"),  # of 33
    (52, "a post maintenance arrival with words nobody has used"),
]


def _compat_run(spark, root, spark_epochs, monkeypatch):
    """Admit COMPAT_EPOCHS through a sink whose first ``spark_epochs``
    triggers write their files the way a Spark writer did (four part
    files, ``.crc``, ``_SUCCESS``), then gate a probe, compact with a crash
    after the ledger append, vacuum, and admit the probe."""
    from data_pipeline_spark.streaming import ingest

    sink = _sink(spark, root)
    decisions = []
    for e, rows in enumerate(COMPAT_EPOCHS):
        with monkeypatch.context() as m:
            if e < spark_epochs:
                m.setattr(ingest, "write_table", _spark_write)
            n = sink.admit_batch(_df(spark, rows), e)
        decisions.append((n, sink.last_decisions))
    out = {"decisions": decisions}
    out["layout"] = [
        _files(os.path.join(b, f"ingest_writer={sink.writer_id}", f"ingest_epoch={e}"))
        for b in (sink.corpus_dir, sink._docs_dir)
        for e in range(len(COMPAT_EPOCHS))
    ]
    out["corpus"] = sorted(tuple(r) for r in sink.corpus().collect())
    out["index"] = sorted(tuple(r) for r in sink.committed_index().collect())
    out["flags"] = sorted(
        tuple(r) for r in sink.gate_flags(_df(spark, COMPAT_PROBE)).collect()
    )
    sink.crash_points = {"compact_after_ledger"}
    with pytest.raises(ChaosCrash):
        sink.compact()
    sink.crash_points = set()
    out["vacuumed"] = sink.vacuum()
    out["compacted"] = sorted(tuple(r) for r in sink.corpus().collect())
    out["probe"] = sink.admit_batch(_df(spark, COMPAT_PROBE), len(COMPAT_EPOCHS))
    out["after"] = sorted(tuple(r) for r in sink.corpus().collect())
    out["index_after"] = sorted(tuple(r) for r in sink.committed_index().collect())
    return out


def test_spark_written_epochs_then_driver_epochs_match_all_spark(
    spark, tmp_path, monkeypatch
):
    """Epochs a Spark writer left beside driver-written ones gate,
    compact, vacuum and read exactly as an all-Spark-written sink."""
    ref = _compat_run(spark, tmp_path / "ref", len(COMPAT_EPOCHS), monkeypatch)
    mixed = _compat_run(spark, tmp_path / "mixed", 2, monkeypatch)

    for leaf in ref["layout"] + mixed["layout"][:2] + mixed["layout"][4:6]:
        parts = [f for f in leaf if f.startswith("part-") and f.endswith(".parquet")]
        assert len(parts) > 1 and "_SUCCESS" in leaf, leaf
        assert any(f.endswith(".crc") for f in leaf), leaf
    for leaf in mixed["layout"][2:4] + mixed["layout"][6:]:
        assert len(leaf) == 1 and leaf[0].startswith("part-"), leaf

    assert [d[0] for d in ref["decisions"]] == [4, 2, 2, 1]
    assert ref["vacuumed"] == 2 * len(COMPAT_EPOCHS)
    assert ref["probe"] == 1
    ref.pop("layout"), mixed.pop("layout")
    assert mixed == ref


def test_corpus_round_trips_input_types(spark, tmp_path):
    """An admitted row comes back through ``corpus()`` as it went in —
    nested struct (NULL with a non-nullable field too), array, map,
    decimal, timestamp, date, binary, day-time interval and a
    user-defined type (NULL too) alike; NULL text reads as '', the form
    the gate admitted.  A date before 1582-10-15 and a timestamp before
    1900 read back even where the session's parquet datetime rebase
    mode raises on files it cannot date."""
    import datetime
    import decimal

    from pyspark.ml.linalg import Vectors, VectorUDT
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField(
                "meta",
                T.StructType(
                    [
                        T.StructField("a", T.IntegerType(), False),
                        T.StructField("tags", T.ArrayType(T.StringType())),
                    ]
                ),
            ),
            T.StructField("attrs", T.MapType(T.StringType(), T.IntegerType())),
            T.StructField("price", T.DecimalType(12, 3)),
            T.StructField("ts", T.TimestampType()),
            T.StructField("day", T.DateType()),
            T.StructField("small", T.ByteType()),
            T.StructField("raw", T.BinaryType()),
            T.StructField("dur", T.DayTimeIntervalType()),
            T.StructField("vec", VectorUDT()),
        ]
    )
    rows = [
        (
            1, "the quick brown fox jumps over the lazy dog near the wall",
            (7, ["x", None]), {"k": 1, "j": None}, decimal.Decimal("12.345"),
            datetime.datetime(2024, 1, 2, 3, 4, 5, 6), datetime.date(2020, 2, 29),
            -3, b"\x00\xff", datetime.timedelta(days=2, microseconds=7),
            Vectors.dense([1.0, -2.5]),
        ),
        (2, None, None, None, None, None, None, None, None, None, None),
        (
            3, "completely different content about streaming watermark sidecars",
            (0, []), {}, decimal.Decimal("-0.001"),
            datetime.datetime(1969, 12, 31, 23, 59, 59, 999999),
            datetime.date(1970, 1, 1), 127, b"", datetime.timedelta(seconds=-1),
            Vectors.sparse(4, [1], [3.0]),
        ),
        (
            4, "a chronicle written long before the gregorian calendar reform",
            (1, ["y"]), {"m": 2}, decimal.Decimal("0.000"),
            datetime.datetime(1850, 1, 1), datetime.date(1000, 1, 1), 0,
            b"\x01", datetime.timedelta(0), Vectors.dense([0.0]),
        ),
    ]
    batch = spark.createDataFrame(rows, schema)
    sink = _sink(spark, tmp_path)
    assert sink.admit_batch(batch, 0) == 4

    rebase = "spark.sql.parquet.datetimeRebaseModeInRead"
    spark.conf.set(rebase, "EXCEPTION")
    try:
        got = sink.corpus()
        # a parquet read makes every field nullable: compare the types alone
        assert [(f.name, f.dataType.simpleString()) for f in got.schema] == [
            (f.name, f.dataType.simpleString()) for f in batch.schema
        ]
        want = sorted(
            tuple(r) for r in batch.fillna("", subset=["text"]).collect()
        )
        assert sorted(tuple(r) for r in got.collect()) == want
    finally:
        spark.conf.unset(rebase)


def test_corpus_round_trips_year_month_intervals(spark, tmp_path):
    """Year-month intervals — top level, NULL, and nested in a struct, an
    array and a map value — come back through ``corpus()`` typed and
    equal, and through ``compact()``'s Spark rewrite too."""
    batch = spark.sql(
        """SELECT 1L AS doc_id,
                  'a document that carries interval columns' AS text,
                  INTERVAL '1-2' YEAR TO MONTH AS ym,
                  CAST(NULL AS INTERVAL YEAR TO MONTH) AS none,
                  named_struct('m', INTERVAL '3' MONTH,
                               'ys', array(INTERVAL '-5' YEAR),
                               'by', map('k', INTERVAL '1' YEAR)) AS nested"""
    )
    shown = [F.col(c).cast("string").alias(c) for c in batch.columns]
    want = batch.select(*shown).collect()
    sink = _sink(spark, tmp_path)
    assert sink.admit_batch(batch, 0) == 1
    for step in ("ingest", "compact"):
        if step == "compact":
            sink.compact()
        got = sink.corpus()
        assert [(f.name, f.dataType.simpleString()) for f in got.schema] == [
            (f.name, f.dataType.simpleString()) for f in batch.schema
        ], step
        assert got.select(*shown).collect() == want, step


def test_semantic_corpus_round_trips_rows_beside_the_vector(spark, tmp_path):
    """The semantic sink stores the input row whole, whatever rides
    beside the vector — here a NULL nested struct with a non-nullable
    field."""
    from pyspark.sql import types as T

    from data_pipeline_spark.streaming.ingest import SemanticGatedIngest

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
            T.StructField(
                "meta", T.StructType([T.StructField("a", T.IntegerType(), False)])
            ),
        ]
    )
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0], (1,)),
        (2, [0.0, 1.0, 0.0, 0.0], None),
        (3, [0.0, 0.0, 1.0, 0.0], (3,)),
    ]
    sink = SemanticGatedIngest(
        spark,
        corpus_dir=str(tmp_path / "corpus"),
        ledger_path=str(tmp_path / "ledger"),
        n_lists=2,
        m=2,
        n_centroids=4,
    )
    assert sink.admit_batch(spark.createDataFrame(rows, schema), 0) == 3
    assert sorted(tuple(r) for r in sink.corpus().collect()) == rows
