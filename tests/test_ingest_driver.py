"""The driver-side halves of the dedup-gated ingest sink
(streaming/ingest.py), each against the Spark form it replaced:

- the within-batch collapse (``llmops.dedup.collapse_batch`` over the
  staged md5/shingle-hash rows) keeps the same documents as
  ``exact_dup_groups`` + ``ngram_jaccard_pairs`` — planted exact and
  one-word-edited copies, NULL and '' texts, docs too short to shingle,
  string ids, and the df-cap branch
- the driver-read ingest ledger gives the commit state the Spark
  aggregation gave, over a directory mixing Spark-written files (with
  ``_SUCCESS``/``.crc``) and driver-written ones, compact revocations
  included; a crashed append leaves only a skipped dot-tmp file, and a
  compact append cut between its files revokes nothing
"""

from __future__ import annotations

import os
import random
import shutil

import pytest

from pyspark.sql import functions as F

from data_pipeline_spark.llmops.dedup import (
    collapse_batch,
    doc_shingle_index,
    exact_dup_groups,
    ngram_jaccard_pairs,
)
from data_pipeline_spark.streaming.ingest import ChaosCrash, DedupGatedIngest

W, E = "ingest_writer", "ingest_epoch"

# -- within-batch collapse parity ---------------------------------------------


def _seeded_batch(seed: int, n_base: int = 14):
    """Docs with planted exact copies and one-word edits (ids shuffled, so
    a copy can carry the smaller id), plus NULL, '' and sub-shingle
    texts."""
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(60)]
    docs = []
    for _ in range(n_base):
        words = [rng.choice(vocab) for _ in range(rng.randint(6, 16))]
        docs.append(" ".join(words))
        if rng.random() < 0.4:
            docs.append(" ".join(words))
        if rng.random() < 0.5:
            edit = list(words)
            edit[rng.randrange(len(edit))] = rng.choice(vocab)
            docs.append(" ".join(edit))
    docs += [None, None, "", "", "w1", "w1 w2", "w3 w2"]
    ids = list(range(len(docs)))
    rng.shuffle(ids)
    return list(zip(ids, docs))


def _boilerplate_batch(seed: int):
    """Every doc opens with the same five words.  Each planted copy edits
    its middle body word, so it sits at Jaccard 4/8 = 0.5 with its source
    counting the three boilerplate shingles and at 1/5 with them
    df-capped away."""
    rng = random.Random(seed)
    vocab = [f"v{i}" for i in range(200)]
    head = ["terms", "of", "service", "apply", "here"]
    rows = []
    for i in range(10):
        body = [rng.choice(vocab) for _ in range(3)]
        rows.append((i, " ".join(head + body)))
        if i % 3 == 0:
            rows.append((100 + i, " ".join(head + [body[0], "zz", body[2]])))
    return rows


def _normalized(spark, rows, id_type):
    return spark.createDataFrame(rows, f"doc_id {id_type}, text STRING").withColumn(
        "text", F.coalesce(F.col("text"), F.lit(""))
    )


def _spark_survivors(batch, threshold, max_df):
    """The collapse as the sink ran it in Spark."""
    keepers = exact_dup_groups(batch, "doc_id", "text").select(
        F.col("keeper_id").alias("doc_id")
    )
    batch = batch.join(keepers, "doc_id")
    losers = (
        ngram_jaccard_pairs(
            batch, "doc_id", "text", 3, threshold, max_df=max_df, cache=False
        )
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    return sorted(r.doc_id for r in batch.join(losers, "doc_id", "left_anti").collect())


def _driver_survivors(batch, threshold, max_df):
    rows = doc_shingle_index(batch, "doc_id", "text", 3, with_bands=False).collect()
    keys, n_exact, n_near = collapse_batch(
        [(r.cor_id, r.h, r.shingles) for r in rows], threshold, max_df
    )
    assert n_exact + n_near + len(keys) == len(rows)
    return sorted(keys)


@pytest.mark.parametrize("seed", [1, 2, 3])
@pytest.mark.parametrize("threshold", [0.5, 0.8])
def test_driver_collapse_matches_spark_reference(spark, seed, threshold):
    batch = _normalized(spark, _seeded_batch(seed), "LONG")
    want = _spark_survivors(batch, threshold, 1000)
    assert _driver_survivors(batch, threshold, 1000) == want
    assert len(want) < batch.count()  # the plants did collapse


def test_driver_collapse_string_ids(spark):
    rows = [(f"d-{i:03d}", t) for i, t in _seeded_batch(7)]
    batch = _normalized(spark, rows, "STRING")
    assert _driver_survivors(batch, 0.5, 1000) == _spark_survivors(batch, 0.5, 1000)


def test_driver_collapse_df_cap_branch(spark):
    batch = _normalized(spark, _boilerplate_batch(5), "LONG")
    for max_df in (3, 1000):
        want = _spark_survivors(batch, 0.5, max_df)
        assert _driver_survivors(batch, 0.5, max_df) == want
    # the cap changes the answer here, so both branches were exercised
    assert _spark_survivors(batch, 0.5, 3) != _spark_survivors(batch, 0.5, 1000)


def test_sink_collapse_paths_agree(spark, tmp_path):
    """Through the sink: the driver collapse gates a first batch to the
    rows the Spark reference (``exact_dup_groups`` +
    ``ngram_jaccard_pairs``) keeps."""
    rows = _seeded_batch(11)
    sink = DedupGatedIngest(
        spark,
        corpus_dir=str(tmp_path / "corpus"),
        ledger_path=str(tmp_path / "ledger"),
        threshold=0.6,
    )
    batch = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = sorted(r.doc_id for r in sink.gate_batch(batch).collect())
    assert got == _spark_survivors(_normalized(spark, rows, "LONG"), 0.6, 1000)


# -- driver-read ledger --------------------------------------------------------


def _sink(spark, tmp_path, name):
    return DedupGatedIngest(
        spark,
        corpus_dir=str(tmp_path / "corpus"),
        ledger_path=str(tmp_path / f"ledger_{name}"),
        threshold=0.5,
    )


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


def _spark_written_ledger(sink):
    """Make ``sink`` append its ledger rows the way the Spark writer did:
    one partitioned write job, with its ``_SUCCESS`` and ``.crc`` files."""

    def append(commit, revoked=()):
        w, e, n = commit
        sink.spark.createDataFrame(
            [(e, n, w)] + [(re, -1, rw) for rw, re in revoked],
            f"epoch_id LONG, n_admitted LONG, {W} STRING",
        ).write.mode("append").partitionBy(W).parquet(sink._ledger_dir)

    sink._append_ledger = append


def _spark_state(spark, ledger_dir, writer):
    """Committed pairs, last epoch and ingest stats as the Spark
    aggregation computed them."""
    led = spark.read.parquet(ledger_dir).select(W, "epoch_id", "n_admitted")
    pairs = sorted(
        (r[0], r[1])
        for r in led.groupBy(W, F.col("epoch_id").alias(E))
        .agg(F.min("n_admitted").alias("_mn"))
        .filter(F.col("_mn") >= 0)
        .collect()
    )
    last = (
        led.filter((F.col(W) == writer) & (F.col("n_admitted") >= 0))
        .agg(F.max("epoch_id"))
        .first()[0]
    )
    per_pair = led.groupBy(W, F.col("epoch_id").alias(E)).agg(
        F.max("n_admitted").alias("n_admitted"),
        (F.min("n_admitted") >= 0).cast("int").alias("live"),
    )
    stats = per_pair.groupBy(W).agg(
        F.count(F.lit(1)).alias("n_epochs"),
        F.sum("live").alias("n_live_epochs"),
        F.sum(F.when(F.col("live") == 1, F.col("n_admitted")).otherwise(0)).alias(
            "n_admitted_live"
        ),
        F.max(E).alias("max_epoch"),
    )
    return pairs, last, sorted(tuple(r) for r in stats.collect())


def _partition_dirs(tmp_path):
    out = []
    for base in ("corpus", "corpus_index/docs"):
        root = tmp_path / base
        for w in sorted(os.listdir(root)) if root.is_dir() else []:
            if not w.startswith(f"{W}="):
                continue
            for e in sorted(os.listdir(root / w)):
                out.append(f"{base}/{w}/{e}")
    return out


def test_mixed_spark_and_driver_ledger_reads_like_spark(spark, tmp_path):
    a = _sink(spark, tmp_path, "a")
    _spark_written_ledger(a)
    a.admit_batch(_df(spark, [(1, "the quick brown fox jumps over the lazy dog")]), 0)
    b = _sink(spark, tmp_path, "b")
    b.admit_batch(_df(spark, [(2, "spark writes parquet files into warehouse tables")]), 0)
    a = _sink(spark, tmp_path, "a")  # driver-written from here on
    a.admit_batch(_df(spark, [(3, "completely different content about sidecars")]), 1)
    old = _sink(spark, tmp_path, "old")
    _spark_written_ledger(old)
    assert old.compact() == 3  # Spark-written revocation rows
    a.admit_batch(_df(spark, [(4, "a later arrival with its own fresh vocabulary")]), 2)
    b.crash_points = {"after_index"}  # foreign uncommitted debris
    with pytest.raises(ChaosCrash):
        b.admit_batch(_df(spark, [(5, "debris that never reaches the ledger")]), 1)
    assert _sink(spark, tmp_path, "new").compact() == 4  # driver revocations
    last = _sink(spark, tmp_path, "last")
    last.crash_points = {"compact_after_ledger"}  # revoked dirs stay behind
    with pytest.raises(ChaosCrash):
        last.compact()

    ledger = tmp_path / "corpus_index" / "ledger"
    names = [n for _d, _s, fs in os.walk(ledger) for n in fs]
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)
    assert any(n.startswith("part-") and not n.endswith(".crc") for n in names)

    for writer, sink in (("a", a), ("b", b)):
        fresh = _sink(spark, tmp_path, writer)
        pairs, last, stats = _spark_state(spark, str(ledger), sink.writer_id)
        assert fresh._committed_pairs() == pairs
        assert fresh._last_committed() == last
        assert sorted(tuple(r) for r in fresh.ingest_stats().collect()) == stats
    assert len(pairs) == 1  # only the second compaction's pair is live

    # vacuum decides alike off either read of the same directory
    spark_copy = tmp_path / "spark_copy"
    shutil.copytree(tmp_path / "corpus", spark_copy / "corpus")
    shutil.copytree(tmp_path / "corpus_index", spark_copy / "corpus_index")

    class SparkLedgerSink(DedupGatedIngest):
        def _ledger_rows(self):
            return [
                tuple(r)
                for r in self.spark.read.parquet(self._ledger_dir)
                .select(W, "epoch_id", "n_admitted")
                .collect()
            ]

    via_spark = SparkLedgerSink(
        spark,
        corpus_dir=str(spark_copy / "corpus"),
        ledger_path=str(tmp_path / "ledger_a"),
        threshold=0.5,
    )
    assert _sink(spark, tmp_path, "a").vacuum() == via_spark.vacuum() > 0
    assert _partition_dirs(tmp_path) == _partition_dirs(spark_copy)
    assert sorted(r.doc_id for r in a.corpus().collect()) == [1, 2, 3, 4]


def test_crashed_ledger_append_leaves_only_skipped_tmp(spark, tmp_path, monkeypatch):
    sink = _sink(spark, tmp_path, "a")
    assert sink.admit_batch(_df(spark, [(1, "a first committed document body")]), 0) == 1
    ledger = tmp_path / "corpus_index" / "ledger"
    before = {n for _d, _s, fs in os.walk(ledger) for n in fs}

    real = os.rename

    def crash(src, dst):
        # the trigger's corpus and index files rename first; the cut is
        # at the ledger append
        if str(dst).startswith(str(ledger)):
            raise OSError("crash before the rename")
        return real(src, dst)

    monkeypatch.setattr(os, "rename", crash)
    with pytest.raises(OSError):
        sink.admit_batch(_df(spark, [(2, "a second document that never commits")]), 1)
    monkeypatch.undo()
    debris = {n for _d, _s, fs in os.walk(ledger) for n in fs} - before
    assert len(debris) == 1 and all(
        n.startswith(".") and n.endswith(".tmp") for n in debris
    )

    # every reader skips it: the epoch is uncommitted, Spark agrees, and
    # the replay commits it once
    recovered = _sink(spark, tmp_path, "a")
    assert recovered._last_committed() == 0
    assert spark.read.parquet(str(ledger)).count() == 1
    assert recovered.admit_batch(_df(spark, [(2, "a second document that never commits")]), 1) == 1
    assert sorted(r.doc_id for r in recovered.corpus().collect()) == [1, 2]


def test_compact_append_cut_between_files_revokes_nothing(spark, tmp_path, monkeypatch):
    """compact's ledger append writes the revocation files first and its
    own commit row last; cut in between, the revocations stay inert, the
    compacted copy stays an orphan, and vacuum plus a rerun converge."""
    import data_pipeline_spark.streaming.ingest as ingest

    sink = _sink(spark, tmp_path, "a")
    sink.admit_batch(_df(spark, [(1, "the quick brown fox jumps over the lazy dog")]), 0)
    sink.admit_batch(_df(spark, [(2, "spark writes parquet files into warehouse tables")]), 1)
    pairs = sink._committed_pairs()

    real = ingest.write_rows

    def cut(path, schema, rows):
        if os.path.basename(path).startswith(f"{W}=c"):
            raise ChaosCrash("between ledger files")
        return real(path, schema, rows)

    monkeypatch.setattr(ingest, "write_rows", cut)
    with pytest.raises(ChaosCrash):
        sink.compact()
    monkeypatch.undo()

    fresh = _sink(spark, tmp_path, "a")
    assert fresh._committed_pairs() == pairs
    assert [tuple(r)[1:] for r in fresh.ingest_stats().collect()] == [(2, 2, 2, 1)]
    assert sorted(r.doc_id for r in fresh.corpus().collect()) == [1, 2]
    assert fresh.admit_batch(_df(spark, [(3, "the quick brown fox jumps over the lazy dog")]), 2) == 0
    assert fresh.compact() == 2
    assert sorted(r.doc_id for r in fresh.corpus().collect()) == [1, 2]
    assert len(fresh._committed_pairs()) == 1


# -- io.write_table -------------------------------------------------------------


def test_write_table_is_one_atomic_file_spark_reads_with_its_schema(
    spark, tmp_path, monkeypatch
):
    """``io.write_table`` renames one finished file into place; a crash
    before the rename leaves only a dot-tmp file that pyarrow and Spark
    readers skip; Spark reads the written file back with the table's
    schema and values."""
    import datetime
    import decimal

    import pyarrow as pa
    import pyarrow.dataset as pads

    from data_pipeline_spark.io import write_rows, write_table

    table = pa.table(
        {
            "id": pa.array([1, 2], pa.int64()),
            "s": pa.array(["a", None], pa.string()),
            "xs": pa.array([[1, 2], []], pa.list_(pa.int64())),
            "st": pa.array(
                [{"a": 1, "b": "x"}, None],
                pa.struct([("a", pa.int32()), ("b", pa.string())]),
            ),
            "m": pa.array([[("k", 1.5)], None], pa.map_(pa.string(), pa.float64())),
            "dec": pa.array([decimal.Decimal("1.25"), None], pa.decimal128(9, 2)),
            "ts": pa.array(
                [datetime.datetime(2024, 5, 6, 7, 8, 9, 10), None],
                pa.timestamp("us", tz="UTC"),
            ),
        }
    )
    out = tmp_path / "t"
    name = write_table(str(out), table)
    assert os.listdir(out) == [name] and name.startswith("part-")

    real = os.rename

    def crash(src, dst):
        raise OSError("crash before the rename")

    monkeypatch.setattr(os, "rename", crash)
    with pytest.raises(OSError):
        write_table(str(out), table)
    monkeypatch.setattr(os, "rename", real)
    debris = sorted(set(os.listdir(out)) - {name})
    assert len(debris) == 1 and debris[0].startswith(".") and debris[0].endswith(".tmp")

    assert pads.dataset(str(out), format="parquet").to_table().equals(table)
    df = spark.read.parquet(str(out))
    assert df.schema.simpleString() == (
        "struct<id:bigint,s:string,xs:array<bigint>,st:struct<a:int,b:string>,"
        "m:map<string,double>,dec:decimal(9,2),ts:timestamp>"
    )
    assert df.toArrow().cast(table.schema).equals(table)

    # write_rows is write_table over the rows in schema order
    schema = pa.schema([("id", pa.int64()), ("s", pa.string())])
    rows_dir = tmp_path / "rows"
    write_rows(str(rows_dir), schema, [(1, "a"), (2, None)])
    assert pads.dataset(str(rows_dir), format="parquet").to_table().equals(
        table.select(["id", "s"])
    )
