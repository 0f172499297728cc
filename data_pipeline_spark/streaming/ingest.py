"""Dedup-gated streaming ingest with a persistent INDEX SIDECAR: every
micro-batch of documents is admitted against the already-ingested corpus
(exact md5 + shingle-Jaccard near-dup), and only the keepers append — the
streaming form of the crawl-ingest admission check, so the corpus stays
deduplicated AS it grows instead of requiring periodic full-corpus
re-pairing.

Index sidecar (the 100 TB design)
---------------------------------
The gate never reads corpus text.  Beside the corpus lives an append-only
``doc_shingle_index`` sidecar — one row per admitted document carrying its
md5, distinct-shingle count, and 64-bit shingle-hash set (~8 bytes per
shingle vs the text itself) — written in the same epoch commit as the
corpus append.  Each trigger gates the batch against the INDEX, so
steady-state per-trigger IO is O(index), not O(corpus text), and no
tokenization of ingested data ever re-runs.  The index IS sufficient for
exact decisions (full shingle posting per doc), so there is no corpus
fallback to verify hits against.

One pass per trigger
--------------------
The batch is trigger-bounded (the contract that lets it broadcast), so a
trigger runs as one pass over it:

    a. stage: the batch, NULL text normalized to '', gets its sidecar
       columns (``doc_shingle_index``: cor_id, h, n_sh, shingles,
       bands_v2) with the input row riding along whole as ``_row``, and
       ONE Arrow collect (``toArrow()``) brings the staged table to the
       driver — ``_row`` in Spark's own Arrow conversion, so every input
       type keeps its type (year-month intervals as their month counts,
       the value Spark stores in parquet);
    b. collapse on the driver (``llmops.dedup.collapse_batch``): exact
       copies collapse to one keeper (min id) and — by default — every
       doc that is the larger side of a >= threshold shingle-Jaccard pair
       drops, so a single micro-batch cannot admit two near-copies of a
       new document;
    c. decide in ONE action over the committed index
       (``llmops.dedup.index_dedup_flags``: exact md5 hits plus
       band-pruned Jaccard, the survivors' rows shipped back from the
       driver as a broadcast local frame);
    d. cut the admitted slice from the staged table and write the corpus
       file (``_row`` flattened, its footer carrying the row's Spark
       schema and the Spark version) and the index file (the staged
       sidecar columns) from the DRIVER, one parquet file each
       (``io.write_table``) — the gate never re-runs, the batch is never
       re-tokenized, and no Spark write job runs.

Steps a and c are the only Spark actions: a steady-state trigger runs
two (a sink's first trigger against an index runs a third, the sidecar
schema inference ``_read_docs`` then caches).  What the gate decided —
in-batch exact and near drops, index exact and near rejections,
admissions — is kept on the sink as ``last_decisions``.  The Spark form
of the same decisions (``exact_dup_groups`` + ``ngram_jaccard_pairs`` +
``indexed_dedup_gate``) stays in ``llmops.dedup`` as the reference the
tests compare against.

Scale envelope: the trigger is O(batch) on the DRIVER — step a brings
every staged row (its shingle set and its input row) to the driver, and
step d writes them from there.  A trigger is bounded by the stream's
trigger size, the contract that lets the survivors broadcast in step c;
corpus-sized work (``compact``, ``retrain``) stays Spark writes.

Exactly-once commit protocol
----------------------------
Corpus and index cannot be made atomic as two directories, so both are
partitioned by (ingest_writer, ingest_epoch) and a per-writer LEDGER
partition inside the index dir is the single commit point, appended LAST:

    1. purge: delete this writer's corpus/index partitions with epoch >
       last committed (debris from a crashed attempt; fs listing only)
    2. gate the batch against the COMMITTED index (the committed
       (writer, epoch) pairs are a partition filter on the sidecar read —
       a foreign writer's crash debris is invisible too)
    3. write admitted rows    -> corpus_dir / writer=w/epoch=e
    4. write their index rows -> index_dir/docs / writer=w/epoch=e
    5. append (epoch, n)      -> index_dir/ledger / writer=w

Steps 3 and 4 each write ONE driver-side file (tmp + atomic rename), so a
crash inside either leaves at most a dot-tmp file in the uncommitted
epoch directory, which every reader skips.  A crash anywhere before 5
leaves only uncommitted partitions, which the replay purges and
rewrites (gate decisions are deterministic given the committed index, so
the rewrite is identical); after 5 the epoch is skipped.  ``compact()`` folds the accumulated per-epoch partitions into
one consolidated partition with the same ledger-append-as-commit-point
protocol (superseded pairs are REVOKED by ``n_admitted = -1`` ledger
rows rather than deleted-in-place, so no crash window double-counts or
loses a document); ``vacuum()`` sweeps revoked/orphaned directories.

The ledger is an ``io.CommitLog`` partitioned by writer, like the
consumer offset ledger: the driver appends and reads it with pyarrow (tmp
file + atomic rename), so reading the commit state runs no Spark job.
Files an earlier Spark writer left (with their ``_SUCCESS``/``.crc``
siblings) read the same.  A compact append spans one file per writer
directory, so its revocation rows carry the compacting writer
(``revoked_by``) and land first: they take effect only once that writer's
own commit row, written last, exists — the commit stays one atomic
rename.  Purging uncommitted epochs stays here rather than in the log:
the sink deletes what no ledger row names, where a topic publish rolls a
reserved staging directory forward.

Epoch ids are scoped to ONE streaming checkpoint, so each stream derives
a stable ``writer_id`` from its ``ledger_path`` and owns its partitions;
concurrent foreign writers are never touched by a purge and their
uncommitted debris never gates.  Two writers admitting CONCURRENTLY can
each admit a doc that duplicates the other's in-flight batch (admission
is serializable per writer, not globally) — serialize writers with
``coordination.LeaseLock`` on the index dir if the corpus has multiple
live ingest streams.

This directory-layout protocol uses local-FS listing/removal; a cluster
deployment swaps those calls (and the driver's ledger and per-trigger
corpus/index file I/O) for the Hadoop FileSystem API — the partition
layout and ledger semantics are unchanged.  Epochs an earlier Spark
writer left (several part files plus ``_SUCCESS``/``.crc``) read, gate,
compact and vacuum the same as driver-written ones.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from typing import NamedTuple

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_pipeline_spark.io import CommitLog, write_table
# ngram_jaccard_pairs is not called here: it stays importable from this
# module because perfbench's traced run wraps the dedup layers by name here
from data_pipeline_spark.llmops.dedup import (  # noqa: F401
    collapse_batch,
    doc_shingle_index,
    index_dedup_flags,
    indexed_dedup_gate,
    ngram_jaccard_pairs,
)

_WRITER_COL = "ingest_writer"
_EPOCH_COL = "ingest_epoch"
# the input row, carried whole through the staged frame
_ROW = "_row"
# the footer key Spark keeps a file's own schema under: a driver-written
# corpus file carries the input row's, so Spark reads it back with types
# parquet alone cannot name (user-defined types, intervals)
_SPARK_SCHEMA_KEY = "org.apache.spark.sql.parquet.row.metadata"
# the footer key naming the Spark version that wrote a file: without it
# Spark reads dates before 1582-10-15 and timestamps before 1900 under
# ``spark.sql.parquet.datetimeRebaseModeInRead`` (EXCEPTION raises on
# them); with it they read as written, proleptic Gregorian as pyarrow
# writes them
_SPARK_VERSION_KEY = "org.apache.spark.version"
# writer ids that start with this are compaction writers (compact/retrain),
# whose uncommitted partitions vacuum removes: stream writers may not use it
_COMPACT_PREFIX = "c"


class ChaosCrash(RuntimeError):
    """Injected crash for exactly-once protocol tests."""


class GateDecisions(NamedTuple):
    """What the gate decided on one trigger, in documents: dropped as
    in-batch exact / near copies, rejected by the committed index as
    exact / near duplicates (a doc that is both counts as exact), and
    admitted."""

    epoch: int
    batch_exact: int
    batch_near: int
    index_exact: int
    index_near: int
    admitted: int


def _has_partitions(path: str) -> bool:
    return os.path.isdir(path) and any(
        e.startswith(f"{_WRITER_COL}=") for e in os.listdir(path)
    )


def _sql_str(v: str) -> str:
    return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _pairs_filter(pairs: list[tuple[str, int]]) -> Column:
    """Partition predicate selecting exactly the (writer, epoch) ``pairs``
    — one parsed expression, pruned at file listing."""
    by_writer: dict[str, list[int]] = {}
    for w, e in pairs:
        by_writer.setdefault(w, []).append(e)
    if not by_writer:
        return F.lit(False)
    return F.expr(
        " OR ".join(
            f"(`{_WRITER_COL}` = {_sql_str(w)} AND `{_EPOCH_COL}` IN "
            f"({', '.join(str(int(e)) for e in sorted(es))}))"
            for w, es in sorted(by_writer.items())
        )
    )


def _epoch_path(base: str, writer: str, epoch: int) -> str:
    return os.path.join(base, f"{_WRITER_COL}={writer}", f"{_EPOCH_COL}={epoch}")


def _append(rows: DataFrame, base: str, writer: str, epoch: int) -> None:
    """Spark append of corpus-sized ``rows`` into the (writer, epoch)
    partition — the bulk rewrites' write; a trigger writes from the
    driver (``write_table``)."""
    rows.withColumn(_WRITER_COL, F.lit(writer)).withColumn(
        _EPOCH_COL, F.lit(epoch)
    ).write.mode("append").partitionBy(_WRITER_COL, _EPOCH_COL).parquet(base)


def _year_months_as(dt: T.DataType, to: T.DataType) -> T.DataType:
    """``dt`` with every year-month interval, however nested, as ``to``."""
    if isinstance(dt, T.YearMonthIntervalType):
        return to
    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, _year_months_as(f.dataType, to), f.nullable)
                for f in dt.fields
            ]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_year_months_as(dt.elementType, to), dt.containsNull)
    if isinstance(dt, T.MapType):
        return T.MapType(
            _year_months_as(dt.keyType, to),
            _year_months_as(dt.valueType, to),
            dt.valueContainsNull,
        )
    return dt


_MONTHS = T.YearMonthIntervalType(
    T.YearMonthIntervalType.MONTH, T.YearMonthIntervalType.MONTH
)


def _month_counts(field: T.StructField) -> Column | None:
    """Column ``field`` with its year-month intervals as INT month counts
    (through INTERVAL MONTH: an INTERVAL YEAR casts to INT in years), or
    None if it holds none."""
    ints = _year_months_as(field.dataType, T.IntegerType())
    if ints == field.dataType:
        return None
    return (
        F.col(f"`{field.name}`")
        .cast(_year_months_as(field.dataType, _MONTHS))
        .cast(ints)
        .alias(field.name)
    )


def _to_arrow(frame: DataFrame):
    """``frame.toArrow()`` (one action, PySpark's own Arrow collect) — the
    one Arrow collect of this module — with two departures, each for a
    type the Arrow path cannot carry to a parquet file:

    - year-month intervals arrive as their INT month counts, the value
      Spark itself stores in parquet (pyarrow writes no parquet type for
      Arrow's month interval); a corpus file's footer schema names the
      interval type, so Spark reads them back typed;
    - the closing cast to the Python-side Arrow schema is skipped: it
      changes only timestamp zone names here, and pyarrow cannot make it
      for a struct column whose NULL rows hold nulls in a non-nullable
      field — a NULL nested struct or user-defined type such as an ML
      vector — while the collected batches hold such rows fine."""
    import pyarrow as pa

    cols = [(f, _month_counts(f)) for f in frame.schema.fields]
    if any(c is not None for _, c in cols):
        frame = frame.select(
            *[F.col(f"`{f.name}`") if c is None else c for f, c in cols]
        )
    return pa.Table.from_batches(
        frame._collect_as_arrow(empty_list_if_zero_records=False)
    )


def _rows_of(staged):
    """The input rows of a staged Arrow table: ``_row`` flattened."""
    import pyarrow as pa

    return pa.Table.from_struct_array(staged.column(_ROW))


def _slice(staged, ids: list):
    """The rows of a staged Arrow table whose cor_id is in ``ids``."""
    import pyarrow as pa
    import pyarrow.compute as pc

    col = staged.column("cor_id")
    return staged.filter(
        pc.is_in(col, value_set=pa.array(ids, type=col.type), skip_nulls=True)
    )


class DedupGatedIngest:
    """foreachBatch sink: gate each batch against the committed dedup
    index and append only novel documents (see module docstring for the
    sidecar layout and commit protocol).

    ``writer_id`` names this stream's (writer, epoch) partitions; by
    default it derives from ``ledger_path``.  Ids starting with ``c`` are
    reserved for compaction writers, whose uncommitted partitions
    ``vacuum()`` deletes, so such an id raises ``ValueError``.

    The near-dup gate always band-prunes: a trigger scans only the
    index's (cor_id, bands_v2) columns and explodes the shingles of
    band-colliding candidates, O(candidates) instead of O(index).  A
    >= threshold pair escapes the bands with p <= 1-(1-t^3)^10 (8e-4 at
    t=0.8).  The sidecar must carry the VERSIONED ``bands_v2`` column
    (``doc_shingle_index`` emits it; a pre-r10 'bands' sidecar fails
    loud)."""

    def __init__(
        self,
        spark: SparkSession,
        corpus_dir: str,
        ledger_path: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        n: int = 3,
        threshold: float = 0.8,
        index_dir: str | None = None,
        writer_id: str | None = None,
        within_batch_neardup: bool = True,
        serialize_writers: bool = False,
    ):
        import pyarrow as pa

        if writer_id is not None and writer_id.startswith(_COMPACT_PREFIX):
            raise ValueError(
                f"writer_id {writer_id!r}: ids starting with "
                f"{_COMPACT_PREFIX!r} are reserved for compaction writers"
            )
        self.spark = spark
        self.corpus_dir = corpus_dir
        self.index_dir = index_dir or corpus_dir + "_index"
        self.id_col = id_col
        self.text_col = text_col
        self.n = n
        self.threshold = threshold
        self.within_batch_neardup = within_batch_neardup
        # stable per-stream identity: the ledger path is scoped to one
        # checkpoint (pre-sidecar API kept), so its hash names this
        # writer's partitions; "w" prefix keeps partition-value inference
        # string-typed even for an all-digit hash
        self.writer_id = writer_id or "w" + hashlib.md5(
            ledger_path.encode()
        ).hexdigest()[:12]
        self._last_epoch: int | None = None
        # serialize_writers wraps each epoch commit in a LeaseLock on the
        # index dir, closing the documented concurrent-admission window
        # (two writers each admitting a doc that duplicates the other's
        # in-flight batch); single-stream deployments skip the lock cost
        self.serialize_writers = serialize_writers
        self.crash_points: set[str] = set()  # test-injectable crash windows
        # the decisions of the last trigger this sink committed
        self.last_decisions: GateDecisions | None = None
        # the sidecar schema, inferred by the first read (see _read_docs)
        self._docs_schema = None
        # the writer lives in the partition directory, and only revocation
        # files carry revoked_by
        self._ledger = CommitLog(
            os.path.join(self.index_dir, "ledger"),
            pa.schema(
                [
                    (_WRITER_COL, pa.string()),
                    ("epoch_id", pa.int64()),
                    ("n_admitted", pa.int64()),
                    ("revoked_by", pa.string()),
                ]
            ),
            _WRITER_COL,
        )

    # -- layout ------------------------------------------------------------
    @property
    def _docs_dir(self) -> str:
        return os.path.join(self.index_dir, "docs")

    @property
    def _ledger_dir(self) -> str:
        return self._ledger.path

    def _chaos(self, point: str) -> None:
        if point in self.crash_points:
            raise ChaosCrash(point)

    # -- commit state (driver-read ledger) ---------------------------------
    def _ledger_rows(self) -> list[tuple[str, int, int]]:
        """Every effective (writer, epoch, n_admitted) ledger row, read by
        the driver; none when nothing was ever committed.  A revocation
        row counts only once the writer that wrote it has committed (see
        ``_append_ledger``); rows without ``revoked_by`` (Spark-written
        ledgers) always count."""
        rows = self._ledger.rows()
        committed = {w for w, _e, n, _b in rows if n >= 0}
        return [(w, e, n) for w, e, n, b in rows if b is None or b in committed]

    def _append_ledger(
        self, commit: tuple[str, int, int], revoked: list[tuple[str, int]] = ()
    ) -> None:
        """THE commit point: the ``commit`` (writer, epoch, n_admitted) row,
        plus ``n_admitted = -1`` revocation rows for the superseded
        ``revoked`` pairs.  Each writer directory gets one driver-written
        file; the revocation files land first and name the committing
        writer, so they stay inert (``_ledger_rows``) until the commit
        row's file — the last rename — lands."""
        writer, epoch, n = commit
        by_writer: dict[str, list[tuple]] = {}
        for w, e in revoked:
            by_writer.setdefault(w, []).append((e, -1, writer))
        for w, rows in by_writer.items():
            self._ledger.append(rows, part=w)
        self._ledger.append(
            [(epoch, n)], part=writer, columns=["epoch_id", "n_admitted"]
        )

    def _committed_pairs(self) -> list[tuple[str, int]]:
        """(writer, epoch) pairs that are committed AND not revoked.
        ``compact`` revokes superseded pairs by appending an
        ``n_admitted = -1`` ledger row, so committed = pairs whose
        minimum n_admitted is still >= 0."""
        low: dict[tuple[str, int], int] = {}
        for w, e, n in self._ledger_rows():
            low[(w, e)] = min(n, low.get((w, e), n))
        return sorted(p for p, n in low.items() if n >= 0)

    def _last_committed(self) -> int:
        if self._last_epoch is None:
            # revocation rows (n_admitted < 0) don't count: an epoch
            # whose data was compacted away is still a committed epoch
            # for replay-skip purposes
            rows = self._ledger_rows()
            mine = (e for w, e, n in rows if w == self.writer_id and n >= 0)
            self._last_epoch = max(mine, default=-1)
        return self._last_epoch

    def _purge_uncommitted(self) -> None:
        """Remove THIS writer's corpus/index partitions above its last
        committed epoch — debris of a crashed attempt.  Foreign writers'
        partitions are never touched."""
        last = self._last_committed()
        for _w, epoch, path in self._epoch_dirs(self.writer_id):
            if epoch > last:
                shutil.rmtree(path)

    def _epoch_dirs(self, writer: str | None = None):
        """(writer, epoch, path) of every ``writer=/epoch=`` partition
        directory of the corpus and the index sidecar — only ``writer``'s
        when given."""
        for base in (self.corpus_dir, self._docs_dir):
            if not os.path.isdir(base):
                continue
            wentries = (
                os.listdir(base)
                if writer is None
                else [f"{_WRITER_COL}={writer}"]
            )
            for wentry in wentries:
                wdir = os.path.join(base, wentry)
                if not (wentry.startswith(f"{_WRITER_COL}=") and os.path.isdir(wdir)):
                    continue
                for eentry in os.listdir(wdir):
                    if not eentry.startswith(f"{_EPOCH_COL}="):
                        continue
                    try:
                        epoch = int(eentry.split("=", 1)[1])
                    except ValueError:
                        continue
                    yield wentry.split("=", 1)[1], epoch, os.path.join(wdir, eentry)

    def _index_cols(self) -> list[str]:
        """Columns a committed_index() read projects (the rest of the
        sidecar row never loads at gate time)."""
        return ["cor_id", "h", "n_sh", "shingles", "bands_v2"]

    def _read_docs(self) -> DataFrame:
        """Raw read of the index sidecar dir.  The one override point for
        schema back-compat: EVERY path that touches sidecar rows —
        gate-time ``committed_index`` and the ``compact()`` rewrite —
        must read through this hook, or a schema-evolved dir (e.g.
        pre-``model_v`` files beside post-retrain ones) can have its
        evolution laundered away by whichever file the schema sampler
        happens to pick.

        The text sidecar's schema never evolves, so the first read's
        inferred schema is kept and later reads pass it explicitly:
        schema inference is a Spark job of its own, once per trigger
        otherwise."""
        if self._docs_schema is None:
            docs = self.spark.read.parquet(self._docs_dir)
            self._docs_schema = docs.schema
            return docs
        return self.spark.read.schema(self._docs_schema).parquet(self._docs_dir)

    def committed_index(self) -> DataFrame | None:
        """COMMITTED dedup-index rows: the committed (writer, epoch) pairs
        are a partition filter on the sidecar read, so neither this
        writer's nor any foreign writer's crash debris — nor a
        compacted-away or not-yet-committed compact partition — ever
        gates a batch.  None while no pair is committed."""
        pairs = self._committed_pairs()
        if not pairs or not _has_partitions(self._docs_dir):
            return None
        return (
            self._read_docs()
            .filter(_pairs_filter(pairs))
            .select(*self._index_cols())
        )

    # -- gate --------------------------------------------------------------
    def _stage(self, batch: DataFrame) -> DataFrame:
        """The batch as one frame: each input row whole under ``_row`` plus
        its sidecar columns (cor_id, h, n_sh, shingles, bands_v2).

        NULL text normalizes to '' (and the normalized form is what an
        admitted row stores): without it, SQL NULL join semantics make
        NULL-text rows collapse WITHIN a batch (groupBy treats NULLs as
        equal) yet never match ACROSS batches (joins skip NULL keys) —
        every later NULL doc would be admitted forever."""
        batch = batch.withColumn(
            self.text_col, F.coalesce(F.col(self.text_col), F.lit(""))
        )
        return doc_shingle_index(
            batch, self.id_col, self.text_col, self.n, row_col=_ROW
        )

    def _collapse(self, staged) -> tuple[list, list, int, int]:
        """The within-batch collapse on the driver over the staged Arrow
        table: (surviving ids, staged sidecar rows, n exact-dropped,
        n near-dropped)."""
        rows = list(
            zip(
                *(
                    staged.column(c).to_pylist()
                    for c in ("cor_id", "h", "n_sh", "shingles", "bands_v2")
                )
            )
        )
        keys, n_exact, n_near = collapse_batch(
            [(r[0], r[1], r[3]) for r in rows],
            self.threshold,
            near=self.within_batch_neardup,
        )
        return keys, rows, n_exact, n_near

    def _index_flags(self, staged, keys: list, rows: list) -> DataFrame | None:
        """Flags (id, exact_dup, near_dup, ..., keep) of the surviving
        ``keys`` of the staged Arrow table against the committed index —
        lazy; None when there is nothing to decide against.  The
        survivors' staged rows go back as a pandas-built local frame
        (Arrow, no job to read it)."""
        from pyspark.sql.pandas.types import from_arrow_type

        index = self.committed_index() if keys else None
        if index is None:
            return None
        alive = set(keys)
        surv = [r for r in rows if r[0] in alive]
        inc = self.spark.createDataFrame(
            pd.DataFrame(
                [tuple(r[:4]) for r in surv],
                columns=["inc_id", "h", "inc_n", "shingles"],
            ),
            schema=f"inc_id "
            f"{from_arrow_type(staged.schema.field('cor_id').type).simpleString()}, "
            "h STRING, inc_n INT, shingles ARRAY<BIGINT>",
        )
        return index_dedup_flags(
            index,
            inc,
            self.id_col,
            self.threshold,
            band_prune=True,
            batch_buckets=sorted({b for r in surv for b in (r[4] or [])}),
            index_rows=self._live_rows,
        )

    def gate_batch(self, batch: DataFrame) -> DataFrame:
        """Pure admission decision (no writes): the batch's rows that the
        within-batch collapse keeps (keeper = min id per md5; larger id
        of every >= threshold pair drops) and the committed index admits.
        One staging action runs eagerly (the collapse is driver-side);
        the returned frame's plan reads index partitions only — never
        corpus files (asserted by the chaos suite's plan check)."""
        staged = self._stage(batch)
        table = _to_arrow(staged)
        keys, rows, _, _ = self._collapse(table)
        gated = staged.filter(F.col("cor_id").isin(keys))
        flags = self._index_flags(table, keys, rows)
        if flags is not None:
            gated = gated.join(
                flags.filter(F.col("keep") == 1).select(
                    F.col(self.id_col).alias("cor_id")
                ),
                "cor_id",
                "left_semi",
            )
        return gated.select(f"{_ROW}.*")

    def _decide(self, staged) -> tuple:
        """(admitted slice of the staged Arrow table, decision counts) for
        one trigger: the driver collapse and ONE index action."""
        keys, rows, n_exact, n_near = self._collapse(staged)
        flags = self._index_flags(staged, keys, rows)
        rejected: dict = {}
        if flags is not None:
            rejected = dict(
                flags.filter(F.col("keep") == 0)
                .select(self.id_col, "exact_dup")
                .collect()
            )
        admit = [k for k in keys if k not in rejected]
        n_index_exact = sum(1 for v in rejected.values() if v)
        counts = (
            n_exact,
            n_near,
            n_index_exact,
            len(rejected) - n_index_exact,
            len(admit),
        )
        return _slice(staged, admit), counts

    def gate_flags(self, batch: DataFrame) -> DataFrame:
        """Observability form of the gate: the full per-document flag
        frame (id, exact_dup, near_dup, best_jaccard, keep) against the
        committed index, WITHOUT the within-batch collapse — what a
        monitoring job samples to watch rejection rates.  No writes."""
        batch = batch.withColumn(
            self.text_col, F.coalesce(F.col(self.text_col), F.lit(""))
        )
        index = self.committed_index()
        if index is None:
            return batch.select(
                F.col(self.id_col),
                F.lit(0).alias("exact_dup"),
                F.lit(0).alias("near_dup"),
                F.lit(None).cast("double").alias("best_jaccard"),
                F.lit(1).alias("keep"),
            )
        return indexed_dedup_gate(
            index,
            batch,
            self.id_col,
            self.text_col,
            n=self.n,
            threshold=self.threshold,
            band_prune=True,
            index_rows=self._live_rows,
        )

    def _live_rows(self) -> int:
        """Committed live index size off the LEDGER (O(ledger), no index
        scan) — the lazy supplier behind the gate's adaptive literal/join
        crossover (dedup.adaptive_literal_bound); only evaluated on fat
        triggers whose bucket set exceeds the literal floor."""
        return sum(s[3] for s in self._writer_stats())

    def _writer_stats(self) -> list[tuple]:
        """Per writer: (writer, n_epochs, n_live_epochs, n_admitted_live,
        max_epoch), aggregated on the driver from the ledger rows."""
        pairs: dict[tuple[str, int], list[int]] = {}
        for w, e, n in self._ledger_rows():
            hi_lo = pairs.setdefault((w, e), [n, n])
            hi_lo[0], hi_lo[1] = max(hi_lo[0], n), min(hi_lo[1], n)
        stats: dict[str, list[int]] = {}
        for (w, e), (hi, lo) in sorted(pairs.items()):
            s = stats.setdefault(w, [0, 0, 0, e])
            s[0] += 1
            if lo >= 0:
                s[1] += 1
                s[2] += hi
            s[3] = max(s[3], e)
        return [(w, *s) for w, s in stats.items()]

    def ingest_stats(self) -> DataFrame | None:
        """Per-writer ingest history off the ledger: committed epochs,
        admitted totals, and the live (non-revoked) epoch count — the
        O(ledger) view an operator checks before anything corpus-sized.
        Aggregated on the driver; the frame is local (no job)."""
        stats = self._writer_stats()
        if not stats:
            return None
        cols = [_WRITER_COL, "n_epochs", "n_live_epochs", "n_admitted_live", "max_epoch"]
        return self.spark.createDataFrame(
            pd.DataFrame(stats, columns=cols),
            schema=f"{_WRITER_COL} STRING, n_epochs LONG, n_live_epochs LONG, "
            "n_admitted_live LONG, max_epoch LONG",
        )

    # -- commit ------------------------------------------------------------
    def admit_batch(self, batch: DataFrame, epoch_id: int) -> int:
        """Gate + append one micro-batch; returns admitted row count
        (0 for replays and fully-duplicate batches).  With
        ``serialize_writers`` the whole gate->append->commit sequence runs
        under a lease on the index dir, so concurrent streams sharing one
        corpus admit strictly one-at-a-time (each sees every previously
        committed doc — no cross-stream duplicate window)."""
        if not self.serialize_writers:
            return self._admit(batch, epoch_id)
        from data_pipeline_spark.coordination import LeaseLock

        with LeaseLock(
            "ingest-commit",
            "corpus",
            root=os.path.join(self.index_dir, "locks"),
            lease_seconds=300,
        ):
            return self._admit(batch, epoch_id)

    def _admit(self, batch: DataFrame, epoch_id: int) -> int:
        if epoch_id <= self._last_committed():
            return 0
        self._purge_uncommitted()
        # the one staging action (see the module docstring, step a)
        frame = self._stage(batch)
        staged = _to_arrow(frame)
        admitted, counts = self._decide(staged)
        self._chaos("after_gate")
        n_admitted = counts[-1]
        if n_admitted:
            write_table(
                _epoch_path(self.corpus_dir, self.writer_id, epoch_id),
                _rows_of(admitted).replace_schema_metadata(
                    {
                        _SPARK_SCHEMA_KEY: frame.schema[_ROW].dataType.json(),
                        _SPARK_VERSION_KEY: self.spark.version,
                    }
                ),
            )
            self._chaos("after_corpus")
            write_table(
                _epoch_path(self._docs_dir, self.writer_id, epoch_id),
                self._index_of(admitted),
            )
            self._chaos("after_index")
        # ledger append LAST is the commit point: everything above is
        # purgeable debris until this row lands
        self._append_ledger((self.writer_id, epoch_id, n_admitted))
        self._last_epoch = epoch_id
        self.last_decisions = GateDecisions(epoch_id, *counts)
        return n_admitted

    def _index_of(self, admitted):
        """Sidecar rows (an Arrow table) for the admitted slice of the
        staged table — the hook a semantic (embedding) gate overrides
        with its ANN index rows.  Here they are the staged columns
        themselves."""
        return admitted.drop_columns([_ROW])

    def _index_layout(self, idx: DataFrame) -> DataFrame:
        """Physical-layout hook for whole-index rewrites (compact/retrain;
        identity here), where a clustering shuffle amortizes over every
        later read.  Per-trigger index files are laid out by
        ``_index_of``."""
        return idx

    def corpus(self) -> DataFrame:
        """The ingested corpus without the commit-protocol partition
        columns (committed, non-revoked epochs only)."""
        return self._corpus_of(self._committed_pairs())

    def _corpus_of(self, pairs: list[tuple[str, int]]) -> DataFrame:
        return (
            self.spark.read.parquet(self.corpus_dir)
            .filter(_pairs_filter(pairs))
            .drop(_WRITER_COL, _EPOCH_COL)
        )

    # -- compaction --------------------------------------------------------
    def vacuum(self) -> int:
        """Delete corpus/index partition directories whose (writer, epoch)
        pair is NOT committed-and-live: compact-crash orphans and
        partitions a completed ``compact`` revoked but did not get to
        delete.  Pure cleanup — the ledger partition filter already hides
        these from every reader — so a crash anywhere in here is harmless.
        Never touches a LIVE stream writer's uncommitted current epoch:
        only partitions of writers other than this one, or of this
        writer at-or-below its committed watermark, are candidates."""
        live = set(self._committed_pairs())
        revoked = {(w, e) for w, e, n in self._ledger_rows() if n < 0}
        last = self._last_committed()
        removed = 0
        for writer, epoch, path in self._epoch_dirs():
            if (writer, epoch) in live:
                continue
            if writer == self.writer_id and epoch > last:
                continue  # this stream's own in-flight epoch
            # foreign UNCOMMITTED (never-revoked) debris belongs to its
            # writer's replay, not to vacuum: skip pairs with no ledger
            # trace at all unless they are compact leftovers (compact
            # writers never replay; __init__ keeps stream ids off the prefix)
            if not writer.startswith(_COMPACT_PREFIX) and (
                (writer, epoch) not in revoked
            ):
                continue
            shutil.rmtree(path)
            removed += 1
        return removed

    def compact(self) -> int:
        """Rewrite every committed corpus/index partition into ONE
        consolidated partition and revoke the originals — the maintenance
        pass that stops a long-running stream from accumulating thousands
        of tiny per-epoch parquet partitions.

        Protocol (the single ledger append is the commit point):

          1. vacuum: remove orphans of previously crashed compactions
          2. snapshot the committed (writer, epoch) pairs
          3. copy their corpus and index rows to a fresh compact writer's
             epoch-0 partition (uncommitted: invisible to every reader)
          4. ONE ledger append: the compact pair's commit row PLUS an
             ``n_admitted = -1`` revocation row per superseded pair
          5. delete the superseded partitions (cleanup; a crash here
             leaves revoked-but-present dirs for the next vacuum)

        A crash before 4 leaves invisible orphans (vacuumed later); after
        4 the compacted data is live and the old partitions are already
        invisible — no window double-counts or loses a document.  Epochs
        committed by live streams AFTER the snapshot are untouched.
        Returns the number of documents in the compacted partition."""
        self.vacuum()
        pairs = self._committed_pairs()
        if not pairs:
            return 0
        # a dataset nothing was ever admitted through has no partitions
        corpus = (
            self._corpus_of(pairs).persist()
            if _has_partitions(self.corpus_dir)
            else None
        )
        try:
            n_docs = 0 if corpus is None else corpus.count()
            index = (
                # the docs dir MUST go through the back-compat read hook:
                # a plain read of a schema-evolved sidecar can sample a
                # pre-evolution footer and silently drop the new column
                # from the rewrite (destroying e.g. model_v evidence)
                self._read_docs()
                .filter(_pairs_filter(pairs))
                .drop(_WRITER_COL, _EPOCH_COL)
                if _has_partitions(self._docs_dir)
                else None
            )
            self._rewrite("compact", pairs, corpus, index, n_docs)
        finally:
            if corpus is not None:
                corpus.unpersist()
        return n_docs

    def _rewrite(
        self,
        stage: str,
        pairs: list[tuple[str, int]],
        corpus: DataFrame | None,
        index: DataFrame | None,
        n_docs: int,
    ) -> None:
        """Steps 3-5 of ``compact``, shared with the semantic ``retrain``:
        append ``corpus`` and ``index`` rows to a fresh compact writer's
        epoch 0 (the index in its bulk layout), commit that pair with
        ``n_docs`` while revoking the superseded ``pairs`` in one ledger
        append, then delete the superseded directories.  Crash windows:
        ``{stage}_after_corpus``, ``_before_ledger``, ``_after_ledger``."""
        import uuid

        cw = _COMPACT_PREFIX + uuid.uuid4().hex[:12]
        if corpus is not None:
            _append(corpus, self.corpus_dir, cw, 0)
        self._chaos(f"{stage}_after_corpus")
        if index is not None:
            # the one whole-index rewrite: cluster the sidecar so the
            # gate's pushed filters skip files/row groups
            _append(self._index_layout(index), self._docs_dir, cw, 0)
        self._chaos(f"{stage}_before_ledger")
        self._append_ledger((cw, 0, n_docs), pairs)
        self._chaos(f"{stage}_after_ledger")
        for base in (self.corpus_dir, self._docs_dir):
            for w, e in pairs:
                path = _epoch_path(base, w, e)
                if os.path.isdir(path):
                    shutil.rmtree(path)

    def foreach_batch(self):
        def fn(batch: DataFrame, epoch_id: int) -> None:
            self.admit_batch(batch, epoch_id)

        return fn

    def start(self, stream: DataFrame, checkpoint_dir: str, **trigger_kwargs):
        return (
            stream.writeStream.foreachBatch(self.foreach_batch())
            .option("checkpointLocation", checkpoint_dir)
            .trigger(**(trigger_kwargs or {"availableNow": True}))
            .start()
        )


class SemanticGatedIngest(DedupGatedIngest):
    """EMBEDDING near-dup gated ingest — the semantic twin of the text
    gate, on the SAME sidecar/ledger/compaction protocol (everything in
    the module docstring about purge/commit/replay/compact/vacuum holds
    unchanged; only the index rows and the admission decision differ):

    - sidecar rows are an ANN index (``pq.semantic_index_rows``: PQ
      residual codes + coarse list id + vector norm + the vector itself
      for candidate verification), appended per admitted trigger,
    - the gate is ``pq.semantic_gate_flags``: coarse-probe the committed
      index, ADC-score only the probed lists' codes, exact-verify the
      bounded candidate set — a document is rejected when some committed
      document sits at cosine >= threshold,
    - the (coarse centroids, codebooks) model trains ONCE on the first
      gated batch and persists to ``index_dir/model.json`` BEFORE any
      ledger commit, so a crash-replayed trigger gates with identical
      decisions (if the crash preceded the model write, the replay
      retrains on the same batch deterministically — md5-ordered sample,
      no RNG).

    Model lifecycle (r11 — the retrain/reindex contract)
    ----------------------------------------------------
    Every index row carries the VERSION of the model that encoded it
    (``model_v``, the semantic twin of the text gate's ``bands_v2``
    column), and model files are immutable per version
    (``model.json`` = v1 for sidecar back-compat, ``model_v{N}.json``
    after).  At gate time the committed index's version resolves the
    quantizer: probing PQ codes with any other model would silently
    search the wrong lists, so a MIXED-version index or a missing model
    file FAILS LOUD rather than degrade recall.

    ``retrain()`` re-trains on the committed corpus and atomically
    re-encodes the WHOLE index under the new model via the compact()
    protocol — new model file written first (unreferenced until commit),
    corpus + re-encoded index rows land in a fresh compact-writer
    partition, and ONE ledger append commits the new pair while revoking
    every superseded one.  A crash anywhere before that append leaves
    the old single-version index fully live (the orphaned model file and
    partitions are vacuumed/reused); after it, the index is single-
    version at N+1.

    Because a retrain re-encodes the WHOLE index under one new model, it
    is also the one safe point to change coarse geometry:
    ``auto_scale_lists=True`` makes each retrain train its quantizer
    with ``n_lists ~ sqrt(committed docs)`` (clamped to [constructor
    n_lists, 4096]), so the gate's per-trigger scan — n_probe lists of
    ~n/n_lists rows each — stays ~sqrt(n)-bounded as the index grows
    instead of linear at fixed lists (the production knob the r12
    pruning A/B measures around).  n_probe stays fixed, so the probed
    FRACTION shrinks with corpus growth — the standard IVF recall
    trade, and for a dedup gate it fails in the safe direction: a
    coarse-quantizer miss ADMITS a near-duplicate, it never wrongly
    rejects new data (every candidate that IS probed gets
    exact-verified).  Nothing outside the model file changes — gate and
    encode geometry derive from the coarse array's own shape, versioned
    per ``model_v`` like any retrain.

    Staleness policy: ``retrain_after`` (admitted docs
    since the active model trained — derived from the ledger) and/or
    ``retrain_drift`` (mean committed ADC error vs the model's
    training-time bound, ``adc_drift()``) auto-trigger a retrain after a
    commit.  With multiple live writers, run retrains under
    ``serialize_writers`` (the lease covers retrain too) — an
    unserialized foreign admit concurrent with a retrain would commit
    old-version rows and trip the mixed-version guard on the next gate.

    Each trigger runs the text gate's one-pass ``_admit`` through its
    hooks: the staging is the batch itself, whose one ``toArrow()``
    brings the vectors to the driver; within the batch, near-copies
    collapse there (the batch is trigger-bounded by the same contract
    that lets it broadcast): the larger id of every >= threshold pair
    drops, mirroring the text gate's within-batch rule; the index
    decision is ``semantic_gate_flags`` over a local frame of the staged
    (id, vector) columns; the sidecar rows are encoded at write time by
    one more action over a local frame of the admitted ones, and both
    files are written from the driver.
    """

    def __init__(
        self,
        spark: SparkSession,
        corpus_dir: str,
        ledger_path: str,
        id_col: str = "doc_id",
        vec_col: str = "embedding",
        threshold: float = 0.9,
        n_probe: int = 8,
        n_lists: int = 64,
        auto_scale_lists: bool = False,
        m: int = 8,
        n_centroids: int | None = 64,
        sample: int = 4096,
        index_dir: str | None = None,
        writer_id: str | None = None,
        within_batch_neardup: bool = True,
        serialize_writers: bool = False,
        retrain_after: int | None = None,
        retrain_drift: float | None = None,
        drift_check_every: int = 16,
    ):
        super().__init__(
            spark,
            corpus_dir,
            ledger_path,
            id_col=id_col,
            index_dir=index_dir,
            writer_id=writer_id,
            within_batch_neardup=within_batch_neardup,
            serialize_writers=serialize_writers,
        )
        self.vec_col = vec_col
        self.sem_threshold = threshold
        self.n_probe = n_probe
        self.n_lists = n_lists
        self.auto_scale_lists = auto_scale_lists
        self.m = m
        self.n_centroids = n_centroids
        self.sample = sample
        self.retrain_after = retrain_after
        self.retrain_drift = retrain_drift
        # drift is the one O(index) policy probe — run it every Nth
        # non-empty commit, not per micro-batch (ADVICE r11): the module
        # contract is O(ledger) per trigger in steady state
        self.drift_check_every = max(1, drift_check_every)
        self._commits_since_drift_check = 0
        # per-version model cache: version -> pq.AnnModel, and version
        # -> committed docs it trained on.  _model_version is the version
        # THIS process gates and encodes with; it changes via our own
        # retrain() or when _foreign_version_check reconciles a COMMITTED
        # foreign retrain (concurrent ones still require
        # serialize_writers — see class docstring)
        self._models: dict = {}
        self._trained_on: dict[int, int] = {}
        self._model_version: int | None = None
        # stat signature (version, mtime_ns, size) of the newest model
        # FILE this instance has already reconciled against the committed
        # index (foreign-retrain guard); and the cached sidecar schema +
        # the file version it was resolved under
        self._file_version_seen: tuple | None = None
        self._docs_schema = None
        self._docs_schema_fv: int | None = None

    # -- model -------------------------------------------------------------
    @property
    def _model_path(self) -> str:
        return os.path.join(self.index_dir, "model.json")

    def _model_file(self, version: int) -> str:
        """v1 stays ``model.json`` (pre-r11 sidecars resolve unchanged);
        later generations are ``model_v{N}.json`` — immutable per
        version, like the bands_v2 hash-family pin."""
        if version == 1:
            return self._model_path
        return os.path.join(self.index_dir, f"model_v{version}.json")

    def _load_model(self, version: int) -> None:
        from data_pipeline_spark.llmops import pq

        if version in self._models:
            return
        path = self._model_file(version)
        if not os.path.exists(path):
            raise RuntimeError(
                f"semantic index is encoded under model v{version} but "
                f"{path} is missing — PQ codes are meaningless without "
                "their quantizer, so the gate fails loud instead of "
                "probing with a different model (silent recall loss)"
            )
        self._models[version], d = pq.read_model(path)
        self._trained_on[version] = int(d.get("trained_on_n", 0))

    def _latest_model_file_version(self) -> int | None:
        if not os.path.isdir(self.index_dir):
            return None
        versions = [1] if os.path.exists(self._model_path) else []
        for entry in os.listdir(self.index_dir):
            if entry.startswith("model_v") and entry.endswith(".json"):
                try:
                    versions.append(int(entry[len("model_v"):-len(".json")]))
                except ValueError:
                    continue
        return max(versions) if versions else None

    def _active_version(self) -> int | None:
        """The single model version the COMMITTED index is encoded under
        (None when nothing is committed).  A mixed-version index means a
        retrain ran concurrently with an unserialized writer — fail loud;
        ``retrain()`` re-encodes everything back to one version."""
        idx = self.committed_index()
        if idx is None:
            return None
        row = idx.agg(
            F.min("model_v").alias("a"), F.max("model_v").alias("b")
        ).first()
        if row.a is None:
            return None
        if row.a != row.b:
            raise RuntimeError(
                f"semantic index carries MIXED model versions "
                f"v{row.a}..v{row.b} — a retrain committed concurrently "
                "with another writer's old-version epoch (serialize "
                "writers to prevent this); run retrain() to re-encode "
                "the index under one model"
            )
        return int(row.a)

    def _foreign_version_check(self) -> None:
        """O(listdir) steady-state twin of the mixed-version guard, for
        LONG-LIVED writer instances: a foreign retrain always publishes
        its ``model_v{N}.json`` BEFORE its ledger commit, so a model
        file newer than anything this instance has reconciled is the
        one cheap, reliable signal that the committed version may have
        moved under us.  Only then do we pay the authoritative O(index)
        ``_active_version()`` scan — which re-raises on MIXED — and
        swap in the new model; gating or encoding with a stale cache
        would otherwise silently probe new-version PQ codes with the
        old quantizer AND commit old-version rows into the new index
        (the corruption the fail-loud guard exists to catch, which a
        pure instance cache would never re-run).

        An orphaned model file from a retrain that crashed before its
        ledger append costs ONE re-scan and is remembered by the file's
        stat SIGNATURE, not its version number: a later retrain rewrites
        the same ``model_v{N}.json`` name (new mtime/size) before
        committing, so keying on the number alone would let that commit
        slip past the guard forever.  Under ``serialize_writers`` (the
        documented multi-writer contract) the check runs inside the
        commit lease retrains also hold, so no retrain can land between
        this check and our commit."""
        if self._model_version is None:
            return
        fv = self._latest_model_file_version() or self._model_version
        if fv <= self._model_version:
            return
        try:
            st = os.stat(self._model_file(fv))
            sig = (fv, st.st_mtime_ns, st.st_size)
        except OSError:
            sig = (fv, None, None)  # listed then vanished: still probe
        if sig == self._file_version_seen:
            return  # known orphan, unchanged since last reconcile
        self._file_version_seen = sig
        v = self._active_version()  # authoritative; raises on MIXED
        if v is not None and v != self._model_version:
            self._load_model(v)
            self._model_version = v

    def _cached_version(self) -> int | None:
        """Active model version WITHOUT an O(index) scan once known:
        ``_model_version`` only changes via this writer's own retrain
        or a reconciled foreign one (``_foreign_version_check`` — an
        O(listdir) probe that only pays an index scan when a NEW model
        file appears), so after the first resolution it tracks the
        committed version.  Falls back to one ``_active_version()``
        index scan — which also enforces the mixed-version guard — for
        instances attached to a pre-existing index (ADVICE r11: the
        per-commit policy hook must not aggregate the full index per
        micro-batch)."""
        if self._model_version is None:
            v = self._active_version()
            if v is None:
                return None
            self._load_model(v)
            self._model_version = v
        else:
            self._foreign_version_check()
        return self._model_version

    def _train(self, df: DataFrame, n_lists: int, sample: int):
        """A ``pq.AnnModel`` on ``df``'s vectors at this sink's geometry."""
        from data_pipeline_spark.llmops import pq

        model = pq.ann_train(
            df,
            self.id_col,
            self.vec_col,
            n_lists=n_lists,
            m=self.m,
            n_centroids=self.n_centroids,
            sample=sample,
        )
        if not len(model.coarse):
            raise ValueError(
                "SemanticGatedIngest: no non-null vectors to train on"
            )
        return model

    def _ensure_model(self, batch: DataFrame):
        from data_pipeline_spark.io import build_once
        from data_pipeline_spark.llmops import pq

        if self._model_version is not None:
            # gate/encode-time guard: pick up a committed foreign
            # retrain (cheap listdir; index scan only on a new file)
            self._foreign_version_check()
            return self._models[self._model_version]
        v = self._active_version()
        if v is None:
            v = self._latest_model_file_version()
        if v is not None:
            self._load_model(v)
            self._model_version = v
            return self._models[v]
        # built once (io.build_once): if two unserialized writers race
        # to train, one trains and BOTH load its file, so no sidecar rows
        # are ever encoded under a model that model.json does not hold
        # (serialize_writers=True makes the race impossible; this keeps
        # the index coherent even without the lock), and a write that
        # fails midway leaves only the stage, which the next build
        # replaces
        build_once(
            self._model_path,
            lambda stage: pq.write_model(
                stage,
                self._train(batch, self.n_lists, self.sample),
                version=1,
                trained_on_n=0,  # nothing committed before first train
            ),
        )
        self._load_model(1)
        self._model_version = 1
        return self._models[1]

    # -- protocol hooks ----------------------------------------------------
    def _stage(self, batch: DataFrame) -> DataFrame:
        """The batch as (cor_id, _row): the vectors need no staging, the
        sidecar rows come from the model at write time (``_index_of``)."""
        return batch.select(
            F.col(self.id_col).alias("cor_id"),
            F.struct(*[F.col(f"`{c}`") for c in batch.columns]).alias(_ROW),
        )

    def _frame(self, staged) -> DataFrame:
        """The (id, vector) columns of a staged Arrow table's input rows —
        all the model, the gate and the index rows read — as a local
        frame (no job to read it)."""
        return self.spark.createDataFrame(
            _rows_of(staged).select([self.id_col, self.vec_col])
        )

    def _collapse(self, staged) -> tuple[list, list, int, int]:
        rows = list(
            zip(
                staged.column("cor_id").to_pylist(),
                _rows_of(staged).column(self.vec_col).to_pylist(),
            )
        )
        losers = (
            self._within_batch_losers(rows) if self.within_batch_neardup else set()
        )
        keys = [r[0] for r in rows if r[0] is not None and r[0] not in losers]
        return keys, rows, 0, len(losers)

    def _index_flags(self, staged, keys: list, rows: list) -> DataFrame | None:
        from data_pipeline_spark.llmops import pq

        if not rows:  # an empty FIRST trigger must not train
            return None
        batch = self._frame(staged)
        model = self._ensure_model(batch)
        index = self.committed_index() if keys else None
        if index is None:
            return None
        return pq.semantic_gate_flags(
            index,
            batch.filter(F.col(self.id_col).isin(keys)),
            model,
            self.id_col,
            self.vec_col,
            threshold=self.sem_threshold,
            n_probe=self.n_probe,
        ).withColumn("exact_dup", F.lit(0))  # every rejection is a near one

    def _index_of(self, admitted):
        """The admitted rows' ANN sidecar rows, encoded by one action over
        a local frame and sorted by coarse list (the per-trigger form of
        ``_index_layout``'s clustering, without a shuffle)."""
        from data_pipeline_spark.llmops import pq

        batch = self._frame(admitted)
        model = self._ensure_model(batch)
        return _to_arrow(
            pq.semantic_index_rows(
                batch, model, self.id_col, self.vec_col
            ).withColumn("model_v", F.lit(int(self._model_version or 1)))
        ).sort_by("list_id")

    def _index_cols(self) -> list[str]:
        return [
            "cor_id", "embedding", "vnorm", "codes", "list_id", "adc_err",
            "model_v",
        ]

    def _index_layout(self, idx: DataFrame) -> DataFrame:
        """Cluster the ANN sidecar by coarse list (r11 verdict item #4 —
        the served IVF layout's shape, inside the ledger protocol's
        (writer, epoch) partitions): compact/retrain rewrites range-
        partition on (list_id, cor_id) so each output file covers a
        narrow list range and the gate's pushed ``list_id IN`` filter
        skips non-probed files outright via row-group stats; per-trigger
        files are only sorted by list_id (``_index_of``: no shuffle per
        micro-batch — their total size is bounded by the triggers since
        the last compact)."""
        return idx.repartitionByRange(
            self.spark.sparkContext.defaultParallelism,
            "list_id",
            "cor_id",
        ).sortWithinPartitions("list_id")

    def _read_docs(self) -> DataFrame:
        """Sidecar read with model-version back-compat, applied PER ROW
        and at O(1) steady-state cost.

        Pre-r11 index rows have no ``model_v`` column and are by
        definition the one implicit model generation (v1).  Back-compat
        is per row, not per directory (ADVICE r11): null model_v
        coalesces to 1, so a dir that legitimately mixes pre-r11 files
        with post-retrain v2 files (the crash window between _retrain's
        ledger append and its superseded-partition cleanup) surfaces as
        a MIXED index to ``_active_version``'s guard — never as v1
        stamped over v2 rows, which would silently probe v2 PQ codes
        with the v1 quantizer.

        Cost discipline: ``mergeSchema`` launches an all-file
        footer-union job, which at thousands of per-epoch files would
        make EVERY gate trigger O(files) — against the module's
        O(ledger)-per-trigger contract.  So the merged schema is
        resolved ONCE and cached; later reads pass it explicitly (no
        inference job at all — parquet fills files that lack a schema
        column with nulls, which the coalesce then stamps v1).  The
        cache is keyed to the newest model FILE version (one listdir):
        new model generations are the only events that can evolve the
        sidecar schema, and every retrain publishes its model file
        before committing rows, so the key changes before any new-shape
        row can be read."""
        fv = self._latest_model_file_version()
        if self._docs_schema is not None and fv != self._docs_schema_fv:
            self._docs_schema = None
        if self._docs_schema is None:
            raw = self.spark.read.option("mergeSchema", "true").parquet(
                self._docs_dir
            )
            if "model_v" not in raw.columns:
                raw = raw.withColumn("model_v", F.lit(1))
            self._docs_schema = raw.schema
            self._docs_schema_fv = fv
        else:
            raw = self.spark.read.schema(self._docs_schema).parquet(
                self._docs_dir
            )
        return raw.withColumn(
            "model_v", F.coalesce(F.col("model_v"), F.lit(1))
        )

    # -- lifecycle ----------------------------------------------------------
    def adc_drift(self) -> float | None:
        """Mean per-row ADC error bound of the committed index relative
        to the active model's training-time bound — grows as the corpus
        distribution drifts away from the codebooks' training sample
        (residuals quantize worse), the signal that PQ candidate cuts
        are getting looser.  None when nothing is committed."""
        v = self._cached_version()
        if v is None:
            return None
        err_bound = self._models[v].err_bound
        if not err_bound:
            return None
        idx = self.committed_index()
        m = idx.agg(F.avg("adc_err")).first()[0]
        return None if m is None else float(m) / float(err_bound)

    def should_retrain(self) -> bool:
        """Staleness policy (both opt-in, OR-ed): the committed live
        corpus grew by >= ``retrain_after`` docs since the active model
        trained, or ``adc_drift()`` exceeds ``retrain_drift``.

        Cost discipline (ADVICE r11): this runs after every non-empty
        commit, so it must stay inside the module's O(ledger)-per-trigger
        steady state — the version comes from the instance cache (no
        index min/max scan), the growth check reads the LEDGER, and the
        one O(index) probe (adc_drift's avg over committed adc_err) runs
        only every ``drift_check_every``-th non-empty commit."""
        if self.retrain_after is None and self.retrain_drift is None:
            return False
        v = self._cached_version()
        if v is None:
            return False
        if self.retrain_after is not None:
            live = self._live_rows() or 0
            if live - self._trained_on[v] >= self.retrain_after:
                return True
        if self.retrain_drift is not None:
            self._commits_since_drift_check += 1
            if self._commits_since_drift_check >= self.drift_check_every:
                self._commits_since_drift_check = 0
                d = self.adc_drift()
                if d is not None and d > self.retrain_drift:
                    return True
        return False

    def retrain(self) -> int:
        """Retrain the PQ model on the COMMITTED corpus and atomically
        re-encode the whole index under it — the compact() protocol with
        re-derived index rows: the new model file publishes first (it is
        unreferenced debris until the commit), corpus + re-encoded index
        rows land in a fresh compact-writer partition, and ONE ledger
        append commits the new pair while revoking every superseded one.
        Crash before that append: the old single-version index stays
        fully live (orphan partitions vacuum away, the orphan model file
        is overwritten by the next retrain).  Crash after: the new index
        is live, superseded dirs are invisible until vacuumed.  Returns
        the re-encoded doc count (0 when nothing is committed)."""
        if not self.serialize_writers:
            return self._retrain()
        from data_pipeline_spark.coordination import LeaseLock

        with LeaseLock(
            "ingest-commit",
            "corpus",
            root=os.path.join(self.index_dir, "locks"),
            lease_seconds=300,
        ):
            return self._retrain()

    def _lists_for(self, n_docs: int) -> int:
        """Coarse list count for a retrain over ``n_docs`` committed
        documents: the constructor value when ``auto_scale_lists`` is
        off, else ``~sqrt(n_docs)`` clamped to [constructor n_lists,
        4096] — never shrinking below the configured floor, capped where
        the driver-side k-means sample (``max(sample, n_lists)`` rows)
        stays trivially collectable."""
        if not self.auto_scale_lists:
            return self.n_lists
        import math

        return max(
            self.n_lists,
            min(4096, int(round(math.sqrt(max(1, n_docs))))),
        )

    def _retrain(self) -> int:
        from data_pipeline_spark.llmops import pq

        self.vacuum()
        pairs = self._committed_pairs()
        if not pairs:
            return 0
        new_v = (self._active_version() or 1) + 1
        corpus = self._corpus_of(pairs).persist()
        try:
            n_docs = corpus.count()
            n_lists_eff = self._lists_for(n_docs)
            # hold >=4 training points per coarse cluster as the
            # auto-scaled list count approaches the configured sample, or
            # the k-means degenerates to one-point lists (cap keeps the
            # driver-side collect <=16384 rows)
            model = self._train(
                corpus, n_lists_eff, max(self.sample, 4 * n_lists_eff)
            )
            # replace, not build once: an orphan left by a retrain that
            # crashed before its commit is overwritten
            path = self._model_file(new_v)
            pq.write_model(
                f"{path}.tmp", model, version=new_v, trained_on_n=n_docs
            )
            os.replace(f"{path}.tmp", path)
            self._chaos("retrain_after_model")
            idx = pq.semantic_index_rows(
                corpus, model, self.id_col, self.vec_col
            ).withColumn("model_v", F.lit(new_v))
            self._rewrite("retrain", pairs, corpus, idx, n_docs)
        finally:
            corpus.unpersist()
        self._models[new_v], self._trained_on[new_v] = model, n_docs
        self._model_version = new_v
        return n_docs

    def admit_batch(self, batch: DataFrame, epoch_id: int) -> int:
        n = super().admit_batch(batch, epoch_id)
        if n and self.should_retrain():
            self.retrain()
        return n

    # -- gate --------------------------------------------------------------
    def _within_batch_losers(self, rows: list) -> set:
        """Larger id of every within-batch >= threshold pair among the
        collected (id, vector) rows (driver pairwise over the
        trigger-bounded batch — the semantic twin of the text gate's
        shingle-Jaccard collapse)."""
        import numpy as np

        rows = [r for r in rows if r[0] is not None and r[1] is not None]
        if len(rows) < 2:
            return set()
        x = np.asarray([r[1] for r in rows], np.float64)
        n = np.linalg.norm(x, axis=1)
        n[n == 0] = 1.0
        sims = (x / n[:, None]) @ (x / n[:, None]).T
        ii, jj = np.where(np.triu(sims >= self.sem_threshold, k=1))
        return {max(rows[a][0], rows[b][0]) for a, b in zip(ii, jj)}

    def gate_flags(self, batch: DataFrame) -> DataFrame:
        from data_pipeline_spark.llmops import pq

        index = self.committed_index()
        if index is None or batch.isEmpty():
            return batch.select(
                F.col(self.id_col),
                F.lit(0).alias("near_dup"),
                F.lit(None).cast("double").alias("best_cos"),
                F.lit(1).alias("keep"),
            )
        return pq.semantic_gate_flags(
            index,
            batch,
            self._ensure_model(batch),
            self.id_col,
            self.vec_col,
            threshold=self.sem_threshold,
            n_probe=self.n_probe,
        )
