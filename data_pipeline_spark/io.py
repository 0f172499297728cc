"""Table loaders for the driver-generated TPC-H-ish corpus (TESTDATA.md),
and the driver-side commit log under every ledger.

The loaders are plain parquet scans — Catalyst gets predicate pushdown and
column pruning for free, which is the point: every operator downstream
declares its projection/filters and the scan narrows itself
(`PushedFilters`/`ReadSchema` in .explain).

Every ledger of the package is a ``CommitLog``: a directory of small
parquet files the DRIVER appends (tmp file + atomic rename) and reads
with pyarrow, as Structured Streaming keeps its offset and commit logs —
the consumer offsets, each topic's watermark sidecar, the streaming
publisher's and the batch sink's epochs, and the ingest ledger.  A Spark
job to read or write them would cost more than the batch they describe.
Each owner keeps its row schema and its fold (max per key, commit phases,
revocation, a compaction keep policy); the log owns the files.
``write_table`` is the one file primitive under the log; the dedup-gated
ingest sink also writes each trigger's corpus and index files through
it.  Spark-written and driver-written files mix in one directory, and
names starting with ``.`` or ``_`` (tmp files, ``_SUCCESS``, ``.crc``)
are skipped by both engines.

Every derived artifact (the catalog's ANN models, IVF layout, gate
indexes, WARC fixture and z-order copy, the executor package zip, an
ingest sink's first model) becomes visible through ``build_once``: built
once into ``<final>.tmp`` under a process mutex and published with one
rename, so it reads whole or not at all.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimensions small enough that joins against them should always broadcast.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Analyzed source frames per (SparkContext, path, file fingerprint).  A bare
# ``spark.read.parquet`` re-lists the directory and re-reads a parquet FOOTER
# for schema inference on EVERY call — ~110 ms per table on this host (r12
# gap profile), paid again for every frame a query builds over the same
# immutable file set; across the 67-query bench that footer tax alone was
# ~10 s of the 61.6 s wall.  The cached value is the analyzed DataFrame (a
# logical plan — METADATA, never row data: every action over it still scans
# the parquet inputs), keyed on the file set's (name, size, mtime_ns)
# fingerprint so any rewrite of the table invalidates it, exactly like the
# split-count memo below and Spark's own session-scoped
# filesourcePartitionFileCacheSize listing cache for catalog tables
# (guide §6: avoid repeated listings of the same table).
_TABLE_FRAMES: dict = {}


def _path_sig(path: str):
    """(size, mtime) fingerprint of a parquet file, or the sorted
    (name, size, mtime) set of a parquet directory; None when unstatable
    (missing path falls through to spark.read for its usual error)."""
    try:
        st = os.stat(path)
        if not os.path.isdir(path):
            return (st.st_size, st.st_mtime_ns)
        with os.scandir(path) as it:
            return tuple(
                sorted(
                    (e.name, s.st_size, s.st_mtime_ns)
                    for e in it
                    for s in (e.stat(),)
                )
            )
    except OSError:
        return None


def read_parquet_cached(
    spark: SparkSession, path: str, loader=None
) -> DataFrame:
    """``spark.read.parquet(path)`` with the analyzed frame memoized per
    (SparkContext, path, file fingerprint) — the footer-tax fix above,
    usable for any immutable-until-rewritten parquet layout (base tables,
    persisted index/layout sidecars).  ``loader`` overrides the read for
    sources needing post-load normalization (the events ts branch)."""
    sig = _path_sig(path)
    key = None
    if sig is not None:
        # applicationId is unique per SparkContext launch, so a cached
        # frame can never outlive its JVM context (id() could be reused)
        key = (spark.sparkContext.applicationId, path)
        hit = _TABLE_FRAMES.get(key)
        if hit is not None and hit[0] == sig:
            return hit[1]
    df = loader(spark, path) if loader else spark.read.parquet(path)
    if key is not None:
        if len(_TABLE_FRAMES) > 512:  # bound growth across many sessions
            _TABLE_FRAMES.clear()
        _TABLE_FRAMES[key] = (sig, df)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    return read_parquet_cached(
        spark, path, loader=_load_events if name == "events" else None
    )


def _load_events(spark: SparkSession, path: str) -> DataFrame:
    """Load events, normalising `ts` to session-tz TimestampType.

    The physical encoding of `ts` has varied across testdata generations:
    parquet TIMESTAMP(NANOS) (readable only as long via the legacy
    nanosAsLong flag) and plain timestamp[us] (read as TIMESTAMP_NTZ).
    A loader hard-coded to one encoding breaks the moment the data is
    regenerated, so branch on the dtype Spark actually loaded.
    """
    from pyspark.sql import functions as F

    try:
        df = spark.read.parquet(path)
    except Exception:
        # TIMESTAMP(NANOS) files fail schema conversion without the legacy
        # flag. The flag is runtime-settable, additive (it only changes
        # behavior for NANOS fields, which otherwise error), and must stay
        # set for the lifetime of the lazy scan — so it is intentionally
        # not restored after the read.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)

    ts_type = dict(df.dtypes).get("ts", "")
    if ts_type in ("bigint", "long"):
        # nanos-as-long: exact integer division to micros (double division
        # would lose precision above 2^53 ns); truncation matches DuckDB.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type.startswith("timestamp_ntz"):
        # timestamp[us] reads as TIMESTAMP_NTZ; downstream code (and the
        # reference semantics) want epoch-convertible TimestampType, with
        # the stored wall time read as a UTC instant. Shift the NTZ wall
        # time from UTC into the session tz before the cast (which
        # interprets NTZ in session tz), so the instant is identical for
        # ANY session timezone — no session-conf mutation as a load side
        # effect.  The tz is captured as a LITERAL at build time: the cast
        # stamps its zone at ANALYSIS while current_timezone() folds at
        # EXECUTION, so the current_timezone() form only cancels when the
        # frame is analyzed and executed under the same session tz — reuse
        # through read_parquet_cached across a tz change would shift every
        # instant (caught by test_events_loader_handles_both_ts_encodings).
        # With both sides pinned to the build tz the plan is tz-invariant.
        tz = spark.conf.get("spark.sql.session.timeZone")
        df = df.withColumn(
            "ts",
            F.expr(f"cast(convert_timezone('UTC', '{tz}', ts) as timestamp)"),
        )
    return df


# Scan split counts per (SparkContext, source key, parallelism): the
# conditional in spread_scan needs the planned split count, and deriving it
# via df.rdd costs ~130 ms of driver plan-conversion per call (r12
# measurement) — a real per-trigger tax when a query builds several frames.
# The count is pure PLANNING metadata (a function of file sizes and
# maxPartitionBytes, same inputs Spark's own InMemoryFileIndex caches per
# session), never query data, so a session-scoped memo is sound; the bench
# corpora are immutable per the driver contract, and a new session (or a
# different core count) re-derives it.
_SPREAD_COUNTS: dict = {}


def spread_scan(
    df: DataFrame, spark: SparkSession, cache_key: str | None = None
) -> DataFrame:
    """Spread a narrow scan across the cluster ONLY when it needs it.

    Compute-dense pipelines (tokenize/shingle HOFs, Arrow codec UDFs,
    vector math) downstream of a small-file scan otherwise run in as few
    tasks as the scan has splits — at the bench SFs every table is one
    parquet file, so the whole pipeline lands on ONE core of 32 (measured
    r12: envelope_roundtrip spent 2.1 s in a single task).

    The r9-r11 form repartitioned UNCONDITIONALLY, which is correct
    locally but pays a full round-robin shuffle of the scanned bytes at
    any scale — at 100 TB the scan already arrives in thousands of
    splits and the shuffle is pure waste (guide §2.4: remove shuffles
    outright).  This helper repartitions only when the scan's actual
    split count is below the cluster's core count, so the local plans
    keep their spread while the at-scale plan loses the exchange.  The
    split count comes from the planned RDD (metadata only, no job).
    """
    target = spark.sparkContext.defaultParallelism
    memo_key = None
    n = None
    if cache_key is not None:
        memo_key = (id(spark.sparkContext), cache_key, target)
        n = _SPREAD_COUNTS.get(memo_key)
    if n is None:
        n = df.rdd.getNumPartitions()
        if memo_key is not None:
            _SPREAD_COUNTS[memo_key] = n
    if n >= target:
        return df
    return df.repartition(target)


def load_spread(
    spark: SparkSession, sf_dir: str, name: str, shared: bool = False
) -> DataFrame:
    """``load_table`` + ``spread_scan`` with the split count memoized on
    the table's path — the standard loader for compute-dense pipelines.

    ``shared=True`` is for queries whose plan reads the spread frame
    through SEVERAL branches (Spark has no CSE, so each branch otherwise
    re-scans the file and re-pays the round-robin text exchange — the
    r13 gate profile showed THREE full-text exchanges of documents in
    one plan).  When the spread repartition actually fired, the frame is
    lazily localCheckpointed so all branches of every action over the
    SAME returned frame read one materialization (one scan + one
    exchange, then local block reads).  At production scale the
    repartition does not fire and ``shared`` is inert — no checkpoint
    ever interposes on a large scan, each branch keeps its own
    pushed-down parquet read.  The checkpoint is built per returned
    frame (per query construction), never memoized across calls: every
    bench rep still computes from the parquet inputs."""
    df = load_table(spark, sf_dir, name)
    out = spread_scan(
        df, spark, cache_key=os.path.join(sf_dir, f"{name}.parquet")
    )
    if shared and out is not df:
        out = out.localCheckpoint(eager=False)
    return out


# Footer row-count memo per (path, fingerprint) — see parquet_num_rows.
_NUM_ROWS: dict = {}
# above this many files, reading every footer from the driver costs about
# what the scan it replaces does; the footer functions return None instead
_FOOTER_FILE_CAP = 256


def _footer_files(path: str):
    """(parquet files, fingerprint) of a parquet file or layout.
    Directories are listed recursively (hive-partitioned layouts); the
    fingerprint is every file's (path, size,
    mtime), so an append anywhere in the tree invalidates the memo.  None
    when the path is missing, holds no parquet file, or holds more than
    ``_FOOTER_FILE_CAP`` of them."""
    try:
        if not os.path.isdir(path):
            st = os.stat(path)
            return [path], (st.st_size, st.st_mtime_ns)
        found = []
        dirs = [path]
        while dirs:
            with os.scandir(dirs.pop()) as it:
                for e in it:
                    # Spark's listing rule: skip ``.`` names, and ``_``
                    # names other than partition directories (``_col=v``)
                    if e.name.startswith(".") or (
                        e.name.startswith("_") and "=" not in e.name
                    ):
                        continue
                    if e.is_dir():
                        dirs.append(e.path)
                    elif e.name.endswith(".parquet"):
                        st = e.stat()
                        found.append((e.path, st.st_size, st.st_mtime_ns))
                        if len(found) > _FOOTER_FILE_CAP:
                            return None
    except OSError:
        return None
    if not found:
        return None
    found.sort()
    return [f for f, _, _ in found], tuple(found)


def _memo_footer_total(key, path: str, total_of):
    """``total_of(files)`` for the parquet files under ``path``, memoized
    on their fingerprint; None when ``_footer_files`` or ``total_of``
    gives None or a footer cannot be read."""
    listed = _footer_files(path)
    if listed is None:
        return None
    files, sig = listed
    hit = _NUM_ROWS.get(key)
    if hit is not None and hit[0] == sig:
        return hit[1]
    try:
        total = total_of(files)
    except Exception:
        return None
    if total is None:
        return None
    if len(_NUM_ROWS) > 512:
        _NUM_ROWS.clear()
    _NUM_ROWS[key] = (sig, total)
    return total


def parquet_num_rows(path: str) -> int | None:
    """EXACT row count of a parquet file/dir from its FOOTER metadata —
    driver-side metadata I/O, no Spark job.  ``count()`` on an unfiltered
    parquet scan computes the same number the slow way: a full scan stage
    plus a job's fixed overhead (~0.1-0.3 s at sf0.1), for a value every
    footer already stores.  This is the same metadata Spark's own
    statistics use.  Directories are listed recursively, so partitioned
    layouts count too.  None when the path is missing, holds no parquet
    files or more than ``_FOOTER_FILE_CAP`` of them (callers fall back to
    a real count).  Memoized on the file-set fingerprint so repeated
    probes (gate triggers, bench reps) pay one footer read per layout
    version."""
    import pyarrow.parquet as pq

    return _memo_footer_total(
        path,
        path,
        lambda files: sum(pq.ParquetFile(f).metadata.num_rows for f in files),
    )


def parquet_nonnull_rows(path: str, col: str) -> int | None:
    """EXACT count of non-NULL values of ``col`` from parquet FOOTER
    statistics (num_rows minus the column's null_count per row group) —
    driver-side metadata, no Spark job; same listing as
    ``parquet_num_rows``.  None also when a file lacks the column (a
    partition column lives in directory names, not footers) or any row
    group lacks a null_count statistic (callers fall back to a real
    count)."""
    import pyarrow.parquet as pq

    def nonnull(files):
        total = 0
        for f in files:
            md = pq.ParquetFile(f).metadata
            names = [md.schema.column(i).path for i in range(md.num_columns)]
            if col not in names:
                return None
            ci = names.index(col)
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                st = g.column(ci).statistics
                if st is None or not st.has_null_count:
                    return None
                total += g.num_rows - st.null_count
        return total

    return _memo_footer_total((path, col), path, nonnull)


def write_table(path: str, table) -> str:
    """Write the pyarrow ``table`` into directory ``path`` as ONE parquet
    file, from the driver; returns the file name.  tmp + atomic rename: a
    reader sees the file whole or not at all, never torn, and a crash
    leaves at most a dot-prefixed tmp file, which every reader skips.  The
    table's schema metadata, if any, lands in the footer's key-value
    metadata."""
    import uuid

    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(path, f".{name}.tmp")
    # no Arrow schema blob in the footer (Spark reads the parquet schema,
    # pyarrow readers pass an explicit one, and Spark-written files carry
    # none either: a one-row file is ~30% smaller without it) unless the
    # table carries schema metadata, which pyarrow writes only beside it
    pq.write_table(table, tmp, store_schema=bool(table.schema.metadata))
    os.rename(tmp, os.path.join(path, name))
    return name


def write_rows(path: str, schema, rows: list[tuple]) -> str:
    """``write_table`` of ``rows`` (tuples in ``schema``'s field order)."""
    import pyarrow as pa

    return write_table(
        path,
        pa.Table.from_pylist(
            [dict(zip(schema.names, r)) for r in rows], schema=schema
        ),
    )


def cache_path(kind: str, sources, *extra, name: str, root: str | None = None) -> str:
    """Where ``build_once`` keeps the artifact ``name`` of ``kind`` built
    from the files ``sources`` and the values ``extra``:
    ``<root>/<key>/<name>``, ``root`` by default
    ``<tempdir>/spark_graft_<kind>``, the key an md5 of each source's
    (path, size, mtime) and of ``extra``, so a rewritten source or a
    changed argument names a new artifact."""
    import hashlib
    import tempfile

    ident = [kind]
    for p in sources:
        st = os.stat(p)
        ident += [p, st.st_size, st.st_mtime_ns]
    key = hashlib.md5("|".join(map(str, ident + list(extra))).encode())
    if root is None:
        root = os.path.join(tempfile.gettempdir(), f"spark_graft_{kind}")
    return os.path.join(root, key.hexdigest()[:12], name)


def build_once(final: str, build) -> str:
    """Return ``final``, calling ``build(stage)`` first if it does not
    exist yet: the one way a derived artifact (a file or a directory)
    becomes visible.  A warm call is one ``exists`` check.  A cold call
    takes ``coordination.process_mutex`` on the parent directory (other
    processes and threads wait, then find it built), removes any
    ``<final>.tmp`` an earlier build left when it crashed, lets ``build``
    write that path, and publishes it with one rename.  A reader sees the
    artifact whole or not at all, and a build that raises publishes
    nothing."""
    if not os.path.exists(final):
        import shutil

        from data_pipeline_spark.coordination import process_mutex

        with process_mutex(os.path.dirname(final)):
            if not os.path.exists(final):
                stage = f"{final}.tmp"
                if os.path.isdir(stage):
                    shutil.rmtree(stage)
                elif os.path.lexists(stage):
                    os.remove(stage)
                build(stage)
                os.rename(stage, final)
    return final


class CommitLog:
    """An append-only log of small parquet rows in directory ``path``,
    read and written by the DRIVER (see the module docstring).  Its owner
    keeps only the row ``schema`` (a pyarrow schema) and its fold.

    - ``append`` writes one file (``write_rows``: tmp + atomic rename),
      into ``path`` or, for a log with a ``part_col``, into the hive
      sub-directory ``<part_col>=<part>``;
    - ``rows`` reads every row with the explicit schema, so files the
      Spark writer left (with ``_SUCCESS``/``.crc`` siblings) and files
      older than a column read too (the column as null); a missing
      directory reads as empty;
    - ``compact(keep)`` rewrites a flat log to the rows ``keep`` returns.

    A compaction lands its file before it removes any, and removes only
    files it listed before reading, so a fold over ``rows`` is the same
    before, during and after it: a reader that overlaps it lists again,
    and a crash at any point leaves the fold unchanged."""

    def __init__(self, path: str, schema, part_col: str | None = None):
        self.path = path
        self.schema = schema
        self.part_col = part_col

    def append(self, rows: list[tuple], part=None, columns=None) -> str:
        """One new file of ``rows`` (tuples over ``columns``, by default
        every column but ``part_col``), into the ``part`` sub-directory
        when given; returns the file name."""
        import pyarrow as pa

        names = columns or [n for n in self.schema.names if n != self.part_col]
        path = self.path
        if part is not None:
            path = os.path.join(path, f"{self.part_col}={part}")
        return write_rows(
            path, pa.schema([self.schema.field(n) for n in names]), rows
        )

    def rows(self, columns=None, where=None) -> list[tuple]:
        """The log's rows as tuples over ``columns`` (default: all),
        filtered by the pyarrow expression ``where``.  A file removed
        between the listing and the read (a compaction's) makes the read
        list again: the compacted file landed before the removal, so the
        new listing folds the same.  A listing that fails twice alike
        raises."""
        import pyarrow as pa
        import pyarrow.dataset as pads

        part = None
        if self.part_col is not None:
            part = pads.partitioning(
                pa.schema([self.schema.field(self.part_col)]), flavor="hive"
            )
        seen: object = ()  # no failed listing yet
        while True:
            files = None
            try:
                ds = pads.dataset(
                    self.path, format="parquet", schema=self.schema, partitioning=part
                )
                files = ds.files
                table = ds.to_table(columns=columns, filter=where)
                return list(zip(*(c.to_pylist() for c in table.columns)))
            except FileNotFoundError:
                if not os.path.isdir(self.path):
                    return []
                if files == seen:
                    raise
                seen = files

    def compact(self, keep) -> None:
        """Rewrite a flat log to ``keep(rows)``: list its files, read
        them, land the kept rows as one file, then remove the listed files
        (Spark's ``_SUCCESS``/``.crc`` siblings too, never a tmp file in
        flight).  A listed file that a concurrent compaction already
        removed is gone, not an error."""
        try:
            listed = [
                e.path
                for e in os.scandir(self.path)
                if not e.name.endswith(".tmp") and e.is_file()
            ]
        except FileNotFoundError:
            return
        self.append(keep(self.rows()))
        for path in listed:
            try:
                os.remove(path)
            except FileNotFoundError:
                pass


def max_per_key(pairs) -> dict:
    """{key: max value} over (key, value) pairs, skipping null values."""
    out: dict = {}
    for k, v in pairs:
        if v is not None and (k not in out or v > out[k]):
            out[k] = v
    return out


def table_rows(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Row count of a base table — parquet footer metadata when possible
    (no job), ``count()`` otherwise."""
    n = parquet_num_rows(os.path.join(sf_dir, f"{name}.parquet"))
    if n is not None:
        return n
    return load_table(spark, sf_dir, name).count()


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every corpus table as a temp view (for spark.sql paths)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
