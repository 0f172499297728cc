"""SparkSession factory tuned for the engine.

Local testing runs on ``local[N]`` but every setting is chosen to survive a
multi-executor 100 TB deployment: AQE handles skew and post-shuffle
coalescing at any scale, Arrow keeps the Python boundary vectorized, and the
UTC session timezone makes event-time arithmetic deterministic across
clusters (the reference stores event time as epoch seconds —
data_pipeline/envelope.py envelope `timestamp`; we normalize to UTC
TimestampType at the boundary).

Local masters start their Python workers from ``_pyworker`` instead of
``pyspark.daemon``.  Every task on a reused worker runs
``importlib.invalidate_caches()`` (``pyspark.worker_util.
setup_spark_files``), and under CPython 3.11 that makes every zipimporter
on the worker path re-parse its archive's central directory: 13 importers
over pyspark.zip (1,328 entries), 2 over the py4j zip and 2 over the
spark-core jar (5,359 entries) — 0.25-0.35 s per task on a 4-core host,
more than the task itself for a 5k-row CDC batch.  ``_pyworker`` keeps
those indexes, which cannot go stale: the archives do not change while a
worker lives, and a zip added later with ``addPyFile`` is a new path with
its own importer.  ``spark://`` masters keep the stock daemon: there the
package zip reaches ``sys.path`` only per task, after the daemon has
started, so the daemon module could not be imported from it.

Sessions also turn off PySpark's DataFrame call-site capture
(``spark.python.sql.dataFrameDebugging.enabled=false``).  With it on,
every ``pyspark.sql.functions`` call and every Column method walks the
Python stack and adds five py4j round trips (active session, origin class
lookup, a conf read, origin set and clear) to record where it was called:
``F.col("a")`` costs 13 py4j calls instead of 3, and
``(F.col("a") + F.lit(1)).alias("b")`` 38 instead of 8.  Plans are built
on the driver for every query, CDC batch and ingest trigger, so this was
about half of the engine's py4j traffic: the star connected-components
query makes about 1600 py4j calls instead of about 3200.  Results, plans
and Spark jobs do not change.  Errors keep their error class and message,
but a runtime error's ``== DataFrame ==`` block no longer names the Python
line that built the failing expression (it names a JVM frame instead);
``get_spark``'s docstring says how to get the line back.

Sessions also keep up to 1000 generated classes in Spark's whole-stage
codegen cache (``spark.sql.codegen.cache.maxEntries``, Spark's default
100).  The cache is an LRU shared by every query in the JVM, and a
working set larger than it gets no hits when it cycles: one round of the
``llm_dedup_ops`` benchmark (an ingest trigger and five LLM catalog
queries) generates about 224 distinct classes, so with 100 entries every
round compiled all of them again, at about 12 ms each on a 4-core host
(about 2.6 s of a 10-12 s round).  With 1000 entries a warm round
compiles 8-34.

On a ``local`` master the driver JVM starts from a class-data archive
(JDK AppCDS): ``-XX:SharedArchiveFile=<archive>`` in
``spark.driver.defaultJavaOptions``, which Spark puts before the caller's
``spark.driver.extraJavaOptions``.  The archive holds the Spark classes a
session loads and verifies on every start; mapping them cut ``get_spark``
from 6.2-6.9 s to 3.0-3.2 s and the first job from 2.7-3.1 s to 1.1-1.4 s
on a 4-core host.  It is a dynamic archive of about 170 MB,
built once per JDK and Spark install (``io.build_once``, keyed by the
identity of the JDK's ``lib/modules`` and of every jar under
``$SPARK_HOME/jars``) by a training child, ``python -m
data_pipeline_spark.session <stage>``, that runs one fixed warm-up
session under ``-XX:ArchiveClassesAtExit`` and waits for its JVM to exit.
It lives in ``$XDG_CACHE_HOME/data_pipeline_spark/cds/`` (``~/.cache``
when unset), not in the temp dir, which a benchmark run deletes, and a
cold build removes every other key there, so a host keeps one archive.
The JVM neither dumps nor maps an archive while a non-empty directory
is on its classpath, and Spark's launcher puts the conf dir
first, so the archive engages only when the effective conf dir
(``SPARK_CONF_DIR``, else ``$SPARK_HOME/conf``) holds nothing but
``*.template`` files; that one launch then points ``SPARK_CONF_DIR`` at
an empty directory next to the archive.  The session starts exactly as
without it on a ``spark://`` master (executors start their own JVMs),
with a real file in the conf dir, when the caller sets
``spark.driver.defaultJavaOptions`` through ``extra_conf`` (the opt-out),
when the cache cannot be written, when training left no archive (the
build then publishes an empty marker, so later starts do not train
again; remove the ``cds`` directory to retry), and when the archive's
size differs from the one recorded when it was built (a truncated
archive crashes the JDK 17 JVM with SIGBUS as it maps it).  A stale or
foreign archive costs at most one JVM warning line, and the JVM loads
its classes as usual.
"""

from __future__ import annotations

import glob
import os
import shutil
import subprocess
import sys

from pyspark import SparkContext
from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def package_zip() -> str:
    """Zip the data_pipeline_spark package for shipment to executors via
    ``spark.submit.pyFiles`` — the standard deployment unit on a real
    cluster.  local[N] hides this completely (executor python workers
    inherit the driver's sys.path); the r11 standalone-cluster sweep
    failed 18 queries with ``ModuleNotFoundError: data_pipeline_spark``
    because any UDF that imports the package at call time (warc decode,
    multimodal codecs, envelope pack, sketch mergers) resolves the import
    ON THE EXECUTOR.  Built once per source-file identity
    (``io.build_once``), so concurrent sessions never ship a half-written
    zip."""
    import zipfile
    from pathlib import Path

    from data_pipeline_spark.io import build_once, cache_path

    pkg = Path(__file__).resolve().parent
    srcs = sorted(pkg.rglob("*.py"))

    def build(stage):
        with zipfile.ZipFile(stage, "w") as z:
            for p in srcs:
                z.write(p, str(p.relative_to(pkg.parent)))

    final = cache_path(
        "pyfiles", map(str, srcs), name="data_pipeline_spark.zip"
    )
    return build_once(final, build)


def class_data_archive() -> tuple[str, str] | None:
    """``(archive, empty conf dir)`` for a local driver JVM, training the
    archive first when this JDK and Spark install has none; ``None`` when
    it cannot engage (see the module docstring)."""
    from pyspark.find_spark_home import _find_spark_home

    from data_pipeline_spark.io import build_once, cache_path

    home = _find_spark_home()
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(home, "conf")
    if os.path.isdir(conf) and any(
        not n.endswith(".template") for n in os.listdir(conf)
    ):
        return None
    # the java spark-class runs: $JAVA_HOME/bin/java, else the one on PATH
    java = os.environ.get("JAVA_HOME")
    java = os.path.join(java, "bin", "java") if java else shutil.which("java")
    if not java:
        return None
    modules = os.path.join(os.path.realpath(java), "..", "..", "lib", "modules")
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    cache = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    try:
        final = cache_path(
            "cds", [os.path.normpath(modules), *jars], name="driver.jsa",
            root=os.path.join(cache, "data_pipeline_spark", "cds"),
        )
        empty = os.path.join(os.path.dirname(final), "conf")
        os.makedirs(empty, exist_ok=True)

        def build(stage):
            _train_archive(stage, empty)
            with open(final + ".size", "w") as fh:
                fh.write(str(os.path.getsize(stage)))

        build_once(final, build)
        size = os.path.getsize(final)
        with open(final + ".size") as fh:
            # 0 is the no-archive marker; a truncated archive would crash
            # the JVM (SIGBUS) where a foreign one only costs a warning
            if size == 0 or int(fh.read()) != size:
                return None
    except (OSError, ValueError):  # no JDK, an unwritable cache, a damaged key
        return None
    return final, empty


def _train_archive(stage: str, conf_dir: str) -> None:
    """``build_once``'s build: remove every other install's archive, run
    the training child, and leave an empty marker at ``stage`` when it
    produced no archive."""
    key_dir = os.path.dirname(stage)
    root = os.path.dirname(key_dir)
    for name in os.listdir(root):
        if name != os.path.basename(key_dir):
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)
    with open(os.path.join(key_dir, "train.log"), "wb") as log:
        try:
            done = subprocess.run(
                [sys.executable, "-m", __name__, stage],
                env=dict(os.environ, SPARK_CONF_DIR=conf_dir),
                stdin=subprocess.DEVNULL, stdout=log, stderr=subprocess.STDOUT,
                timeout=600,
            ).returncode == 0
        except subprocess.TimeoutExpired:
            done = False
    if not done or not os.path.isfile(stage):
        with open(stage, "wb"):
            pass


def _train(stage: str) -> None:
    """The training child: one fixed warm-up session whose JVM writes the
    classes it loaded to ``stage`` when it exits."""
    import tempfile

    import pandas as pd
    from pyspark.sql import functions as F

    spark = get_spark(
        "cds-training",
        master="local[2]",
        shuffle_partitions=2,
        extra_conf={
            "spark.driver.defaultJavaOptions": f"-XX:ArchiveClassesAtExit={stage}",
            "spark.driver.memory": "1g",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    # SQL text loads the parser, which F.col alone never touches
    df = spark.range(0, 10000, 1, 2).selectExpr("id % 7 AS k", "id AS v")
    assert df.count() == 10000
    agg = df.groupBy("k").agg(F.sum("v").alias("s"))
    assert agg.join(df, "k").count() == 10000
    with tempfile.TemporaryDirectory() as tmp:
        agg.selectExpr("k", "s", "rank() OVER (ORDER BY s) AS n").write.parquet(
            os.path.join(tmp, "t")
        )
        assert len(spark.read.parquet(os.path.join(tmp, "t")).collect()) == 7
    pdf = spark.createDataFrame(pd.DataFrame({"k": range(7)})).toPandas()
    assert len(pdf) == 7
    assert df.mapInPandas(lambda it: it, df.schema).count() == 10000
    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits on EOF, dumping the archive
    sys.exit(gateway.proc.wait(timeout=300))


def get_spark(
    app_name: str = "data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Defaults are scale-oriented, not toy-oriented:

    - AQE on (+ skew join handling): at 100 TB the runtime re-plan is what
      keeps one hot key or a mis-estimated shuffle from sinking the job.
    - ``autoBroadcastJoinThreshold`` raised to 64 MiB: the registry/dimension
      tables (topics, schemas, nation, region, ...) should always broadcast.
    - Arrow execution for the few pandas-UDF boundaries (Avro codec,
      multimodal decode).
    - UTC session tz so epoch<->timestamp round-trips match the reference's
      epoch-seconds event time.
    - DataFrame call-site capture off (see the module docstring).  To get
      the Python call site back into error messages, pass
      ``extra_conf={"spark.python.sql.dataFrameDebugging.enabled":
      "true"}``.  It has to be set here: PySpark reads the flag once per
      process, at the first Column call made with an active session, and
      caches it, so setting it on a running session does nothing.
    - A codegen cache of 1000 generated classes (see the module
      docstring), so repeated queries and micro-batches reuse their
      compiled code.  It is a static conf: only the builder can set it.
    - On a ``local`` master, a driver JVM started from the class-data
      archive (see the module docstring).  Setting
      ``spark.driver.defaultJavaOptions`` in ``extra_conf`` opts out.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # SPARK_GRAFT_MASTER lets every entry point (bench, tests, rehearsal,
    # verify tools) run unchanged against a real multi-process standalone
    # cluster (tools_cluster.py) instead of local[N] — the r10 verdict's
    # "every number is single-JVM" gap.  An explicit ``master`` argument
    # still wins.
    resolved_master = (
        master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cpus}]"
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(resolved_master)
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's coalescing floor is a BYTE proxy for task cost; the
        # engine's post-shuffle stages are frequently compute-dense (pair
        # expansion over posting lists, quantized-cosine verification,
        # shingle intersection) where 1 MB of input is seconds of CPU —
        # the default 1m floor collapsed the LSH verify stage to 6 tasks
        # on 32 cores (r12 profile).  64k keeps small-byte/high-CPU
        # stages near core-count parallelism; at production scale every
        # healthy partition is far above ANY floor (the advisory size
        # governs), so the setting is inert there (``extra_conf`` sets
        # the stock floor back).
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.compression.codec", "snappy")
        # events.parquet stores TIMESTAMP(NANOS); Spark's reader rejects it.
        # Read as long and convert (io.load_table) via exact integer division.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.warehouse.dir", "/tmp/dps_warehouse")
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    local = resolved_master.split("[")[0] == "local"
    if local:
        # local workers inherit the driver's PYTHONPATH, which carries the
        # package parent (__init__.py)
        builder = builder.config(
            "spark.python.daemon.module", "data_pipeline_spark._pyworker"
        )
    if resolved_master.startswith("spark://"):
        # standalone-cluster executor shape (overridable via extra_conf):
        # one executor per worker, python workers ride the executor's
        # memory budget via memoryOverhead
        builder = (
            builder.config(
                "spark.executor.memory",
                os.environ.get("SPARK_GRAFT_EXECUTOR_MEM", "12g"),
            )
            .config("spark.executor.memoryOverhead", "4g")
            .config("spark.driver.host", "127.0.0.1")
            # ship the package: executor python workers do NOT share the
            # driver's sys.path outside local mode (see package_zip)
            .config("spark.submit.pyFiles", package_zip())
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    cds = None
    if (
        local
        and "spark.driver.defaultJavaOptions" not in (extra_conf or {})
        and SparkContext._gateway is None  # this call launches the JVM
        and "PYSPARK_GATEWAY_PORT" not in os.environ
    ):
        cds = class_data_archive()
    if cds is None:
        return builder.getOrCreate()
    archive, conf_dir = cds
    builder = builder.config(
        "spark.driver.defaultJavaOptions", f"-XX:SharedArchiveFile={archive}"
    )
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        return builder.getOrCreate()
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved


if __name__ == "__main__":
    _train(sys.argv[1])
