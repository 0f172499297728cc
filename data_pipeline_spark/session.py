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
"""

from __future__ import annotations

import os

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
    ON THE EXECUTOR.  Cached per source-mtime fingerprint; staged +
    atomically renamed so concurrent sessions never ship a half-written
    zip."""
    import hashlib
    import tempfile
    import zipfile
    from pathlib import Path

    pkg = Path(__file__).resolve().parent
    root = pkg.parent
    srcs = sorted(pkg.rglob("*.py"))
    key = hashlib.md5(
        "|".join(
            f"{p.relative_to(root)}:{p.stat().st_mtime_ns}" for p in srcs
        ).encode()
    ).hexdigest()[:12]
    out = Path(tempfile.gettempdir()) / "spark_graft_pyfiles"
    out.mkdir(parents=True, exist_ok=True)
    zpath = out / f"data_pipeline_spark_{key}.zip"
    if not zpath.exists():
        tmp = out / f".stage.{os.getpid()}.zip"
        with zipfile.ZipFile(tmp, "w") as z:
            for p in srcs:
                z.write(p, str(p.relative_to(root)))
        os.replace(tmp, zpath)
    return str(zpath)


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
        # governs), so the setting is inert there — env-overridable for
        # deployments that want the stock floor back.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION", "64k"),
        )
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
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/dps_warehouse"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    if resolved_master.split("[")[0] == "local":
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
            .config(
                "spark.executor.memoryOverhead",
                os.environ.get("SPARK_GRAFT_EXECUTOR_OVERHEAD", "4g"),
            )
            .config("spark.driver.host", "127.0.0.1")
            # ship the package: executor python workers do NOT share the
            # driver's sys.path outside local mode (see package_zip)
            .config("spark.submit.pyFiles", package_zip())
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
