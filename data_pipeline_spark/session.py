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
