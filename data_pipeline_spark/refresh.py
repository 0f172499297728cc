"""Full refresh (bootstrap) subsystem.

Re-expresses tools/copy_table_to_blackhole_table.py + refresh_manager.py
Spark-first: the reference scans a MySQL table in pk-range batches and
INSERTs into a BLACKHOLE clone so replication re-emits rows as refresh
messages.  Spark needs no blackhole trick — a partitioned scan feeds
RefreshMessages straight into the topic:

- pk-range batching (S6/O1): value-based ranges from MIN/MAX(pk) — exactly
  the `WHERE pk > lo AND pk <= hi ORDER BY pk` loop (:237-257,462-481), but
  all ranges scan in parallel (JDBC partitionColumn/lowerBound/upperBound at
  deploy; here parquet range filters);
- WHERE pass-through filter (P6, :128-136);
- throttling (T9): rows/s caps become `maxOffsetsPerTrigger`-style batch
  sizing — expressed as batch_size / rows_per_second scheduling metadata;
- the manager's priority queue (O2, helpers/priority_refresh_queue.py) and
  status machine (models/refresh.py:73-79) as a catalog table + window rank.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_spark.operators.aggregates import scan_stats
from data_pipeline_spark.operators.ordering import ordered_range_batches, top_k_per_key
from data_pipeline_spark.producer import Producer

REFRESH_STATUSES = ("NOT_STARTED", "IN_PROGRESS", "PAUSED", "SUCCESS", "FAILED")


@dataclass
class RefreshJob:
    """A Refresh registry row (models/refresh.py:45-60)."""

    refresh_id: int
    source: str
    namespace: str
    schema_id: int
    batch_size: int = 500
    priority: int = 50
    filter_condition: str | None = None
    avg_rows_per_second_cap: int | None = None
    status: str = "NOT_STARTED"
    offset: int = 0  # resume position (pk batches completed)
    created_at: int = field(default_factory=lambda: int(time.time()))
    last_heartbeat: int | None = None  # worker liveness (T11)


class FullRefreshRunner:
    """Executes one refresh: batched scan -> RefreshMessages -> topic."""

    def __init__(self, producer: Producer):
        self.producer = producer

    def run(
        self,
        table: DataFrame,
        pk: str,
        job: RefreshJob,
        num_partitions: int = 4,
    ) -> int:
        """Process the whole table as `refresh` messages; returns row count.

        The batch loop of the reference collapses into ONE distributed pass:
        batch ids are value-based pk ranges (deterministic resume points),
        the WHERE filter is pushed into the scan, and per-range parallelism
        replaces the serial LOCK/INSERT/UNLOCK loop.  ``job.offset`` batches
        are skipped on resume (T10 pause/resume semantics).
        """
        df = table
        if job.filter_condition:
            df = df.filter(F.expr(job.filter_condition))  # P6 pass-through
        df = ordered_range_batches(df, pk, job.batch_size)
        if job.offset:
            df = df.filter(F.col("batch_id") >= job.offset)
        df = df.drop("batch_id")
        stats = self.producer.publish(
            df,
            job.schema_id,
            message_type="refresh",
            num_partitions=num_partitions,
            order_by=pk,
        )
        return stats.message_count


class FullRefreshManager:
    """Priority scheduling over a refresh-jobs catalog (refresh_manager.py).

    The queue discipline (priority_refresh_queue.py:29-116): one job per
    source at a time, ordered by (priority desc, paused-before-new,
    created_at asc).  Throughput allocation divides the total rows/s cap
    over running sources (:331-365).
    """

    def __init__(self, spark: SparkSession, total_rows_per_second_cap: int = 1000):
        self.spark = spark
        self.total_cap = total_rows_per_second_cap
        self.jobs: dict[int, RefreshJob] = {}
        self._next_id = 1

    def request(self, **kwargs) -> RefreshJob:
        job = RefreshJob(refresh_id=self._next_id, **kwargs)
        self.jobs[job.refresh_id] = job
        self._next_id += 1
        return job

    def jobs_df(self) -> DataFrame:
        rows = [
            (
                j.refresh_id,
                j.source,
                j.namespace,
                j.schema_id,
                j.priority,
                j.status,
                j.created_at,
            )
            for j in self.jobs.values()
        ]
        return self.spark.createDataFrame(
            rows,
            "refresh_id INT, source STRING, namespace STRING, schema_id INT, "
            "priority INT, status STRING, created_at LONG",
        )

    def next_per_source(self) -> DataFrame:
        """Head of the per-source priority queue (O2): PAUSED beats new at
        equal priority (status_rank), then priority desc, created_at asc."""
        runnable = self.jobs_df().filter(
            F.col("status").isin("NOT_STARTED", "PAUSED")
        )
        status_rank = F.when(F.col("status") == "PAUSED", 0).otherwise(1)
        return top_k_per_key(
            runnable.withColumn("status_rank", status_rank),
            keys=["source"],
            order_by=[
                F.col("priority").desc(),
                F.col("status_rank").asc(),
                F.col("created_at").asc(),
                F.col("refresh_id").asc(),
            ],
            k=1,
        ).drop("status_rank")

    def allocate_throughput(self, running_sources: list[str]) -> dict[str, int]:
        """Split the total rows/s cap across running sources
        (refresh_manager.py:360-365)."""
        if not running_sources:
            return {}
        share = self.total_cap // len(running_sources)
        return {s: share for s in running_sources}

    def set_status(self, refresh_id: int, status: str, offset: int | None = None):
        if status not in REFRESH_STATUSES:
            raise ValueError(status)
        job = self.jobs[refresh_id]
        job.status = status
        if status == "IN_PROGRESS":
            job.last_heartbeat = int(time.time())
        if offset is not None:
            job.offset = offset

    def heartbeat(self, refresh_id: int, now: int | None = None) -> None:
        """Worker liveness ping; workers call this per completed batch."""
        self.jobs[refresh_id].last_heartbeat = (
            int(time.time()) if now is None else now
        )

    def set_zombie_refreshes_to_fail(
        self, lease_seconds: int = 60, now: int | None = None
    ) -> list[int]:
        """Fail IN_PROGRESS jobs whose worker lease expired (T11).

        The reference polls worker PIDs for STATUS_ZOMBIE
        (refresh_manager.py:273-304); on a cluster there is no local PID
        to poll, so liveness is a heartbeat lease — the same contract ZK
        ephemeral sessions give the reference's coordination.  A job whose
        worker stopped heartbeating for ``lease_seconds`` is marked FAILED
        (manual update, exactly like the reference's 'must update manually,
        the process may not handle the signal') so the priority queue can
        reschedule its source.  Returns the failed refresh ids.
        """
        now = int(time.time()) if now is None else now
        failed = []
        for job in self.jobs.values():
            if job.status != "IN_PROGRESS":
                continue
            last = job.last_heartbeat if job.last_heartbeat is not None else 0
            if now - last > lease_seconds:
                job.status = "FAILED"
                failed.append(job.refresh_id)
        return failed


class FullRefreshRequester:
    """Public request API with pre-enqueue validation
    (tools/refresh_requester.py:116-186): option bounds are checked and the
    (namespace, source) pair must resolve to a registered source BEFORE a
    Refresh row is created — a typo'd source fails at request time, not as
    a dead job in the queue."""

    def __init__(self, manager: FullRefreshManager, registry):
        self.manager = manager
        self.registry = registry

    def request(
        self,
        namespace: str,
        source: str,
        batch_size: int = 500,
        priority: int = 50,
        filter_condition: str | None = None,
        avg_rows_per_second_cap: int | None = None,
        offset: int = 0,
    ) -> RefreshJob:
        if batch_size <= 0:
            raise ValueError("batch_size must be greater than 0")
        if avg_rows_per_second_cap is not None and avg_rows_per_second_cap <= 0:
            raise ValueError("avg_rows_per_second_cap must be greater than 0")
        rs = self.registry.latest_schema_for_source(namespace, source)
        if rs is None:
            raise ValueError(
                f"found no sources with namespace {namespace!r} and "
                f"source {source!r}"
            )
        return self.manager.request(
            namespace=namespace,
            source=source,
            schema_id=rs.schema_id,
            batch_size=batch_size,
            priority=priority,
            filter_condition=filter_condition,
            avg_rows_per_second_cap=avg_rows_per_second_cap,
            offset=offset,
        )


def jdbc_scan_options(
    url: str,
    table: str,
    pk: str,
    min_pk: int,
    max_pk: int,
    batch_size: int,
    filter_condition: str | None = None,
    fetch_size: int = 10_000,
) -> dict[str, str]:
    """Options for ``spark.read.format("jdbc")`` — the deploy-time seam of
    the full refresh (S6): the reference's serial ``WHERE pk > lo AND
    pk <= hi ORDER BY pk`` batch loop (copy_table_to_blackhole_table.py:
    237-257,462-481) becomes Spark's partitioned JDBC scan, where every
    pk-range batch is a partition read in parallel and the WHERE filter
    (P6) pushes into the source dbtable.

    ``numPartitions`` is derived from the same (min, max, batch_size)
    range plan the parquet-backed runner uses, so a deploy swaps only the
    source, not the planning.
    """
    if batch_size <= 0:
        raise ValueError("batch_size must be greater than 0")
    if max_pk < min_pk:
        raise ValueError(f"empty pk range [{min_pk}, {max_pk}]")
    n_rows_span = max_pk - min_pk + 1
    num_partitions = max(1, -(-n_rows_span // batch_size))  # ceil div
    dbtable = (
        f"(SELECT * FROM {table} WHERE {filter_condition}) AS t"
        if filter_condition
        else table
    )
    return {
        "url": url,
        "dbtable": dbtable,
        "partitionColumn": pk,
        "lowerBound": str(min_pk),
        "upperBound": str(max_pk),
        "numPartitions": str(num_partitions),
        "fetchsize": str(fetch_size),
    }


def jdbc_scan_options_for_table(
    df: DataFrame, url: str, table: str, pk: str, job: RefreshJob
) -> dict[str, str]:
    """Resolve the pk range from the table itself (one MIN/MAX scan — the
    reference's range planning, :414-439) and build the JDBC options for
    the given refresh job."""
    stats = scan_stats(df, pk).collect()[0]
    if stats.row_count == 0:
        raise ValueError(f"table {table} is empty; nothing to refresh")
    return jdbc_scan_options(
        url,
        table,
        pk,
        int(stats.min_pk),
        int(stats.max_pk),
        job.batch_size,
        filter_condition=job.filter_condition,
    )
