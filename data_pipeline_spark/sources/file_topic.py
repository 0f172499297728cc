"""File-backed topic transport with Kafka semantics.

No Kafka broker or connector jar exists in this environment, so topics are
parquet directories with the exact Kafka record shape — (partition, offset,
key, value, publish_ts) — and Kafka's guarantees re-expressed:

- key-hash partitioning (xxhash64(key) pmod P — the producer partitions by
  the Avro-encoded primary-key record, _kafka_producer.py:46-54);
- per-partition monotonically increasing offsets continuing from the stored
  high watermark;
- per-partition FIFO order = (offset) order within a partition directory.

On a real cluster this module is swapped for `format("kafka")` read/write;
every consumer in the engine sees the same columns either way.  Batch reads
prune on the `partition` directory column and push offset predicates into
parquet row-group filters; `read_stream` is a Structured Streaming file
source over the same layout.

Metadata is driver-written: the topic watermark sidecar and the consumer
offset ledger are directories of small parquet files that the DRIVER reads
and writes with pyarrow (``io.read_rows`` / ``io.write_rows``; see the
``io`` module docstring for the shared layout rules).
"""

from __future__ import annotations

import contextlib
import os
import threading

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_pipeline_spark.io import max_per_key, read_rows, write_rows


TOPIC_SCHEMA = T.StructType(
    [
        T.StructField("partition", T.IntegerType()),
        T.StructField("offset", T.LongType()),
        T.StructField("key", T.BinaryType()),
        T.StructField("value", T.BinaryType()),
        T.StructField("publish_ts", T.LongType()),
    ]
)


class TopicStore:
    """Root directory holding one parquet dir per topic.

    ``serialize_publishes=True`` guards each publish's read-assign-append
    sequence with a per-topic ``LeaseLock``: a real Kafka broker serializes
    appends per partition, but two CONCURRENT TopicStore producers would
    read the same high watermark and assign duplicate (partition, offset)
    pairs.  Off by default (single-writer deployments, and every test's
    assumption); turn on whenever more than one producer process/thread
    can publish to the same root.
    """

    def __init__(
        self, spark: SparkSession, root: str, serialize_publishes: bool = False
    ):
        self.spark = spark
        self.root = root
        self.serialize_publishes = serialize_publishes
        self._leases = threading.local()
        os.makedirs(root, exist_ok=True)

    def _held_topics(self) -> set[str]:
        held = getattr(self._leases, "topics", None)
        if held is None:
            held = self._leases.topics = set()
        return held

    @contextlib.contextmanager
    def publish_lease(self, topic: str):
        """Hold the per-topic publish lease across a multi-step sequence.

        Re-entrant within a thread: `publish()` takes this same lease, so a
        caller that needs the lease to span intent -> publish -> commit
        (StreamingPublisher) wraps the whole sequence and the inner
        `publish()` becomes a no-op acquire.  No-op when
        ``serialize_publishes`` is off (single-writer deployments)."""
        if not self.serialize_publishes or topic in self._held_topics():
            yield
            return
        from data_pipeline_spark.coordination import LeaseLock

        lock = LeaseLock(
            "publish",
            topic,
            os.path.join(self.root, ".locks"),
            lease_seconds=300,
            timeout=60,
        )
        with lock:
            self._held_topics().add(topic)
            try:
                yield
            finally:
                self._held_topics().discard(topic)

    @staticmethod
    def _post_reserve_hook(topic: str) -> None:
        """No-op seam between the sidecar reservation and the data append;
        crash-consistency tests override it to simulate dying in that
        window (the one gap not injectable from outside _publish_locked)."""

    def _dir(self, topic: str) -> str:
        return os.path.join(self.root, topic)

    # the watermark sidecar's row: one per partition per publish.
    # publish_id + base_offset (null for untagged publishes and pre-r7
    # files — the explicit read schema fills them in) tag the RESERVED
    # offset range [base_offset, next_offset) so a crashed publisher can
    # later verify, against rows actually on disk, whether its data append
    # landed (find_publish / StreamingPublisher.publish_batch).  Sidecars
    # written by Spark before the driver path (partition INT == int32)
    # read through the same schema.
    @staticmethod
    def _meta_arrow_schema():
        import pyarrow as pa

        return pa.schema(
            [
                ("partition", pa.int32()),
                ("next_offset", pa.int64()),
                ("publish_id", pa.string()),
                ("base_offset", pa.int64()),
            ]
        )

    def _meta_dir(self, topic: str) -> str:
        # sibling of the data dir so topic parquet scans never see it
        return os.path.join(self.root, ".meta", topic)

    def has_sidecar(self, topic: str) -> bool:
        """Whether the topic has a watermark sidecar, i.e. whether
        ``high_watermarks`` is a driver read rather than a topic scan."""
        return os.path.isdir(self._meta_dir(topic))

    def exists(self, topic: str) -> bool:
        return os.path.isdir(self._dir(topic))

    def topics(self) -> list[str]:
        return sorted(
            d
            for d in os.listdir(self.root)
            if os.path.isdir(self._dir(d)) and not d.startswith(".")
        )

    # -- producer side ------------------------------------------------------

    def publish(
        self,
        df: DataFrame,
        topic: str,
        num_partitions: int = 4,
        order_by: Column | str | None = None,
        publish_id: str | None = None,
    ) -> dict[int, int]:
        """Append (key, value) rows to the topic; returns new high watermarks.

        Partition = pmod(xxhash64(key), P) so identical keys co-locate (the
        compaction + FIFO-per-key guarantee); keyless rows hash the value.
        Offsets continue from the current high watermark per partition —
        assignment is a per-partition row_number, a single narrow shuffle.

        ``publish_id`` tags this publish's sidecar reservation so a crashed
        caller can later resolve, via ``find_publish`` + rows actually on
        disk, whether the data append landed (exactly-once replay).
        """
        return self.publish_counted(
            df, topic, num_partitions, order_by, publish_id
        )[0]

    def publish_counted(
        self,
        df: DataFrame,
        topic: str,
        num_partitions: int = 4,
        order_by: Column | str | None = None,
        publish_id: str | None = None,
    ) -> tuple[dict[int, int], int]:
        """``publish`` returning (new high watermarks, rows appended).

        The count comes from the reservation delta computed INSIDE the
        lease off the already-materialized wire batch — exact under
        concurrent writers and free (no second execution of the encode
        pipeline, no extra watermark read)."""
        with self.publish_lease(topic):
            return self._publish_locked(
                df, topic, num_partitions, order_by, publish_id
            )

    def _publish_locked(
        self,
        df: DataFrame,
        topic: str,
        num_partitions: int,
        order_by: Column | str | None,
        publish_id: str | None = None,
    ) -> tuple[dict[int, int], int]:
        highs = self.high_watermarks(topic, num_partitions)
        key_or_value = F.coalesce(F.col("key"), F.col("value"))
        part = F.pmod(F.xxhash64(key_or_value), F.lit(num_partitions)).cast("int")
        order_col = (
            F.col(order_by) if isinstance(order_by, str) else order_by
        ) if order_by is not None else F.monotonically_increasing_id()

        base = F.create_map(
            *[x for p, h in highs.items() for x in (F.lit(p), F.lit(h))]
        )
        w = Window.partitionBy("partition").orderBy("__ord")
        out = (
            df.withColumn("partition", part)
            .withColumn("__ord", order_col)
            .withColumn(
                "offset",
                (F.row_number().over(w) - 1 + F.element_at(base, F.col("partition"))).cast(
                    "long"
                ),
            )
            .withColumn("publish_ts", F.unix_timestamp(F.current_timestamp()))
            .select("partition", "offset", "key", "value", "publish_ts")
        )
        # Persist before the write so the watermark aggregation below reads
        # the SAME materialisation that went to disk.  Recomputing the lazy
        # plan would re-evaluate monotonically_increasing_id / the shuffle,
        # which is not deterministic across executions — a sidecar computed
        # from a second run can desync from the files and reuse
        # (partition, offset) pairs on the next publish.
        out = out.persist()
        try:
            new_highs = dict(highs)
            for r in (
                out.groupBy("partition").agg(F.max("offset").alias("high")).collect()
            ):
                new_highs[r.partition] = r.high + 1
            # RESERVE the range in the watermark sidecar BEFORE the data
            # append: a crash between the two leaves an offset GAP (safe —
            # reads are range-filtered and resume positions tolerate
            # skips), whereas the old data-then-sidecar order could leave
            # the sidecar BEHIND the data and hand the same offsets to the
            # next publish — duplicate (partition, offset) pairs, the one
            # unrecoverable corruption.  The sidecar stays the O(1)
            # watermark read either way.  Watermark advancement is a
            # RESERVATION, not proof the data landed — replay verification
            # must check rows on disk within [base_offset, next_offset)
            # (find_publish), which is unambiguous because competing
            # publishes always reserve first and so can never occupy a
            # range that was already reserved.
            # the Spark append (createDataFrame -> write job + commit
            # protocol) this replaced cost ~0.8 s per publish (r12
            # profile); the atomic rename keeps the crash window identical
            # — a reservation is either fully visible or absent
            write_rows(
                self._meta_dir(topic),
                self._meta_arrow_schema(),
                [
                    (p, n, publish_id, highs.get(p, 0))
                    for p, n in new_highs.items()
                ],
            )
            # crash-window test seam: the reserve->data gap is the one
            # window that cannot be injected from outside this method
            self._post_reserve_hook(topic)
            out.write.mode("append").partitionBy("partition").parquet(
                self._dir(topic)
            )
        finally:
            out.unpersist()
        n_appended = sum(
            n - highs.get(p, 0) for p, n in new_highs.items()
        )
        return new_highs, n_appended

    # -- metadata -----------------------------------------------------------

    def high_watermarks(self, topic: str, num_partitions: int = 4) -> dict[int, int]:
        """next-offset per partition (_kafka_util.py:22-64 watermark fetch).

        Served from the tiny watermark sidecar written at publish time —
        O(appends) rows, not a scan of the topic (which at scale would make
        every publish O(topic size)).  The sidecar is read by the DRIVER
        with pyarrow (r12: the Spark read of a few-KB metadata dir was a
        0.2-0.4 s job per publish/consume; same files, same ignore rules —
        dot/underscore-prefixed names are skipped by both engines).  Falls
        back to a data scan for topics written before the sidecar existed.
        """
        highs = {p: 0 for p in range(num_partitions)}
        if self.has_sidecar(topic):
            parts, nexts = read_rows(
                self._meta_dir(topic),
                self._meta_arrow_schema(),
                ["partition", "next_offset"],
            )
            highs.update(max_per_key(zip(parts, nexts)))
            return highs
        if not self.exists(topic):
            return highs
        rows = (
            self.read(topic)
            .groupBy("partition")
            .agg(F.max("offset").alias("high"))
            .collect()
        )
        for r in rows:
            highs[r.partition] = r.high + 1
        return highs

    def compact_meta(self, topic: str) -> None:
        """Rewrite the watermark sidecar to O(partitions x publishers) rows.

        The sidecar appends one row per partition per publish, so a
        long-lived topic accumulates O(publishes) rows; reads already
        aggregate max(next_offset), so compaction is purely a size bound.
        Like ``OffsetLedger.compact`` it runs on the driver: the compacted
        file lands (atomically) before the files it replaces are removed,
        and only files listed before the read are removed, so a concurrent
        ``high_watermarks`` or a crash mid-compaction never sees the
        reservations vanish (which would hand out offsets again).

        Surviving rows per partition: the max-next_offset row (the
        watermark) PLUS each PUBLISHER's latest tagged reservation
        (publisher = the publish_id prefix before ':'; epochs are
        sequential per publisher, so at most its latest reservation can be
        dangling).  Keeping only the global max row (the pre-r7.1 shape)
        broke multi-writer replay: a foreign publish after a crashed tagged
        one would compact the dangling tag away and find_publish would
        re-append an already-landed batch.
        """
        meta = self._meta_dir(topic)
        if not os.path.isdir(meta):
            return
        old = [
            n
            for n in os.listdir(meta)
            if not n.endswith(".tmp") and os.path.isfile(os.path.join(meta, n))
        ]
        schema = self._meta_arrow_schema()
        watermark: dict[int, tuple] = {}
        latest_tagged: dict[tuple[int, str], tuple] = {}
        for row in zip(*read_rows(meta, schema, schema.names)):
            part, nxt, pid, base = row
            if part not in watermark or nxt > watermark[part][1]:
                watermark[part] = row
            if pid is not None:
                key = (part, pid.split(":")[0])
                if key not in latest_tagged or base > latest_tagged[key][3]:
                    latest_tagged[key] = row
        write_rows(meta, schema, list({*watermark.values(), *latest_tagged.values()}))
        for n in old:
            os.remove(os.path.join(meta, n))

    def find_publish(
        self, topic: str, publish_id: str
    ) -> dict[int, tuple[int, int]] | None:
        """Reserved offset ranges of a tagged publish: {partition: (base,
        next)}, or None if no reservation with this id exists.

        When the same id was reserved more than once (a replay re-attempt
        after verifying the previous reservation's range was an empty gap),
        the LATEST attempt per partition (max base_offset) is the live one —
        earlier ranges were verified data-free before the re-attempt, and a
        crashed append can never complete later (the job died with its
        driver)."""
        if not self.has_sidecar(topic):
            return None
        import pyarrow.dataset as pads

        parts, bases, nexts = read_rows(
            self._meta_dir(topic),
            self._meta_arrow_schema(),
            ["partition", "base_offset", "next_offset"],
            pads.field("publish_id") == publish_id,
        )
        out: dict[int, tuple[int, int]] = {}
        for p, b, n in zip(parts, bases, nexts):
            if p not in out or b > out[p][0]:
                out[p] = (b, n)
        return out or None

    # -- consumer side ------------------------------------------------------

    def read(
        self,
        topic: str,
        starting_offsets: dict[int, int] | None = None,
        ending_offsets: dict[int, int] | None = None,
    ) -> DataFrame:
        """Batch read with per-partition offset bounds (base_consumer.py:
        566-657 commit/seek semantics).  Bounds compile to partition-pruned
        parquet filters — no shuffle, no full scan."""
        if not self.exists(topic):
            raise KeyError(f"unknown topic {topic!r}; known: {self.topics()}")
        df = self.spark.read.schema(TOPIC_SCHEMA).parquet(self._dir(topic))
        if starting_offsets:
            # Kafka semantics: a partition absent from the committed map
            # starts at the reset position (earliest here), it is NOT
            # skipped.  Starting from lit(False) and OR-ing only the known
            # partitions silently drops any partition that was empty when
            # offsets were first committed — permanent data loss once new
            # records land there.
            known = list(starting_offsets)
            cond = ~F.col("partition").isin(known)
            for p, off in starting_offsets.items():
                cond = cond | ((F.col("partition") == p) & (F.col("offset") >= off))
            df = df.filter(cond)
        if ending_offsets:
            cond = F.lit(True)
            for p, off in ending_offsets.items():
                cond = cond & ((F.col("partition") != p) | (F.col("offset") < off))
            df = df.filter(cond)
        return df

    def read_stream(self, topic: str) -> DataFrame:
        """Structured Streaming source over the same layout (S2)."""
        return self.spark.readStream.schema(TOPIC_SCHEMA).parquet(self._dir(topic))


class OffsetLedger:
    """Consumer-group committed offsets (S3): (group, topic, partition) ->
    next offset, persisted as parquet.  Commit takes max(offset)+1 per
    partition like base_consumer.py:597-611.

    Like the watermark sidecar, the ledger is driver-written metadata: the
    reference fetches and commits offsets as cheap metadata calls
    (base_consumer.py:566-611), and here ``committed`` is a pyarrow read
    (no Spark job) and ``commit_messages`` runs its one aggregation job and
    writes the rows from the driver.  Files written by the earlier Spark
    path (with their ``_SUCCESS`` and ``.crc`` siblings) and driver-written
    files mix in one directory: both carry the same four columns, and every
    read takes the max per key over all of them.
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    @staticmethod
    def _arrow_schema():
        import pyarrow as pa

        return pa.schema(
            [
                ("group", pa.string()),
                ("topic", pa.string()),
                ("partition", pa.int32()),
                ("next_offset", pa.int64()),
            ]
        )

    def committed(self, group: str, topic: str) -> dict[int, int]:
        if not os.path.exists(self.path):
            return {}
        import pyarrow.dataset as pads

        parts, nexts = read_rows(
            self.path,
            self._arrow_schema(),
            ["partition", "next_offset"],
            (pads.field("group") == group) & (pads.field("topic") == topic),
        )
        return max_per_key(zip(parts, nexts))

    def compact(self) -> None:
        """Rewrite the ledger to one row per (group, topic, partition) —
        commits append, so an always-on consumer group accumulates
        O(commits) rows; `committed` already aggregates, compaction just
        bounds the directory.  The compacted file lands (atomically)
        before the files it replaces are removed, and only files listed
        before the read are removed, so a crash or a concurrent commit
        never loses a committed offset."""
        if not os.path.exists(self.path):
            return
        old = [
            n
            for n in os.listdir(self.path)
            if not n.endswith(".tmp")
            and os.path.isfile(os.path.join(self.path, n))
        ]
        groups, topics, parts, nexts = read_rows(
            self.path,
            self._arrow_schema(),
            ["group", "topic", "partition", "next_offset"],
        )
        latest = max_per_key(zip(zip(groups, topics, parts), nexts))
        write_rows(
            self.path,
            self._arrow_schema(),
            [(*key, n) for key, n in latest.items()],
        )
        for n in old:
            os.remove(os.path.join(self.path, n))

    def commit_messages(self, group: str, topic: str, consumed: DataFrame) -> None:
        """Commit max(offset)+1 per partition of the consumed batch: one
        Spark aggregation job, rows written by the driver.  An empty batch
        commits nothing."""
        rows = (
            consumed.groupBy("partition")
            .agg((F.max("offset") + 1).alias("next_offset"))
            .collect()
        )
        if rows:
            write_rows(
                self.path,
                self._arrow_schema(),
                [(group, topic, r.partition, r.next_offset) for r in rows],
            )
