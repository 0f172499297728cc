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
offset ledger are ``io.CommitLog`` directories, small parquet files the
DRIVER appends and reads with pyarrow; each keeps only its schema and its
fold here.

A publish is one Spark job: it writes the batch into a hidden staging
directory (``<root>/.staging/<topic>/<token>/partition=p/``), reserves the
staged offsets in the sidecar (the commit point), then renames the staged
files into the topic.  Whoever next holds the topic's lease rolls a
reserved staging directory forward and deletes an unreserved one.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import threading
import uuid

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_pipeline_spark.io import CommitLog, max_per_key


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
        """No-op seam between the sidecar reservation and the renames that
        land the staged files; crash-consistency tests override it to
        simulate dying in that window."""

    def _dir(self, topic: str) -> str:
        return os.path.join(self.root, topic)

    def _staging_dir(self, topic: str) -> str:
        # sibling of .meta: no topic scan, topics() or dataset walk sees it
        return os.path.join(self.root, ".staging", topic)

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

    def _meta(self, topic: str) -> CommitLog:
        return CommitLog(self._meta_dir(topic), self._meta_arrow_schema())

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
        lease off the staged files' footers — exact under concurrent
        writers and free (no second execution of the encode pipeline, no
        extra watermark read)."""
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
        self._settle_staging(topic)
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
        # The batch's one Spark job.  The new watermarks come from the
        # staged files' footers, never from a second execution of the
        # plan: monotonically_increasing_id and the shuffle are not
        # deterministic across executions, so a recount could desync the
        # sidecar from the files and hand out (partition, offset) pairs
        # again.
        stage = os.path.join(self._staging_dir(topic), uuid.uuid4().hex)
        out.write.partitionBy("partition").parquet(stage)
        staged = self._staged(stage)
        new_highs = dict(highs)
        for p, _first, last, _path in staged:
            new_highs[p] = max(new_highs[p], last + 1)
        # RESERVE the range in the watermark sidecar BEFORE any staged
        # file becomes visible: the reservation is the commit point.  A
        # crash before it leaves an unreserved staging directory, which
        # the next lease holder deletes (nothing was published); a crash
        # after it leaves a reserved one, which the next lease holder
        # lands.  Either way the sidecar never falls behind the data,
        # the order whose failure hands the same offsets to the next
        # publish (duplicate (partition, offset) pairs, the one
        # unrecoverable corruption).  Replay verification counts rows on
        # disk within [base_offset, next_offset) (find_publish), which is
        # unambiguous because competing publishes always reserve first
        # and so can never occupy a range that was already reserved.
        self._meta(topic).append(
            [(p, n, publish_id, highs.get(p, 0)) for p, n in new_highs.items()]
        )
        self._post_reserve_hook(topic)
        self._land(topic, stage, staged)
        n_appended = sum(
            n - highs.get(p, 0) for p, n in new_highs.items()
        )
        return new_highs, n_appended

    @staticmethod
    def _staged(stage: str) -> list[tuple[int, int, int, str]]:
        """(partition, first offset, last offset, path) of each parquet
        file of a staged batch, from its footer, in ascending offset
        order per partition."""
        import pyarrow.parquet as pq

        out = []
        for d in os.listdir(stage):
            if not d.startswith("partition="):
                continue  # _SUCCESS, an aborted job's _temporary
            p = int(d.split("=", 1)[1])
            for n in os.listdir(os.path.join(stage, d)):
                if n.startswith((".", "_")):
                    continue  # .crc siblings
                path = os.path.join(stage, d, n)
                md = pq.ParquetFile(path).metadata
                col = md.schema.names.index("offset")
                stats = [
                    md.row_group(g).column(col).statistics
                    for g in range(md.num_row_groups)
                ]
                if stats:
                    first = min(st.min for st in stats)
                    out.append((p, first, max(st.max for st in stats), path))
        return sorted(out)

    def _land(self, topic: str, stage: str, staged) -> None:
        """Rename the staged files into ``partition=p/``, each partition
        in ascending offset order, so a reader that sees a staged row also
        sees every lower offset of the batch in that partition; then drop
        the staging directory (with Hadoop's ``.crc`` siblings)."""
        os.makedirs(self._dir(topic), exist_ok=True)
        for p, _first, _last, path in staged:
            dest = os.path.join(self._dir(topic), f"partition={p}")
            os.makedirs(dest, exist_ok=True)
            os.rename(path, os.path.join(dest, os.path.basename(path)))
        shutil.rmtree(stage)

    def _settle_staging(self, topic: str) -> None:
        """The crash rule for staged batches a dead publish left behind,
        applied under the topic's lease.  A batch stages its offsets from
        the watermark and every publish settles before it reserves, so a
        staged file whose first offset lies below the watermark has its
        reservation (the commit point): the directory is rolled forward.
        One at the watermark has none and is deleted.  Driver-only; nothing
        to do after a clean publish."""
        root = self._staging_dir(topic)
        if not (os.path.isdir(root) and os.listdir(root)):
            return
        with self.publish_lease(topic):
            highs = self.high_watermarks(topic)
            for token in os.listdir(root):
                stage = os.path.join(root, token)
                staged = self._staged(stage)
                if staged and all(first < highs.get(p, 0) for p, first, _l, _f in staged):
                    self._land(topic, stage, staged)
                else:
                    shutil.rmtree(stage)

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
        highs = self.sidecar_watermarks(topic, num_partitions)
        if highs is not None:
            return highs
        highs = {p: 0 for p in range(num_partitions)}
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

    def sidecar_watermarks(
        self, topic: str, num_partitions: int = 4
    ) -> dict[int, int] | None:
        """``high_watermarks`` as the sidecar alone has them (a driver
        read, no Spark job), or None when it holds no reservation."""
        marks = max_per_key(self._meta(topic).rows(["partition", "next_offset"]))
        if not marks:
            return None
        return {**{p: 0 for p in range(num_partitions)}, **marks}

    def compact_meta(self, topic: str) -> None:
        """Rewrite the watermark sidecar to O(partitions x publishers) rows.

        The sidecar appends one row per partition per publish, so a
        long-lived topic accumulates O(publishes) rows; reads already
        aggregate max(next_offset), so compaction is purely a size bound.
        ``CommitLog.compact`` keeps a concurrent ``high_watermarks`` and a
        crash mid-compaction from seeing the reservations vanish (which
        would hand out offsets again); this supplies the keep policy.

        Surviving rows per partition: the max-next_offset row (the
        watermark) PLUS each PUBLISHER's latest tagged reservation
        (publisher = the publish_id prefix before ':'; epochs are
        sequential per publisher, so at most its latest reservation can be
        dangling).  Keeping only the global max row (the pre-r7.1 shape)
        broke multi-writer replay: a foreign publish after a crashed tagged
        one would compact the dangling tag away and find_publish would
        re-append an already-landed batch.
        """

        def keep(rows):
            watermark: dict[int, tuple] = {}
            latest_tagged: dict[tuple[int, str], tuple] = {}
            for row in rows:
                part, nxt, pid, base = row
                if part not in watermark or nxt > watermark[part][1]:
                    watermark[part] = row
                if pid is not None:
                    key = (part, pid.split(":")[0])
                    if key not in latest_tagged or base > latest_tagged[key][3]:
                        latest_tagged[key] = row
            return list({*watermark.values(), *latest_tagged.values()})

        self._meta(topic).compact(keep)

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
        driver).  A staged batch the crashed attempt left is settled first
        (``_settle_staging``), so the range's rows are on disk whole or not
        at all when the caller counts them."""
        self._settle_staging(topic)
        import pyarrow.dataset as pads

        out: dict[int, tuple[int, int]] = {}
        for p, b, n in self._meta(topic).rows(
            ["partition", "base_offset", "next_offset"],
            pads.field("publish_id") == publish_id,
        ):
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
    partition like base_consumer.py:597-611, which commits the offsets of
    the messages the consumer delivered.

    Like the watermark sidecar, the ledger is an ``io.CommitLog``: the
    reference fetches and commits offsets as cheap metadata calls
    (base_consumer.py:566-611), and here ``committed`` is a pyarrow read
    (no Spark job) and ``commit_messages`` writes the rows from the driver,
    from the offsets an earlier action observed when it can (see there).
    Files written by the earlier Spark path carry the same four columns,
    and every read takes the max per key over all files.
    """

    def __init__(self, spark: SparkSession, path: str):
        import pyarrow as pa

        self.spark = spark
        self.path = path
        self._log = CommitLog(
            path,
            pa.schema(
                [
                    ("group", pa.string()),
                    ("topic", pa.string()),
                    ("partition", pa.int32()),
                    ("next_offset", pa.int64()),
                ]
            ),
        )

    def committed(self, group: str, topic: str) -> dict[int, int]:
        import pyarrow.dataset as pads

        return max_per_key(
            self._log.rows(
                ["partition", "next_offset"],
                (pads.field("group") == group) & (pads.field("topic") == topic),
            )
        )

    def compact(self) -> None:
        """Rewrite the ledger to one row per (group, topic, partition) —
        commits append, so an always-on consumer group accumulates
        O(commits) rows; `committed` already aggregates, compaction just
        bounds the directory (``CommitLog.compact``: a crash or a
        concurrent commit never loses a committed offset)."""
        self._log.compact(
            lambda rows: [
                (*key, n)
                for key, n in max_per_key(
                    ((g, t, p), n) for g, t, p, n in rows
                ).items()
            ]
        )

    @staticmethod
    def observe(frame: DataFrame, topic: str, partitions) -> DataFrame:
        """``frame`` observing what its first action reads: max(offset) for
        each of ``partitions`` and a count of rows outside them.  The
        observation is named per topic, one name for every call, so a plan
        may union several topics' frames; one plan holding two frames of
        the same topic fails analysis (``DUPLICATED_METRICS_NAME``)."""
        from pyspark.sql import Observation

        known = sorted(partitions)
        # one SQL expression: each Column-API call is a few py4j round
        # trips, and this runs once per tail
        maxes = "".join(f"max(IF(`partition` = {p}, `offset`, NULL)), " for p in known)
        outside = f"count_if(`partition` NOT IN ({', '.join(map(str, known))}))"
        seen = Observation(f"offsets:{topic}")
        out = frame.observe(seen, F.expr(f"array({maxes}{outside})").alias("seen"))
        out._offsets_seen = (seen, known)
        return out

    @staticmethod
    def _observed(consumed: DataFrame) -> dict[int, int] | None:
        """max(offset)+1 per partition that an action on an ``observe``d
        frame saw, or None when the frame carries no completed observation
        covering every row it read (an action whose plan dropped the
        observation completes it with no metrics)."""
        seen, known = getattr(consumed, "_offsets_seen", (None, None))
        if (
            seen is None
            or not seen._jo.future().isCompleted()
            or not seen._jo.getRow().length()
        ):
            return None
        *maxes, outside = seen.get["seen"]
        if outside:
            return None  # rows outside the snapshot's partitions
        return {p: m + 1 for p, m in zip(known, maxes) if m is not None}

    def commit_messages(self, group: str, topic: str, consumed: DataFrame) -> None:
        """Commit max(offset)+1 per partition of the consumed batch, rows
        written by the driver.  An empty batch commits nothing.

        For the frame ``Consumer.messages`` returned, once an action on it
        (or on a frame derived from it) ran, this writes the offsets that
        action observed, with no Spark job: the commit covers what was
        read, never rows that landed afterwards.  Any other frame (never
        actioned, derived, or holding rows outside the observed partitions)
        runs one aggregation job over it — the reference path."""
        nexts = self._observed(consumed)
        if nexts is None:
            nexts = {
                r.partition: r.next_offset
                for r in consumed.groupBy("partition")
                .agg((F.max("offset") + 1).alias("next_offset"))
                .collect()
            }
        if nexts:
            self._log.append([(group, topic, p, n) for p, n in nexts.items()])
