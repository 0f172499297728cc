"""Dynamic topic-set subscription (S5) and exactly-once batch sink (T5).

- `DynamicSubscriptionRunner`: the reference consumer polls the registry
  every 300 s and, when the topic set changed, stops/recommits/restarts the
  Kafka group (consumer.py:270-294, base_consumer.py:829-947).  Spark's
  source list is fixed per query, so the rebuild is a driver loop: resolve
  topics via a ConsumerSource, run a (batch or availableNow-streaming) pass
  over each, commit, re-resolve, restart on change (SURVEY §4 item 4).

- `ExactlyOnceBatchSink`: at-least-once sinks + a (topic, batch_id) ledger
  transactionally skipped on replay = effective exactly-once
  (_producer_retry.py:120-190's watermark verification re-expressed as a
  batch-id ledger; the foreachBatch + txn-table pattern).
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_spark.consumer import Consumer
from data_pipeline_spark.consumer_source import ConsumerSource
from data_pipeline_spark.io import CommitLog


class DynamicSubscriptionRunner:
    """Poll-resolve-run loop over a changing topic set."""

    def __init__(
        self,
        consumer: Consumer,
        source: ConsumerSource,
        refresh_period_s: float = 300.0,  # config.py:106-112 default
        fetch_offsets_for_topics=None,
    ):
        self.consumer = consumer
        self.source = source
        self.refresh_period_s = refresh_period_s
        self.current_topics: list[str] = []
        # base_consumer.py:146-157: called per tick with the topic list;
        # returns {topic: {partition: offset} | None} — None means "use the
        # default" (the committed-ledger position).  The hook exists so
        # topic positions can live in a transactional store OUTSIDE the
        # ledger (the reference's 'writing data from Kafka into a
        # transactional store' case).
        self.fetch_offsets_for_topics = fetch_offsets_for_topics

    def resolve(self) -> tuple[list[str], bool]:
        """(topics, changed?) — one registry poll tick
        (_consumer_tick.py:22-36)."""
        topics = self.source.get_topics()
        changed = topics != self.current_topics
        return topics, changed

    def run_once(
        self, process: Callable[[str, DataFrame], None], from_committed: bool = True
    ) -> list[str]:
        """One tick: re-resolve topics (restarting the 'subscription' if
        changed), then process+commit each topic's new messages."""
        topics, changed = self.resolve()
        if changed:
            self.current_topics = topics
        overrides = (
            self.fetch_offsets_for_topics(list(self.current_topics))
            if self.fetch_offsets_for_topics is not None
            else {}
        )
        processed = []
        for topic in self.current_topics:
            override = overrides.get(topic)
            if override is not None:
                batch = self.consumer.messages(topic, starting_offsets=override)
            else:
                batch = self.consumer.messages(topic, from_committed=from_committed)
            process(topic, batch)
            if self.consumer.ledger is not None:
                self.consumer.commit(topic, batch)
            processed.append(topic)
        return processed

    def run(
        self,
        process: Callable[[str, DataFrame], None],
        ticks: int,
        sleep_s: float | None = None,
    ) -> None:
        for _ in range(ticks):
            self.run_once(process)
            time.sleep(self.refresh_period_s if sleep_s is None else sleep_s)


class ExactlyOnceBatchSink:
    """foreachBatch-style sink with a replay-skipping batch ledger.

    write(df, epoch_id): if (sink_id, epoch_id) is in the ledger the batch
    was already fully written — skip it; otherwise write, then record.  The
    record lands only after a successful write, so a crash between write and
    record replays the batch into an idempotent target (parquet overwrite
    per batch partition), preserving exactly-once output.
    """

    def __init__(self, spark: SparkSession, out_dir: str, ledger_path: str, sink_id: str):
        import pyarrow as pa

        self.spark = spark
        self.out_dir = out_dir
        self.ledger_path = ledger_path
        self.sink_id = sink_id
        self._last_epoch: int | None = None
        self._ledger = CommitLog(
            ledger_path, pa.schema([("sink_id", pa.string()), ("epoch_id", pa.int64())])
        )

    def _last_committed(self) -> int:
        # One driver read per process start, O(1) per batch after — epoch
        # ids are strictly increasing per checkpoint and replays re-deliver
        # the last epoch, so the high watermark is a complete replay filter
        # (collecting the whole ledger per batch was O(stream lifetime)).
        # A missing ledger, or one holding only a crashed first append's
        # ``_temporary``, reads as empty.
        if self._last_epoch is None:
            import pyarrow.dataset as pads

            mine = pads.field("sink_id") == self.sink_id
            rows = self._ledger.rows(["epoch_id"], mine)
            self._last_epoch = max((e for (e,) in rows), default=-1)
        return self._last_epoch

    def write(self, df: DataFrame, epoch_id: int) -> bool:
        """Returns True if written, False if skipped as a replay."""
        if epoch_id <= self._last_committed():
            return False
        (
            df.withColumn("__epoch_id", F.lit(epoch_id))
            .write.mode("overwrite")
            .partitionBy("__epoch_id")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(self.out_dir)
        )
        self._ledger.append([(self.sink_id, epoch_id)])
        self._last_epoch = epoch_id
        return True

    def foreach_batch(self):
        """Adapter for `writeStream.foreachBatch(...)`."""

        def fn(df: DataFrame, epoch_id: int) -> None:
            self.write(df, epoch_id)

        return fn


class StreamingSubscriptionRunner:
    """S5 with LIVE streaming queries: differential restart on topic-set
    change.

    The reference stops and restarts the whole Kafka consumer group when
    the registry's topic set changes (base_consumer.py:829-947).  Spark
    cannot change a running query's source list either — but because this
    runner keeps ONE streaming query per topic, each with its own
    checkpoint under ``checkpoint_root/<topic>``, a registry change only
    touches the delta: queries for added topics start, queries for removed
    topics stop, and every unchanged topic's query keeps running with its
    state intact.  That strictly improves on the reference's
    stop-the-world restart, and checkpoints make restarts (including whole-
    process restarts) resume exactly where each topic left off.

    ``build_sink(topic, stream_df) -> DataStreamWriter`` supplies the sink;
    the runner owns checkpoint locations and query lifecycle.
    """

    def __init__(
        self,
        spark: SparkSession,
        store,
        source: ConsumerSource,
        checkpoint_root: str,
        build_sink: Callable[[str, DataFrame], "object"],
        pre_rebalance_callback: Callable[[dict[str, list[int]]], None] | None = None,
        post_rebalance_callback: Callable[[dict[str, list[int]]], None] | None = None,
        pre_topic_refresh_callback: Callable[[set[str], set[str]], None] | None = None,
    ):
        self.spark = spark
        self.store = store
        self.source = source
        self.checkpoint_root = checkpoint_root
        self.build_sink = build_sink
        self.active: dict[str, object] = {}  # topic -> StreamingQuery
        # T7 re-expressed Spark-first: the reference's Kafka-group rebalance
        # hooks (base_consumer.py:134-164) fire when the partition
        # assignment changes; here assignment changes exactly when the
        # subscription's topic set changes, so the hooks wrap tick()'s
        # stop/start delta with the same contract — pre gets the revoked
        # {topic: partitions}, post gets the acquired map, no messages are
        # consumed between them, and both must be idempotent (a tick can
        # re-fire them).
        self.pre_rebalance_callback = pre_rebalance_callback
        self.post_rebalance_callback = post_rebalance_callback
        self.pre_topic_refresh_callback = pre_topic_refresh_callback

    def _start(self, topic: str) -> None:
        stream = self.store.read_stream(topic)
        writer = self.build_sink(topic, stream)
        self.active[topic] = writer.option(
            "checkpointLocation", os.path.join(self.checkpoint_root, topic)
        ).start()

    def _partition_map(self, topics: list[str]) -> dict[str, list[int]]:
        return {
            t: sorted(self.store.high_watermarks(t)) for t in topics
        }

    def tick(self) -> dict[str, list[str]]:
        """One registry poll: start/stop only the changed topics.

        Topics that are registered but have never been published (no data
        directory yet) stay pending until data exists — a streaming file
        source needs its input path at start.
        """
        resolved = [t for t in self.source.get_topics() if self.store.exists(t)]
        if self.pre_topic_refresh_callback is not None:
            self.pre_topic_refresh_callback(set(self.active), set(resolved))
        added = [t for t in resolved if t not in self.active]
        removed = [t for t in self.active if t not in resolved]
        if removed and self.pre_rebalance_callback is not None:
            self.pre_rebalance_callback(self._partition_map(removed))
        for topic in removed:
            self.active.pop(topic).stop()
        for topic in added:
            self._start(topic)
        if added and self.post_rebalance_callback is not None:
            self.post_rebalance_callback(self._partition_map(added))
        return {
            "added": added,
            "removed": removed,
            "unchanged": [t for t in resolved if t not in added],
        }

    def process_available(self) -> None:
        """Drain everything currently published (test/batch-parity hook)."""
        for q in self.active.values():
            q.processAllAvailable()

    def stop_all(self) -> None:
        for q in self.active.values():
            q.stop()
        self.active.clear()
