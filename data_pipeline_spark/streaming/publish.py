"""Streaming publish (S1 streaming side): an unbounded DataFrame of typed
rows published to a topic per micro-batch.

`writeStream.foreachBatch` is the Spark-idiomatic producer buffer: each
trigger's batch is one flush (the reference flushes every 5000 msgs / 0.1 s,
config.py:350-367 — here the trigger interval IS the flush policy).  The
per-batch ledger gives exactly-once topic appends across restarts
(producer-side analogue of ExactlyOnceBatchSink).
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_pipeline_spark.io import CommitLog
from data_pipeline_spark.producer import Producer


class StreamingPublisher:
    """foreachBatch adapter around Producer.publish with replay skipping.

    Exactly-once across every crash window via a two-phase ledger plus
    DATA-verified replay — the reference's exact published-count retry
    check (_producer_retry.py:120-190) re-expressed:

    1. append an INTENT row for the epoch;
    2. publish the batch tagged with a deterministic publish id — the
       TopicStore stages the data in one Spark write, records the staged
       offset range [base, next) per partition in its watermark sidecar
       (the commit point), then renames the staged files into the topic;
    3. append a COMMIT row.

    A replay of an epoch with an intent but no commit looks up its
    reservation (`TopicStore.find_publish`, which first rolls a reserved
    staged batch forward and deletes an unreserved one) and counts the
    rows ACTUALLY on disk inside the reserved range:

    - full count present  -> the data landed before the crash, or was
      just rolled forward: record the commit and skip (no duplicates);
    - no reservation, or a reserved range with zero rows (a reservation
      whose data never staged, as the Spark append before staging could
      leave) -> the publish never landed: publish normally (no loss — the
      empty range stays a gap, which offset-range readers tolerate);
    - a partial count would mean the roll-forward was violated and
      raises rather than guessing.

    This is exact even with OTHER writers on the topic: every publish
    reserves its range in the sidecar before writing data, so no later
    writer can ever place rows inside a range that was already reserved —
    watermark advancement by someone else can't masquerade as our publish
    (the flaw of verifying "any watermark advancement").  When the store
    runs with ``serialize_publishes`` the per-topic lease is additionally
    held across the whole intent -> publish -> commit sequence.

    Rows without a ``phase`` column (pre-r6 ledgers) are treated as
    commits.
    """

    def __init__(
        self,
        producer: Producer,
        schema_id: int,
        ledger_path: str,
        message_type: str = "create",
        num_partitions: int = 4,
        order_by: str | None = None,
        encrypt_key: tuple[int, bytes] | None = None,
    ):
        import pyarrow as pa

        self.producer = producer
        self.schema_id = schema_id
        self.ledger_path = ledger_path
        self._ledger = CommitLog(
            ledger_path, pa.schema([("epoch_id", pa.int64()), ("phase", pa.string())])
        )
        self.message_type = message_type
        self.num_partitions = num_partitions
        self.order_by = order_by
        # (key_id, key): AES-CBC encrypt payloads on the wire (E4) —
        # passed straight through to Producer.publish per micro-batch
        self.encrypt_key = encrypt_key
        # max committed epoch, lazily seeded from the ledger.  Structured
        # Streaming epoch ids are strictly increasing per checkpoint and a
        # replay re-delivers the LAST epoch, so one high watermark is a
        # complete replay filter — collecting the full ledger every batch
        # (the pre-r5 shape) was O(stream lifetime) driver work per trigger.
        self._last_epoch: int | None = None

    def _publish_id(self, epoch_id: int) -> str:
        """Deterministic per (checkpoint, epoch): stable across restarts so
        a replay finds the crashed attempt's reservation."""
        stable = hashlib.sha1(
            os.path.abspath(self.ledger_path).encode()
        ).hexdigest()[:12]
        return f"{stable}:{epoch_id}"

    def _append_ledger(self, epoch_id: int, phase: str) -> None:
        self._ledger.append([(epoch_id, phase)])

    def _seed(self) -> None:
        """One ledger read per process start: last committed epoch + any
        dangling intent (at most one — epochs are sequential).  The driver
        reads the ledger (``io.CommitLog``), so Spark-written ledgers, and
        a missing one or one holding only a crashed first append's
        ``_temporary``, read too (the latter two as empty)."""
        if self._last_epoch is not None:
            return
        self._pending: int | None = None
        rows = self._ledger.rows()
        # pre-r6 ledgers have no phase column: treat those rows as commits
        self._last_epoch = max(
            (e for e, p in rows if p in (None, "commit")), default=-1
        )
        intents = [e for e, p in rows if p == "intent" and e > self._last_epoch]
        if intents:
            self._pending = max(intents)

    def _last_committed(self) -> int:
        self._seed()
        return self._last_epoch

    def _landed(self, epoch_id: int) -> bool:
        """Did the crashed attempt's data append land?  Count rows on disk
        within the reserved range (the reference's exact published-count
        verification, _producer_retry.py:120-190)."""
        store = self.producer.store
        topic = self.producer.registry.get_schema_by_id(self.schema_id).topic
        rng = store.find_publish(topic, self._publish_id(epoch_id))
        if rng is None:
            return False  # crashed before the reservation: nothing landed
        spans = {p: (b, n) for p, (b, n) in rng.items() if n > b}
        expected = sum(n - b for b, n in spans.values())
        if expected == 0:
            return True  # empty batch: the (empty) publish is complete
        cond = F.lit(False)
        for p, (b, n) in spans.items():
            cond = cond | (
                (F.col("partition") == p)
                & (F.col("offset") >= b)
                & (F.col("offset") < n)
            )
        present = store.read(topic).filter(cond).count()
        if present == expected:
            return True
        if present == 0:
            return False  # reservation is a gap: crash before data append
        raise RuntimeError(
            f"topic {topic!r} epoch {epoch_id}: {present}/{expected} rows in "
            "the reserved range — partial append should be impossible (a "
            "reserved staged batch is rolled forward whole before counting)"
        )

    def publish_batch(self, batch: DataFrame, epoch_id: int) -> bool:
        if epoch_id <= self._last_committed():
            return False  # replayed micro-batch: already appended
        store = self.producer.store
        topic = self.producer.registry.get_schema_by_id(self.schema_id).topic
        with store.publish_lease(topic):
            if self._pending == epoch_id:
                # replay of a crashed epoch: data-verified resolution.
                # _pending stays set until a commit row LANDS — clearing it
                # earlier would skip verification on the next replay if the
                # commit append (or verification itself) throws here.
                if self._landed(epoch_id):
                    self._append_ledger(epoch_id, "commit")
                    self._last_epoch = epoch_id
                    self._pending = None
                    return False
                # intent already on the ledger; fall through to publish
            else:
                self._append_ledger(epoch_id, "intent")
                # mirror the on-disk intent in memory: if anything below
                # throws and the SAME publisher object retries the epoch
                # (query restart without process death), the retry must go
                # through data-verified resolution, not a blind re-publish
                self._pending = epoch_id
            self.producer.publish(
                batch,
                self.schema_id,
                message_type=self.message_type,
                num_partitions=self.num_partitions,
                order_by=self.order_by,
                encrypt_key=self.encrypt_key,
                publish_id=self._publish_id(epoch_id),
            )
            self._append_ledger(epoch_id, "commit")
            self._pending = None
            self._last_epoch = epoch_id
            return True

    def foreach_batch(self):
        def fn(batch: DataFrame, epoch_id: int) -> None:
            self.publish_batch(batch, epoch_id)

        return fn

    def start(self, stream: DataFrame, checkpoint_dir: str, **trigger_kwargs):
        """Attach to a streaming DataFrame; returns the StreamingQuery."""
        return (
            stream.writeStream.foreachBatch(self.foreach_batch())
            .option("checkpointLocation", checkpoint_dir)
            .trigger(**(trigger_kwargs or {"availableNow": True}))
            .start()
        )
