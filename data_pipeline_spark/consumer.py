"""Consumer path: topic bytes -> envelope -> schema-dispatched payload
decode -> typed DataFrame.

Re-expresses data_pipeline/consumer.py + base_consumer.py: tail topics from
committed/explicit offsets, decode with registry schemas (optional reader-
schema override), commit max(offset)+1 per partition.

Schema-id dispatch (SURVEY §4 custom-work item 1): a column-level Avro decode
needs one static schema, but a topic's messages may span schema versions.
Strategy (a) from the survey: decode every message with the topic's LATEST
schema as the reader, relying on Avro resolution rules that the registry's
compatibility gate guarantees hold within a topic.  Writer schema per
message is looked up from the broadcast registry map inside the batch UDF.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from data_pipeline_spark import avro_codec
from data_pipeline_spark import envelope as env
from data_pipeline_spark.registry import SchemaRegistry
from data_pipeline_spark.sources.file_topic import OffsetLedger, TopicStore


class Consumer:
    """Batch-oriented consumer over a TopicStore (the Consumer.get_messages
    loop, consumer.py:162-247, as one DataFrame pass per micro-batch)."""

    def __init__(
        self,
        store: TopicStore,
        registry: SchemaRegistry,
        group: str = "default",
        ledger: OffsetLedger | None = None,
    ):
        self.store = store
        self.registry = registry
        self.group = group
        self.ledger = ledger

    # -- raw tail -----------------------------------------------------------

    def raw(
        self,
        topic: str,
        starting_offsets: dict[int, int] | None = None,
        from_committed: bool = False,
    ) -> DataFrame:
        wire, _ends = self._wire(topic, starting_offsets, from_committed)
        return wire.withColumn("envelope", env.unpack(F.col("value")))

    def _wire(
        self,
        topic: str,
        starting_offsets: dict[int, int] | None,
        from_committed: bool,
    ) -> tuple[DataFrame, dict[int, int] | None]:
        """The batch read behind ``raw`` and ``messages``, ending at the
        topic's high watermarks as of this call, and those watermarks.
        The bound makes the frame a snapshot: an action on it, and a
        fallback ``commit`` that re-executes it, cover no offset reserved
        after this call, by contract rather than through the parquet
        scan's file-listing cache.  The bound is a driver read of the
        watermark sidecar; topics without one keep the unbounded read
        (and None) rather than pay a scan job."""
        if from_committed and self.ledger is not None and starting_offsets is None:
            starting_offsets = self.ledger.committed(self.group, topic)
        ending_offsets = (
            self.store.high_watermarks(topic)
            if self.store.has_sidecar(topic)
            else None
        )
        return (
            self.store.read(topic, starting_offsets, ending_offsets),
            ending_offsets,
        )

    # -- decoded tail -------------------------------------------------------

    def messages(
        self,
        topic: str,
        starting_offsets: dict[int, int] | None = None,
        reader_schema_id: int | None = None,
        from_committed: bool = False,
        crypto_keys: dict[int, bytes] | None = None,
    ) -> DataFrame:
        """Envelope metadata + payload decoded to typed columns.

        Reader schema defaults to the topic's latest (schema-id dispatch via
        registry map broadcast into the decode UDF); ``reader_schema_id``
        overrides it (consumer.py:226-233).  ``crypto_keys`` maps key_id ->
        AES key; encrypted payloads (envelope ``encryption_type``) are
        decrypted JVM-side before decode, with the IV taken from the meta
        attribute the producer attached (E4; message.py:817-935 decrypt-if-
        needed step).  An encrypted message whose key_id is not provided
        raises at execution.

        The frame is a snapshot: it ends at the high watermarks recorded
        when this method runs (for topics with a watermark sidecar).  It
        also observes (``OffsetLedger.observe``) the max offset per
        partition that its first action reads, and ``commit`` of this
        frame after that action writes exactly those offsets, with no
        Spark job.  A publish that has reserved its offsets but not yet
        landed its files when the action runs is therefore never
        committed past: its rows are delivered by the next tail.  Only the
        fallback commit (no action ran on this frame yet) re-executes the
        plan, and it commits what it then finds in the snapshot.  The
        observation is named per topic, so one plan can hold tails of
        several topics but not two tails of one topic.
        """
        wire, ends = self._wire(topic, starting_offsets, from_committed)
        if crypto_keys is None:
            out = self._decode_fused(wire, topic, reader_schema_id)
        else:
            raw = wire.withColumn("envelope", env.unpack(F.col("value")))
            out = self._decode_enveloped(raw, topic, reader_schema_id, crypto_keys)
        if ends is None:
            return out
        return OffsetLedger.observe(out, topic, ends)

    def messages_stream(
        self,
        topic: str,
        reader_schema_id: int | None = None,
        crypto_keys: dict[int, bytes] | None = None,
    ) -> DataFrame:
        """Streaming ``messages``: the same unpack -> decrypt -> decode
        column pipeline applied to ``store.read_stream`` — decryption and
        schema-dispatched decode are pure column expressions, so batch and
        streaming plans are IDENTICAL above the source (parity-tested in
        test_streaming.py).  Commit/seek is the stream's checkpoint, not
        the offset ledger."""
        stream = self.store.read_stream(topic)
        if crypto_keys is None:
            return self._decode_fused(stream, topic, reader_schema_id)
        raw = stream.withColumn("envelope", env.unpack(F.col("value")))
        return self._decode_enveloped(raw, topic, reader_schema_id, crypto_keys)

    def _reader_json(self, topic: str, reader_schema_id: int | None) -> str:
        if reader_schema_id is not None:
            return self.registry.get_schema_by_id(reader_schema_id).schema_json
        latest = self.registry.latest_schema_for_topic(topic)
        if latest is None:
            raise KeyError(f"no schema registered for topic {topic}")
        return latest.schema_json

    def _writers(self, topic: str) -> dict[int, str]:
        # writer-schema map for this topic only (small; broadcast by Spark
        # as a captured literal inside the UDF closure)
        return {
            rs.schema_id: rs.schema_json
            for rs in self.registry._schemas.values()
            if rs.topic == topic
        }

    def _decode_fused(
        self, wire: DataFrame, topic: str, reader_schema_id: int | None
    ) -> DataFrame:
        """Unencrypted fast path: unpack + decode in ONE
        pandas UDF (envelope.unpack_decode_udf) — half the Arrow crossings
        of the layered envelope-then-payload shape, same columns out."""
        fused, payload_names = env.unpack_decode_udf(
            self._writers(topic), self._reader_json(topic, reader_schema_id), topic
        )
        # materialize the UDF once in its own projection, then fan the
        # struct fields out and rebuild the payload struct JVM-side (free
        # projections; the UDF returns flat columns for faster Arrow)
        packed = wire.select(
            "partition", "offset", "key", fused(F.col("value")).alias("e")
        )
        return packed.select(
            "partition",
            "offset",
            "key",
            F.col("e.uuid").alias("uuid"),
            F.col("e.message_type").alias("message_type"),
            F.col("e.schema_id").alias("schema_id"),
            F.col("e.timestamp").alias("timestamp"),
            F.struct(
                *[F.col(f"e.p_{n}").alias(n) for n in payload_names]
            ).alias("payload"),
        )

    def _decode_enveloped(
        self,
        raw: DataFrame,
        topic: str,
        reader_schema_id: int | None,
        crypto_keys: dict[int, bytes] | None,
    ) -> DataFrame:
        reader = self._reader_json(topic, reader_schema_id)
        writers = self._writers(topic)
        reader_parsed = avro_codec.parse_schema(reader)
        spark_type = avro_codec.to_spark_type(reader_parsed)
        reader_names = [f["name"] for f in reader_parsed["fields"]]

        @pandas_udf(spark_type)
        def dispatch_decode(schema_id: pd.Series, payload: pd.Series) -> pd.DataFrame:
            # compiled (writer -> latest-reader) decoders, one per schema_id
            # seen on the topic, memoized per worker — the reader store
            # pattern (yelp_avro_store.py:26-84)
            decoders = env.payload_decoders(writers, reader)
            out = []
            for sid, blob in zip(schema_id, payload):
                dec = env.payload_decoder_for(decoders, sid, topic)
                out.append(dec(memoryview(bytes(blob)), 0)[0])
            return pd.DataFrame(out, columns=reader_names)

        e = F.col("envelope")
        payload_col = e.payload
        if crypto_keys:
            from data_pipeline_spark.functions import crypto

            iv = crypto.get_meta(e.meta, crypto.IV_META_SCHEMA_ID)
            key_id = crypto.parse_key_id(e.encryption_type)
            decrypted = F.when(e.encryption_type.isNull(), e.payload)
            for kid, key_bytes in crypto_keys.items():
                decrypted = decrypted.when(
                    key_id == kid,
                    crypto.decrypt_payload(e.payload, key_bytes, iv),
                )
            payload_col = decrypted.otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("no key provided for encryption_type "),
                        e.encryption_type,
                    )
                )
            )
        return raw.select(
            "partition",
            "offset",
            "key",
            e.uuid.alias("uuid"),
            e.message_type.alias("message_type"),
            e.schema_id.alias("schema_id"),
            e.timestamp.alias("timestamp"),
            dispatch_decode(e.schema_id, payload_col).alias("payload"),
        )

    def messages_union(
        self,
        topics: list[str],
        from_committed: bool = False,
    ) -> DataFrame:
        """Tail N topics at once (Consumer takes a topic LIST,
        base_consumer.py:435-470): per-topic decode (schemas differ per
        topic) unioned with a `topic` discriminator column.  Each branch
        scans only its topic directory; the union is plan-level, no extra
        pass."""
        if not topics:
            raise ValueError("at least one topic required")
        parts = []
        for t in topics:
            df = self.messages(t, from_committed=from_committed)
            parts.append(
                df.select(
                    F.lit(t).alias("topic"),
                    "partition",
                    "offset",
                    "message_type",
                    "timestamp",
                    F.to_json("payload").alias("payload_json"),
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def commit(self, topic: str, consumed: DataFrame) -> None:
        if self.ledger is None:
            raise RuntimeError("no offset ledger configured")
        self.ledger.commit_messages(self.group, topic, consumed)


class Tailer:
    """The tailer tool (tools/tailer.py:381-458) as engine API: projection,
    event-time bounds, message limit, ISO-time display."""

    def __init__(self, consumer: Consumer):
        self.consumer = consumer

    def tail(
        self,
        topic: str,
        fields: list[str] | None = None,
        start_ts: int | None = None,
        end_ts: int | None = None,
        limit: int | None = None,
        iso_time: bool = False,
        starting_offsets: dict[int, int] | None = None,
        crypto_keys: dict[int, bytes] | None = None,
    ) -> DataFrame:
        msgs = self.consumer.messages(
            topic, starting_offsets=starting_offsets, crypto_keys=crypto_keys
        )
        if start_ts is not None:
            msgs = msgs.filter(F.col("timestamp") >= start_ts)  # P3
        if end_ts is not None:
            msgs = msgs.filter(F.col("timestamp") < end_ts)  # P2
        payload_fields = (
            [F.col(f"payload.{f}").alias(f) for f in fields]
            if fields
            else [F.col("payload.*")]
        )
        ts_col: Column = (
            F.date_format(
                F.timestamp_seconds(F.col("timestamp")), "yyyy-MM-dd'T'HH:mm:ss"
            )
            if iso_time
            else F.col("timestamp")
        ).alias("timestamp")
        out = msgs.select(
            "partition", "offset", F.col("message_type"), ts_col, *payload_fields
        ).orderBy("partition", "offset")
        if limit is not None:
            out = out.limit(limit)  # P4/O5
        return out
