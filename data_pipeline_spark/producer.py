"""Producer path: typed rows -> Avro payload -> envelope -> topic.

Re-expresses data_pipeline/producer.py + _kafka_producer.py Spark-first:
the reference buffers python Message objects per topic and flushes batched
produce requests (5000 msgs / 0.1 s, config.py:350-367); here a whole
DataFrame is one logical flush — batching, per-topic fan-out and parallel
serialization all come from partitioned execution (the multiprocessing
"work pool" of _pooled_kafka_producer.py:30-108 is just executor
parallelism).

Exactly-once recovery (`ensure_messages_published`, producer.py:291-422):
after an unclean shutdown the producer compares saved per-partition offsets
with the topic's high watermarks; the first (high - saved) messages per
partition are already published and must be skipped.  That prefix anti-join
is operators.joins.prefix_rows_per_key.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_pipeline_spark import envelope as env
from data_pipeline_spark.operators.joins import prefix_rows_per_key
from data_pipeline_spark.registry import RegisteredSchema, SchemaRegistry
from data_pipeline_spark.sources.file_topic import TopicStore

VALID_MESSAGE_TYPES = ("create", "update", "delete", "refresh", "log")


@dataclass
class PublishStats:
    """Per-partition position data (PositionData, position_data.py:22-143)."""

    topic: str
    high_watermarks: dict[int, int]
    message_count: int


class Producer:
    """Batch-oriented producer over a TopicStore."""

    def __init__(self, store: TopicStore, registry: SchemaRegistry):
        self.store = store
        self.registry = registry

    def prepare(
        self,
        rows: DataFrame,
        schema_id: int,
        message_type: str = "create",
        previous: Column | None = None,
        timestamp_col: str | None = None,
        order_by: str | None = None,
        meta: Column | None = None,
        encrypt_key: tuple[int, bytes] | None = None,
    ) -> DataFrame:
        """Rows -> (key, value) wire records for the schema's topic.

        - payload: Avro-encoded with the registered schema (E2);
        - key: Avro-encoded primary-key projection (E3, message.py:340-384)
          so partition assignment groups by pk;
        - envelope: uuid + message_type + schema_id + timestamp (E1);
        - ``encrypt_key`` = (key_id, 16/24/32-byte key): AES-CBC encrypt the
          payload (E4, _encryption_helper.py:108-204) with a fresh per-row
          IV riding as a meta attribute and
          ``encryption_type='AES_MODE_CBC-<key_id>'`` on the envelope.
        """
        if message_type not in VALID_MESSAGE_TYPES:
            raise ValueError(f"invalid public message type {message_type!r}")
        import json as _json

        rs = self.registry.get_schema_by_id(schema_id)
        schema = rs.schema_json
        field_names = [f["name"] for f in _json.loads(schema)["fields"]]

        ts = (
            F.col(timestamp_col).cast("long")
            if timestamp_col
            else F.unix_timestamp(F.current_timestamp())
        ).cast("int")

        # fused fast path (the common case: no encryption, no meta):
        # payload encode + envelope pack in ONE pandas UDF — half the Arrow
        # crossings of the layered shape, identical bytes
        if encrypt_key is None and meta is None:
            fused = env.encode_pack_udf(schema, message_type, schema_id)
            key = self._key_col(rs, schema)
            cols = [
                key.alias("key"),
                fused(
                    F.struct(*field_names),
                    env.generate_uuid(),
                    (
                        previous
                        if previous is not None
                        else F.lit(None).cast("binary")
                    ),
                    ts,
                ).alias("value"),
            ]
            if order_by:
                cols.append(F.col(order_by).alias("__order"))
            return rows.select(*cols)

        payload = env.encode_payload_udf(schema)(F.struct(*field_names))
        key = self._key_col(rs, schema)

        meta_col = meta if meta is not None else F.lit(None).cast(env.META_TYPE_DDL)
        enc_type_col = F.lit(None).cast("string")
        if encrypt_key is not None:
            from data_pipeline_spark.functions import crypto

            key_id, key_bytes = encrypt_key
            # no explicit IV: the JVM draws one per row from SecureRandom
            # (CSPRNG — predictable uuid()-derived IVs break CBC).  The
            # ciphertext is materialized as a column ONCE and both the
            # wire payload and the IV meta attribute read from it, so the
            # meta IV is by construction the prefix of the bytes shipped.
            rows = rows.withColumn(
                "__ct", crypto.encrypt_payload(payload, key_bytes)
            )
            payload = F.col("__ct")
            meta_col = crypto.add_meta(
                meta_col,
                crypto.meta_attribute(
                    crypto.IV_META_SCHEMA_ID, crypto.iv_of(F.col("__ct"))
                ),
            )
            enc_type_col = F.lit(crypto.encryption_type_str(key_id))

        envelope_struct = F.struct(
            env.generate_uuid().alias("uuid"),
            F.lit(message_type).alias("message_type"),
            F.lit(schema_id).alias("schema_id"),
            payload.alias("payload"),
            (previous if previous is not None else F.lit(None).cast("binary")).alias(
                "previous_payload"
            ),
            meta_col.alias("meta"),
            enc_type_col.alias("encryption_type"),
            ts.alias("timestamp"),
        )
        cols = [key.alias("key"), env.pack(envelope_struct).alias("value")]
        if order_by:
            cols.append(F.col(order_by).alias("__order"))
        return rows.select(*cols)

    def _key_col(self, rs: RegisteredSchema, schema: str) -> Column:
        """Avro-encoded primary-key record (E3, message.py:340-384) so
        partition assignment groups by pk; null for keyless schemas."""
        import json as _json

        if not rs.primary_keys:
            return F.lit(None).cast("binary")
        pk_schema = _json.dumps(
            {
                "type": "record",
                "name": "pk",
                "fields": [
                    {"name": k, "type": _field_type(schema, k)}
                    for k in rs.primary_keys
                ],
            }
        )
        return env.encode_payload_udf(pk_schema)(F.struct(*rs.primary_keys))

    def publish(
        self,
        rows: DataFrame,
        schema_id: int,
        message_type: str = "create",
        num_partitions: int = 4,
        timestamp_col: str | None = None,
        order_by: str | None = None,
        skip_pii: bool = False,
        encrypt_key: tuple[int, bytes] | None = None,
        publish_id: str | None = None,
    ) -> PublishStats:
        """Encode + append to the schema's topic; returns position data.

        ``skip_pii`` mirrors the producer's PII guard
        (_kafka_producer.py:107-121): refuse (skip) PII topics when the
        transport isn't cleared for them.  ``encrypt_key`` (key_id, key)
        AES-CBC encrypts payloads on the wire (E4); see ``prepare``.
        ``publish_id`` tags the topic-side offset reservation for
        exactly-once replay verification (TopicStore.find_publish).
        """
        rs = self.registry.get_schema_by_id(schema_id)
        if rs.contains_pii and skip_pii:
            return PublishStats(rs.topic, self.store.high_watermarks(rs.topic), 0)
        wire = self.prepare(
            rows,
            schema_id,
            message_type,
            timestamp_col=timestamp_col,
            order_by=order_by,
            encrypt_key=encrypt_key,
        )
        # message_count from the store's reservation delta rather than
        # wire.count(): counting would EXECUTE the whole encode pipeline a
        # second time just for the statistic.  publish_counted computes
        # the delta inside its own lease off the materialized batch, so
        # the number is exact even with interleaved writers.
        highs, n = self.store.publish_counted(
            wire.select("key", "value", *([c for c in ["__order"] if order_by])),
            rs.topic,
            num_partitions=num_partitions,
            order_by="__order" if order_by else None,
            publish_id=publish_id,
        )
        return PublishStats(rs.topic, highs, n)

    # -- exactly-once recovery (T5/D2) --------------------------------------

    @staticmethod
    def unpublished_suffix(
        messages: DataFrame,
        saved_offsets: dict[int, int],
        actual_highs: dict[int, int],
        partition_col: str = "partition",
        order_col: str = "__order",
    ) -> DataFrame:
        """Messages that still need publishing after recovery.

        Per partition, (actual_high - saved_offset) messages at the head of
        the buffer were already published (producer.py:291-422): drop that
        prefix, keep the suffix.  Window rank — no second scan, no driver
        loop.
        """
        already = {
            p: max(0, actual_highs.get(p, 0) - saved_offsets.get(p, 0))
            for p in set(saved_offsets) | set(actual_highs)
        }
        counts = F.create_map(
            *[x for p, n in already.items() for x in (F.lit(p), F.lit(n))]
        )
        marked = prefix_rows_per_key(
            messages,
            keys=[partition_col],
            order_by=[order_col],
            n_col=F.coalesce(F.element_at(counts, F.col(partition_col)), F.lit(0)),
        )
        return marked.filter(~F.col("__in_prefix")).drop("__in_prefix")


def _field_type(schema_json: str, field_name: str):
    import json

    for f in json.loads(schema_json)["fields"]:
        if f["name"] == field_name:
            return f["type"]
    raise KeyError(field_name)
