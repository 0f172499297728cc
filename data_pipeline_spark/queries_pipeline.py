"""Pipeline-native catalog queries: the Avro wire path exercised through the
driver's correctness gate.

``envelope_roundtrip`` packs corpus rows into versioned envelopes (uuid +
message_type + schema_id + Avro payload + magic byte), unpacks and decodes
them back, and projects the payload fields.  The oracle is the identity
projection — if the wire format is lossless the two match exactly.  This
runs the pure-Python Avro codec distributedly inside Arrow-batched UDFs
(the only Python row path in the engine, at the wire boundary only).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_spark import envelope as env
from data_pipeline_spark.io import load_spread, load_table
from data_pipeline_spark.queries import register

_EVENT_WIRE_SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "event",
        "fields": [
            {"name": "event_id", "type": "long"},
            {"name": "user_id", "type": "long"},
            {"name": "event_type", "type": "string"},
            {"name": "value", "type": "double"},
        ],
    }
)


@register(
    "envelope_roundtrip",
    """
    SELECT event_id, user_id, event_type, value
    FROM events
    """,
    doc="Wire-format losslessness: rows -> Avro payload -> envelope pack "
    "(magic byte + binary) -> unpack -> payload decode -> rows "
    "(envelope.py:73-121, _avro_payload.py:86-167 semantics).",
    tags=("E1", "E2", "wire"),
)
def envelope_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread the single-file scan: both Arrow codec crossings otherwise
    # run in ONE task (r12 measured 2.1 s on one of 32 cores; the
    # conditional repartition is a no-op once the scan arrives split)
    events = load_spread(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")
    # the engine's common wire path (r7): encode+pack fused into one Arrow
    # crossing, unpack+decode into another — byte-identical to the layered
    # shape (parity-tested), half the Python boundary traffic
    fused_enc = env.encode_pack_udf(_EVENT_WIRE_SCHEMA, "create", 1)
    wire = events.select(
        fused_enc(
            F.struct("event_id", "user_id", "event_type", "value"),
            env.generate_uuid(),
            F.lit(None).cast("binary"),
            F.lit(1700000000),
        ).alias("value")
    )
    fused_dec, _names = env.unpack_decode_udf(
        {1: _EVENT_WIRE_SCHEMA}, _EVENT_WIRE_SCHEMA, "roundtrip"
    )
    decoded = wire.select(fused_dec(F.col("value")).alias("e"))
    return decoded.select(
        F.col("e.p_event_id").alias("event_id"),
        F.col("e.p_user_id").alias("user_id"),
        F.col("e.p_event_type").alias("event_type"),
        F.col("e.p_value").alias("value"),
    )


@register(
    "topic_transport_roundtrip",
    """
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE event_id < 2000
    """,
    doc="Full transport roundtrip through the driver gate: register schema "
    "-> producer (payload encode, pk key, envelope, partition/offset "
    "assignment) -> file topic on disk -> consumer (offset read, unpack, "
    "schema-dispatched decode).  Lossless iff it matches the identity "
    "oracle.",
    tags=("S1", "S2", "E1", "E2", "E3", "wire"),
)
def topic_transport_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from data_pipeline_spark.consumer import Consumer
    from data_pipeline_spark.producer import Producer
    from data_pipeline_spark.registry import SchemaRegistry
    from data_pipeline_spark.sources.file_topic import TopicStore

    events = load_table(spark, sf_dir, "events").filter(
        F.col("event_id") < 2000
    ).select("event_id", "user_id", "event_type", "value")

    registry = SchemaRegistry()
    rs = registry.register_schema(
        "bench.main.db", "events", _EVENT_WIRE_SCHEMA, primary_keys=("event_id",)
    )
    store = TopicStore(spark, tempfile.mkdtemp(prefix="dps_transport_"))
    Producer(store, registry).publish(
        events, rs.schema_id, num_partitions=4, order_by="event_id"
    )
    msgs = Consumer(store, registry).messages(rs.topic)
    return msgs.select(
        "payload.event_id", "payload.user_id", "payload.event_type", "payload.value"
    )


@register(
    "wire_key_roundtrip",
    """
    SELECT event_id FROM events WHERE event_id < 2000
    """,
    doc="E3 through the driver gate: the Kafka message KEY (Avro-encoded "
    "primary-key projection, message.py:340-384) survives "
    "publish->disk->consume and decodes back to the pk values — the "
    "column log compaction and partition assignment key on.",
    tags=("E3", "wire"),
)
def wire_key_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json as _json
    import tempfile

    from data_pipeline_spark import envelope as env
    from data_pipeline_spark.consumer import Consumer
    from data_pipeline_spark.producer import Producer
    from data_pipeline_spark.registry import SchemaRegistry
    from data_pipeline_spark.sources.file_topic import TopicStore

    events = load_table(spark, sf_dir, "events").filter(
        F.col("event_id") < 2000
    ).select("event_id", "user_id", "event_type", "value")

    registry = SchemaRegistry()
    rs = registry.register_schema(
        "bench.main.db", "events_keys", _EVENT_WIRE_SCHEMA, primary_keys=("event_id",)
    )
    store = TopicStore(spark, tempfile.mkdtemp(prefix="dps_key_transport_"))
    Producer(store, registry).publish(
        events, rs.schema_id, num_partitions=4, order_by="event_id"
    )
    pk_schema = _json.dumps(
        {
            "type": "record",
            "name": "pk",
            "fields": [{"name": "event_id", "type": "long"}],
        }
    )
    raw = Consumer(store, registry).raw(rs.topic)
    return raw.select(
        env.decode_payload_udf(pk_schema)(F.col("key")).alias("k")
    ).select(F.col("k.event_id").alias("event_id"))


@register(
    "encrypted_transport_roundtrip",
    """
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE event_id < 1000
    """,
    doc="E4 on the wire through the driver gate: publish with AES-CBC "
    "payload encryption (per-row IV as a meta attribute, "
    "encryption_type on the envelope), consume with the key ring, "
    "decrypt JVM-side, decode.  Lossless iff it matches the identity "
    "oracle — ciphertext and random IVs never reach the compared output.",
    tags=("E4", "E1", "E2", "wire", "crypto"),
)
def encrypted_transport_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from data_pipeline_spark.consumer import Consumer
    from data_pipeline_spark.producer import Producer
    from data_pipeline_spark.registry import SchemaRegistry
    from data_pipeline_spark.sources.file_topic import TopicStore

    key = b"0123456789abcdef0123456789abcdef"
    events = load_table(spark, sf_dir, "events").filter(
        F.col("event_id") < 1000
    ).select("event_id", "user_id", "event_type", "value")

    registry = SchemaRegistry()
    rs = registry.register_schema(
        "bench.main.db",
        "events_pii",
        _EVENT_WIRE_SCHEMA,
        primary_keys=("event_id",),
        contains_pii=True,
    )
    store = TopicStore(spark, tempfile.mkdtemp(prefix="dps_enc_transport_"))
    Producer(store, registry).publish(
        events,
        rs.schema_id,
        num_partitions=4,
        order_by="event_id",
        encrypt_key=(1, key),
    )
    msgs = Consumer(store, registry).messages(rs.topic, crypto_keys={1: key})
    return msgs.select(
        "payload.event_id", "payload.user_id", "payload.event_type", "payload.value"
    )
