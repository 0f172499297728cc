"""Multi-topic consume + introspector catalog commands."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from data_pipeline_spark.consumer import Consumer
from data_pipeline_spark.introspector import Introspector
from data_pipeline_spark.io import load_table
from data_pipeline_spark.producer import Producer
from data_pipeline_spark.registry import SchemaRegistry
from data_pipeline_spark.sources.file_topic import TopicStore
from tests.conftest import SF_SMOKE

SCHEMA_A = json.dumps(
    {"type": "record", "name": "a", "fields": [{"name": "event_id", "type": "long"}]}
)
SCHEMA_B = json.dumps(
    {
        "type": "record",
        "name": "b",
        "fields": [
            {"name": "event_id", "type": "long"},
            {"name": "value", "type": "double"},
        ],
    }
)


def test_multi_topic_consume_and_introspection(spark, tmp_path):
    reg = SchemaRegistry()
    a = reg.register_schema("ns.main.db", "alpha", SCHEMA_A, primary_keys=("event_id",))
    b = reg.register_schema("ns.main.db", "beta", SCHEMA_B)
    store = TopicStore(spark, str(tmp_path / "topics"))
    prod = Producer(store, reg)
    ev = load_table(spark, SF_SMOKE, "events")
    prod.publish(ev.select("event_id").limit(30), a.schema_id, order_by="event_id")
    prod.publish(
        ev.select("event_id", "value").limit(20), b.schema_id, order_by="event_id"
    )

    cons = Consumer(store, reg)
    union = cons.messages_union([a.topic, b.topic])
    counts = {r.topic: r.n for r in union.groupBy("topic").agg(F.count("*").alias("n")).collect()}
    assert counts == {a.topic: 30, b.topic: 20}
    # heterogeneous payloads ride as JSON with per-topic schemas
    sample = union.filter(F.col("topic") == b.topic).limit(1).collect()[0]
    assert "value" in sample.payload_json

    intro = Introspector(spark, reg, store)
    assert [r.namespace for r in intro.list_namespaces().collect()] == ["ns.main.db"]
    sources = {(r.source, r.n_schemas) for r in intro.list_sources().collect()}
    assert sources == {("alpha", 1), ("beta", 1)}
    topics = {r.topic for r in intro.list_topics("ns.main.db").collect()}
    assert topics == {a.topic, b.topic}
    info = intro.topic_info(a.topic, check_gap=True)
    assert info["primary_keys"] == ["event_id"]
    assert info["message_count"] == 30
    assert info["reserved_count"] == 30 and info["reserved_gap"] == 0
    assert sum(info["high_watermarks"].values()) == 30


def test_schema_elements_docs_and_notes_roundtrip(spark, tmp_path):
    """AvroSchemaElement analogue (models/avro_schema_element.py:41):
    register a schema with field docs, attach a user note, and see both
    surfaced by the introspector — including after save/load."""
    reg = SchemaRegistry()
    schema = json.dumps(
        {
            "type": "record",
            "name": "biz",
            "doc": "a business row",
            "fields": [
                {"name": "id", "type": "long", "doc": "surrogate key"},
                {"name": "name", "type": ["null", "string"], "default": None},
            ],
        }
    )
    rs = reg.register_schema("ns.main.db", "biz", schema)

    elements = reg.get_schema_elements_by_schema_id(rs.schema_id)
    by_key = {e.key: e for e in elements}
    assert by_key["biz"].element_type == "record"
    assert by_key["biz"].doc == "a business row"
    assert by_key["biz|id"].doc == "surrogate key"
    assert by_key["biz|id"].element_type == "long"
    assert by_key["biz|name"].element_type == "union[null,string]"
    assert by_key["biz|name"].doc is None

    reg.register_schema_element_note(rs.schema_id, "id", "do not reuse ids")
    try:
        reg.register_schema_element_note(rs.schema_id, "nope", "x")
        raise AssertionError("unknown element must raise")
    except KeyError:
        pass

    # notes survive registry persistence
    path = str(tmp_path / "registry.parquet")
    reg.save(spark, path)
    reloaded = SchemaRegistry.load(spark, path)
    els = {
        e.element_name: e
        for e in reloaded.get_schema_elements_by_schema_id(rs.schema_id)
    }
    assert els["id"].note == "do not reuse ids"
    assert els["id"].doc == "surrogate key"

    # introspector surfaces the per-field elements
    info = Introspector(spark, reloaded).topic_info(rs.topic)
    fields = {f["name"]: f for f in info["elements"]}
    assert fields["id"]["note"] == "do not reuse ids"
    assert fields["id"]["doc"] == "surrogate key"
    assert fields["name"]["type"] == "union[null,string]"


def test_schema_elements_df_view(spark):
    """Elements surface as a broadcastable catalog dimension too."""
    reg = SchemaRegistry()
    rs = reg.register_schema(
        "v.main.db", "t",
        json.dumps({"type": "record", "name": "t",
                    "fields": [{"name": "a", "type": "long", "doc": "fa"}]}),
    )
    reg.register_schema_element_note(rs.schema_id, "a", "careful")
    rows = {r.key: r for r in reg.schema_elements_df(spark).collect()}
    assert rows["t"].element_type == "record"
    assert rows["t|a"].doc == "fa" and rows["t|a"].note == "careful"
    assert rows["t|a"].schema_id == rs.schema_id


def test_topic_info_surfaces_reservation_gap(spark, tmp_path):
    """A crashed publish that reserved offsets but never appended data
    shows up as reserved_gap > 0 with message_count = rows actually on
    disk (watermark-derived counts would silently overcount)."""
    import json

    from data_pipeline_spark.producer import Producer
    from data_pipeline_spark.registry import SchemaRegistry
    from data_pipeline_spark.sources.file_topic import TopicStore

    reg = SchemaRegistry()
    rs = reg.register_schema(
        "gap.main.db", "events",
        json.dumps({"type": "record", "name": "e",
                    "fields": [{"name": "event_id", "type": "long"}]}),
    )
    store = TopicStore(spark, str(tmp_path / "topics"))
    rows = spark.createDataFrame([(i,) for i in range(20)], "event_id LONG")
    Producer(store, reg).publish(rows, rs.schema_id, order_by="event_id")

    # simulate the crash window: reservation only, no data
    highs = store.high_watermarks(rs.topic)
    spark.createDataFrame(
        [(p, h + 3, "crashed:1", h) for p, h in highs.items()],
        "partition INT, next_offset LONG, publish_id STRING, base_offset LONG",
    ).write.mode("append").parquet(store._meta_dir(rs.topic))

    intro = Introspector(spark, reg, store)
    cheap = intro.topic_info(rs.topic)  # O(1) default: sidecar only
    assert cheap["reserved_count"] == 20 + 3 * len(highs)
    assert "reserved_gap" not in cheap
    info = intro.topic_info(rs.topic, check_gap=True)
    assert info["message_count"] == 20
    assert info["reserved_count"] == 20 + 3 * len(highs)
    assert info["reserved_gap"] == 3 * len(highs)
