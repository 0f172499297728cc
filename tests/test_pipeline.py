"""End-to-end pipeline tests: registry, envelope in Spark, producer ->
topic -> consumer roundtrip, exactly-once recovery, tailer, refresh."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from data_pipeline_spark import envelope as env
from data_pipeline_spark.consumer import Consumer, Tailer
from data_pipeline_spark.io import load_table
from data_pipeline_spark.producer import Producer
from data_pipeline_spark.refresh import FullRefreshManager, FullRefreshRunner, RefreshJob
from data_pipeline_spark.registry import SchemaRegistry
from data_pipeline_spark.sources.file_topic import OffsetLedger, TopicStore
from tests.conftest import SF_SMOKE

EVENT_SCHEMA = json.dumps(
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


@pytest.fixture()
def registry():
    reg = SchemaRegistry()
    reg.register_schema(
        "test.main.db", "events", EVENT_SCHEMA, primary_keys=("event_id",)
    )
    return reg


@pytest.fixture()
def store(spark, tmp_path):
    return TopicStore(spark, str(tmp_path / "topics"))


def _events(spark, n=200):
    return (
        load_table(spark, SF_SMOKE, "events")
        .select("event_id", "user_id", "event_type", "value")
        .orderBy("event_id")
        .limit(n)
    )


# -- registry ---------------------------------------------------------------


def test_registry_idempotent_and_compat_rolls_topic():
    reg = SchemaRegistry()
    a = reg.register_schema("ns.cluster.db", "tbl", EVENT_SCHEMA)
    b = reg.register_schema("ns.cluster.db", "tbl", EVENT_SCHEMA)
    assert a.schema_id == b.schema_id and a.topic == b.topic  # idempotent

    compatible = json.loads(EVENT_SCHEMA)
    compatible["fields"].append({"name": "extra", "type": "int", "default": 0})
    c = reg.register_schema("ns.cluster.db", "tbl", json.dumps(compatible))
    assert c.topic == a.topic and c.schema_id != a.schema_id

    breaking = json.loads(EVENT_SCHEMA)
    breaking["fields"][0]["type"] = "string"  # retype pk: incompatible
    d = reg.register_schema("ns.cluster.db", "tbl", json.dumps(breaking))
    assert d.topic != a.topic and d.topic.endswith(".v2")

    assert reg.topics(namespace="ns.cluster.db") == sorted([a.topic, d.topic])
    assert reg.latest_schema_for_topic(a.topic).schema_id == c.schema_id


# -- envelope in Spark ------------------------------------------------------


def test_envelope_pack_unpack_roundtrip(spark):
    df = _events(spark, 50)
    enc = env.encode_payload_udf(EVENT_SCHEMA)(
        F.struct("event_id", "user_id", "event_type", "value")
    )
    packed = df.select(
        env.pack(
            F.struct(
                env.generate_uuid().alias("uuid"),
                F.lit("create").alias("message_type"),
                F.lit(1).alias("schema_id"),
                enc.alias("payload"),
                F.lit(None).cast("binary").alias("previous_payload"),
                F.lit(None).cast("string").alias("encryption_type"),
                F.lit(1700000000).alias("timestamp"),
            )
        ).alias("value"),
        "event_id",
    )
    unpacked = packed.select("event_id", env.unpack("value").alias("e"))
    dec = env.decode_payload_udf(EVENT_SCHEMA)(F.col("e.payload"))
    out = unpacked.select("event_id", F.col("e.message_type"), dec.alias("p"))
    rows = out.collect()
    assert len(rows) == 50
    for r in rows:
        assert r.message_type == "create"
        assert r.p.event_id == r.event_id


# -- producer -> consumer roundtrip ----------------------------------------


def test_publish_consume_roundtrip(spark, registry, store):
    rs = registry.latest_schema_for_source("test.main.db", "events")
    producer = Producer(store, registry)
    stats = producer.publish(
        _events(spark, 200), rs.schema_id, num_partitions=4, order_by="event_id"
    )
    assert stats.message_count == 200
    assert sum(stats.high_watermarks.values()) == 200

    consumer = Consumer(store, registry)
    msgs = consumer.messages(rs.topic)
    got = sorted(
        (r.payload.event_id, r.payload.event_type, r.payload.value)
        for r in msgs.collect()
    )
    want = sorted(
        (r.event_id, r.event_type, r.value) for r in _events(spark, 200).collect()
    )
    assert got == want

    # same key -> same partition (FIFO per key)
    parts = msgs.select("payload.event_id", "partition").collect()
    by_key = {}
    for r in parts:
        by_key.setdefault(r.event_id, set()).add(r.partition)
    assert all(len(v) == 1 for v in by_key.values())


def test_offset_ledger_commit_and_resume(spark, registry, store, tmp_path):
    rs = registry.latest_schema_for_source("test.main.db", "events")
    producer = Producer(store, registry)
    ledger = OffsetLedger(spark, str(tmp_path / "offsets"))
    consumer = Consumer(store, registry, group="g1", ledger=ledger)

    producer.publish(_events(spark, 100), rs.schema_id, order_by="event_id")
    batch1 = consumer.messages(rs.topic, from_committed=True)
    assert batch1.count() == 100
    consumer.commit(rs.topic, batch1)

    # nothing new -> empty resume
    assert consumer.messages(rs.topic, from_committed=True).count() == 0

    # publish 50 more; resume sees exactly those
    more = _events(spark, 150).filter(F.col("event_id") >= 100)
    producer.publish(more, rs.schema_id, order_by="event_id")
    batch2 = consumer.messages(rs.topic, from_committed=True)
    assert batch2.count() == 50


def test_commit_after_collect_skips_later_publish(spark, registry, store, tmp_path):
    """A publish landing between collect() and commit() is neither
    committed nor lost: the consumed frame ends at the high watermarks of
    its messages() call, so commit re-executes the same snapshot."""
    rs = registry.latest_schema_for_source("test.main.db", "events")
    producer = Producer(store, registry)
    ledger = OffsetLedger(spark, str(tmp_path / "offsets"))
    consumer = Consumer(store, registry, group="race", ledger=ledger)
    events = _events(spark, 120)

    producer.publish(events.filter(F.col("event_id") < 80), rs.schema_id, order_by="event_id")
    batch_a = consumer.messages(rs.topic, from_committed=True)
    got_a = sorted(r.payload.event_id for r in batch_a.collect())
    producer.publish(events.filter(F.col("event_id") >= 80), rs.schema_id, order_by="event_id")
    consumer.commit(rs.topic, batch_a)

    got_b = sorted(
        r.payload.event_id
        for r in consumer.messages(rs.topic, from_committed=True).collect()
    )
    want = sorted(r.event_id for r in events.collect())
    assert got_a == [e for e in want if e < 80]
    assert got_b == [e for e in want if e >= 80]


def _jobs_in_group(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_ledger_spark_action_budget(spark, tmp_path):
    """committed() is a driver read (0 jobs); commit_messages() runs one
    aggregation and writes from the driver (1 job).  Adaptive execution
    runs each shuffle stage as its own job, so the commit is counted with
    it off, where one action is one job."""
    import uuid

    ledger = OffsetLedger(spark, str(tmp_path / "ledger"))
    consumed = spark.createDataFrame(
        [(p, o) for p in range(3) for o in range(5)], "partition INT, offset LONG"
    )
    tag = uuid.uuid4().hex
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        _, n_commit = _jobs_in_group(
            spark, f"commit-{tag}", lambda: ledger.commit_messages("g", "t", consumed)
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    got, n_read = _jobs_in_group(
        spark, f"committed-{tag}", lambda: ledger.committed("g", "t")
    )
    assert got == {0: 5, 1: 5, 2: 5}
    assert (n_commit, n_read) == (1, 0)



def _aggregated(frame):
    """What the reference commit path writes for ``frame``."""
    return {
        r.partition: r.n
        for r in frame.groupBy("partition")
        .agg((F.max("offset") + 1).alias("n"))
        .collect()
    }


def test_commit_after_collect_runs_no_spark_job(spark, registry, store, tmp_path):
    """After the tail's collect, commit writes the offsets that collect
    observed: no Spark job, and exactly what the aggregation commits."""
    import uuid

    rs = registry.latest_schema_for_source("test.main.db", "events")
    Producer(store, registry).publish(_events(spark, 120), rs.schema_id, order_by="event_id")
    ledger = OffsetLedger(spark, str(tmp_path / "offsets"))
    consumer = Consumer(store, registry, group="g", ledger=ledger)
    msgs = consumer.messages(rs.topic, from_committed=True)
    assert len(msgs.collect()) == 120
    _, n_jobs = _jobs_in_group(
        spark, f"commit-{uuid.uuid4().hex}", lambda: consumer.commit(rs.topic, msgs)
    )
    assert n_jobs == 0
    assert ledger.committed("g", rs.topic) == _aggregated(msgs)
    assert ledger.committed("g", rs.topic) == store.high_watermarks(rs.topic)
    assert consumer.messages(rs.topic, from_committed=True).count() == 0


def test_commit_of_unobserved_frames_matches_aggregation(spark, registry, store, tmp_path):
    """A never-actioned frame, a derived frame, an emptied frame and a
    messages_union frame commit exactly what the aggregation commits; so
    does an observed frame that read rows outside its known partitions."""
    reg2 = registry.register_schema("test.main.db", "events2", EVENT_SCHEMA)
    rs = registry.latest_schema_for_source("test.main.db", "events")
    prod = Producer(store, registry)
    prod.publish(_events(spark, 90), rs.schema_id, order_by="event_id")
    prod.publish(_events(spark, 40), reg2.schema_id, num_partitions=2, order_by="event_id")
    ledger = OffsetLedger(spark, str(tmp_path / "offsets"))
    consumer = Consumer(store, registry, ledger=ledger)
    frames = {
        "unactioned": consumer.messages(rs.topic),
        "select": consumer.messages(rs.topic).select("partition", "offset"),
        "limit0": consumer.messages(rs.topic).limit(0),
        "union": consumer.messages_union([rs.topic, reg2.topic]),
    }
    for name, frame in frames.items():
        ledger.commit_messages(name, rs.topic, frame)
        assert ledger.committed(name, rs.topic) == _aggregated(frame), name
    assert ledger.committed("limit0", rs.topic) == {}

    observed = consumer.messages(rs.topic)
    observed.limit(0).collect()  # completes the observation with no metrics
    ledger.commit_messages("limit0-first", rs.topic, observed)
    assert ledger.committed("limit0-first", rs.topic) == _aggregated(observed)

    outside = OffsetLedger.observe(
        spark.createDataFrame([(0, 4), (1, 6), (2, 9)], "partition INT, offset LONG"),
        "t",
        [0, 1],
    )
    outside.collect()
    ledger.commit_messages("outside", "t", outside)
    assert ledger.committed("outside", "t") == {0: 5, 1: 7, 2: 10}


def test_collect_between_reservation_and_landing_loses_nothing(
    spark, registry, store, tmp_path, monkeypatch
):
    """A tail collected after a publish reserved its offsets but before
    its files landed sees none of them; committing that tail afterwards
    does not skip them (committing the snapshot's watermarks, which
    already hold the reservation, would), and the next tail delivers
    them."""
    rs = registry.latest_schema_for_source("test.main.db", "events")
    prod = Producer(store, registry)
    ledger = OffsetLedger(spark, str(tmp_path / "offsets"))
    consumer = Consumer(store, registry, group="gap", ledger=ledger)
    events = _events(spark, 100)
    prod.publish(events.filter(F.col("event_id") < 60), rs.schema_id, order_by="event_id")
    first = consumer.messages(rs.topic, from_committed=True)
    assert first.count() == 60
    consumer.commit(rs.topic, first)

    seen = {}

    def hook(topic):
        seen["frame"] = consumer.messages(rs.topic, from_committed=True)
        seen["rows"] = seen["frame"].collect()

    monkeypatch.setattr(store, "_post_reserve_hook", hook)
    prod.publish(events.filter(F.col("event_id") >= 60), rs.schema_id, order_by="event_id")
    monkeypatch.undo()
    assert seen["rows"] == []
    consumer.commit(rs.topic, seen["frame"])

    got = sorted(
        r.payload.event_id
        for r in consumer.messages(rs.topic, from_committed=True).collect()
    )
    assert got == sorted(r.event_id for r in events.collect() if r.event_id >= 60)


def test_publish_runs_one_spark_write_and_persists_nothing(spark, store):
    """One publish is one Spark write job (counted with adaptive execution
    off, where one action is one job) and leaves no RDD persisted, also
    when the write raises; the failed write's staged files never reach a
    reader and the next publish removes them."""
    import uuid

    jsc = spark.sparkContext._jsc
    persisted = set(jsc.getPersistentRDDs().keySet())
    batch = spark.createDataFrame(
        [(bytes([i]), bytes([i, i])) for i in range(40)], "key BINARY, value BINARY"
    )
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        counts = []
        for _ in range(2):  # a new topic, then one with a sidecar
            highs, n_jobs = _jobs_in_group(
                spark, f"publish-{uuid.uuid4().hex}", lambda: store.publish(batch, "t")
            )
            counts.append(n_jobs)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert counts == [1, 1]
    assert sum(highs.values()) == 80
    assert set(jsc.getPersistentRDDs().keySet()) == persisted

    bad = batch.withColumn(
        "value", F.when(F.col("value").isNotNull(), F.raise_error(F.lit("boom")))
    )
    with pytest.raises(Exception, match="boom"):
        store.publish(bad, "t")
    assert set(jsc.getPersistentRDDs().keySet()) == persisted
    assert store.high_watermarks("t") == highs
    assert store.read("t").count() == 80
    store.publish(batch.limit(1), "t")
    assert not os.listdir(store._staging_dir("t"))
    assert store.read("t").count() == 81

def _tagged_sidecar(spark, registry, store):
    """A topic whose sidecar holds two tagged publishes (``w:0``, ``v:0``)
    around an untagged one; returns it with the reserved ranges."""
    rs = registry.latest_schema_for_source("test.main.db", "events")
    prod = Producer(store, registry)
    ranges = {}
    for n, pid in ((30, "w:0"), (40, None), (50, "v:0")):
        before = store.high_watermarks(rs.topic)
        batch = _events(spark, n).filter(F.col("event_id") >= n - 10)
        after = prod.publish(
            batch, rs.schema_id, order_by="event_id", publish_id=pid
        ).high_watermarks
        ranges[pid] = {p: (before[p], after[p]) for p in after}
    return rs.topic, ranges


def test_sidecar_compaction_and_lookup_run_no_spark_job(spark, registry, store):
    """compact_meta and find_publish are driver reads of the sidecar:
    no Spark job, same reserved ranges before and after compaction."""
    import uuid

    topic, ranges = _tagged_sidecar(spark, registry, store)
    tag = uuid.uuid4().hex
    found, n_find = _jobs_in_group(
        spark, f"find-{tag}", lambda: store.find_publish(topic, "w:0")
    )
    _, n_compact = _jobs_in_group(
        spark, f"compact-{tag}", lambda: store.compact_meta(topic)
    )
    assert (n_find, n_compact) == (0, 0)
    assert found == ranges["w:0"]
    assert store.find_publish(topic, "v:0") == ranges["v:0"]
    assert store.find_publish(topic, "nobody:0") is None


def test_sidecar_compaction_crash_keeps_reservations(
    spark, registry, store, monkeypatch
):
    """A compaction that dies between removing the files it replaced
    leaves high_watermarks and find_publish unchanged (the compacted file
    landed first); a rerun converges to one compacted file."""
    topic, ranges = _tagged_sidecar(spark, registry, store)

    def reads():
        return (
            store.high_watermarks(topic),
            store.find_publish(topic, "w:0"),
            store.find_publish(topic, "v:0"),
        )

    before = reads()
    assert before[1:] == (ranges["w:0"], ranges["v:0"])
    real_remove = os.remove
    removed = []

    def dying_remove(path):
        if removed:
            raise OSError("crash mid-compaction")
        removed.append(path)
        real_remove(path)

    monkeypatch.setattr(os, "remove", dying_remove)
    with pytest.raises(OSError):
        store.compact_meta(topic)
    monkeypatch.undo()
    assert removed and reads() == before
    store.compact_meta(topic)
    assert reads() == before
    meta = store._meta_dir(topic)
    assert len([n for n in os.listdir(meta) if not n.startswith((".", "_"))]) == 1


def _spark_committed(spark, path, group, topic):
    """The ledger read as Spark ran it before the driver-side read."""
    return {
        r.partition: r.next_offset
        for r in spark.read.parquet(path)
        .filter((F.col("group") == group) & (F.col("topic") == topic))
        .groupBy("partition")
        .agg(F.max("next_offset").alias("next_offset"))
        .collect()
    }


def test_ledger_reads_spark_and_driver_written_files(spark, tmp_path):
    """A ledger directory holding a Spark-written file (with _SUCCESS and
    .crc siblings) and driver-written files reads the same committed()
    map as Spark does; compact() keeps it; an empty consumed batch
    changes nothing."""
    path = str(tmp_path / "ledger")
    spark.createDataFrame(
        [("g", "t", 0, 7), ("g", "t", 1, 9), ("g", "u", 0, 50), ("h", "t", 2, 4)],
        "group STRING, topic STRING, partition INT, next_offset LONG",
    ).write.mode("append").parquet(path)
    assert any(n.startswith(("_", ".")) for n in os.listdir(path))
    ledger = OffsetLedger(spark, path)
    consumed = spark.createDataFrame(
        [(0, 3), (1, 20), (2, 10)], "partition INT, offset LONG"
    )
    ledger.commit_messages("g", "t", consumed)
    want = {0: 7, 1: 21, 2: 11}
    assert ledger.committed("g", "t") == _spark_committed(spark, path, "g", "t") == want
    assert ledger.committed("g", "u") == {0: 50}
    assert ledger.committed("h", "t") == {2: 4}

    ledger.commit_messages("g", "t", consumed.limit(0))
    assert ledger.committed("g", "t") == want

    ledger.compact()
    assert ledger.committed("g", "t") == _spark_committed(spark, path, "g", "t") == want
    assert ledger.committed("g", "u") == {0: 50}
    assert ledger.committed("h", "t") == {2: 4}
    assert len(os.listdir(path)) == 1  # Spark's _SUCCESS and .crc files too
    assert spark.read.parquet(path).count() == 5


def test_reader_schema_resolution_on_consume(spark, registry, store):
    """Old messages decode with the topic's newer (compatible) schema."""
    rs = registry.latest_schema_for_source("test.main.db", "events")
    producer = Producer(store, registry)
    producer.publish(_events(spark, 30), rs.schema_id, order_by="event_id")

    evolved = json.loads(EVENT_SCHEMA)
    evolved["fields"].append({"name": "score", "type": "double", "default": -1.0})
    registry.register_schema(
        "test.main.db", "events", json.dumps(evolved), primary_keys=("event_id",)
    )
    consumer = Consumer(store, registry)
    rows = consumer.messages(rs.topic).collect()  # latest = evolved reader
    assert all(r.payload.score == -1.0 for r in rows)
    assert len(rows) == 30


def test_exactly_once_unpublished_suffix(spark):
    msgs = spark.createDataFrame(
        [(p, i) for p in (0, 1) for i in range(10)], "partition INT, __order INT"
    )
    # partition 0: saved=3 actual=7 -> skip first 4; partition 1: in sync
    out = Producer.unpublished_suffix(
        msgs, saved_offsets={0: 3, 1: 5}, actual_highs={0: 7, 1: 5}
    )
    remaining = sorted((r["partition"], r["__order"]) for r in out.collect())
    assert remaining == [(0, i) for i in range(4, 10)] + [(1, i) for i in range(10)]


# -- tailer -----------------------------------------------------------------


def test_tailer_projection_bounds_limit(spark, registry, store):
    rs = registry.latest_schema_for_source("test.main.db", "events")
    Producer(store, registry).publish(
        _events(spark, 100),
        rs.schema_id,
        order_by="event_id",
        timestamp_col="event_id",  # deterministic event-time for bounds
    )
    tailer = Tailer(Consumer(store, registry))
    out = tailer.tail(
        rs.topic, fields=["event_id", "event_type"], start_ts=10, end_ts=60, limit=20
    )
    rows = out.collect()
    assert len(rows) == 20
    assert all(10 <= r.timestamp < 60 for r in rows)
    assert set(out.columns) == {
        "partition", "offset", "message_type", "timestamp", "event_id", "event_type",
    }


# -- refresh ----------------------------------------------------------------


def test_full_refresh_runner_and_manager(spark, registry, store):
    rs = registry.latest_schema_for_source("test.main.db", "events")
    runner = FullRefreshRunner(Producer(store, registry))
    job = RefreshJob(
        refresh_id=1,
        source="events",
        namespace="test.main.db",
        schema_id=rs.schema_id,
        batch_size=64,
        filter_condition="event_type = 'click'",
    )
    table = _events(spark, 200)
    n = runner.run(table, "event_id", job)
    expected = table.filter("event_type = 'click'").count()
    assert n == expected

    msgs = Consumer(store, registry).messages(rs.topic)
    assert msgs.filter(F.col("message_type") == "refresh").count() == expected
    assert msgs.select("payload.event_type").distinct().collect()[0][0] == "click"

    mgr = FullRefreshManager(spark, total_rows_per_second_cap=1000)
    mgr.request(source="s1", namespace="ns", schema_id=1, priority=80)
    paused = mgr.request(source="s1", namespace="ns", schema_id=1, priority=80)
    mgr.set_status(paused.refresh_id, "PAUSED", offset=3)
    mgr.request(source="s2", namespace="ns", schema_id=1, priority=10)
    heads = {r.source: r.refresh_id for r in mgr.next_per_source().collect()}
    # equal priority: PAUSED job beats the new one
    assert heads["s1"] == paused.refresh_id
    assert mgr.allocate_throughput(["s1", "s2"]) == {"s1": 500, "s2": 500}


def test_permissive_unpack_quarantines_corrupt(spark, registry, store):
    """Corrupt wire bytes become null rows in PERMISSIVE mode; FAILFAST
    raises (Spark's PERMISSIVE/FAILFAST parse-mode semantics)."""
    rs = registry.latest_schema_for_source("test.main.db", "events")
    producer = Producer(store, registry)
    producer.publish(_events(spark, 10), rs.schema_id, order_by="event_id")

    good = store.read(rs.topic).select("value")
    corrupt = spark.createDataFrame(
        [(bytearray(b"\x42not-an-envelope"),), (bytearray(b"\x00\x01"),)],
        "value BINARY",
    )
    mixed = good.unionByName(corrupt)

    permissive = mixed.select(env.unpack(F.col("value"), mode="PERMISSIVE").alias("e"))
    rows = permissive.select("e.schema_id").collect()
    assert len(rows) == 12
    assert sum(1 for r in rows if r.schema_id is None) == 2
    assert sum(1 for r in rows if r.schema_id is not None) == 10

    import pytest as _pytest

    with _pytest.raises(Exception):
        mixed.select(env.unpack(F.col("value")).alias("e")).collect()


def test_three_generation_schema_evolution(spark, registry, store):
    """Messages written under three schema generations all decode with the
    newest reader (int->long promotion + two added defaults)."""
    import json as _json

    producer = Producer(store, registry)
    rs1 = registry.latest_schema_for_source("test.main.db", "events")
    producer.publish(_events(spark, 10), rs1.schema_id, order_by="event_id")

    gen2 = _json.loads(EVENT_SCHEMA)
    gen2["fields"].append({"name": "score", "type": "double", "default": -1.0})
    rs2 = registry.register_schema(
        "test.main.db", "events", _json.dumps(gen2), primary_keys=("event_id",)
    )
    ev2 = _events(spark, 20).filter(F.col("event_id") >= 10).withColumn(
        "score", F.lit(0.5)
    )
    producer.publish(ev2, rs2.schema_id, order_by="event_id")

    gen3 = _json.loads(_json.dumps(gen2))
    gen3["fields"].append({"name": "tag", "type": "string", "default": "none"})
    rs3 = registry.register_schema(
        "test.main.db", "events", _json.dumps(gen3), primary_keys=("event_id",)
    )
    assert rs1.topic == rs2.topic == rs3.topic  # all compatible: same topic

    rows = Consumer(store, registry).messages(rs1.topic).collect()
    assert len(rows) == 20
    by_gen = {}
    for r in rows:
        by_gen.setdefault(r.schema_id, []).append(r)
    assert set(by_gen) == {rs1.schema_id, rs2.schema_id}
    # gen-1 rows: both defaults filled; gen-2 rows: real score, default tag
    for r in by_gen[rs1.schema_id]:
        assert r.payload.score == -1.0 and r.payload.tag == "none"
    for r in by_gen[rs2.schema_id]:
        assert r.payload.score == 0.5 and r.payload.tag == "none"


def test_compaction_eligible_topics(spark, registry):
    """Compaction policy selection (compaction_setter.py:79-116): only
    topics whose latest schema declares primary keys are compacted."""
    import json as _json

    no_pk = _json.loads(EVENT_SCHEMA)
    registry.register_schema("test.main.db", "no_pk_src", _json.dumps(no_pk))
    eligible = registry.topics_with_primary_keys()
    assert eligible == ["test.main.db.events.v1"]


def test_registry_compat_gate_is_transitive():
    """FULL_TRANSITIVE: A->B and B->C each pass full compat, but an A-reader
    cannot resolve C (A.x has no default), so C must roll the topic — the
    latest-only gate (pre-r5) kept all three on v1."""
    import json as _json

    def rec(fields):
        return _json.dumps({"type": "record", "name": "e", "fields": fields})

    a = rec([{"name": "x", "type": "int"}])
    b = rec([
        {"name": "x", "type": "int", "default": 0},
        {"name": "y", "type": "int", "default": 0},
    ])
    c = rec([{"name": "y", "type": "int", "default": 0}])

    reg = SchemaRegistry()
    ra = reg.register_schema("ns.db.t", "src", a)
    rb = reg.register_schema("ns.db.t", "src", b)
    rc = reg.register_schema("ns.db.t", "src", c)
    assert ra.topic == rb.topic  # A<->B fully compatible
    assert rc.topic != ra.topic  # A<->C is not: new topic version


def test_envelope_meta_rides_distributed_pack(spark, registry, store):
    """E4/D5: the MetaAttribute array (e.g. the AES IV) round-trips through
    the Arrow-batched pack/unpack UDFs, not just the driver-side codec."""
    from data_pipeline_spark.functions import crypto

    rs = registry.latest_schema_for_source("test.main.db", "events")
    iv_attr = crypto.meta_attribute(
        999, F.encode(F.concat(F.lit("iv-"), F.col("event_id")), "utf-8")
    )
    prod = Producer(store, registry)
    wire = prod.prepare(
        _events(spark, 20), rs.schema_id, meta=F.array(iv_attr)
    )
    unpacked = wire.select(env.unpack(F.col("value")).alias("e")).select("e.*")
    rows = unpacked.select("schema_id", "meta").collect()
    assert len(rows) == 20
    for r in rows:
        assert r.meta is not None and len(r.meta) == 1
        assert r.meta[0].schema_id == 999
        assert bytes(r.meta[0].payload).startswith(b"iv-")
    # meta-less prepare still packs/unpacks as null meta
    plain = prod.prepare(_events(spark, 5), rs.schema_id)
    for r in plain.select(env.unpack(F.col("value")).alias("e")).select("e.meta").collect():
        assert r.meta is None


def test_zombie_refresh_detection(spark):
    """T11: an IN_PROGRESS refresh whose worker stopped heartbeating past
    the lease is failed so its source can be rescheduled."""
    mgr = FullRefreshManager(spark)
    j1 = mgr.request(source="a", namespace="ns", schema_id=1)
    j2 = mgr.request(source="b", namespace="ns", schema_id=1)
    now = 1_000_000
    mgr.set_status(j1.refresh_id, "IN_PROGRESS")
    mgr.set_status(j2.refresh_id, "IN_PROGRESS")
    mgr.heartbeat(j1.refresh_id, now=now)
    mgr.heartbeat(j2.refresh_id, now=now - 120)  # stale worker

    failed = mgr.set_zombie_refreshes_to_fail(lease_seconds=60, now=now)
    assert failed == [j2.refresh_id]
    assert mgr.jobs[j2.refresh_id].status == "FAILED"
    assert mgr.jobs[j1.refresh_id].status == "IN_PROGRESS"
    # PAUSED/finished jobs are never zombie-failed
    mgr.set_status(j1.refresh_id, "PAUSED")
    assert mgr.set_zombie_refreshes_to_fail(lease_seconds=60, now=now + 10**6) == []


def test_lease_lock_single_instance(tmp_path):
    """T12: second instance times out while the lease is live; a crashed
    holder's expired lease is broken; release is owner-checked."""
    from data_pipeline_spark.coordination import LeaseLock, LockTimeout

    root = str(tmp_path / "locks")
    with LeaseLock("refresh", "ns.db", root, lease_seconds=60, timeout=1) as lock:
        dup = LeaseLock("refresh", "ns.db", root, timeout=0, owner="other")
        with pytest.raises(LockTimeout):
            dup.acquire()
        # a different (name, namespace) is independent
        with LeaseLock("refresh", "ns.other", root, timeout=0):
            pass
        lock.renew()
    # released: immediate re-acquire succeeds
    with LeaseLock("refresh", "ns.db", root, timeout=0):
        pass

    # crashed holder: lease already expired -> breakable without waiting
    dead = LeaseLock("refresh", "ns.db", root, lease_seconds=-1, timeout=0)
    dead.acquire()
    dead.acquired = False  # simulate crash: never released
    with LeaseLock("refresh", "ns.db", root, timeout=0) as lock2:
        assert lock2.acquired


def test_lease_lock_usurped_holder_cannot_clobber(tmp_path):
    """A holder whose lease expired and was taken over must not delete or
    rewrite the new holder's lock (renew raises, release is a no-op)."""
    from data_pipeline_spark.coordination import LeaseLock, LockTimeout

    root = str(tmp_path / "locks")
    old = LeaseLock("refresh", "ns.db", root, lease_seconds=-1, timeout=0, owner="old")
    old.acquire()
    # lease already expired -> a second instance takes over
    new = LeaseLock("refresh", "ns.db", root, lease_seconds=60, timeout=0, owner="new")
    new.acquire()
    # the usurped holder's renew must fail (not silently steal the lock back)
    with pytest.raises(LockTimeout):
        old.renew()
    assert not old.acquired
    # and its release must not remove the new holder's lock
    old.acquired = True
    old.release()
    assert new._read()["owner"] == "new"
    # the live holder renews and releases normally
    new.renew()
    new.release()
    assert new._read() is None


def test_lease_lock_concurrent_stale_break_single_winner(tmp_path):
    """Many contenders racing to break the same stale lease: exactly one
    acquires; the loser must not delete the winner's fresh lock."""
    import threading

    from data_pipeline_spark.coordination import LeaseLock, LockTimeout

    root = str(tmp_path / "locks")
    dead = LeaseLock("refresh", "ns.db", root, lease_seconds=-1, timeout=0, owner="dead")
    dead.acquire()  # expired immediately

    winners: list[str] = []
    lock_mu = threading.Lock()

    def contend(owner: str):
        lk = LeaseLock(
            "refresh", "ns.db", root, lease_seconds=60, timeout=0.5, owner=owner
        )
        try:
            lk.acquire()
        except LockTimeout:
            return
        with lock_mu:
            winners.append(owner)

    threads = [threading.Thread(target=contend, args=(f"c{i}",)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(winners) == 1
    # the winner's lock file survived every loser's break attempt
    holder = LeaseLock("refresh", "ns.db", root, timeout=0)._read()
    assert holder is not None and holder["owner"] == winners[0]
    assert holder["expires_at"] > __import__("time").time()


def test_epoch_lock_never_touches_flock(tmp_path, monkeypatch):
    """The lease's whole protocol — acquire, renew, stale break,
    usurped-release, contention timeout — runs with fcntl.flock poisoned:
    the object-store deployment contract is NO flock anywhere."""
    import fcntl

    from data_pipeline_spark.coordination import LeaseLock, LockTimeout

    def boom(*a, **k):
        raise AssertionError("LeaseLock called fcntl.flock")

    monkeypatch.setattr(fcntl, "flock", boom)
    root = str(tmp_path / "locks")
    with LeaseLock("refresh", "ns.db", root, timeout=1) as lk:
        lk.renew()
        with pytest.raises(LockTimeout):
            LeaseLock("refresh", "ns.db", root, timeout=0).acquire()
    dead = LeaseLock("refresh", "ns.db", root, lease_seconds=-1, timeout=0)
    dead.acquire()
    dead.acquired = False  # crash — lease expires, next acquirer breaks it
    with LeaseLock("refresh", "ns.db", root, timeout=0):
        # the usurped holder cannot renew its way back in
        dead.acquired = True
        with pytest.raises(LockTimeout):
            dead.renew()


def test_epoch_lock_fencing_token_monotone(tmp_path):
    """Epoch numbers are fencing tokens: strictly increasing across
    holders AND across usurpation, so a writer fenced at token n can have
    its late writes rejected by any store that saw n+1."""
    from data_pipeline_spark.coordination import LeaseLock

    root = str(tmp_path / "locks")
    seen = []
    for _ in range(3):
        with LeaseLock("refresh", "ns.db", root) as lk:
            seen.append(lk.epoch)
            lk.renew()
            seen.append(lk.epoch)
    # usurpation keeps the chain monotone (stale holder never reuses a slot)
    stale = LeaseLock("refresh", "ns.db", root, lease_seconds=-1, timeout=0)
    stale.acquire()
    seen.append(stale.epoch)
    usurper = LeaseLock("refresh", "ns.db", root, timeout=0)
    usurper.acquire()
    seen.append(usurper.epoch)
    usurper.release()
    assert seen == sorted(seen) and len(set(seen)) == len(seen)


def test_epoch_lock_gc_bounds_directory(tmp_path):
    """A long-lived holder renewing forever must not grow the lock dir
    unboundedly — publishers GC epochs more than _GC_KEEP behind top."""
    import os

    from data_pipeline_spark.coordination import LeaseLock

    root = str(tmp_path / "locks")
    with LeaseLock("refresh", "ns.db", root) as lk:
        for _ in range(50):
            lk.renew()
        files = [f for f in os.listdir(lk.dir) if f.startswith("e-")]
        assert len(files) <= LeaseLock._GC_KEEP + 1
    # state is still correct after heavy GC: released, re-acquirable
    with LeaseLock("refresh", "ns.db", root, timeout=0) as lk2:
        assert lk2.epoch > 50


def test_epoch_lock_torn_top_epoch_reads_expired(tmp_path):
    """A top epoch file that exists but does not parse (its publisher died
    mid-write) holds nothing: the next acquirer publishes above it instead
    of re-listing forever."""
    import threading

    from data_pipeline_spark.coordination import LeaseLock

    root = str(tmp_path / "locks")
    with LeaseLock("refresh", "ns.db", root) as lk:
        pass
    torn = lk.epoch + 1
    open(lk._epoch_path(torn), "w").close()  # zero-length top epoch

    contender = LeaseLock("refresh", "ns.db", root, timeout=0.5)
    t = threading.Thread(target=contender.acquire, daemon=True)
    t.start()
    t.join(5)
    assert not t.is_alive(), "acquire() never returned on a torn top epoch"
    assert contender.acquired and contender.epoch > torn
    contender.release()
    assert LeaseLock("refresh", "ns.db", root)._read() is None


def _epoch_race_proc(root: str, owner: str, q) -> None:
    from data_pipeline_spark.coordination import LeaseLock, LockTimeout

    lk = LeaseLock(
        "refresh", "ns.db", root, lease_seconds=60, timeout=1.5, owner=owner
    )
    try:
        lk.acquire()
    except LockTimeout:
        return
    q.put(owner)


def test_epoch_lock_stale_break_race_across_processes(tmp_path):
    """The 8-way stale-break race with REAL separate processes (no shared
    interpreter state): exactly one winner, arbitrated purely by atomic
    create-if-absent — the semantics an object store provides."""
    import multiprocessing as mp

    from data_pipeline_spark.coordination import LeaseLock

    root = str(tmp_path / "locks")
    dead = LeaseLock(
        "refresh", "ns.db", root, lease_seconds=-1, timeout=0, owner="dead"
    )
    dead.acquire()  # expired immediately

    ctx = mp.get_context("fork")
    q = ctx.Queue()
    procs = [
        ctx.Process(target=_epoch_race_proc, args=(root, f"c{i}", q))
        for i in range(8)
    ]
    for p in procs:
        p.start()
    for p in procs:
        p.join(30)
    winners = []
    while not q.empty():
        winners.append(q.get())
    assert len(winners) == 1
    holder = LeaseLock("refresh", "ns.db", root, timeout=0)._read()
    assert holder is not None and holder["owner"] == winners[0]


def test_ledger_and_sidecar_compaction(spark, registry, store, tmp_path):
    """Compaction bounds the append-only metadata files without changing
    any read result."""
    rs = registry.latest_schema_for_source("test.main.db", "events")
    prod = Producer(store, registry)
    for i in range(3):  # three publishes -> three sidecar appends
        prod.publish(_events(spark, 30 + i * 10), rs.schema_id, order_by="event_id")
    before = store.high_watermarks(rs.topic)
    n_files_before = len(spark.read.parquet(store._meta_dir(rs.topic)).collect())
    store.compact_meta(rs.topic)
    assert store.high_watermarks(rs.topic) == before
    assert len(spark.read.parquet(store._meta_dir(rs.topic)).collect()) == 4  # one/partition
    assert n_files_before > 4

    ledger = OffsetLedger(spark, str(tmp_path / "ledger"))
    consumer = Consumer(store, registry, group="g", ledger=ledger)
    for _ in range(3):
        batch = consumer.messages(rs.topic, from_committed=True)
        ledger.commit_messages("g", rs.topic, batch.select("partition", "offset"))
    before_c = ledger.committed("g", rs.topic)
    ledger.compact()
    assert ledger.committed("g", rs.topic) == before_c
    assert (
        spark.read.parquet(str(tmp_path / "ledger")).count()
        == len(before_c)
    )


def test_refresh_requester_validates_before_enqueue(spark, registry):
    """Public requester API (tools/refresh_requester.py:116-186): bad
    options and unknown sources fail at request time; a valid request lands
    in the manager queue with the source's latest schema id."""
    from data_pipeline_spark.refresh import FullRefreshRequester

    mgr = FullRefreshManager(spark)
    req = FullRefreshRequester(mgr, registry)

    with pytest.raises(ValueError, match="batch_size"):
        req.request("test.main.db", "events", batch_size=0)
    with pytest.raises(ValueError, match="rows_per_second"):
        req.request("test.main.db", "events", avg_rows_per_second_cap=-1)
    with pytest.raises(ValueError, match="no sources"):
        req.request("test.main.db", "nope")
    assert not mgr.jobs  # nothing enqueued by failed validation

    rs = registry.latest_schema_for_source("test.main.db", "events")
    job = req.request("test.main.db", "events", priority=80,
                      filter_condition="event_id > 10")
    assert mgr.jobs[job.refresh_id] is job
    assert job.schema_id == rs.schema_id
    assert job.status == "NOT_STARTED" and job.priority == 80


def test_jdbc_scan_options_mirror_range_plan(spark, registry):
    """S6 deploy seam: the JDBC partitioned-scan options reproduce the
    reference's pk-range batch plan (partition count = ceil(span/batch)),
    push the WHERE filter into dbtable, and validate inputs."""
    from data_pipeline_spark.refresh import (
        jdbc_scan_options,
        jdbc_scan_options_for_table,
    )

    opts = jdbc_scan_options(
        "jdbc:mysql://db:3306/main", "users", "id", 1, 1000, 100,
        filter_condition="country = 'CA'",
    )
    assert opts["partitionColumn"] == "id"
    assert (opts["lowerBound"], opts["upperBound"]) == ("1", "1000")
    assert opts["numPartitions"] == "10"
    assert opts["dbtable"] == "(SELECT * FROM users WHERE country = 'CA') AS t"

    assert jdbc_scan_options("u", "t", "id", 0, 0, 500)["numPartitions"] == "1"
    with pytest.raises(ValueError, match="batch_size"):
        jdbc_scan_options("u", "t", "id", 1, 10, 0)
    with pytest.raises(ValueError, match="empty pk range"):
        jdbc_scan_options("u", "t", "id", 10, 1, 5)

    # range resolved from the table matches the parquet runner's plan
    ev = _events(spark, 200)
    mgr = FullRefreshManager(spark)
    rs = registry.latest_schema_for_source("test.main.db", "events")
    job = mgr.request(namespace="test.main.db", source="events",
                      schema_id=rs.schema_id, batch_size=50)
    got = jdbc_scan_options_for_table(ev, "jdbc:mysql://db/main", "events",
                                      "event_id", job)
    lo, hi = int(got["lowerBound"]), int(got["upperBound"])
    assert lo == ev.agg(F.min("event_id")).first()[0]
    assert hi == ev.agg(F.max("event_id")).first()[0]
    assert int(got["numPartitions"]) == -(-(hi - lo + 1) // 50)


def test_encrypted_publish_consume_roundtrip(spark, registry, store):
    """E4 end-to-end on the wire: publish with AES-CBC, ciphertext + IV
    meta + encryption_type ride the envelope, consume with the key ring
    decrypts losslessly; consuming without the key raises."""
    from data_pipeline_spark.functions import crypto

    key = b"0123456789abcdef0123456789abcdef"
    rs = registry.latest_schema_for_source("test.main.db", "events")
    Producer(store, registry).publish(
        _events(spark, 40), rs.schema_id, order_by="event_id",
        encrypt_key=(1, key),
    )
    consumer = Consumer(store, registry)

    # wire carries ciphertext, the encryption type, and exactly one IV meta
    raw = consumer.raw(rs.topic).select("envelope.*").collect()
    for r in raw:
        assert r.encryption_type == "AES_MODE_CBC-1"
        ivs = [m for m in r.meta if m.schema_id == crypto.IV_META_SCHEMA_ID]
        assert len(ivs) == 1 and len(bytes(ivs[0].payload)) == 16

    got = sorted(
        (r.payload.event_id, r.payload.event_type, r.payload.value)
        for r in consumer.messages(rs.topic, crypto_keys={1: key}).collect()
    )
    want = sorted(
        (r.event_id, r.event_type, r.value) for r in _events(spark, 40).collect()
    )
    assert got == want

    # no key ring -> the Avro decode sees ciphertext and fails loudly;
    # wrong key id -> the raise_error branch names the encryption type
    with pytest.raises(Exception):
        consumer.messages(rs.topic).collect()
    with pytest.raises(Exception, match="no key provided"):
        consumer.messages(rs.topic, crypto_keys={2: key}).collect()


def test_concurrent_publishes_serialized_unique_offsets(spark, registry, tmp_path):
    """With serialize_publishes, racing producer threads never duplicate a
    (partition, offset) pair — the Kafka broker-side append serialization
    TopicStore otherwise lacks."""
    import threading

    from data_pipeline_spark.sources.file_topic import TopicStore

    store = TopicStore(
        spark, str(tmp_path / "topics"), serialize_publishes=True
    )
    rs = registry.latest_schema_for_source("test.main.db", "events")
    errs = []

    def worker(lo):
        try:
            rows = _events(spark, 200).filter(
                (F.col("event_id") >= lo) & (F.col("event_id") < lo + 25)
            )
            Producer(store, registry).publish(rows, rs.schema_id, order_by="event_id")
        except Exception as exc:  # surface in the main thread
            errs.append(exc)

    threads = [threading.Thread(target=worker, args=(lo,)) for lo in range(0, 100, 25)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    wire = store.read(rs.topic)
    assert wire.count() == 100
    assert wire.select("partition", "offset").distinct().count() == 100
    assert sum(store.high_watermarks(rs.topic).values()) == 100


def test_publish_crash_between_reserve_and_write_never_duplicates(
    spark, registry, store
):
    """Crash-consistency of offset assignment: a sidecar reservation whose
    data append never landed (simulated) must yield a GAP on the next
    publish — never a duplicate (partition, offset).  The reverse order
    (data before sidecar) would reuse offsets after a crash."""
    rs = registry.latest_schema_for_source("test.main.db", "events")
    prod = Producer(store, registry)
    prod.publish(_events(spark, 40), rs.schema_id, order_by="event_id")
    highs = store.high_watermarks(rs.topic)

    # simulate: a publish reserved +5 on every partition, then died before
    # its data write (exactly the state the reserve-first order can leave)
    spark.createDataFrame(
        [(p, h + 5) for p, h in highs.items()], "partition INT, next_offset LONG"
    ).write.mode("append").parquet(store._meta_dir(rs.topic))

    more = _events(spark, 100).filter(F.col("event_id") >= 40)
    prod.publish(more, rs.schema_id, order_by="event_id")
    wire = store.read(rs.topic)
    assert wire.count() == 100
    # all (partition, offset) pairs unique; new offsets start past the gap
    assert wire.select("partition", "offset").distinct().count() == 100
    per_part_min_new = {
        r.partition: r.lo
        for r in wire.filter(F.col("offset") >= F.lit(min(highs.values())))
        .groupBy("partition")
        .agg(F.min("offset").alias("lo"))
        .collect()
    }
    for p, h in highs.items():
        if p in per_part_min_new and per_part_min_new[p] >= h:
            assert per_part_min_new[p] >= h + 5 or per_part_min_new[p] < h


def test_fused_wire_path_is_byte_identical_to_layered(spark):
    """encode_pack_udf (one Arrow crossing) must produce the exact bytes of
    encode_payload_udf + pack (two crossings) for the same inputs, and
    unpack_decode_udf must read either's output."""
    import json

    from data_pipeline_spark import envelope as env

    schema = json.dumps(
        {"type": "record", "name": "e",
         "fields": [{"name": "a", "type": "long"},
                    {"name": "b", "type": "string"}]}
    )
    rows = spark.createDataFrame(
        [(1, "x", b"u" * 16, 100), (2, "yy", b"v" * 16, 200)],
        "a LONG, b STRING, u BINARY, ts INT",
    )
    fused = env.encode_pack_udf(schema, "create", 7)(
        F.struct("a", "b"), F.col("u"), F.lit(None).cast("binary"), F.col("ts")
    )
    payload = env.encode_payload_udf(schema)(F.struct("a", "b"))
    layered = env.pack(
        F.struct(
            F.col("u").alias("uuid"),
            F.lit("create").alias("message_type"),
            F.lit(7).alias("schema_id"),
            payload.alias("payload"),
            F.lit(None).cast("binary").alias("previous_payload"),
            F.lit(None).cast("string").alias("encryption_type"),
            F.col("ts").alias("timestamp"),
        )
    )
    got = rows.select(fused.alias("f"), layered.alias("l")).collect()
    for r in got:
        assert bytes(r.f) == bytes(r.l)

    dec, _ = env.unpack_decode_udf({7: schema}, schema, "t")
    out = rows.select(dec(fused).alias("e")).select(
        "e.schema_id", "e.message_type",
        F.col("e.p_a").alias("a"), F.col("e.p_b").alias("b"),
    ).collect()
    assert sorted((r.a, r.b, r.schema_id, r.message_type) for r in out) == [
        (1, "x", 7, "create"), (2, "yy", 7, "create"),
    ]


def test_fused_consume_raises_named_error_on_encrypted_topic(spark, tmp_path):
    """Tailing an encrypted topic WITHOUT keys through the fused path must
    fail with the pass-crypto_keys message, not a codec garbage error."""
    import json

    import pytest as _pytest

    reg = SchemaRegistry()
    rs = reg.register_schema(
        "err.main.db", "events",
        json.dumps({"type": "record", "name": "e",
                    "fields": [{"name": "event_id", "type": "long"}]}),
        contains_pii=True,
    )
    store = TopicStore(spark, str(tmp_path / "topics"))
    rows = spark.createDataFrame([(1,), (2,)], "event_id LONG")
    Producer(store, reg).publish(
        rows, rs.schema_id, order_by="event_id",
        encrypt_key=(1, b"0123456789abcdef"),
    )
    with _pytest.raises(Exception, match="crypto_keys"):
        Consumer(store, reg).messages(rs.topic).collect()


def test_process_mutex_excludes_for_the_whole_build(tmp_path):
    """A waiter that arrives mid-build enters only after the holder
    leaves, however long the build runs — the overwrite race the sidecar
    mutex exists for."""
    import threading
    import time

    from data_pipeline_spark.coordination import process_mutex

    base = str(tmp_path / "cache")
    hold_s = 1.2
    events = []

    def holder():
        with process_mutex(base):
            events.append(("h-in", time.monotonic()))
            time.sleep(hold_s)
            events.append(("h-out", time.monotonic()))

    def waiter():
        time.sleep(hold_s / 6)  # arrive mid-hold
        with process_mutex(base):
            events.append(("w-in", time.monotonic()))

    t1 = threading.Thread(target=holder)
    t2 = threading.Thread(target=waiter)
    t1.start()
    t2.start()
    t1.join(30)
    t2.join(30)
    assert not t1.is_alive() and not t2.is_alive()
    assert [e[0] for e in sorted(events, key=lambda e: e[1])] == [
        "h-in", "h-out", "w-in",
    ]


def _mutex_crash_proc(base: str, marker: str) -> None:
    from data_pipeline_spark.coordination import process_mutex

    with process_mutex(base):
        open(marker, "w").close()
        os._exit(3)  # die mid-build: no finally, no release


def test_process_mutex_released_when_holder_dies(tmp_path):
    """A builder process that dies inside the mutex frees it at once: the
    kernel drops a dead process's flock, so the next builder does not wait
    out any lease."""
    import multiprocessing as mp
    import time

    from data_pipeline_spark.coordination import process_mutex

    base = str(tmp_path / "cache")
    marker = str(tmp_path / "child-held")
    p = mp.get_context("fork").Process(
        target=_mutex_crash_proc, args=(base, marker)
    )
    p.start()
    p.join(30)
    assert p.exitcode == 3 and os.path.exists(marker)
    t0 = time.monotonic()
    with process_mutex(base):
        waited = time.monotonic() - t0
    assert waited < 2.0
