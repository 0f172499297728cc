"""CDC apply/merge semantics + update messages with previous-payload diff
through the full wire path + streaming publish."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from data_pipeline_spark import envelope as env
from data_pipeline_spark.consumer import Consumer
from data_pipeline_spark.io import load_table
from data_pipeline_spark.operators.cdc import apply_cdc, merge_upsert
from data_pipeline_spark.producer import Producer
from data_pipeline_spark.registry import SchemaRegistry
from data_pipeline_spark.sources.file_topic import TopicStore
from data_pipeline_spark.streaming.dynamic import ExactlyOnceBatchSink
from data_pipeline_spark.streaming.publish import StreamingPublisher
from tests.conftest import SF_SMOKE

SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "kv",
        "fields": [
            {"name": "k", "type": "long"},
            {"name": "v", "type": "string"},
        ],
    }
)


def test_apply_cdc_latest_wins_and_deletes(spark):
    msgs = spark.createDataFrame(
        [
            (1, "a", 10, "create"),
            (1, "b", 20, "update"),
            (2, "x", 11, "create"),
            (2, None, 25, "delete"),
            (3, "z", 30, "create"),
        ],
        "k LONG, v STRING, seq LONG, message_type STRING",
    )
    snap = apply_cdc(msgs, keys=["k"], order_by=[F.col("seq").desc()])
    got = {r.k: r.v for r in snap.collect()}
    assert got == {1: "b", 3: "z"}  # 2 deleted, 1 updated


def test_merge_upsert_into_snapshot(spark):
    base = spark.createDataFrame(
        [(1, "old1"), (2, "old2"), (3, "old3")], "k LONG, v STRING"
    )
    changes = spark.createDataFrame(
        [
            (2, "new2", 1, "update"),
            (3, None, 2, "delete"),
            (4, "new4", 3, "create"),
        ],
        "k LONG, v STRING, seq LONG, message_type STRING",
    )
    merged = merge_upsert(
        base, changes.select("k", "v", "seq", "message_type"),
        keys=["k"], order_by=[F.col("seq").desc()],
    )
    got = {r.k: r.v for r in merged.collect()}
    assert got == {1: "old1", 2: "new2", 4: "new4"}


def test_update_messages_carry_previous_payload(spark, tmp_path):
    """UpdateMessage semantics (message.py:673-809): pre-image rides in
    previous_payload; consumers recover the field diff."""
    reg = SchemaRegistry()
    rs = reg.register_schema("ns.db.x", "kv", SCHEMA, primary_keys=("k",))
    store = TopicStore(spark, str(tmp_path / "topics"))
    prod = Producer(store, reg)

    rows = spark.createDataFrame(
        [(1, "new-a", "old-a"), (2, "new-b", "old-b")], "k LONG, v STRING, v_old STRING"
    )
    prev_payload = env.encode_payload_udf(SCHEMA)(
        F.struct(F.col("k"), F.col("v_old").alias("v"))
    )
    wire = prod.prepare(
        rows, rs.schema_id, message_type="update", previous=prev_payload
    )
    store.publish(wire, rs.topic)

    raw = Consumer(store, reg).raw(rs.topic)
    dec = env.decode_payload_udf(SCHEMA)
    out = raw.select(
        F.col("envelope.message_type").alias("mt"),
        dec(F.col("envelope.payload")).alias("new"),
        dec(F.col("envelope.previous_payload")).alias("old"),
    ).collect()
    assert len(out) == 2
    for r in out:
        assert r.mt == "update"
        assert r.new.k == r.old.k  # key unchanged
        assert r.new.v.startswith("new-") and r.old.v.startswith("old-")


def test_streaming_publisher_exactly_once(spark, tmp_path):
    reg = SchemaRegistry()
    rs = reg.register_schema("ns.db.x", "events", json.dumps(
        {"type": "record", "name": "e",
         "fields": [{"name": "event_id", "type": "long"}]}
    ))
    store = TopicStore(spark, str(tmp_path / "topics"))
    src_dir = tmp_path / "src"
    events = load_table(spark, SF_SMOKE, "events").select("event_id").limit(50)
    events.write.parquet(str(src_dir))

    publisher = StreamingPublisher(
        Producer(store, reg), rs.schema_id,
        ledger_path=str(tmp_path / "pub_ledger"), order_by="event_id",
    )
    stream = spark.readStream.schema("event_id LONG").parquet(str(src_dir))
    q = publisher.start(stream, checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    consumed = Consumer(store, reg).messages(rs.topic)
    assert consumed.count() == 50
    # replaying the same epoch appends nothing
    assert publisher.publish_batch(events, epoch_id=0) is False
    assert Consumer(store, reg).messages(rs.topic).count() == 50


def _pub_fixture(spark, tmp_path):
    import json

    from data_pipeline_spark.producer import Producer
    from data_pipeline_spark.registry import SchemaRegistry
    from data_pipeline_spark.sources.file_topic import TopicStore

    reg = SchemaRegistry()
    rs = reg.register_schema(
        "xo.main.db", "events",
        json.dumps({"type": "record", "name": "e",
                    "fields": [{"name": "event_id", "type": "long"}]}),
    )
    store = TopicStore(spark, str(tmp_path / "topics"))
    producer = Producer(store, reg)

    def batch(lo, n):
        return spark.createDataFrame([(lo + i,) for i in range(n)], "event_id LONG")

    return rs, store, producer, batch, str(tmp_path / "ledger")


def _write_intent(spark, ledger, epoch):
    spark.createDataFrame(
        [(epoch, "intent", None)], "epoch_id LONG, phase STRING, pre_highs STRING"
    ).write.mode("append").parquet(ledger)


def test_streaming_publisher_data_verified_replay(spark, tmp_path):
    """The classic two crash windows of the two-phase publish ledger
    (_producer_retry.py:120-190 semantics):

    - intent written, publish LANDED, commit lost -> replay must verify
      the reserved range's rows, record the commit, and NOT re-append;
    - intent written, publish NEVER started -> replay must publish.
    """
    rs, store, producer, batch, ledger = _pub_fixture(spark, tmp_path)

    pub1 = StreamingPublisher(producer, rs.schema_id, ledger, order_by="event_id")
    assert pub1.publish_batch(batch(0, 10), 0) is True

    # window 1: epoch 1's intent + tagged data landed, commit row lost
    _write_intent(spark, ledger, 1)
    producer.publish(
        batch(10, 10), rs.schema_id, order_by="event_id",
        publish_id=pub1._publish_id(1),
    )
    pub2 = StreamingPublisher(producer, rs.schema_id, ledger, order_by="event_id")
    assert pub2.publish_batch(batch(10, 10), 1) is False  # verified: skip
    assert store.read(rs.topic).count() == 20  # no duplicate append
    assert pub2.publish_batch(batch(10, 10), 1) is False  # now committed

    # window 2: epoch 2's intent written, publish never started
    _write_intent(spark, ledger, 2)
    pub3 = StreamingPublisher(producer, rs.schema_id, ledger, order_by="event_id")
    assert pub3.publish_batch(batch(20, 5), 2) is True  # re-publish: no loss
    assert store.read(rs.topic).count() == 25
    assert len(set((r.partition, r.offset) for r in
                   store.read(rs.topic).collect())) == 25


def test_streaming_publisher_reservation_without_data_republishes(spark, tmp_path):
    """Crash BETWEEN the sidecar reservation and the data append: the
    watermarks advanced but no rows landed.  Watermark-advancement-as-proof
    would record a commit here and lose the batch permanently; data-verified
    replay must see the reserved range is empty and publish."""
    rs, store, producer, batch, ledger = _pub_fixture(spark, tmp_path)
    pub1 = StreamingPublisher(producer, rs.schema_id, ledger, order_by="event_id")
    assert pub1.publish_batch(batch(0, 10), 0) is True

    # simulate the crash: intent + sidecar reservation only, no data
    _write_intent(spark, ledger, 1)
    pid = pub1._publish_id(1)
    pre = store.high_watermarks(rs.topic)
    fake_new = {p: h + 3 for p, h in pre.items()}
    spark.createDataFrame(
        [(p, n, pid, pre[p]) for p, n in fake_new.items()],
        "partition INT, next_offset LONG, publish_id STRING, base_offset LONG",
    ).write.mode("append").parquet(store._meta_dir(rs.topic))
    assert store.high_watermarks(rs.topic) == fake_new  # watermarks DID move

    pub2 = StreamingPublisher(producer, rs.schema_id, ledger, order_by="event_id")
    assert pub2.publish_batch(batch(10, 10), 1) is True  # republished: no loss
    got = sorted(
        r.event_id
        for r in Consumer(store, producer.registry)
        .messages(rs.topic).select("payload.event_id").collect()
    )
    assert got == list(range(20))
    # the abandoned reservation stays a gap; offsets never collide
    assert len(set((r.partition, r.offset) for r in
                   store.read(rs.topic).collect())) == 20


def test_streaming_publisher_foreign_writer_does_not_mask_loss(spark, tmp_path):
    """A DIFFERENT writer advancing the topic's watermarks between our
    intent and our replay must not make our never-landed batch look
    committed (the 'any advancement' flaw).  Data-verified replay keys on
    OUR reservation id, which the foreign publish doesn't carry."""
    rs, store, producer, batch, ledger = _pub_fixture(spark, tmp_path)
    pub1 = StreamingPublisher(producer, rs.schema_id, ledger, order_by="event_id")
    assert pub1.publish_batch(batch(0, 10), 0) is True

    # our epoch 1 crashed right after the intent; then a foreign writer
    # (no publish_id) appends 10 rows, advancing every watermark
    _write_intent(spark, ledger, 1)
    producer.publish(batch(100, 10), rs.schema_id, order_by="event_id")

    pub2 = StreamingPublisher(producer, rs.schema_id, ledger, order_by="event_id")
    assert pub2.publish_batch(batch(10, 10), 1) is True  # ours still publishes
    got = sorted(
        r.event_id
        for r in Consumer(store, producer.registry)
        .messages(rs.topic).select("payload.event_id").collect()
    )
    assert got == list(range(20)) + list(range(100, 110))


def test_replay_verification_survives_meta_compaction(spark, tmp_path):
    """compact_meta keeps the max-offset row per partition WITH its publish
    tag, so a dangling epoch can still be resolved after a compaction runs
    between the crash and the replay."""
    rs, store, producer, batch, ledger = _pub_fixture(spark, tmp_path)
    pub1 = StreamingPublisher(producer, rs.schema_id, ledger, order_by="event_id")
    assert pub1.publish_batch(batch(0, 10), 0) is True

    # epoch 1: intent + tagged publish landed, commit lost, then compaction
    _write_intent(spark, ledger, 1)
    producer.publish(
        batch(10, 10), rs.schema_id, order_by="event_id",
        publish_id=pub1._publish_id(1),
    )
    store.compact_meta(rs.topic)

    pub2 = StreamingPublisher(producer, rs.schema_id, ledger, order_by="event_id")
    assert pub2.publish_batch(batch(10, 10), 1) is False  # verified, skipped
    assert store.read(rs.topic).count() == 20  # no duplicates


def test_concurrent_streaming_publishers_with_lease(spark, tmp_path):
    """Two StreamingPublisher instances on the SAME topic with
    serialize_publishes: the re-entrant lease serializes whole
    intent->publish->commit sequences — all offsets unique, no rows lost."""
    import threading

    from data_pipeline_spark.producer import Producer
    from data_pipeline_spark.registry import SchemaRegistry
    from data_pipeline_spark.sources.file_topic import TopicStore

    reg = SchemaRegistry()
    rs = reg.register_schema(
        "conc.main.db", "events",
        json.dumps({"type": "record", "name": "e",
                    "fields": [{"name": "event_id", "type": "long"}]}),
    )
    store = TopicStore(spark, str(tmp_path / "topics"), serialize_publishes=True)
    producer = Producer(store, reg)

    def run(tag, lo):
        pub = StreamingPublisher(
            producer, rs.schema_id, str(tmp_path / f"ledger_{tag}"),
            order_by="event_id",
        )
        for epoch in range(2):
            rows = spark.createDataFrame(
                [(lo + epoch * 25 + i,) for i in range(25)], "event_id LONG"
            )
            pub.publish_batch(rows, epoch)

    errs = []

    def worker(tag, lo):
        try:
            run(tag, lo)
        except Exception as exc:  # surface in main thread
            errs.append(exc)

    threads = [
        threading.Thread(target=worker, args=(t, lo))
        for t, lo in (("a", 0), ("b", 1000))
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    wire = store.read(rs.topic)
    assert wire.count() == 100
    assert wire.select("partition", "offset").distinct().count() == 100


def test_replay_survives_compaction_after_foreign_writer(spark, tmp_path):
    """Code-review regression: a crashed tagged publish followed by a
    FOREIGN publish and then compact_meta must keep the dangling tag (per-
    publisher latest reservation) — replay still verifies landed-ness
    instead of duplicating the batch."""
    rs, store, producer, batch, ledger = _pub_fixture(spark, tmp_path)
    pub1 = StreamingPublisher(producer, rs.schema_id, ledger, order_by="event_id")
    assert pub1.publish_batch(batch(0, 10), 0) is True

    # epoch 1: tagged publish landed, commit lost
    _write_intent(spark, ledger, 1)
    producer.publish(
        batch(10, 10), rs.schema_id, order_by="event_id",
        publish_id=pub1._publish_id(1),
    )
    # foreign writer advances every partition PAST our reservation
    producer.publish(batch(500, 10), rs.schema_id, order_by="event_id")
    store.compact_meta(rs.topic)

    pub2 = StreamingPublisher(producer, rs.schema_id, ledger, order_by="event_id")
    assert pub2.publish_batch(batch(10, 10), 1) is False  # verified: skip
    assert store.read(rs.topic).count() == 30  # no duplicate append


def test_same_object_retry_after_commit_append_failure(spark, tmp_path):
    """Code-review regression: if the COMMIT ledger append throws after a
    successful publish, a retry of the same epoch on the SAME publisher
    object must data-verify (and skip), not blindly re-publish."""
    rs, store, producer, batch, ledger = _pub_fixture(spark, tmp_path)
    pub = StreamingPublisher(producer, rs.schema_id, ledger, order_by="event_id")
    assert pub.publish_batch(batch(0, 10), 0) is True

    real_append = pub._append_ledger
    calls = {"fail_next_commit": True}

    def flaky(epoch_id, phase):
        if phase == "commit" and calls["fail_next_commit"]:
            calls["fail_next_commit"] = False
            raise OSError("transient fs error on commit append")
        return real_append(epoch_id, phase)

    pub._append_ledger = flaky
    import pytest as _pytest

    with _pytest.raises(OSError):
        pub.publish_batch(batch(10, 10), 1)  # publish landed, commit lost
    assert store.read(rs.topic).count() == 20

    # same-object retry (query restart without process death)
    assert pub.publish_batch(batch(10, 10), 1) is False  # verified: skip
    assert store.read(rs.topic).count() == 20  # NOT 30 — no duplicates


def test_ledger_holding_only_a_crashed_first_append_restarts(spark, tmp_path):
    """A first ledger append that died mid-write leaves only Spark's
    ``_temporary/0/`` in the ledger directory, from which Spark cannot
    infer a schema.  The publisher and the batch sink restart from it:
    epoch 0 is published and written exactly once."""
    rs, store, producer, batch, ledger = _pub_fixture(spark, tmp_path)
    sink_ledger = str(tmp_path / "sink_ledger")
    out = str(tmp_path / "out")
    for path in (ledger, sink_ledger):
        os.makedirs(os.path.join(path, "_temporary", "0"))

    def pub():
        return StreamingPublisher(producer, rs.schema_id, ledger, order_by="event_id")

    assert pub().publish_batch(batch(0, 10), 0) is True
    assert pub().publish_batch(batch(0, 10), 0) is False  # replay skipped
    assert store.read(rs.topic).count() == 10

    def sink():
        return ExactlyOnceBatchSink(spark, out, sink_ledger, "s1")

    assert sink().write(spark.range(5), epoch_id=0) is True
    assert sink().write(spark.range(5), epoch_id=0) is False
    assert spark.read.parquet(out).count() == 5


def test_publisher_reads_pre_phase_spark_ledger(spark, tmp_path):
    """A Spark-written ledger from before the two-phase protocol (rows
    without ``phase``) counts its rows as commits, and driver-written
    rows mix into it."""
    rs, store, producer, batch, ledger = _pub_fixture(spark, tmp_path)
    spark.createDataFrame([(0,)], "epoch_id LONG").write.parquet(ledger)

    def pub():
        return StreamingPublisher(producer, rs.schema_id, ledger, order_by="event_id")

    assert pub().publish_batch(batch(0, 10), 0) is False
    assert pub().publish_batch(batch(10, 10), 1) is True
    assert pub().publish_batch(batch(10, 10), 1) is False
    assert store.read(rs.topic).count() == 10


def test_publisher_chaos_every_crash_window_exactly_once(spark, tmp_path):
    """Deterministic chaos sweep of the publish protocol: one epoch per
    crash window (before intent / after intent / after sidecar reservation
    / after data append / clean), each followed by a fresh-publisher
    replay.  Invariant: the consumed set is exactly the union of the five
    batches — no loss in any window, no duplicate in any window."""
    rs, store, producer, batch, ledger = _pub_fixture(spark, tmp_path)

    class Boom(RuntimeError):
        pass

    def make_pub():
        return StreamingPublisher(
            producer, rs.schema_id, ledger, order_by="event_id"
        )

    def crash_before_intent(pub):
        real = pub._append_ledger
        state = {"armed": True}

        def flaky(e, phase):
            if phase == "intent" and state["armed"]:
                state["armed"] = False
                raise Boom("before intent")
            return real(e, phase)

        pub._append_ledger = flaky

    def crash_after_intent(pub):
        real_publish = pub.producer.publish
        state = {"armed": True}

        def flaky(*a, **k):
            if state["armed"]:
                state["armed"] = False
                raise Boom("after intent, before publish")
            return real_publish(*a, **k)

        pub.producer.publish = flaky

    def crash_after_reserve(pub):
        state = {"armed": True}

        def hook(topic):
            if state["armed"]:
                state["armed"] = False
                raise Boom("after reservation, before data")

        store._post_reserve_hook = hook

    def crash_after_data(pub):
        real = pub._append_ledger
        state = {"armed": True}

        def flaky(e, phase):
            if phase == "commit" and state["armed"]:
                state["armed"] = False
                raise Boom("after data, before commit")
            return real(e, phase)

        pub._append_ledger = flaky

    crash_modes = [
        crash_before_intent,
        crash_after_intent,
        crash_after_reserve,
        crash_after_data,
        None,  # clean epoch
    ]
    for epoch, mode in enumerate(crash_modes):
        pub = make_pub()
        rows = batch(epoch * 100, 10)
        if mode is None:
            assert pub.publish_batch(rows, epoch) is True
        else:
            mode(pub)
            try:
                pub.publish_batch(rows, epoch)
                raise AssertionError(f"epoch {epoch}: expected crash")
            except Boom:
                pass
            finally:
                # delete the instance override so lookup falls back to the
                # class seam (assigning the class attr onto the instance
                # would shadow any future class-level patch)
                if "_post_reserve_hook" in store.__dict__:
                    del store._post_reserve_hook
                pub.producer.publish = Producer.publish.__get__(producer)
            # process restart: fresh publisher object resolves the epoch
            replay = make_pub()
            replay.publish_batch(rows, epoch)

    got = sorted(
        r.event_id
        for r in Consumer(store, producer.registry)
        .messages(rs.topic).select("payload.event_id").collect()
    )
    want = sorted(e * 100 + i for e in range(5) for i in range(10))
    assert got == want  # exactly-once across every window
    assert len(set((r.partition, r.offset) for r in
                   store.read(rs.topic).collect())) == 50


class _Crash(RuntimeError):
    pass


def _arm_publish_crash(point, store, monkeypatch):
    """Fail the next staged publish once, at ``point``: after the staged
    write (the reservation append raises), at ``_post_reserve_hook``,
    after the first staged file's rename, or after the last rename but
    before the staging directory is removed."""
    import shutil

    from data_pipeline_spark import io

    armed = [True]

    def fire():
        if armed[0]:
            armed[0] = False
            raise _Crash(point)

    if point == "staged":
        real_write = io.write_rows
        meta = os.path.join(store.root, ".meta")

        def write_rows(path, *a):
            if path.startswith(meta):
                fire()
            return real_write(path, *a)

        monkeypatch.setattr(io, "write_rows", write_rows)
    elif point == "reserved":
        monkeypatch.setattr(store, "_post_reserve_hook", lambda topic: fire())
    elif point == "first_rename":
        real_rename = os.rename

        def rename(src, dst):
            real_rename(src, dst)
            if "/.staging/" in src:
                fire()

        monkeypatch.setattr(os, "rename", rename)
    else:
        real_rmtree = shutil.rmtree

        def rmtree(path, *a, **k):
            if "/.staging/" in path:
                fire()
            return real_rmtree(path, *a, **k)

        monkeypatch.setattr(shutil, "rmtree", rmtree)


def _staged_rows(store, topic):
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
        for d, _dirs, files in os.walk(store._staging_dir(topic))
        for f in files
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


@pytest.mark.parametrize("point", ["staged", "reserved", "first_rename", "last_rename"])
def test_staged_publish_crash_matrix_exactly_once(spark, tmp_path, monkeypatch, point):
    """A publish killed at each file operation of the staged protocol,
    then replayed by a fresh StreamingPublisher: every epoch lands exactly
    once, the replay's ``_landed`` never meets a partial range, and staged
    rows never show in ``read``, ``high_watermarks`` or ``topics()``."""
    rs, store, producer, batch, ledger = _pub_fixture(spark, tmp_path)

    def make_pub():
        return StreamingPublisher(producer, rs.schema_id, ledger, order_by="event_id")

    assert make_pub().publish_batch(batch(0, 10), 0) is True
    highs = store.high_watermarks(rs.topic)
    _arm_publish_crash(point, store, monkeypatch)
    with pytest.raises(_Crash):
        make_pub().publish_batch(batch(100, 10), 1)
    monkeypatch.undo()

    visible = store.read(rs.topic).count()
    staged = _staged_rows(store, rs.topic)
    assert store.topics() == [rs.topic]
    if point == "staged":  # staged but unreserved: nothing published
        assert (visible, staged) == (10, 10)
        assert store.high_watermarks(rs.topic) == highs
    else:  # reserved: the batch is split between topic and staging
        assert visible + staged == 20 and visible >= 10
        assert sum(store.high_watermarks(rs.topic).values()) == 20
    if point == "first_rename":
        assert visible > 10
    if point == "last_rename":
        assert staged == 0

    # a fresh publisher replays the epoch: the unreserved batch is
    # re-published, a reserved one is rolled forward and counted whole
    assert make_pub().publish_batch(batch(100, 10), 1) is (point == "staged")
    assert make_pub().publish_batch(batch(200, 10), 2) is True
    assert _staged_rows(store, rs.topic) == 0
    assert not os.listdir(store._staging_dir(rs.topic))

    rows = store.read(rs.topic).collect()
    assert len({(r.partition, r.offset) for r in rows}) == len(rows) == 30
    got = sorted(
        r.event_id
        for r in Consumer(store, producer.registry)
        .messages(rs.topic).select("payload.event_id").collect()
    )
    assert got == sorted(e * 100 + i for e in range(3) for i in range(10))


@pytest.mark.parametrize("point", ["staged", "reserved"])
def test_next_publish_settles_a_crashed_staging(spark, tmp_path, monkeypatch, point):
    """The next publish on the topic applies the crash rule before it
    assigns offsets: an unreserved staging directory is deleted, a
    reserved one lands; the crashed epoch's replay then resolves it
    exactly once."""
    rs, store, producer, batch, ledger = _pub_fixture(spark, tmp_path)

    def make_pub():
        return StreamingPublisher(producer, rs.schema_id, ledger, order_by="event_id")

    _arm_publish_crash(point, store, monkeypatch)
    with pytest.raises(_Crash):
        make_pub().publish_batch(batch(0, 10), 0)
    monkeypatch.undo()
    producer.publish(batch(500, 10), rs.schema_id, order_by="event_id")
    assert _staged_rows(store, rs.topic) == 0
    assert store.read(rs.topic).count() == (10 if point == "staged" else 20)
    assert make_pub().publish_batch(batch(0, 10), 0) is (point == "staged")
    rows = store.read(rs.topic).collect()
    assert len({(r.partition, r.offset) for r in rows}) == len(rows) == 20
