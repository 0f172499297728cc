"""Structured Streaming tests: streaming consume from a file topic,
watermarked window counts, and the stateful gap-flush monitor."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from data_pipeline_spark import envelope as env
from data_pipeline_spark.io import load_table
from data_pipeline_spark.producer import Producer
from data_pipeline_spark.registry import SchemaRegistry
from data_pipeline_spark.sources.file_topic import TopicStore
from data_pipeline_spark.streaming.monitor import (
    counts_with_gap_flush,
    windowed_counts,
)
from tests.conftest import SF_SMOKE

EVENT_SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "event",
        "fields": [
            {"name": "event_id", "type": "long"},
            {"name": "event_type", "type": "string"},
        ],
    }
)


def _run_available_now(stream_df, tmp_path, name, mode="append"):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_streaming_consume_from_file_topic(spark, tmp_path):
    reg = SchemaRegistry()
    rs = reg.register_schema("dev.main.db", "events", EVENT_SCHEMA)
    store = TopicStore(spark, str(tmp_path / "topics"))
    events = (
        load_table(spark, SF_SMOKE, "events")
        .select("event_id", "event_type")
        .limit(100)
    )
    Producer(store, reg).publish(events, rs.schema_id, order_by="event_id")

    stream = store.read_stream(rs.topic).withColumn(
        "envelope", env.unpack(F.col("value"))
    )
    decoded = stream.select(
        "partition",
        "offset",
        env.decode_payload_udf(EVENT_SCHEMA)(F.col("envelope.payload")).alias("p"),
    )
    _run_available_now(decoded, tmp_path, "consume")
    got = spark.sql("SELECT p.event_id FROM consume").collect()
    assert sorted(r.event_id for r in got) == sorted(
        r.event_id for r in events.collect()
    )


def test_streaming_windowed_counts_match_batch(spark, tmp_path):
    """Streaming watermark windows == batch epoch-window counts (A1/T2)."""
    src_dir = tmp_path / "stream_src"
    events = load_table(spark, SF_SMOKE, "events").select("ts", "event_type")
    events.write.parquet(str(src_dir))

    stream = spark.readStream.schema(events.schema).parquet(str(src_dir))
    counts = windowed_counts(stream, "ts", ["event_type"], window_seconds=600)
    # complete mode: append would (correctly) withhold the final window
    # still open under the watermark — here we want the full comparison
    _run_available_now(counts, tmp_path, "wincounts", mode="complete")

    got = {
        (r.window_start, r.event_type): r.message_count
        for r in spark.sql("SELECT * FROM wincounts").collect()
    }
    want = {
        (r.window_start, r.event_type): r.message_count
        for r in (
            events.withColumn(
                "window_start",
                (F.floor(F.unix_timestamp("ts") / 600) * 600).cast("bigint"),
            )
            .groupBy("window_start", "event_type")
            .agg(F.count(F.lit(1)).alias("message_count"))
        ).collect()
    }
    assert got == want


def test_gap_flush_emits_empty_windows(spark, tmp_path):
    """A message far past the current window flushes every gap window with
    zero counts (client.py:316-324 exact semantics)."""
    src_dir = tmp_path / "gap_src"
    rows = [
        ("topicA", 100), ("topicA", 150),          # window 0
        ("topicA", 700),                           # window 600
        ("topicA", 2500),                          # window 2400 (gaps: 1200, 1800)
        ("topicB", 50),                            # never advances
    ]
    spark.createDataFrame(rows, "topic STRING, epoch LONG").select(
        "topic", F.timestamp_seconds("epoch").alias("ts")
    ).write.parquet(str(src_dir))

    stream = spark.readStream.schema("topic STRING, ts TIMESTAMP").parquet(
        str(src_dir)
    )
    flushed = counts_with_gap_flush(
        stream, "ts", "topic", window_seconds=600, idle_timeout_ms=None
    )
    _run_available_now(flushed, tmp_path, "gapflush")

    got = {
        (r.topic, r.window_start): r.message_count
        for r in spark.sql("SELECT * FROM gapflush").collect()
    }
    # emitted = all CLOSED windows for topicA (0, 600, 1200, 1800); the
    # current window (2400) stays in state; topicB emitted nothing yet
    assert got == {
        ("topicA", 0): 2,
        ("topicA", 600): 1,
        ("topicA", 1200): 0,
        ("topicA", 1800): 0,
    }


def test_gap_flush_idle_timeout_closes_final_window(spark, tmp_path):
    """Idle streams flush their open window via processing-time timeout —
    idle vs stalled disambiguation (T3/heartbeat motivation)."""
    import time

    src_dir = tmp_path / "idle_src"
    spark.createDataFrame(
        [("t1", 100), ("t1", 800)], "topic STRING, epoch LONG"
    ).select("topic", F.timestamp_seconds("epoch").alias("ts")).write.parquet(
        str(src_dir)
    )
    stream = spark.readStream.schema("topic STRING, ts TIMESTAMP").parquet(
        str(src_dir)
    )
    flushed = counts_with_gap_flush(
        stream, "ts", "topic", window_seconds=600, idle_timeout_ms=2000
    )
    q = (
        flushed.writeStream.format("memory")
        .queryName("idleflush")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_idle"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 60
        got = {}
        while time.time() < deadline:
            got = {
                (r.topic, r.window_start): r.message_count
                for r in spark.sql("SELECT * FROM idleflush").collect()
            }
            if ("t1", 600) in got:
                break
            time.sleep(1)
    finally:
        q.stop()
    # window 0 closed by the event at 800; window 600 closed by the timeout
    assert got == {("t1", 0): 1, ("t1", 600): 1}


def test_streaming_session_window_matches_batch_sessionize(spark, tmp_path):
    """Structured Streaming session_window (30-min gap) produces the same
    session row counts as the batch cumulative-sum sessionization
    (queries.sessionize_events semantics)."""
    src_dir = tmp_path / "sess_src"
    events = load_table(spark, SF_SMOKE, "events").select("user_id", "ts")
    events.write.parquet(str(src_dir))

    stream = spark.readStream.schema(events.schema).parquet(str(src_dir))
    sessions = (
        stream.withWatermark("ts", "0 seconds")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    q = (
        sessions.writeStream.format("memory")
        .queryName("sess")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    stream_counts = sorted(
        (r.user_id, r.n_events)
        for r in spark.sql("SELECT user_id, n_events FROM sess").collect()
    )
    from data_pipeline_spark.queries import QUERIES

    batch_counts = sorted(
        (r.user_id, r.n_events)
        for r in QUERIES["sessionize_events"].spark(spark, SF_SMOKE).collect()
    )
    assert stream_counts == batch_counts


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Exactly-once consume semantics (D2) in-stream: duplicate message
    uuids within the watermark are dropped by state, not by a batch
    groupBy."""
    src_dir = tmp_path / "dup_src"
    rows = [("u1", 100), ("u2", 110), ("u1", 115), ("u3", 200), ("u2", 205)]
    spark.createDataFrame(rows, "uuid STRING, epoch LONG").select(
        "uuid", F.timestamp_seconds("epoch").alias("ts")
    ).write.parquet(str(src_dir))

    stream = spark.readStream.schema("uuid STRING, ts TIMESTAMP").parquet(
        str(src_dir)
    )
    deduped = stream.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
        ["uuid"]
    )
    _run_available_now(deduped, tmp_path, "dedup_stream")
    got = sorted(r.uuid for r in spark.sql("SELECT uuid FROM dedup_stream").collect())
    assert got == ["u1", "u2", "u3"]


def test_stream_throttling_via_max_files_per_trigger(spark, tmp_path):
    """T9 throttling on the streaming side: maxFilesPerTrigger bounds each
    micro-batch (the maxOffsetsPerTrigger analogue for file topics)."""
    src_dir = tmp_path / "throttle_src"
    for i in range(4):  # four separate files
        spark.createDataFrame([(i * 10 + j,) for j in range(10)], "v LONG").coalesce(
            1
        ).write.mode("append").parquet(str(src_dir))

    stream = (
        spark.readStream.schema("v LONG")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir))
    )
    batch_sizes = []

    def count_batch(df, epoch_id):
        batch_sizes.append(df.count())

    q = (
        stream.writeStream.foreachBatch(count_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt_throttle"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sum(batch_sizes) == 40
    assert len(batch_sizes) >= 4  # one file per micro-batch, not one big gulp
    assert all(b <= 10 for b in batch_sizes)


def test_streaming_subscription_differential_restart(spark, tmp_path):
    """S5 live: a registry change starts queries for NEW topics without
    touching running ones, and checkpoints survive a full runner restart
    (no duplicate or lost rows)."""
    from data_pipeline_spark.consumer_source import TopicsInNamespace
    from data_pipeline_spark.streaming.dynamic import StreamingSubscriptionRunner

    reg = SchemaRegistry()
    store = TopicStore(spark, str(tmp_path / "topics"))
    producer = Producer(store, reg)
    events = load_table(spark, SF_SMOKE, "events").select("event_id", "event_type")

    rs_a = reg.register_schema("dyn.main.db", "alpha", EVENT_SCHEMA)
    producer.publish(events.limit(40), rs_a.schema_id, order_by="event_id")

    out_root = tmp_path / "out"

    def build_sink(topic, stream_df):
        return (
            stream_df.writeStream.format("parquet")
            .outputMode("append")
            .option("path", str(out_root / topic))
        )

    runner = StreamingSubscriptionRunner(
        spark,
        store,
        TopicsInNamespace(reg, "dyn.main.db"),
        str(tmp_path / "ckpt"),
        build_sink,
    )

    delta = runner.tick()
    assert delta["added"] == [rs_a.topic] and not delta["removed"]
    runner.process_available()
    assert spark.read.parquet(str(out_root / rs_a.topic)).count() == 40

    # register a second topic mid-run: next tick starts ONLY the new query
    rs_b = reg.register_schema("dyn.main.db", "beta", EVENT_SCHEMA)
    producer.publish(events.limit(25), rs_b.schema_id, order_by="event_id")
    query_a = runner.active[rs_a.topic]
    delta = runner.tick()
    assert delta["added"] == [rs_b.topic]
    assert runner.active[rs_a.topic] is query_a and query_a.isActive
    runner.process_available()
    assert spark.read.parquet(str(out_root / rs_b.topic)).count() == 25

    # new data on the old topic flows through the still-running query
    producer.publish(
        events.filter(F.col("event_id") > 10_000_000).limit(0).union(
            events.limit(50).filter(F.col("event_id") >= 40)
        ),
        rs_a.schema_id,
        order_by="event_id",
    )
    runner.process_available()
    n_after_more = spark.read.parquet(str(out_root / rs_a.topic)).count()
    assert n_after_more > 40
    runner.stop_all()

    # full restart: same checkpoints resume, replay nothing
    producer.publish(
        events.limit(70).filter(F.col("event_id") >= 60), rs_a.schema_id,
        order_by="event_id",
    )
    runner2 = StreamingSubscriptionRunner(
        spark,
        store,
        TopicsInNamespace(reg, "dyn.main.db"),
        str(tmp_path / "ckpt"),
        build_sink,
    )
    runner2.tick()
    runner2.process_available()
    total_a = spark.read.parquet(str(out_root / rs_a.topic)).count()
    published_a = store.read(rs_a.topic).count()
    assert total_a == published_a  # exactly the published rows: no dup, no loss
    runner2.stop_all()


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Stream⋈stream interval join (clicks->purchases within 1h per user)
    produces exactly the batch join's rows; watermarks bound the state."""
    from data_pipeline_spark.streaming.joins import stream_interval_join

    ev = load_table(spark, SF_SMOKE, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    cdir, pdir = str(tmp_path / "clicks"), str(tmp_path / "purchases")
    clicks.write.parquet(cdir)
    purchases.write.parquet(pdir)

    joined = stream_interval_join(
        spark.readStream.schema(clicks.schema).parquet(cdir),
        spark.readStream.schema(purchases.schema).parquet(pdir),
        on="user_id",
        left_ts="click_ts",
        right_ts="purchase_ts",
        max_delay="1 HOUR",
    )
    _run_available_now(joined, tmp_path, "ssj")
    got = {
        (r.user_id, r.click_id, r.purchase_id)
        for r in spark.sql("SELECT * FROM ssj").collect()
    }

    batch = clicks.join(
        purchases,
        (clicks.user_id == purchases.user_id)
        & (purchases.purchase_ts >= clicks.click_ts)
        & (purchases.purchase_ts <= clicks.click_ts + F.expr("INTERVAL 1 HOUR")),
    )
    want = {
        (r.click_id, r.purchase_id)
        for r in batch.select("click_id", "purchase_id").collect()
    }
    assert {(c, p) for (_, c, p) in got} == want
    assert want, "fixture should produce at least one in-window pair"


def test_streaming_dedup_bounded_state_matches_batch(spark, tmp_path):
    """dropDuplicatesWithinWatermark dedup (D2/D4 streaming side): the
    streamed result carries no duplicate event_ids and matches the batch
    distinct over the same files."""
    from data_pipeline_spark.streaming.dedup import dedup_stream

    src = tmp_path / "dup_src"
    events = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "ts", "event_type"
    ).limit(200)
    # duplicate every row (same event-time: a replay inside the horizon)
    events.union(events).write.parquet(str(src))

    stream = spark.readStream.schema(
        "event_id LONG, ts TIMESTAMP, event_type STRING"
    ).parquet(str(src))
    deduped = dedup_stream(stream, ["event_id"], ts_col="ts", watermark="1 hour")
    _run_available_now(deduped, tmp_path, "dedup_out")

    got = [r.event_id for r in spark.sql("SELECT event_id FROM dedup_out").collect()]
    assert len(got) == len(set(got)) == 200
    assert sorted(got) == sorted(r.event_id for r in events.collect())


def test_subscription_rebalance_callbacks(spark, tmp_path):
    """T7 re-expressed: pre/post rebalance hooks fire around the
    subscription delta with {topic: [partitions]} maps, and the topic
    refresh hook sees (current, refreshed) sets — the reference's Kafka
    group-rebalance callback contract (base_consumer.py:134-164) on
    Spark's query-per-topic model."""
    from data_pipeline_spark.consumer_source import TopicsInNamespace
    from data_pipeline_spark.streaming.dynamic import StreamingSubscriptionRunner

    reg = SchemaRegistry()
    store = TopicStore(spark, str(tmp_path / "topics"))
    producer = Producer(store, reg)
    events = load_table(spark, SF_SMOKE, "events").select("event_id", "event_type")

    rs_a = reg.register_schema("rb.main.db", "alpha", EVENT_SCHEMA)
    producer.publish(
        events.limit(20), rs_a.schema_id, num_partitions=2, order_by="event_id"
    )

    calls: list[tuple[str, object]] = []
    runner = StreamingSubscriptionRunner(
        spark,
        store,
        TopicsInNamespace(reg, "rb.main.db"),
        str(tmp_path / "ckpt"),
        lambda topic, df: (
            df.writeStream.format("parquet")
            .outputMode("append")
            .option("path", str(tmp_path / "out" / topic))
        ),
        pre_rebalance_callback=lambda m: calls.append(("pre", m)),
        post_rebalance_callback=lambda m: calls.append(("post", m)),
        pre_topic_refresh_callback=lambda cur, new: calls.append(
            ("refresh", (cur, new))
        ),
    )

    runner.tick()  # alpha acquired
    assert calls[0] == ("refresh", (set(), {rs_a.topic}))
    assert calls[1] == ("post", {rs_a.topic: sorted(store.high_watermarks(rs_a.topic))})

    calls.clear()
    runner.tick()  # no change: refresh hook only, no rebalance hooks
    assert [c[0] for c in calls] == ["refresh"]

    # register beta, then deregister nothing: only post fires for the delta
    rs_b = reg.register_schema("rb.main.db", "beta", EVENT_SCHEMA)
    producer.publish(events.limit(5), rs_b.schema_id, order_by="event_id")
    calls.clear()
    runner.tick()
    assert ("post", {rs_b.topic: sorted(store.high_watermarks(rs_b.topic))}) in calls
    assert not [c for c in calls if c[0] == "pre"]

    # simulate revocation: resolve to alpha only via a narrower source
    from data_pipeline_spark.consumer_source import TopicsInSource
    runner.source = TopicsInSource(reg, "rb.main.db", "alpha")
    calls.clear()
    runner.tick()
    pre = [c for c in calls if c[0] == "pre"]
    assert pre == [("pre", {rs_b.topic: sorted(store.high_watermarks(rs_b.topic))})]  # revoked map
    runner.stop_all()


def test_streaming_publisher_with_encryption(spark, tmp_path):
    """Streaming publish with AES-CBC: encrypted envelopes on disk per
    micro-batch; a keyed tailer decrypts to the exact input rows."""
    from data_pipeline_spark.consumer import Consumer, Tailer
    from data_pipeline_spark.streaming.publish import StreamingPublisher

    key = b"ffffffff0123456789abcdef01234567"
    reg = SchemaRegistry()
    rs = reg.register_schema(
        "enc.main.db", "events", EVENT_SCHEMA, contains_pii=True
    )
    store = TopicStore(spark, str(tmp_path / "topics"))
    pub = StreamingPublisher(
        Producer(store, reg),
        rs.schema_id,
        str(tmp_path / "ledger"),
        order_by="event_id",
        encrypt_key=(7, key),
    )
    src = tmp_path / "src"
    src.mkdir()
    events = load_table(spark, SF_SMOKE, "events").select("event_id", "event_type")
    events.limit(30).write.mode("overwrite").parquet(str(src / "batch"))
    stream = spark.readStream.schema("event_id LONG, event_type STRING").parquet(
        str(src / "batch")
    )
    q = (
        stream.writeStream.foreachBatch(pub.foreach_batch())
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    cons = Consumer(store, reg)
    enc_types = {r.encryption_type for r in
                 cons.raw(rs.topic).select("envelope.*").collect()}
    assert enc_types == {"AES_MODE_CBC-7"}
    rows = Tailer(cons).tail(
        rs.topic, fields=["event_id", "event_type"], crypto_keys={7: key}
    ).collect()
    got = sorted((r.event_id, r.event_type) for r in rows)
    want = sorted(
        (r.event_id, r.event_type) for r in events.limit(30).collect()
    )
    assert got == want


def test_streaming_encrypted_consume_matches_batch_decrypt(spark, tmp_path):
    """Stream-side keyed consume (E4 over S2-streaming): a subscription
    runner whose sink decodes WITH crypto_keys must emit exactly the rows
    the batch consumer decrypts — same unpack -> decrypt -> decode columns
    over readStream instead of read."""
    from data_pipeline_spark.consumer import Consumer
    from data_pipeline_spark.consumer_source import TopicsInNamespace
    from data_pipeline_spark.streaming.dynamic import StreamingSubscriptionRunner
    from data_pipeline_spark.streaming.publish import StreamingPublisher

    key = b"0123456789abcdef0123456789abcdef"
    reg = SchemaRegistry()
    rs = reg.register_schema(
        "senc.main.db", "events", EVENT_SCHEMA, contains_pii=True
    )
    store = TopicStore(spark, str(tmp_path / "topics"))
    pub = StreamingPublisher(
        Producer(store, reg),
        rs.schema_id,
        str(tmp_path / "pub_ledger"),
        order_by="event_id",
        encrypt_key=(9, key),
    )
    events = load_table(spark, SF_SMOKE, "events").select("event_id", "event_type")
    src = tmp_path / "src"
    events.limit(40).write.parquet(str(src))
    stream = spark.readStream.schema("event_id LONG, event_type STRING").parquet(
        str(src)
    )
    q = pub.start(stream, checkpoint_dir=str(tmp_path / "pub_ckpt"))
    q.awaitTermination(120)

    cons = Consumer(store, reg)
    out_root = tmp_path / "out"

    def build_sink(topic, stream_df):
        decoded = cons._decode_enveloped(
            stream_df.withColumn("envelope", env.unpack(F.col("value"))),
            topic,
            None,
            {9: key},
        ).select("partition", "offset", "payload.event_id", "payload.event_type")
        return (
            decoded.writeStream.format("parquet")
            .outputMode("append")
            .option("path", str(out_root / topic))
            .trigger(availableNow=True)
        )

    runner = StreamingSubscriptionRunner(
        spark,
        store,
        TopicsInNamespace(reg, "senc.main.db"),
        str(tmp_path / "sub_ckpt"),
        build_sink,
    )
    assert runner.tick()["added"] == [rs.topic]
    for query in runner.active.values():
        query.awaitTermination(120)
    runner.stop_all()

    got = sorted(
        (r.event_id, r.event_type)
        for r in spark.read.parquet(str(out_root / rs.topic)).collect()
    )
    want = sorted(
        (r.payload.event_id, r.payload.event_type)
        for r in cons.messages(rs.topic, crypto_keys={9: key}).collect()
    )
    assert got == want and len(got) == 40

    # messages_stream is the packaged form of the same pipeline
    mem = _run_available_now(
        cons.messages_stream(rs.topic, crypto_keys={9: key}).select(
            "payload.event_id", "payload.event_type"
        ),
        tmp_path,
        "enc_stream_tail",
    )
    tailed = sorted(
        (r.event_id, r.event_type)
        for r in spark.sql("select * from enc_stream_tail").collect()
    )
    assert tailed == got


def test_fused_stream_tail_matches_batch(spark, tmp_path):
    """messages_stream WITHOUT crypto keys rides the fused unpack+decode
    UDF; its output must equal the batch consumer's rows exactly."""
    from data_pipeline_spark.consumer import Consumer

    reg = SchemaRegistry()
    rs = reg.register_schema("fus.main.db", "events", EVENT_SCHEMA)
    store = TopicStore(spark, str(tmp_path / "topics"))
    events = load_table(spark, SF_SMOKE, "events").select("event_id", "event_type")
    Producer(store, reg).publish(events.limit(35), rs.schema_id, order_by="event_id")

    cons = Consumer(store, reg)
    _run_available_now(
        cons.messages_stream(rs.topic).select(
            "partition", "offset", "payload.event_id", "payload.event_type"
        ),
        tmp_path,
        "fused_tail",
    )
    got = sorted(
        (r.partition, r.offset, r.event_id, r.event_type)
        for r in spark.sql("select * from fused_tail").collect()
    )
    want = sorted(
        (r.partition, r.offset, r.payload.event_id, r.payload.event_type)
        for r in cons.messages(rs.topic).collect()
    )
    assert got == want and len(got) == 35


def test_dedup_gated_ingest_across_batches(spark, tmp_path):
    """Streaming ingest admission: batch 2 re-sends one exact copy and one
    near-variant of batch-1 docs plus one novel doc — only the novel doc
    is admitted; a replayed epoch admits nothing; within-batch exact
    copies collapse to one keeper."""
    from data_pipeline_spark.streaming.ingest import DedupGatedIngest

    gate = DedupGatedIngest(
        spark,
        corpus_dir=str(tmp_path / "corpus"),
        ledger_path=str(tmp_path / "ledger"),
        threshold=0.5,
    )
    b1 = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog near the wall"),
            (2, "spark writes parquet files into partitioned warehouse tables"),
            (3, "spark writes parquet files into partitioned warehouse tables"),
        ],
        "doc_id LONG, text STRING",
    )
    assert gate.admit_batch(b1, 0) == 2  # within-batch copy collapsed
    b2 = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog near the wall"),
            (11, "the quick brown fox jumps over the lazy dog near the door"),
            (12, "a completely novel streaming document about watermark sidecars"),
        ],
        "doc_id LONG, text STRING",
    )
    assert gate.admit_batch(b2, 1) == 1  # only the novel doc
    assert gate.admit_batch(b2, 1) == 0  # replay: ledger-skipped
    corpus = spark.read.parquet(str(tmp_path / "corpus"))
    assert sorted(r.doc_id for r in corpus.collect()) == [1, 2, 12]

    # crash window: data appended, ledger row lost -> replay re-gates and
    # admits nothing (everything is now a corpus duplicate)
    fresh = DedupGatedIngest(
        spark,
        corpus_dir=str(tmp_path / "corpus"),
        ledger_path=str(tmp_path / "ledger"),
        threshold=0.5,
    )
    assert fresh.admit_batch(b2, 2) == 0
    assert spark.read.parquet(str(tmp_path / "corpus")).count() == 3

    # end-to-end through writeStream/availableNow
    src = tmp_path / "src"
    spark.createDataFrame(
        [(20, "one more unique streaming arrival with its own vocabulary"),
         (21, "spark writes parquet files into partitioned warehouse tables")],
        "doc_id LONG, text STRING",
    ).write.parquet(str(src))
    stream = spark.readStream.schema("doc_id LONG, text STRING").parquet(str(src))
    # the epoch ledger is scoped to ONE checkpoint (epochs restart at 0 in
    # a new query) — a new stream gets its own ledger beside its checkpoint
    streaming_gate = DedupGatedIngest(
        spark,
        corpus_dir=str(tmp_path / "corpus"),
        ledger_path=str(tmp_path / "stream_ledger"),
        threshold=0.5,
    )
    q = streaming_gate.start(stream, checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    final = sorted(
        r.doc_id
        for r in spark.read.parquet(str(tmp_path / "corpus")).collect()
    )
    assert final == [1, 2, 12, 20]  # 21 rejected as an exact corpus dup


def test_streaming_count_min_matches_batch_exactly(spark, tmp_path):
    """Streaming CM accumulation == the batch sketch BYTE-FOR-BYTE: CM is
    linear, so summing per-trigger partials is the all-data sketch, not
    an approximation of it.  Also pins trigger-replay idempotence: a
    re-run batch overwrites its own partition instead of double-counting."""
    from data_pipeline_spark.llmops import textstats
    from data_pipeline_spark.llmops.sketches import count_min_sketch
    from data_pipeline_spark.streaming.sketch import CountMinStreamSink

    src = tmp_path / "cms_src"
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    docs.repartition(4).write.parquet(str(src))  # 4 files -> 4 triggers

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    toks = stream.select(F.explode(textstats.tokens("text")).alias("item"))
    sink = CountMinStreamSink(
        str(tmp_path / "cms_out"), "item", width=512, depth=4
    )
    q = (
        toks.writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "cms_ckpt"))
        .start()
    )
    q.awaitTermination(120)
    streamed = {(r.d, r.slot): r.cnt for r in sink.sketch(spark).collect()}
    batch_toks = docs.select(
        F.explode(textstats.tokens("text")).alias("item")
    )
    want = {
        (r.d, r.slot): r.cnt
        for r in count_min_sketch(batch_toks, "item", 512, 4).collect()
    }
    assert streamed == want and len(streamed) > 0

    # replay idempotence, driven directly through the sink callable
    sink2 = CountMinStreamSink(str(tmp_path / "cms_replay"), "item", 256, 3)
    d1 = spark.createDataFrame([("a",), ("b",), ("a",)], "item STRING")
    d2 = spark.createDataFrame([("b",), ("c",)], "item STRING")
    sink2(d1, 0)
    sink2(d2, 1)
    before = {(r.d, r.slot): r.cnt for r in sink2.sketch(spark).collect()}
    sink2(d2, 1)  # trigger replay: same batch id, same content
    after = {(r.d, r.slot): r.cnt for r in sink2.sketch(spark).collect()}
    assert after == before
    # and the replayed store still equals the one-shot batch sketch
    union = d1.unionByName(d2)
    want2 = {
        (r.d, r.slot): r.cnt
        for r in count_min_sketch(union, "item", 256, 3).collect()
    }
    assert after == want2


def test_streaming_locf_gapfill_matches_batch(spark, tmp_path):
    """Streaming LOCF gap-fill == the batch gapfill_interpolate's LOCF
    columns over every CLOSED bucket (the stream's final per-key bucket
    is still open when availableNow terminates, and linear interpolation
    is pinned batch-only — it needs the NEXT present bucket, i.e.
    unbounded lookahead under append semantics)."""
    from data_pipeline_spark.operators.aggregates import gapfill_interpolate
    from data_pipeline_spark.streaming.gapfill import locf_gapfill_stream

    src_dir = tmp_path / "gap_src"
    events = load_table(spark, SF_SMOKE, "events").select(
        "ts", "event_type", "value"
    )
    events.write.parquet(str(src_dir))

    stream = spark.readStream.schema(events.schema).parquet(str(src_dir))
    filled = locf_gapfill_stream(
        stream, "ts", "event_type", "value", bucket_seconds=3600,
        idle_timeout_ms=None,
    )
    _run_available_now(filled, tmp_path, "locf_gapfill")
    got = {
        (r.event_type, r.bucket_start): (r.n_events, r.is_gap, r.sum_value_locf)
        for r in spark.sql("SELECT * FROM locf_gapfill").collect()
    }
    assert got, "stream emitted no closed buckets"

    batch = gapfill_interpolate(
        events, "ts", ["event_type"], "value", bucket_seconds=3600
    ).collect()
    last_per_key: dict = {}
    for r in batch:
        last_per_key[r.event_type] = max(
            last_per_key.get(r.event_type, 0), r.bucket_start
        )
    want = {
        (r.event_type, r.bucket_start): (
            r.n_events, r.is_gap, r.sum_value_locf
        )
        for r in batch
        if r.bucket_start < last_per_key[r.event_type]
    }
    assert got == want
    assert any(gap for (_n, gap, _v) in got.values())  # gaps exercised


def test_streaming_hll_matches_batch(spark, tmp_path):
    """Streaming per-key HLL accumulation == the batch sketch's estimates:
    HLL registers merge by MAX, so unioning per-trigger partials is the
    all-data sketch.  Replay idempotence holds by max-idempotence on top
    of the partition-overwrite pattern."""
    from data_pipeline_spark.streaming.sketch import HllStreamSink

    src = tmp_path / "hll_src"
    events = load_table(spark, SF_SMOKE, "events").select(
        "event_type", "user_id"
    )
    events.repartition(4).write.parquet(str(src))

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    sink = HllStreamSink(
        str(tmp_path / "hll_out"), ["event_type"], "user_id", lg_k=12
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "hll_ckpt"))
        .start()
    )
    q.awaitTermination(120)

    got = {
        r.event_type: r.distinct_estimate
        for r in sink.estimates(spark).collect()
    }
    want = {
        r.event_type: r.est
        for r in events.groupBy("event_type")
        .agg(
            F.round(
                F.hll_sketch_estimate(
                    F.hll_sketch_agg("user_id", F.lit(12))
                )
            )
            .cast("bigint")
            .alias("est")
        )
        .collect()
    }
    assert got == want and len(got) > 0

    # trigger replay: same batch id rewrites its partition; estimates stable
    d2 = events.limit(50)
    sink(d2, 99)
    first = {
        r.event_type: r.distinct_estimate
        for r in sink.estimates(spark).collect()
    }
    sink(d2, 99)
    again = {
        r.event_type: r.distinct_estimate
        for r in sink.estimates(spark).collect()
    }
    assert first == again


def test_streaming_misra_gries_parity_and_guarantee(spark, tmp_path):
    """Streaming MG accumulation: (a) in the k >= |distinct| limit the
    folded summary equals the exact batch GROUP BY (no counter pruned in
    either merge tree); (b) at small k over a heavy-tailed token stream
    the mergeable-summaries guarantee holds for the FULL stream n —
    every item with true count > n/(k+1) surfaces, and every reported
    weight is a lower bound within n/(k+1); (c) trigger replay is
    idempotent via the partition-overwrite pattern."""
    from data_pipeline_spark.llmops import textstats
    from data_pipeline_spark.streaming.sketch import MisraGriesStreamSink

    # (a) exact limit: event_type domain is tiny vs k=50
    src = tmp_path / "mg_src"
    events = load_table(spark, SF_SMOKE, "events").select("event_type")
    events.repartition(4).write.parquet(str(src))
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    sink = MisraGriesStreamSink(str(tmp_path / "mg_out"), "event_type", k=50)
    q = (
        stream.writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "mg_ckpt"))
        .start()
    )
    q.awaitTermination(120)
    got = {r.item: r.weight for r in sink.summary(spark).collect()}
    want = {
        r.event_type: r.cnt
        for r in events.filter(F.col("event_type").isNotNull())
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert got == want and len(got) > 0

    # (b) small-k guarantee over a token stream sliced into 4 triggers
    src2 = tmp_path / "mg_tok_src"
    docs = load_table(spark, SF_SMOKE, "documents").select("text")
    docs.repartition(4).write.parquet(str(src2))
    tok_stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src2))
    )
    toks = tok_stream.select(F.explode(textstats.tokens("text")).alias("item"))
    k = 20
    sink2 = MisraGriesStreamSink(str(tmp_path / "mg_tok_out"), "item", k=k)
    q2 = (
        toks.writeStream.foreachBatch(sink2)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "mg_tok_ckpt"))
        .start()
    )
    q2.awaitTermination(120)
    est = {r.item: r.weight for r in sink2.summary(spark).collect()}
    assert 0 < len(est) <= k
    exact = {
        r.item: r.cnt
        for r in docs.select(
            F.explode(textstats.tokens("text")).alias("item")
        )
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    n = sum(exact.values())
    bound = n / (k + 1)
    for item, true_cnt in exact.items():
        if true_cnt > bound:
            assert item in est, f"heavy item {item!r} missing"
    for item, w in est.items():
        assert w <= exact[item], "MG weight must be a lower bound"
        assert exact[item] - w <= bound, "undercount exceeds n/(k+1)"

    # (c) replay idempotence, driven directly through the sink callable
    d2 = spark.createDataFrame([("x",), ("y",), ("x",)], "event_type STRING")
    sink(d2, 99)
    first = {r.item: r.weight for r in sink.summary(spark).collect()}
    sink(d2, 99)
    again = {r.item: r.weight for r in sink.summary(spark).collect()}
    assert first == again and first["x"] == want.get("x", 0) + 2
