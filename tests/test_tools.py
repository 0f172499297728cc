"""Auxiliary tool tests: DDL compiler, binlog source, ts->offset, crypto,
meta attributes, rotating sink, and the names perfbench's traced run
wraps."""

from __future__ import annotations

import gzip
import json
import os

import pytest
from pyspark.sql import functions as F

from data_pipeline_spark import avro_codec
from data_pipeline_spark.functions import crypto
from data_pipeline_spark.functions.ddl import compile_create_table, create_table_to_struct
from data_pipeline_spark.sources.binlog import binlog_activity_rollup, parse_binlog_lines
from data_pipeline_spark.sources.offsets import first_offsets_at_or_after, write_rotated

DDL = """
CREATE TABLE IF NOT EXISTS app.users (
    id BIGINT NOT NULL PRIMARY KEY,
    name VARCHAR(128),
    balance DECIMAL(12, 2) DEFAULT 0,
    tier CHAR(2) NOT NULL DEFAULT 'BR',
    active BOOLEAN NOT NULL DEFAULT TRUE,
    signup_date DATE,
    updated_at TIMESTAMP NOT NULL
);
"""


def test_ddl_compile_types_and_metadata():
    schema = compile_create_table(DDL)
    by_name = {f["name"]: f for f in schema["fields"]}
    assert schema["name"] == "users"
    assert by_name["id"] == {"name": "id", "type": "long", "pkey": 1}
    assert by_name["name"]["type"] == ["null", "string"]
    assert by_name["name"]["maxlen"] == 128
    assert by_name["balance"]["fixed_pt"] is True
    assert by_name["balance"]["precision"] == 12
    assert by_name["balance"]["scale"] == 2
    assert by_name["balance"]["type"] == ["double", "null"]  # default-first
    assert by_name["balance"]["default"] == 0.0
    assert by_name["tier"] == {
        "name": "tier", "type": "string", "default": "BR", "fixlen": 2
    }
    assert by_name["active"]["default"] is True
    assert by_name["signup_date"]["date"] is True
    assert by_name["updated_at"]["timestamp"] is True
    # compiled schema is a valid avro schema for the codec
    enc = avro_codec.compile_encoder(schema)
    assert enc is not None


def test_ddl_table_level_pk_and_struct():
    sql = "CREATE TABLE t (a INT NOT NULL, b VARCHAR(10), PRIMARY KEY (a, b))"
    name, struct, pks = create_table_to_struct(sql)
    assert name == "t" and pks == ["a", "b"]
    assert struct.simpleString() == "struct<a:int,b:string>"


def test_ddl_rejects_non_create():
    with pytest.raises(ValueError):
        compile_create_table("DROP TABLE users")


BINLOG = """\
SET TIMESTAMP=1500000000/*!*/;
### INSERT INTO `main`.`users`
### INSERT INTO `main`.`users`
SET TIMESTAMP=1500000700/*!*/;
### UPDATE `main`.`users`
### DELETE FROM `main`.`orders`
garbage line to ignore
SET TIMESTAMP=1500001300/*!*/;
### INSERT INTO `main`.`orders`
"""


def test_binlog_parse_and_rollup(spark):
    lines = spark.createDataFrame(
        [(i, ln) for i, ln in enumerate(BINLOG.splitlines())],
        "line_no INT, value STRING",
    )
    stmts = parse_binlog_lines(lines)
    got = [tuple(r) for r in stmts.orderBy("ts", "table", "statement_type").collect()]
    assert got == [
        (1500000000, "insert", "main", "users"),
        (1500000000, "insert", "main", "users"),
        (1500000700, "delete", "main", "orders"),
        (1500000700, "update", "main", "users"),
        (1500001300, "insert", "main", "orders"),
    ]
    rollup = {
        (r.window_start, r.table, r.statement_type): r.n_statements
        for r in binlog_activity_rollup(stmts, 600).collect()
    }
    assert rollup[(1500000000, "users", "insert")] == 2
    assert rollup[(1500000600, "users", "update")] == 1


def test_first_offsets_at_or_after(spark):
    msgs = spark.createDataFrame(
        [(0, 0, 100), (0, 1, 200), (0, 2, 300), (1, 0, 150), (1, 1, 250)],
        "partition INT, offset LONG, publish_ts LONG",
    )
    got = {
        r.partition: r.start_offset
        for r in first_offsets_at_or_after(msgs, 200).collect()
    }
    assert got == {0: 1, 1: 1}
    # bound past everything -> empty (caller falls back to high watermark)
    assert first_offsets_at_or_after(msgs, 999).count() == 0


def test_aes_cbc_roundtrip_with_meta_iv(spark):
    key = b"0123456789abcdef0123456789abcdef"  # 32-byte key, key_id 1
    df = spark.createDataFrame(
        [(b"secret payload A",), (b"secret payload B",)], "payload BINARY"
    ).withColumn("ct", crypto.encrypt_payload(F.col("payload"), key))
    enc = df.select(
        "payload",
        crypto.iv_of(F.col("ct")).alias("iv"),
        "ct",
        F.lit(crypto.encryption_type_str(1)).alias("encryption_type"),
    )
    # IV rides as a meta attribute and is recoverable
    empty_meta = F.lit(None).cast("array<struct<schema_id:int,payload:binary>>")
    with_meta = enc.withColumn(
        "meta",
        crypto.add_meta(empty_meta, crypto.meta_attribute(77, F.col("iv"))),
    )
    dec = with_meta.select(
        "payload",
        crypto.decrypt_payload(F.col("ct"), key, crypto.get_meta(F.col("meta"), 77)).alias("pt"),
        crypto.parse_key_id(F.col("encryption_type")).alias("key_id"),
        F.size(crypto.pop_meta(F.col("meta"), 77)).alias("meta_after_pop"),
    )
    for r in dec.collect():
        assert bytes(r.pt) == bytes(r.payload)
        assert r.key_id == 1
        assert r.meta_after_pop == 0


def test_producer_iv_is_csprng_drawn_and_meta_matches_wire(spark, tmp_path):
    """The per-row IV comes from the JVM's SecureRandom (no uuid()-derived
    bias) and the IV meta attribute must be exactly the 16-byte prefix of
    the ciphertext that shipped — i.e. the nondeterministic encrypt was
    evaluated ONCE, not duplicated between payload and meta."""
    import json

    from data_pipeline_spark.consumer import Consumer
    from data_pipeline_spark.producer import Producer
    from data_pipeline_spark.registry import SchemaRegistry
    from data_pipeline_spark.sources.file_topic import TopicStore

    reg = SchemaRegistry()
    rs = reg.register_schema(
        "sec.db.x", "pii_events",
        json.dumps({"type": "record", "name": "e",
                    "fields": [{"name": "event_id", "type": "long"}]}),
        contains_pii=True,
    )
    store = TopicStore(spark, str(tmp_path / "topics"))
    key = b"0123456789abcdef0123456789abcdef"
    rows = spark.createDataFrame([(i,) for i in range(64)], "event_id LONG")
    Producer(store, reg).publish(
        rows, rs.schema_id, order_by="event_id", encrypt_key=(1, key)
    )

    raw = Consumer(store, reg).raw(rs.topic)
    e = F.col("envelope")
    got = raw.select(
        crypto.get_meta(e.meta, crypto.IV_META_SCHEMA_ID).alias("meta_iv"),
        crypto.iv_of(e.payload).alias("wire_iv"),
        e.encryption_type.alias("et"),
    ).collect()
    assert len(got) == 64
    ivs = set()
    for r in got:
        assert bytes(r.meta_iv) == bytes(r.wire_iv)
        assert len(bytes(r.meta_iv)) == 16
        assert r.et == "AES_MODE_CBC-1"
        ivs.add(bytes(r.meta_iv))
    assert len(ivs) == 64  # fresh IV per row

    # and the payloads decrypt+decode back to the inputs
    dec = Consumer(store, reg).messages(rs.topic, crypto_keys={1: key})
    assert sorted(r.event_id for r in dec.select("payload.event_id").collect()) \
        == list(range(64))


def test_write_rotated_gzip_with_complete_markers(spark, tmp_path):
    out = str(tmp_path / "rotated")
    df = spark.createDataFrame(
        [(i, 1000 + 900 * w) for w in range(3) for i in range(5)],
        "n INT, epoch LONG",
    ).select("n", F.timestamp_seconds("epoch").alias("ts"))
    completed = write_rotated(df.repartition(2), out, "ts", window_seconds=900)
    windows = sorted(d for d in os.listdir(out) if d.startswith("window_start="))
    assert len(windows) == 3
    assert len(completed) == 2  # newest window stays open
    for d in completed:
        assert os.path.exists(os.path.join(d, "COMPLETE"))
    # files are real gzip json
    some = [
        f for f in os.listdir(completed[0]) if f.endswith(".json.gz")
    ]
    assert some
    with gzip.open(os.path.join(completed[0], some[0])) as fh:
        row = json.loads(fh.readline())
        assert "n" in row


def test_ddl_alter_table_ops():
    from data_pipeline_spark.functions.ddl import apply_alter_table

    base = compile_create_table(
        "CREATE TABLE t (id BIGINT NOT NULL PRIMARY KEY, name VARCHAR(64), n INT)"
    )
    # add + drop in one statement, clauses applied in order
    out = apply_alter_table(
        base, "ALTER TABLE t ADD COLUMN score DOUBLE, DROP COLUMN n"
    )
    names = [f["name"] for f in out["fields"]]
    assert names == ["id", "name", "score"]
    assert out["fields"][2]["type"] == ["null", "double"]

    out = apply_alter_table(base, "ALTER TABLE t MODIFY COLUMN n BIGINT NOT NULL")
    assert next(f for f in out["fields"] if f["name"] == "n")["type"] == "long"

    out = apply_alter_table(base, "ALTER TABLE t RENAME COLUMN n TO cnt")
    assert [f["name"] for f in out["fields"]] == ["id", "name", "cnt"]
    # rename preserves the column's compiled type
    assert next(f for f in out["fields"] if f["name"] == "cnt")["type"] == ["null", "int"]

    out = apply_alter_table(base, "ALTER TABLE t CHANGE COLUMN n cnt BIGINT")
    assert next(f for f in out["fields"] if f["name"] == "cnt")["type"] == ["null", "long"]

    import pytest as _pytest

    with _pytest.raises(ValueError):
        apply_alter_table(base, "ALTER TABLE t DROP COLUMN missing")
    with _pytest.raises(ValueError):
        apply_alter_table(base, "ALTER TABLE t ADD COLUMN id INT")


def test_register_schema_from_sql_stmts_validates_alter_chain():
    from data_pipeline_spark.functions.ddl import register_schema_from_sql_stmts
    from data_pipeline_spark.registry import SchemaRegistry

    reg = SchemaRegistry()
    old = "CREATE TABLE biz (id BIGINT NOT NULL PRIMARY KEY, name VARCHAR(64))"
    new = (
        "CREATE TABLE biz (id BIGINT NOT NULL PRIMARY KEY, name VARCHAR(64), "
        "rating DOUBLE)"
    )
    rs1 = register_schema_from_sql_stmts(reg, "ns.db", "biz", old)
    assert rs1.primary_keys == ("id",)
    rs2 = register_schema_from_sql_stmts(
        reg,
        "ns.db",
        "biz",
        new,
        old_create_table_stmt=old,
        alter_table_stmt="ALTER TABLE biz ADD COLUMN rating DOUBLE",
    )
    # nullable add with default null is fully compatible: same topic
    assert rs2.topic == rs1.topic and rs2.schema_id != rs1.schema_id

    import pytest as _pytest

    with _pytest.raises(ValueError, match="does not produce"):
        register_schema_from_sql_stmts(
            reg,
            "ns.db",
            "biz",
            new,
            old_create_table_stmt=old,
            alter_table_stmt="ALTER TABLE biz ADD COLUMN rating REAL",
        )


def test_schema_migration_plans_roundtrip():
    from data_pipeline_spark.functions.ddl import (
        compile_create_table,
        get_schema_migration,
    )

    old_sql = (
        "CREATE TABLE biz (id BIGINT NOT NULL PRIMARY KEY, name VARCHAR(64), "
        "rating DOUBLE, opened DATE)"
    )
    old = compile_create_table(old_sql)

    # fresh-create plan round-trips through the forward compiler
    (create_stmt,) = get_schema_migration(old)
    assert compile_create_table(create_stmt) == old

    # additive change: pure ALTER plan
    new = compile_create_table(
        old_sql.replace("opened DATE", "opened DATE, n_reviews INT")
    )
    plan = get_schema_migration(new, old_schema=old)
    assert plan == ["ALTER TABLE biz ADD COLUMN n_reviews INTEGER;"]

    # dropped column: ALTER DROP
    smaller = {**old, "fields": [f for f in old["fields"] if f["name"] != "rating"]}
    plan = get_schema_migration(smaller, old_schema=old)
    assert plan == ["ALTER TABLE biz DROP COLUMN rating;"]

    # retyped column: rebuild plan with staging swap
    retyped = compile_create_table(old_sql.replace("VARCHAR(64)", "VARCHAR(128)"))
    plan = get_schema_migration(retyped, old_schema=old)
    assert len(plan) == 4
    assert plan[0].startswith("CREATE TABLE biz__migration_new")
    assert "INSERT INTO biz__migration_new" in plan[1]
    assert plan[2] == "DROP TABLE biz;"
    assert plan[3] == "ALTER TABLE biz__migration_new RENAME TO biz;"


def test_ddl_string_default_with_quotes_and_commas_roundtrips():
    """A DEFAULT literal containing ' or , must survive CREATE -> Avro ->
    CREATE: the generated DDL escapes quotes ('' per SQL) and the parser
    unescapes them and does not split columns inside the literal."""
    from data_pipeline_spark.functions.ddl import (
        compile_create_table,
        get_schema_migration,
    )

    sql = (
        "CREATE TABLE t (a VARCHAR(20) DEFAULT 'it''s, ok', b INTEGER NOT NULL)"
    )
    schema = compile_create_table(sql)
    assert schema["fields"][0]["default"] == "it's, ok"
    assert [f["name"] for f in schema["fields"]] == ["a", "b"]
    (create_stmt,) = get_schema_migration(schema)
    assert "''" in create_stmt  # escaped, not raw
    assert compile_create_table(create_stmt) == schema


def test_ddl_property_roundtrip_and_alter_inverse():
    """Property: (1) the reverse compiler's CREATE re-compiles to the same
    Avro schema for any supported column mix; (2) ADD then DROP of a fresh
    column is an identity on the schema."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from data_pipeline_spark.functions.ddl import (
        apply_alter_table,
        compile_create_table,
        get_schema_migration,
    )

    sql_types = st.sampled_from(
        [
            "SMALLINT", "INTEGER", "BIGINT", "REAL", "DOUBLE PRECISION",
            "DECIMAL(12,3)", "CHAR(8)", "VARCHAR(40)", "BOOLEAN", "DATE",
            "TIMESTAMP",
        ]
    )
    col = st.tuples(sql_types, st.booleans())  # (type, not_null)

    @settings(max_examples=60, deadline=None)
    @given(st.lists(col, min_size=1, max_size=8), col)
    def check(cols, extra):
        defs = ", ".join(
            f"c{i} {t}{' NOT NULL' if nn else ''}" for i, (t, nn) in enumerate(cols)
        )
        base = compile_create_table(f"CREATE TABLE t ({defs})")

        (create_stmt,) = get_schema_migration(base)
        assert compile_create_table(create_stmt) == base

        t, nn = extra
        altered = apply_alter_table(
            base, f"ALTER TABLE t ADD COLUMN zz {t}{' NOT NULL' if nn else ''}"
        )
        assert [f["name"] for f in altered["fields"]][-1] == "zz"
        back = apply_alter_table(altered, "ALTER TABLE t DROP COLUMN zz")
        assert back == base

    check()


def test_binlog_multi_file_timestamps_do_not_leak(spark):
    """With file_col set, the SET TIMESTAMP running fill is per file: a
    statement before any timestamp in its own file gets NULL, never the
    previous file's value."""
    rows = [
        ("a.log", 0, "SET TIMESTAMP=1500000000/*!*/;"),
        ("a.log", 1, "### INSERT INTO `main`.`users`"),
        ("b.log", 0, "### DELETE FROM `main`.`orders`"),  # no ts yet in b
        ("b.log", 1, "SET TIMESTAMP=1600000000/*!*/;"),
        ("b.log", 2, "### UPDATE `main`.`users`"),
    ]
    lines = spark.createDataFrame(rows, "fname STRING, line_no INT, value STRING")
    got = {
        (r.table, r.statement_type): r.ts
        for r in parse_binlog_lines(lines, file_col="fname").collect()
    }
    assert got[("users", "insert")] == 1500000000
    assert got[("orders", "delete")] is None  # not 1500000000
    assert got[("users", "update")] == 1600000000


def test_interval_bucket_join_semantics(spark):
    """Bucket decomposition == the theta join row-for-row: boundary
    inclusivity (start in, end out), intervals spanning many buckets,
    overlapping intervals multiplying a point, empty and NULL intervals
    dropping out, and left_outer keeping each copy of duplicate
    unmatched points."""
    from data_pipeline_spark.operators.joins import interval_bucket_join

    pts = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00"),  # == start of A: included
            (2, "2024-01-01 05:59:59"),  # inside A
            (3, "2024-01-01 06:00:00"),  # == end of A: excluded, in B
            (4, "2024-01-02 01:30:00"),  # inside long C only
            (5, "2024-01-09 00:00:00"),  # matches nothing
            (6, None),                   # NULL ts: matches nothing
            (5, "2024-01-09 00:00:00"),  # duplicate unmatched point
        ],
        "pid LONG, ts STRING",
    ).select("pid", F.col("ts").cast("timestamp").alias("ts"))
    ivs = spark.createDataFrame(
        [
            ("A", "2024-01-01 00:00:00", "2024-01-01 06:00:00"),
            ("B", "2024-01-01 05:00:00", "2024-01-01 07:00:00"),  # overlaps A
            ("C", "2024-01-01 20:00:00", "2024-01-03 00:00:00"),  # 28h: 5 buckets
            ("E", "2024-01-05 00:00:00", "2024-01-05 00:00:00"),  # empty
            ("N", None, "2024-01-06 00:00:00"),                   # NULL start
        ],
        "iid STRING, s STRING, e STRING",
    ).select(
        "iid",
        F.col("s").cast("timestamp").alias("s"),
        F.col("e").cast("timestamp").alias("e"),
    )
    got = sorted(
        (r.pid, r.iid)
        for r in interval_bucket_join(
            pts, ivs, "ts", "s", "e", bucket_seconds=21600
        ).collect()
    )
    theta = sorted(
        (r.pid, r.iid)
        for r in pts.join(
            ivs, (pts.ts >= ivs.s) & (pts.ts < ivs.e), "inner"
        ).collect()
    )
    assert got == theta == [(1, "A"), (2, "A"), (2, "B"), (3, "B"), (4, "C")]

    outer = interval_bucket_join(
        pts, ivs, "ts", "s", "e", bucket_seconds=21600, how="left_outer"
    ).collect()
    assert sorted((r.pid, r.iid) for r in outer) == [
        (1, "A"), (2, "A"), (2, "B"), (3, "B"), (4, "C"),
        (5, None), (5, None), (6, None),
    ]


def test_perfbench_wrap_targets_resolve():
    """Every (owner, attr) a benchmark workload wraps for its traced run
    (``--trace 1``) still exists, so a cleanup that deletes or moves a
    wrapped name fails here rather than in the benchmark.  No Spark."""
    from perfbench.workloads import WORKLOADS

    for cls in WORKLOADS.values():
        wrapped = []

        class Tracer:
            def wrap(self, owner, attr, name):
                assert callable(getattr(owner, attr, None)), (cls.name, owner, attr)
                wrapped.append(name)

        cls.__new__(cls).wrap(Tracer())
        assert wrapped, cls.name
