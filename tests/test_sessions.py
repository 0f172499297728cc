"""session_window sessions: batch/streaming parity and the pinned boundary
divergence vs the cumulative-sum sessionization; and the Spark session's
Python worker daemon, call-site capture and codegen cache defaults."""

from __future__ import annotations

import uuid
import zipfile
from functools import reduce

import pandas as pd
import pytest
from py4j.java_gateway import GatewayClient
from pyspark.errors import utils as error_utils
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from data_pipeline_spark.io import load_table
from data_pipeline_spark.streaming.sessions import session_aggregate
from tests.conftest import SF_SMOKE


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


def test_streaming_sessions_match_batch(spark, tmp_path):
    """Streaming session_window (append + watermark) == the same operator
    run as a batch aggregation, once a far-future sentinel advances the
    watermark past every real session's close."""
    src_dir = tmp_path / "sess_src"
    events = (
        load_table(spark, SF_SMOKE, "events")
        .select("user_id", "ts")
        .filter(F.col("user_id") % 7 == 0)
    )
    max_ts = events.agg(F.max("ts")).first()[0]
    sentinel = spark.createDataFrame(
        [(-1, max_ts)], "user_id LONG, ts TIMESTAMP"
    ).select("user_id", (F.col("ts") + F.expr("INTERVAL 30 DAYS")).alias("ts"))
    events.union(sentinel).write.parquet(str(src_dir))

    stream = spark.readStream.schema("user_id LONG, ts TIMESTAMP").parquet(
        str(src_dir)
    )
    out = session_aggregate(
        stream, "ts", "user_id", gap_seconds=1800, watermark="10 minutes"
    )
    _run_available_now(out, tmp_path, "sessions")

    got = sorted(
        tuple(r) for r in spark.sql("SELECT * FROM sessions").collect()
    )
    want = sorted(
        tuple(r)
        for r in session_aggregate(events, "ts", "user_id", 1800).collect()
    )
    assert len(want) > 0
    assert got == want


def test_session_window_boundary_merges_adjacent(spark):
    """Spark merges ADJACENT session windows: a gap exactly equal to the
    threshold stays one session (split needs diff > gap) — the same rule
    as the lag/cumsum form, pinned here so an operator behavior change
    would surface."""
    rows = [(1, 0), (1, 1800), (1, 3500), (1, 5301)]
    ev = spark.createDataFrame(rows, "user_id LONG, e LONG").select(
        "user_id", F.timestamp_seconds("e").alias("ts")
    )
    native = session_aggregate(ev, "ts", "user_id", 1800).collect()
    # diff 1800 merges (0..3500 one session); diff 1801 splits
    assert sorted((r.session_start, r.session_end) for r in native) == [
        (0, 3500),
        (5301, 5301),
    ]


def test_session_aggregate_matches_cumsum(spark):
    """The native operator and the catalog's cumsum sessionization agree
    session-for-session on the events fixture."""
    from data_pipeline_spark.queries import QUERIES

    ev = load_table(spark, SF_SMOKE, "events")
    native = set(
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in session_aggregate(ev, "ts", "user_id", 1800).collect()
    )
    cumsum = set(
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in QUERIES["sessionize_events"].spark(ev.sparkSession, SF_SMOKE)
        .collect()
    )
    assert native == cumsum


def _on_workers(spark, probe) -> set:
    """Distinct values of ``probe()`` evaluated in a pandas UDF on four
    tasks, i.e. on the session's (reused) Python workers."""

    @pandas_udf("string")
    def run(ids: pd.Series) -> pd.Series:
        return ids.map(lambda _: probe())

    df = spark.range(8).repartition(4)
    return {r[0] for r in df.select(run("id")).collect()}


def test_worker_daemon_keeps_zip_indexes(spark):
    """Local Python workers come from data_pipeline_spark._pyworker, whose
    zipimporter.invalidate_caches is a no-op (no per-task re-read of the
    pyspark/py4j/spark-core archives)."""
    if spark.sparkContext.master.split("[")[0] != "local":
        pytest.skip("spark:// masters keep the stock pyspark.daemon")

    def probe():
        import os
        import zipimport

        fn = zipimport.zipimporter.invalidate_caches
        return f"{os.path.basename(fn.__code__.co_filename)}:{fn.__qualname__}"

    assert _on_workers(spark, probe) == {"_pyworker.py:_keep_zip_directory"}


def test_worker_daemon_imports_zip_added_later(spark, tmp_path):
    """A zip shipped with addPyFile after the workers are warm is a new
    path with its own importer, so UDFs can still import from it."""
    _on_workers(spark, lambda: "warm")
    token = uuid.uuid4().hex
    mod = f"late_{token}"
    zpath = tmp_path / f"{mod}.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr(f"{mod}.py", f"TOKEN = {token!r}\n")
    spark.sparkContext.addPyFile(str(zpath))

    def probe():
        import importlib

        return importlib.import_module(mod).TOKEN

    assert _on_workers(spark, probe) == {token}


def test_session_turns_off_call_site_capture(spark, monkeypatch):
    """get_spark turns DataFrame call-site capture off, so building a
    Column costs no extra py4j round trips (8 calls here, 38 with capture
    on)."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"

    # pyspark caches the flag process-wide; re-read it from this session
    monkeypatch.setattr(error_utils, "_enable_debugging_cache", None)
    assert error_utils.is_debugging_enabled() is False

    calls = 0
    send = GatewayClient.send_command

    def counted(client, *a, **kw):
        nonlocal calls
        calls += 1
        return send(client, *a, **kw)

    monkeypatch.setattr(GatewayClient, "send_command", counted)
    (F.col("a") + F.lit(1)).alias("b")
    monkeypatch.undo()
    assert calls <= 10


def test_session_codegen_cache_keeps_a_cycling_working_set(spark):
    """get_spark sizes Spark's whole-stage codegen cache above its default
    100 entries, so a set of plans larger than that, run again, compiles
    nothing.  At 100 entries the LRU evicts each generated class before its
    plan comes round again, and all 300 of the branches' classes are
    compiled again."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = metrics.METRIC_COMPILATION_TIME()  # updated once per compile

    def distinct_plans():
        # one codegen stage per branch; the inlined literal makes each
        # branch's generated class distinct
        return reduce(
            lambda a, b: a.union(b),
            [spark.range(0, 1, 1, 1).selectExpr(f"id * {k} + {k} AS v") for k in range(150)],
        )

    assert len(distinct_plans().collect()) == 150
    before = compiles.getCount()
    assert len(distinct_plans().collect()) == 150
    assert compiles.getCount() == before
