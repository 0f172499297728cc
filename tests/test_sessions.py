"""session_window sessions: batch/streaming parity and the pinned boundary
divergence vs the cumulative-sum sessionization; and the Spark session's
Python worker daemon, call-site capture and codegen cache defaults, and
its class-data archive with every fallback."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import threading
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

    # count this thread's calls only: py4j's finalizer thread sends a
    # delete command for each freed JavaObject whenever it runs
    calls = 0
    send = GatewayClient.send_command
    me = threading.get_ident()

    def counted(client, *a, **kw):
        nonlocal calls
        calls += threading.get_ident() == me
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


# -- the class-data archive ---------------------------------------------------
# Every test starts its session in a child process with a private
# XDG_CACHE_HOME, so the shared session and the host's archive are untouched.

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHILD = """
import json, os, sys
exec(sys.argv[2])
from data_pipeline_spark.session import get_spark
spark = get_spark("cds-test", extra_conf=json.loads(sys.argv[1]))
mx = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
out = {
    "count": spark.range(10).count(),
    "args": list(mx.getInputArguments()),
    "conf": dict(spark.sparkContext.getConf().getAll()),
    "conf_dir": os.environ.get("SPARK_CONF_DIR"),
}
print("RESULT " + json.dumps(out), flush=True)
"""


def _conf_dir(tmp_path):
    """A conf dir as Spark ships it: templates only."""
    conf = tmp_path / "conf"
    conf.mkdir(exist_ok=True)
    (conf / "spark-defaults.conf.template").write_text("# spark.master local\n")
    return conf


def _start(cache, conf, extra_conf=None, prelude=""):
    """Start a local session in a child process; return what it saw."""
    env = dict(os.environ, XDG_CACHE_HOME=str(cache), SPARK_CONF_DIR=str(conf))
    env.pop("SPARK_GRAFT_MASTER", None)
    env["SPARK_GRAFT_CPUS"] = "2"
    conf_json = json.dumps({"spark.driver.memory": "1g", **(extra_conf or {})})
    done = subprocess.run(
        [sys.executable, "-c", _CHILD, conf_json, prelude],
        cwd=_REPO, env=env, capture_output=True, text=True, timeout=600,
    )
    lines = [ln for ln in done.stdout.splitlines() if ln.startswith("RESULT ")]
    assert done.returncode == 0 and lines, done.stdout[-3000:] + done.stderr[-3000:]
    return json.loads(lines[-1][len("RESULT "):])


def _archive_flags(res):
    return [a for a in res["args"] if a.startswith("-XX:SharedArchiveFile=")]


def _cds_keys(cache):
    root = cache / "data_pipeline_spark" / "cds"
    return sorted(os.listdir(root)) if root.exists() else []


@pytest.fixture(scope="module")
def trained(tmp_path_factory):
    """A cold start in a fresh cache: the archive it trained, and what the
    session saw."""
    tmp = tmp_path_factory.mktemp("cds_cold")
    cache = tmp / "cache"
    res = _start(cache, _conf_dir(tmp))
    (key,) = _cds_keys(cache)
    return cache / "data_pipeline_spark" / "cds" / key / "driver.jsa", res


def test_cold_start_trains_the_archive_and_a_second_start_maps_it(trained, tmp_path):
    archive, cold = trained
    assert archive.stat().st_size > 10 << 20
    assert cold["count"] == 10
    assert _archive_flags(cold) == [f"-XX:SharedArchiveFile={archive}"]
    # the launch alone saw the empty conf dir next to the archive
    assert os.listdir(archive.parent / "conf") == []
    assert cold["conf_dir"] == str(archive.parent.parent.parent.parent.parent / "conf")

    built = archive.stat().st_mtime_ns
    log = tmp_path / "class_load.log"
    warm = _start(
        archive.parent.parent.parent.parent,
        _conf_dir(tmp_path),
        # the caller's extraJavaOptions still reach the JVM
        {"spark.driver.extraJavaOptions": f"-Xlog:class+load=info:file={log}"},
    )
    assert warm["count"] == 10
    assert _archive_flags(warm) == [f"-XX:SharedArchiveFile={archive}"]
    assert f"-Xlog:class+load=info:file={log}" in warm["args"]
    assert archive.stat().st_mtime_ns == built  # not trained again
    # Spark's classes come from the archive's top (dynamic) layer
    assert "org.apache.spark.SparkContext source: shared objects file (top)" in (
        log.read_text()
    )


@pytest.mark.parametrize("damage", ["truncated", "foreign"])
def test_damaged_archive_still_starts_a_session(trained, tmp_path, damage):
    """A truncated archive (which would crash the JVM as it maps it) is not
    passed; a foreign one of the recorded size is, and the JVM ignores it."""
    archive, _ = trained
    cache = tmp_path / "cache"
    key_dir = cache / "data_pipeline_spark" / "cds" / archive.parent.name
    key_dir.mkdir(parents=True)
    shutil.copy(f"{archive}.size", key_dir)
    bad = key_dir / "driver.jsa"
    if damage == "truncated":
        with open(archive, "rb") as src, open(bad, "wb") as dst:
            dst.write(src.read(archive.stat().st_size // 2))
    else:
        bad.write_bytes(os.urandom(1 << 20))
        os.truncate(bad, archive.stat().st_size)
    before = bad.read_bytes()

    res = _start(cache, _conf_dir(tmp_path))
    assert res["count"] == 10
    flags = [] if damage == "truncated" else [f"-XX:SharedArchiveFile={bad}"]
    assert _archive_flags(res) == flags
    assert bad.read_bytes() == before  # used as found, not trained again


def test_conf_dir_with_a_real_file_starts_without_the_archive(tmp_path):
    conf = _conf_dir(tmp_path)
    (conf / "spark-defaults.conf").write_text("spark.dps.probe 42\n")
    res = _start(tmp_path / "cache", conf)
    assert res["count"] == 10
    assert _archive_flags(res) == []
    assert "spark.driver.defaultJavaOptions" not in res["conf"]
    assert res["conf"]["spark.dps.probe"] == "42"  # the file took effect
    assert _cds_keys(tmp_path / "cache") == []  # nothing trained


def test_callers_default_java_options_win(tmp_path):
    res = _start(
        tmp_path / "cache",
        _conf_dir(tmp_path),
        {"spark.driver.defaultJavaOptions": "-Ddps.probe=1"},
    )
    assert res["count"] == 10
    assert "-Ddps.probe=1" in res["args"]
    assert _archive_flags(res) == []
    assert _cds_keys(tmp_path / "cache") == []


def _fake_trainer(tmp_path):
    """A training command that leaves no archive and counts its runs."""
    runs = tmp_path / "runs"
    trainer = tmp_path / "trainer.sh"
    trainer.write_text(f"#!/bin/sh\necho run >> {runs}\n")
    trainer.chmod(0o755)
    return trainer, runs


def test_training_without_an_archive_publishes_the_marker_once(tmp_path):
    trainer, runs = _fake_trainer(tmp_path)
    cache, conf = tmp_path / "cache", _conf_dir(tmp_path)
    prelude = f"sys.executable = {str(trainer)!r}"
    for _ in range(2):
        res = _start(cache, conf, prelude=prelude)
        assert res["count"] == 10
        assert _archive_flags(res) == []
    (key,) = _cds_keys(cache)
    marker = cache / "data_pipeline_spark" / "cds" / key / "driver.jsa"
    assert marker.stat().st_size == 0
    assert runs.read_text() == "run\n"  # the second start did not train


def test_cold_build_removes_other_installs_archives(tmp_path, monkeypatch):
    """One archive per host: a cold build removes every other key under
    the cds root (a JDK or Spark upgrade leaves no 170 MB orphan); a
    warm call removes nothing."""
    from data_pipeline_spark import session

    trainer, runs = _fake_trainer(tmp_path)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.setenv("SPARK_CONF_DIR", str(_conf_dir(tmp_path)))
    monkeypatch.setattr(sys, "executable", str(trainer))
    root = tmp_path / "cache" / "data_pipeline_spark" / "cds"
    for stale in ("0123456789ab", "ba9876543210"):
        (root / stale / "conf").mkdir(parents=True)
        (root / stale / "driver.jsa").write_bytes(b"old archive")

    assert session.class_data_archive() is None  # the marker
    (key,) = os.listdir(root)
    assert runs.read_text() == "run\n"

    (root / "0123456789ab").mkdir()
    assert session.class_data_archive() is None
    assert sorted(os.listdir(root)) == sorted([key, "0123456789ab"])
    assert runs.read_text() == "run\n"
