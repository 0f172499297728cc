"""Streaming monitoring: windowed message counts with gap flush.

Re-expresses the reference's monitoring system (data_pipeline/client.py:
170-347): every producer/consumer counts messages in epoch-aligned 600 s
windows and, when a message lands past the current window, FLUSHES every
elapsed window — including empty ones — as monitoring records
(client.py:316-337).  A plain streaming `window()` aggregation cannot emit
empty windows (no rows, no groups), so the flush path is a custom stateful
operator via applyInPandasWithState (SURVEY §4 custom-work item 3).

Two paths:
- `windowed_counts`: the built-in watermark + tumbling-window aggregation —
  right at scale when gaps don't need explicit zero records;
- `counts_with_gap_flush`: per-key state {current window, count}; a message
  in a later window emits (current..new-1) records with zeros for gaps —
  exact reference semantics, one state row per (topic, client) key.

State size: O(|keys|), not O(|windows|) — safe for millions of keys.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

MONITOR_WINDOW_SECONDS = 600  # config.py:263-270 default


def windowed_counts(
    stream: DataFrame,
    ts_col: str,
    keys: list[str],
    window_seconds: int = MONITOR_WINDOW_SECONDS,
    watermark: str = "5 minutes",  # max event-time delay, config.py:529-534
) -> DataFrame:
    """Built-in path: watermarked tumbling-window counts (T1/T2)."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(
            F.window(F.col(ts_col), f"{window_seconds} seconds").alias("win"),
            *keys,
        )
        .agg(F.count(F.lit(1)).alias("message_count"))
        .select(
            F.unix_timestamp("win.start").alias("window_start"),
            *keys,
            "message_count",
        )
    )


def _flush_schema(key_fields: list[tuple[str, T.DataType]]) -> T.StructType:
    return T.StructType(
        [T.StructField(n, t) for n, t in key_fields]
        + [
            T.StructField("window_start", T.LongType()),
            T.StructField("message_count", T.LongType()),
        ]
    )


_STATE_SCHEMA = T.StructType(
    [
        T.StructField("current_window", T.LongType()),
        T.StructField("count", T.LongType()),
    ]
)


def counts_with_gap_flush(
    stream: DataFrame,
    ts_col: str,
    key: str,
    window_seconds: int = MONITOR_WINDOW_SECONDS,
    idle_timeout_ms: int | None = 60_000,
) -> DataFrame:
    """Reference-exact monitor: emits one record per elapsed window per key,
    zeros included (client.py:316-324 `_flush_windows` loop).

    Event times are sorted per key within each trigger (the shuffle into the
    state operator does not preserve source order); a processing-time
    timeout (``idle_timeout_ms``, None disables) closes the final window on
    idle streams — the watermark problem for idle topics called out in
    SURVEY §7 risks.
    """
    key_type = dict(zip(stream.schema.names, [f.dataType for f in stream.schema]))[key]
    out_schema = _flush_schema([(key, key_type)])

    def flush(
        key_tuple: Any,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (key_val,) = key_tuple
        if state.hasTimedOut:
            cur, cnt = state.get
            state.remove()
            yield pd.DataFrame(
                [{key: key_val, "window_start": cur, "message_count": cnt}]
            )
            return

        cur, cnt = state.get if state.exists else (None, 0)
        out: list[dict] = []
        epochs = sorted(
            int(ts) for pdf in pdfs for ts in pdf["__epoch"]
        )
        for ts in epochs:
            win = ts // window_seconds * window_seconds
            if cur is None:
                cur = win
            if win > cur:
                # flush current and every empty gap window one by one
                # (client.py:316-324)
                while cur < win:
                    out.append(
                        {key: key_val, "window_start": cur, "message_count": cnt}
                    )
                    cnt = 0
                    cur += window_seconds
            cnt += 1
        state.update((cur, cnt))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        if out:
            yield pd.DataFrame(out)

    prepared = stream.select(
        F.col(key), F.unix_timestamp(F.col(ts_col)).alias("__epoch")
    )
    return prepared.groupBy(key).applyInPandasWithState(
        flush,
        outputStructType=out_schema,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if idle_timeout_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


def monitoring_sink_builder(
    out_root: str,
    window_seconds: int = MONITOR_WINDOW_SECONDS,
    idle_timeout_ms: int | None = None,
):
    """``build_sink`` factory for ``StreamingSubscriptionRunner``: every
    subscribed topic — including ones added dynamically by a registry tick —
    automatically gets a monitoring pipeline (wire envelope -> event-time ->
    gap-flush window counts -> parquet under ``out_root/<topic>``).

    Event time is the envelope's own ``timestamp`` field (envelope_v1.avsc:
    88-92), so the monitor needs no per-topic payload schema — exactly the
    reference's client-side monitor, which counts envelopes, not payloads
    (client.py:303-324).  Parity with the batch tumbling-window query is
    asserted in tests/test_monitor_loop.py.
    """
    import os

    from data_pipeline_spark import envelope as env

    def build_sink(topic: str, stream: DataFrame):
        decoded = stream.select(
            F.lit(topic).alias("topic"),
            F.timestamp_seconds(env.unpack(F.col("value")).timestamp).alias("ts"),
        )
        flushed = counts_with_gap_flush(
            decoded,
            "ts",
            "topic",
            window_seconds=window_seconds,
            idle_timeout_ms=idle_timeout_ms,
        )
        # no explicit trigger: the runner owns query lifecycle (continuous
        # micro-batches; tests drain with processAllAvailable)
        return (
            flushed.writeStream.format("parquet")
            .option("path", os.path.join(out_root, topic))
            .outputMode("append")
        )

    return build_sink
