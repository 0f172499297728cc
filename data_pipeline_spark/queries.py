"""Headline query catalog: the checkable operator surface.

Every entry pairs a Spark-first implementation (built from the
``operators``/``functions`` modules) with the equivalent ANSI SQL a DuckDB
oracle can run on the same parquet tables.  Names in the pair are the
operator-inventory ids from SURVEY.md §2.

Determinism rules (so an order-insensitive value-hash matches across
engines):

- every computed column is aliased identically on both sides;
- double aggregations go through exact scaled-long accumulation
  (operators.aggregates.exact_sum/exact_avg): a distributed double sum is
  not reproducible across partitionings, an integer sum is — and it stays
  in whole-stage codegen (~7x faster than a decimal accumulator);
- any top-k / per-key-first has a total tie-break order.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_spark.functions import scalars
from data_pipeline_spark.io import (
    build_once,
    cache_path,
    load_table,
    read_parquet_cached,
)
from data_pipeline_spark.operators import aggregates as agg
from data_pipeline_spark.operators import dedup, joins, ordering


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None => rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default=())


QUERIES: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None, doc: str = "", tags: tuple[str, ...] = ()):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = QuerySpec(name, fn, oracle, doc, tags)
        return fn

    return deco


# fixed-point scaled-long view of a 2-decimal money column (see
# operators.aggregates docstring for the determinism rationale)
def _s2(col: str) -> F.Column:
    return agg.scaled_long(col, 2)


# ---------------------------------------------------------------------------
# Flagship: pricing summary (A-family aggregation; TPC-H Q1 shape)
# ---------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(ROUND(l_quantity*100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
           CAST(SUM(CAST(ROUND(l_extendedprice*100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_base_price,
           CAST(SUM(CAST(ROUND(l_extendedprice*100, 0) AS BIGINT)
                    * (100 - CAST(ROUND(l_discount*100, 0) AS BIGINT))) AS DOUBLE) / 10000.0 AS sum_disc_price,
           CAST(SUM(CAST(ROUND(l_extendedprice*100, 0) AS BIGINT)
                    * (100 - CAST(ROUND(l_discount*100, 0) AS BIGINT))
                    * (100 + CAST(ROUND(l_tax*100, 0) AS BIGINT))) AS DOUBLE) / 1000000.0 AS sum_charge,
           (CAST(SUM(CAST(ROUND(l_quantity*100, 0) AS BIGINT)) AS DOUBLE) / 100.0) / COUNT(l_quantity) AS avg_qty,
           (CAST(SUM(CAST(ROUND(l_discount*100, 0) AS BIGINT)) AS DOUBLE) / 100.0) / COUNT(l_discount) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="Partial-agg groupBy over the fact table; map-side combine shrinks "
    "the shuffle to |groups| rows (SURVEY §2.4).",
    tags=("A1", "A2"),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    disc_scaled = _s2("l_extendedprice") * (F.lit(100) - _s2("l_discount"))
    charge_scaled = disc_scaled * (F.lit(100) + _s2("l_tax"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        agg.exact_sum("l_quantity", "sum_qty"),
        agg.exact_sum("l_extendedprice", "sum_base_price"),
        (F.sum(disc_scaled).cast("double") / 10000.0).alias("sum_disc_price"),
        (F.sum(charge_scaled).cast("double") / 1000000.0).alias("sum_charge"),
        agg.exact_avg("l_quantity", "avg_qty"),
        agg.exact_avg("l_discount", "avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


# ---------------------------------------------------------------------------
# Tailer: projection + event-time bounds + limit (S7, P1, P2, P4, P11)
# ---------------------------------------------------------------------------


@register(
    "tailer_projection",
    """
    SELECT event_id, strftime(ts, '%Y-%m-%dT%H:%M:%S') AS ts_iso,
           event_type, user_id, value
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-02 00:00:00' AND ts < TIMESTAMP '2024-01-05 00:00:00'
    ORDER BY event_id
    LIMIT 500
    """,
    doc="Tailer field projection with event-time bounds, ISO display "
    "transform and message limit (tools/tailer.py:381-458).  Projection + "
    "predicate reach the parquet scan (PushedFilters).",
    tags=("P1", "P2", "P4", "P11", "S7"),
)
def tailer_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(
            (F.col("ts") >= F.lit("2024-01-02 00:00:00").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-05 00:00:00").cast("timestamp"))
        )
        .select(
            "event_id",
            scalars.iso_time("ts").alias("ts_iso"),
            "event_type",
            "user_id",
            "value",
        )
        .orderBy("event_id")
        .limit(500)
    )


# ---------------------------------------------------------------------------
# Monitoring windows (A1/T2): epoch-aligned 600 s counts
# ---------------------------------------------------------------------------


@register(
    "monitor_window_counts",
    """
    SELECT CAST(FLOOR(epoch(ts) / 600) * 600 AS BIGINT) AS window_start,
           event_type,
           COUNT(*) AS message_count
    FROM events
    GROUP BY 1, 2
    """,
    doc="Monitoring aggregation: fixed 600 s epoch-aligned windows per type "
    "(client.py:217-221,303-324).",
    tags=("A1", "T2"),
)
def monitor_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return agg.tumbling_window_counts(ev, "ts", 600, ["event_type"])


# ---------------------------------------------------------------------------
# Refresh planning: scan stats + pk-range batches (S6, O1, A2, A3)
# ---------------------------------------------------------------------------


@register(
    "refresh_scan_stats",
    """
    SELECT COUNT(*) AS row_count, MIN(o_orderkey) AS min_pk, MAX(o_orderkey) AS max_pk
    FROM orders
    """,
    doc="COUNT + MIN/MAX pk fused into one scan — refresh range planning "
    "(copy_table_to_blackhole_table.py:228-235,414-439).",
    tags=("A2", "A3"),
)
def refresh_scan_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return agg.scan_stats(load_table(spark, sf_dir, "orders"), "o_orderkey")


@register(
    "refresh_range_batches",
    """
    SELECT CAST(FLOOR(o_orderkey / 1000) AS BIGINT) AS batch_id,
           COUNT(*) AS batch_rows,
           MIN(o_orderkey) AS min_pk,
           MAX(o_orderkey) AS max_pk
    FROM orders
    GROUP BY 1
    """,
    doc="Value-based pk-range batching of the full-refresh scan "
    "(copy_table_to_blackhole_table.py:237-257,462-481): ranges push down "
    "as JDBC partition predicates at scale.",
    tags=("S6", "O1"),
)
def refresh_range_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    batched = ordering.ordered_range_batches(orders, "o_orderkey", 1000)
    return batched.groupBy("batch_id").agg(
        F.count(F.lit(1)).alias("batch_rows"),
        F.min("o_orderkey").alias("min_pk"),
        F.max("o_orderkey").alias("max_pk"),
    )


# ---------------------------------------------------------------------------
# Compaction / latest-per-key (D3, J2, O4)
# ---------------------------------------------------------------------------


@register(
    "compaction_latest_per_key",
    """
    SELECT user_id, event_id, event_type, value, ts
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    )
    WHERE rn = 1
    """,
    doc="Log-compaction view: latest message per primary key "
    "(compaction_setter.py:79-116); single shuffle on the key.",
    tags=("D3", "J2", "O4"),
)
def compaction_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return dedup.compaction_view(
        ev.select("user_id", "event_id", "event_type", "value", "ts"),
        ["user_id"],
        offset_col="event_id",
    ).select("user_id", "event_id", "event_type", "value", "ts")


# ---------------------------------------------------------------------------
# Broadcast dimension join (J1)
# ---------------------------------------------------------------------------


@register(
    "broadcast_dim_enrich",
    """
    SELECT p.p_brand,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(ROUND(l.l_quantity*100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_size <= 10
    GROUP BY p.p_brand
    """,
    doc="schema_id->registry lookup pattern as a broadcast hash join "
    "(message.py:159-161): dimension broadcast, fact side never shuffles "
    "for the join.",
    tags=("J1",),
)
def broadcast_dim_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 10)
    joined = joins.broadcast_lookup(
        li, part, on=[li.l_partkey == part.p_partkey], how="inner"
    )
    return joined.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_items"),
        agg.exact_sum("l_quantity", "sum_qty"),
    )


# ---------------------------------------------------------------------------
# Anti join (J6)
# ---------------------------------------------------------------------------


@register(
    "customers_without_orders",
    """
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    doc="Prefix/recovery anti-join pattern (producer.py:291-422) as "
    "left_anti.",
    tags=("J6",),
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return joins.anti_join(cust, orders, on="c_custkey").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


# ---------------------------------------------------------------------------
# Range join with equi key (J3)
# ---------------------------------------------------------------------------


@register(
    "shipped_within_90d",
    """
    SELECT o.o_orderpriority,
           COUNT(*) AS n_lineitems,
           CAST(SUM(CAST(ROUND(l.l_quantity*100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty
    FROM lineitem l JOIN orders o
      ON l.l_orderkey = o.o_orderkey
     AND l.l_shipdate >= o.o_orderdate
     AND l.l_shipdate < o.o_orderdate + INTERVAL 90 DAY
    GROUP BY o.o_orderpriority
    """,
    doc="Offset-within-watermark range predicate (tools/tailer.py:278-308) "
    "as equi+range join: hash join on the equi key, range as post-filter — "
    "never a cartesian product.",
    tags=("J3",),
)
def shipped_within_90d(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    joined = joins.range_join(
        li,
        orders,
        equi=[("l_orderkey", "o_orderkey")],
        range_cond=(
            (li.l_shipdate >= orders.o_orderdate)
            & (li.l_shipdate < orders.o_orderdate + F.expr("INTERVAL 90 DAYS"))
        ),
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lineitems"),
        agg.exact_sum("l_quantity", "sum_qty"),
    )


@register(
    "incident_window_counts",
    """
    WITH incidents AS (
        SELECT event_id AS incident_id, ts AS w_start,
               ts + INTERVAL 6 HOUR AS w_end
        FROM events WHERE event_id % 997 = 0
    )
    SELECT i.incident_id,
           COUNT(*) AS n_events,
           COUNT(DISTINCT e.user_id) AS n_users
    FROM events e JOIN incidents i
      ON e.ts >= i.w_start AND e.ts < i.w_end
    GROUP BY i.incident_id
    """,
    doc="Pure interval containment with NO equi key — the join shape "
    "Spark plans as BroadcastNestedLoop (per-task cartesian) if written "
    "as a theta join.  interval_bucket_join decomposes each window into "
    "the fixed-width time buckets it overlaps (in-row sequence+explode, "
    "replication = window/bucket <= 2 here) and hash-joins points on "
    "their single bucket with exact containment as residual — "
    "row-identical to the theta join (a point's one bucket matches an "
    "interval at most once, so no dedup step), but keyed, AQE-splittable "
    "and shuffle-bounded at 100 TB.  The plan test pins the absence of "
    "BroadcastNestedLoop/CartesianProduct.",
    tags=("J3", "scale-path"),
)
def incident_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    incidents = ev.filter(F.col("event_id") % 997 == 0).select(
        F.col("event_id").alias("incident_id"),
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 6 HOURS")).alias("w_end"),
    )
    points = ev.select("ts", "user_id")
    joined = joins.interval_bucket_join(
        points, incidents, "ts", "w_start", "w_end", bucket_seconds=21600
    )
    return joined.groupBy("incident_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


# ---------------------------------------------------------------------------
# Priority queue head (O2)
# ---------------------------------------------------------------------------


@register(
    "priority_queue_head",
    """
    SELECT o_custkey, o_orderkey, o_orderpriority, o_orderdate
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY o_custkey
            ORDER BY o_orderpriority ASC, o_orderdate ASC, o_orderkey ASC) AS rn
        FROM orders
    )
    WHERE rn = 1
    """,
    doc="Priority refresh queue peek: top job per source by (priority, "
    "created_at) (helpers/priority_refresh_queue.py:88-116).",
    tags=("O2", "O3"),
)
def priority_queue_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return ordering.top_k_per_key(
        orders,
        keys=["o_custkey"],
        order_by=[
            F.col("o_orderpriority").asc(),
            F.col("o_orderdate").asc(),
            F.col("o_orderkey").asc(),
        ],
        k=1,
    ).select("o_custkey", "o_orderkey", "o_orderpriority", "o_orderdate")


# ---------------------------------------------------------------------------
# Global top-k (O4/O5)
# ---------------------------------------------------------------------------


@register(
    "top_orders_by_price",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 10
    """,
    doc="Top-k via TakeOrderedAndProject: per-partition local top-k, no "
    "global sort (tailer message-limit, newest-topic top-1).",
    tags=("O4", "O5"),
)
def top_orders_by_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return ordering.top_k(
        orders.select("o_orderkey", "o_custkey", "o_totalprice"),
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        10,
    )


# ---------------------------------------------------------------------------
# Set ops (D1)
# ---------------------------------------------------------------------------


@register(
    "topic_set_difference",
    """
    SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
    EXCEPT
    SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
    """,
    doc="Dynamic topic-set difference on refresh (consumer.py:274-293, "
    "base_consumer.py:891-947).",
    tags=("D1",),
)
def topic_set_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    clickers = ev.filter(F.col("event_type") == "click").select("user_id").distinct()
    erronious = ev.filter(F.col("event_type") == "error").select("user_id").distinct()
    return dedup.set_difference(clickers, erronious)


# ---------------------------------------------------------------------------
# CDC update diff via window lag (E6)
# ---------------------------------------------------------------------------


@register(
    "cdc_update_diff",
    """
    SELECT user_id, event_id, value, value_prev
    FROM (
        SELECT user_id, event_id, value,
               LAG(value) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS value_prev
        FROM events
    )
    WHERE value_prev IS NOT NULL AND value <> value_prev
    """,
    doc="UpdateMessage.payload_diff / has_changed (message.py:789-798): "
    "previous-image comparison via window lag over the event stream.",
    tags=("E6",),
)
def cdc_update_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "value", "ts")
    flagged = scalars.change_flags(
        ev, keys=["user_id"], order_by=["ts", "event_id"], value_cols=["value"]
    )
    return flagged.filter(
        F.col("value_prev").isNotNull() & F.col("has_changed")
    ).select("user_id", "event_id", "value", "value_prev")


# ---------------------------------------------------------------------------
# Rollup (engine surface beyond reference — SURVEY §2.4 note)
# ---------------------------------------------------------------------------


@register(
    "rollup_event_counts",
    """
    SELECT event_type, COUNT(*) AS n
    FROM events
    GROUP BY ROLLUP(event_type)
    """,
    doc="Hierarchical totals in one pass (declared engine surface; the "
    "reference has no grouping sets).",
    tags=("A-ext",),
)
def rollup_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return agg.rollup_counts(ev, ["event_type"], alias="n")


# ---------------------------------------------------------------------------
# Multiway join + agg (J4; TPC-H Q5 shape)
# ---------------------------------------------------------------------------


@register(
    "revenue_by_nation",
    """
    SELECT n.n_name,
           CAST(SUM(CAST(ROUND(l.l_extendedprice*100, 0) AS BIGINT)
                    * (100 - CAST(ROUND(l.l_discount*100, 0) AS BIGINT))) AS DOUBLE) / 10000.0 AS revenue
    FROM customer c
    JOIN orders o    ON o.o_custkey = c.c_custkey
    JOIN lineitem l  ON l.l_orderkey = o.o_orderkey
    JOIN nation n    ON c.c_nationkey = n.n_nationkey
    JOIN region r    ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
    doc="refresh⋈source⋈topic multiway lookup chain (refresh_manager.py:"
    "192-251) generalized: two big-table shuffle joins + broadcast dims.",
    tags=("J4", "J7"),
)
def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    dim = joins.broadcast_lookup(
        nation, region, on=[nation.n_regionkey == region.r_regionkey]
    ).select("n_nationkey", "n_name")
    cust_dim = joins.broadcast_lookup(
        cust, dim, on=[F.col("c_nationkey") == F.col("n_nationkey")]
    ).select("c_custkey", "n_name")
    revenue_scaled = _s2("l_extendedprice") * (F.lit(100) - _s2("l_discount"))
    fact = li.join(orders, li.l_orderkey == orders.o_orderkey).join(
        cust_dim, F.col("o_custkey") == cust_dim.c_custkey
    )
    return fact.groupBy("n_name").agg(
        (F.sum(revenue_scaled).cast("double") / 10000.0).alias("revenue")
    )


# ---------------------------------------------------------------------------
# JSON props extraction (E7-adjacent; events side-channel like MetaAttribute)
# ---------------------------------------------------------------------------


@register(
    "props_json_extract",
    """
    SELECT event_type,
           CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
           COUNT(*) AS n
    FROM events
    GROUP BY event_type
    """,
    doc="Typed side-channel extraction (MetaAttribute analogue, "
    "meta_attribute.py:22-96): JSON path extract stays in codegen.",
    tags=("E7", "meta"),
)
def props_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.sum(F.get_json_object("props", "$.k").cast("bigint")).alias("sum_k"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# ts -> offset mapping (P3): first offset at-or-after an event-time bound
# ---------------------------------------------------------------------------


@register(
    "first_event_at_or_after",
    """
    SELECT event_type, MIN(event_id) AS start_offset
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
    GROUP BY event_type
    """,
    doc="timestamp->offset mapping (tools/timestamp_to_offset_mapper.py:"
    "31-263): the per-partition binary search relationally is min(offset) "
    "over ts >= bound (built-in startingOffsetsByTimestamp on real Kafka).",
    tags=("P3",),
)
def first_event_at_or_after(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_spark.sources.offsets import first_offsets_at_or_after

    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type"), F.col("event_id"), F.unix_timestamp("ts").alias("epoch")
    )
    bound = 1705276800  # 2024-01-15 UTC
    return first_offsets_at_or_after(
        ev, bound, ts_col="epoch", partition_col="event_type", offset_col="event_id"
    )


# ---------------------------------------------------------------------------
# Sessionization (streaming-shaped analysis; gap-based sessions)
# ---------------------------------------------------------------------------


@register(
    "sessionize_events",
    """
    WITH flagged AS (
        SELECT user_id, event_id, epoch(ts) AS e,
               CASE WHEN epoch(ts) - lag(epoch(ts)) OVER w > 1800
                         OR lag(epoch(ts)) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT user_id, event_id, e,
               CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY e, event_id
                                           ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS session_id
        FROM flagged
    )
    SELECT user_id, session_id, COUNT(*) AS n_events,
           CAST(FLOOR(MIN(e)) AS BIGINT) AS session_start,
           CAST(FLOOR(MAX(e)) AS BIGINT) AS session_end
    FROM sessions
    GROUP BY user_id, session_id
    """,
    doc="Gap-based sessionization (30-min inactivity) via cumulative-sum "
    "window — integer logic end-to-end, one shuffle on user_id.",
    tags=("A-ext", "T2"),
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_timestamp("ts").alias("e"),
        F.col("ts"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn(
        "new_session",
        F.when(
            (F.col("e") - F.lag("e").over(w) > 1800)
            | F.lag("e").over(w).isNull(),
            1,
        ).otherwise(0),
    )
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("e", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sessions = flagged.withColumn("session_id", F.sum("new_session").over(w_cum))
    return sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("e").alias("session_start"),
        F.max("e").alias("session_end"),
    )


@register(
    "session_window_sessions",
    """
    WITH flagged AS (
        SELECT user_id, event_id, epoch(ts) AS e,
               CASE WHEN epoch(ts) - lag(epoch(ts)) OVER w > 1800
                         OR lag(epoch(ts)) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT user_id, e,
               CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY e, event_id
                                           ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS sid
        FROM flagged
    )
    SELECT user_id, COUNT(*) AS n_events,
           CAST(FLOOR(MIN(e)) AS BIGINT) AS session_start,
           CAST(FLOOR(MAX(e)) AS BIGINT) AS session_end
    FROM sessions
    GROUP BY user_id, sid
    """,
    doc="Gap-based sessionization through the NATIVE session_window "
    "operator — the same expression Structured Streaming runs with a "
    "watermark (streaming/sessions.py; batch/streaming parity is pinned "
    "in tests).  Boundary semantics match the cumsum form exactly: Spark "
    "merges ADJACENT session windows, so an inter-event gap equal to the "
    "threshold stays one session and a split needs diff > gap — pinned by "
    "a boundary test, and the oracle carries the same > rule.  One "
    "shuffle on user_id; streaming state is one row per open session.",
    tags=("A-ext", "T2", "streaming"),
)
def session_window_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_spark.streaming.sessions import session_aggregate

    ev = load_table(spark, sf_dir, "events")
    return session_aggregate(ev, "ts", "user_id", gap_seconds=1800)


# ---------------------------------------------------------------------------
# Sliding-window average (exact scaled-long arithmetic)
# ---------------------------------------------------------------------------


@register(
    "sliding_value_avg",
    """
    SELECT user_id, event_id,
           CAST(SUM(CAST(ROUND(value*100, 0) AS BIGINT))
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
             / 100.0
             / COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
             AS avg3
    FROM events
    """,
    doc="Rolling 3-event average per user — windowed sum in exact scaled "
    "longs so any engine reproduces it bit-for-bit.",
    tags=("A-ext",),
)
def sliding_value_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-2, 0)
    return ev.select(
        "user_id",
        "event_id",
        (
            (F.sum(agg.scaled_long("value")).over(w).cast("double") / 100.0)
            / F.count(F.lit(1)).over(w)
        ).alias("avg3"),
    )


# ---------------------------------------------------------------------------
# CUBE + distinct aggregation (engine surface beyond the reference)
# ---------------------------------------------------------------------------


@register(
    "cube_lineitem_counts",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n
    FROM lineitem
    GROUP BY CUBE(l_returnflag, l_linestatus)
    """,
    doc="CUBE in one pass via partial aggregation (declared engine surface; "
    "reference has no grouping sets).",
    tags=("A-ext",),
)
def cube_lineitem_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(F.count(F.lit(1)).alias("n"))


@register(
    "distinct_users_per_type",
    """
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_users,
           COUNT(*) AS n_events
    FROM events
    GROUP BY event_type
    """,
    doc="Exact distinct aggregation (two-phase expand under the hood); the "
    "approx_count_distinct variant is the scale path for ultra-high "
    "cardinality.",
    tags=("A-ext",),
)
def distinct_users_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


# ---------------------------------------------------------------------------
# PII display redaction (P10)
# ---------------------------------------------------------------------------


@register(
    "pii_redacted_display",
    """
    SELECT doc_id,
           CASE WHEN text IS NULL THEN NULL ELSE '<string>' END AS text_display,
           lang, n_chars
    FROM documents
    WHERE n_chars > 400
    """,
    doc="PII display redaction: values replaced by type placeholders "
    "(message.py:557-585), non-PII metadata passes through.",
    tags=("P10",),
)
def pii_redacted_display(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 400)
    return docs.select(
        "doc_id",
        scalars.redact("text").alias("text_display"),
        "lang",
        "n_chars",
    )


# ---------------------------------------------------------------------------
# TPC-H-shape workload queries (classic operator compositions over the
# corpus; all money math in exact scaled longs)
# ---------------------------------------------------------------------------


@register(
    "q3_shipping_priority",
    """
    SELECT l.l_orderkey,
           CAST(SUM(CAST(ROUND(l.l_extendedprice*100, 0) AS BIGINT)
                    * (100 - CAST(ROUND(l.l_discount*100, 0) AS BIGINT))) AS DOUBLE) / 10000.0
             AS revenue,
           o.o_orderdate
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l.l_orderkey ASC
    LIMIT 10
    """,
    doc="Shipping priority (Q3 shape): selective dim filter -> two joins -> "
    "agg -> top-k; segment filter pushes to the customer scan.",
    tags=("J4", "O5"),
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    revenue = _s2("l_extendedprice") * (F.lit(100) - _s2("l_discount"))
    joined = li.join(orders, li.l_orderkey == orders.o_orderkey).join(
        F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey")
    )
    grouped = joined.groupBy("l_orderkey", "o_orderdate").agg(
        (F.sum(revenue).cast("double") / 10000.0).alias("revenue")
    )
    return ordering.top_k(
        grouped.select("l_orderkey", "revenue", "o_orderdate"),
        [F.col("revenue").desc(), F.col("l_orderkey").asc()],
        10,
    )


@register(
    "q4_order_priority_check",
    """
    SELECT o.o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-10-01 00:00:00'
      AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
      )
    GROUP BY o.o_orderpriority
    """,
    doc="Order-priority check (Q4 shape): EXISTS as a left-semi join.",
    tags=("J6", "semi"),
)
def q4_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (li.l_orderkey == orders.o_orderkey) & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


@register(
    "q6_revenue_forecast",
    """
    SELECT CAST(SUM(CAST(ROUND(l_extendedprice*100, 0) AS BIGINT)
                    * CAST(ROUND(l_discount*100, 0) AS BIGINT)) AS DOUBLE) / 10000.0
             AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    doc="Revenue-change forecast (Q6 shape): pure scan+filter+agg — every "
    "predicate pushes to parquet, no shuffle beyond the final reduce.",
    tags=("P6", "A2"),
)
def q6_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        (
            F.sum(_s2("l_extendedprice") * _s2("l_discount")).cast("double") / 10000.0
        ).alias("revenue")
    )


@register(
    "q12_shipmode_priority",
    """
    SELECT l.l_linestatus,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l.l_linestatus
    """,
    doc="Priority split (Q12 shape): conditional aggregation after an "
    "equi-join.",
    tags=("A-ext",),
)
def q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "q14_promo_revenue_share",
    """
    SELECT CAST(SUM(CASE WHEN p.p_type LIKE 'PROMO%%'
                         THEN CAST(ROUND(l.l_extendedprice*100, 0) AS BIGINT)
                              * (100 - CAST(ROUND(l.l_discount*100, 0) AS BIGINT))
                         ELSE 0 END) AS DOUBLE)
           / CAST(SUM(CAST(ROUND(l.l_extendedprice*100, 0) AS BIGINT)
                      * (100 - CAST(ROUND(l.l_discount*100, 0) AS BIGINT))) AS DOUBLE)
             AS promo_share
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
    """,
    doc="Promo revenue share (Q14 shape): broadcast part join + conditional "
    "ratio in exact integer accumulation (single double division at end).",
    tags=("J1", "A-ext"),
)
def q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part")
    revenue = _s2("l_extendedprice") * (F.lit(100) - _s2("l_discount"))
    joined = joins.broadcast_lookup(
        li, part, on=[li.l_partkey == part.p_partkey]
    )
    promo = F.when(F.col("p_type").startswith("PROMO"), revenue).otherwise(
        F.lit(0).cast("bigint")
    )
    return joined.agg(
        (F.sum(promo).cast("double") / F.sum(revenue).cast("double")).alias(
            "promo_share"
        )
    )


# ---------------------------------------------------------------------------
# CDC apply: materialized snapshot from a create/update/delete stream
# ---------------------------------------------------------------------------


@register(
    "cdc_snapshot_apply",
    """
    SELECT user_id, event_id, value
    FROM (
        SELECT user_id, event_id, value, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    )
    WHERE rn = 1 AND event_type <> 'error'
    """,
    doc="CDC apply (MERGE-style materialization): the event stream as CDC "
    "ops per user ('error' = delete, else upsert); latest op decides "
    "existence and value.  One shuffle on the key "
    "(operators/cdc.apply_cdc).",
    tags=("D3", "cdc"),
)
def cdc_snapshot_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_spark.operators.cdc import apply_cdc

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "value",
        "ts",
        F.when(F.col("event_type") == "error", "delete")
        .otherwise("update")
        .alias("message_type"),
    )
    snapshot = apply_cdc(
        ev,
        keys=["user_id"],
        order_by=[F.col("ts").desc(), F.col("event_id").desc()],
        delete_types=("delete",),
    )
    return snapshot.select("user_id", "event_id", "value")


# ---------------------------------------------------------------------------
# Large-orders HAVING join (Q18 shape), set intersection, share filter (Q11)
# ---------------------------------------------------------------------------


@register(
    "q18_large_orders",
    """
    WITH big AS (
        SELECT l_orderkey,
               CAST(SUM(CAST(ROUND(l_quantity*100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS total_qty
        FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(CAST(ROUND(l_quantity*100, 0) AS BIGINT)) > 25000
    )
    SELECT c.c_name, o.o_orderkey, o.o_orderdate, big.total_qty
    FROM big
    JOIN orders o   ON o.o_orderkey = big.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY big.total_qty DESC, o.o_orderkey ASC
    LIMIT 20
    """,
    doc="Large-volume orders (Q18 shape): HAVING over a fact aggregation, "
    "join back to dimensions, top-k.  The HAVING prunes before the joins.",
    tags=("A-ext", "J4"),
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_s2("l_quantity")).alias("q_scaled"))
        .filter(F.col("q_scaled") > 25000)
        .select(
            "l_orderkey", (F.col("q_scaled").cast("double") / 100.0).alias("total_qty")
        )
    )
    joined = big.join(orders, big.l_orderkey == orders.o_orderkey).join(
        F.broadcast(cust), F.col("o_custkey") == cust.c_custkey
    )
    return ordering.top_k(
        joined.select("c_name", "o_orderkey", "o_orderdate", "total_qty"),
        [F.col("total_qty").desc(), F.col("o_orderkey").asc()],
        20,
    )


@register(
    "event_type_intersection",
    """
    SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
    INTERSECT
    SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    """,
    doc="Set intersection (D1 family complement of the EXCEPT query).",
    tags=("D1",),
)
def event_type_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    clickers = ev.filter(F.col("event_type") == "click").select("user_id").distinct()
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    return clickers.intersect(buyers)


@register(
    "q11_important_parts",
    """
    WITH per_part AS (
        SELECT l_partkey, SUM(CAST(ROUND(l_quantity*100, 0) AS BIGINT)) AS q_scaled
        FROM lineitem GROUP BY l_partkey
    ),
    total AS (SELECT SUM(q_scaled) AS t FROM per_part)
    SELECT p.l_partkey,
           CAST(p.q_scaled AS DOUBLE) / 100.0 AS total_qty
    FROM per_part p CROSS JOIN total
    WHERE p.q_scaled * 2000 > total.t
    """,
    doc="Important-stock share filter (Q11 shape): scalar-subquery global "
    "total broadcast back; threshold via integer cross-multiplication "
    "(q*2000 > total) — no double knife-edges.",
    tags=("A-ext",),
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(F.sum(_s2("l_quantity")).alias("q_scaled"))
    total = per_part.agg(F.sum("q_scaled").alias("t"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("q_scaled") * 2000 > F.col("t"))
        .select(
            "l_partkey", (F.col("q_scaled").cast("double") / 100.0).alias("total_qty")
        )
    )


# ---------------------------------------------------------------------------
# Namespace codec (E10) and data-quality stats over the catalog tables
# ---------------------------------------------------------------------------


@register(
    "namespace_parse",
    """
    SELECT ns,
           string_split(ns, '.')[1] AS environment,
           string_split(ns, '.')[2] AS cluster,
           string_split(ns, '.')[3] AS database,
           len(string_split(ns, '.')) - 3 AS n_suffixes
    FROM (SELECT 'prod.' || lower(r_name) || '.main.transformed' AS ns FROM region)
    """,
    doc="Namespace name codec (_namespace_util.py:22-173): "
    "environment.cluster.database[.suffixes] split as column ops.",
    tags=("E10",),
)
def namespace_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region")
    ns = F.concat(F.lit("prod."), F.lower("r_name"), F.lit(".main.transformed"))
    df = region.select(ns.alias("ns"))
    parsed = scalars.parse_namespace("ns")
    return df.select(
        "ns",
        parsed.environment.alias("environment"),
        parsed.cluster.alias("cluster"),
        parsed.database.alias("database"),
        (F.size(F.split("ns", r"\.")) - 3).alias("n_suffixes"),
    )


@register(
    "dq_column_stats",
    """
    SELECT COUNT(*) AS n_rows,
           COUNT(*) - COUNT(o_custkey) AS null_custkey,
           COUNT(DISTINCT o_orderkey) AS distinct_pk,
           CAST(COUNT(DISTINCT o_orderkey) = COUNT(*) AS INT) AS pk_unique,
           MIN(o_totalprice) >= 0 AS prices_non_negative
    FROM orders
    """,
    doc="Data-quality constraint stats in one scan: null counts, pk "
    "uniqueness, range sanity — the checks a pipeline runs before "
    "publishing a refresh.",
    tags=("dq",),
)
def dq_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.count("o_custkey")).alias("null_custkey"),
        F.count_distinct("o_orderkey").alias("distinct_pk"),
        (F.count_distinct("o_orderkey") == F.count(F.lit(1)))
        .cast("int")
        .alias("pk_unique"),
        (F.min("o_totalprice") >= 0).alias("prices_non_negative"),
    )


# ---------------------------------------------------------------------------
# SQL front-end parity: same engine, spark.sql() surface
# ---------------------------------------------------------------------------


@register(
    "sql_api_top_suppliers",
    """
    SELECT s.s_name, n.n_name,
           CAST(ROUND(s.s_acctbal*100, 0) AS BIGINT) AS acctbal_cents
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE s.s_acctbal > 0
    ORDER BY acctbal_cents DESC, s.s_name ASC
    LIMIT 15
    """,
    doc="SQL front-end parity: the identical statement runs through "
    "spark.sql() over registered views — DataFrame and SQL surfaces share "
    "one Catalyst plan.",
    tags=("sql-api",),
)
def sql_api_top_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_spark.io import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT s.s_name, n.n_name,
               CAST(ROUND(s.s_acctbal*100, 0) AS BIGINT) AS acctbal_cents
        FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
        WHERE s.s_acctbal > 0
        ORDER BY acctbal_cents DESC, s.s_name ASC
        LIMIT 15
        """
    )


# ---------------------------------------------------------------------------
# As-of join and hypertable-style rollup (custom operators the brief's
# operator inventory calls out; SURVEY §7 north-star)
# ---------------------------------------------------------------------------


@register(
    "asof_click_attribution",
    """
    WITH clicks AS (
        SELECT user_id, epoch_us(ts) AS e, MAX(event_id) AS click_id
        FROM events WHERE event_type = 'click'
        GROUP BY user_id, epoch_us(ts)
    ),
    purchases AS (
        SELECT user_id, epoch_us(ts) AS e, event_id AS purchase_id
        FROM events WHERE event_type = 'purchase'
    )
    SELECT p.user_id, p.purchase_id, p.e AS purchase_e,
           c.click_id, c.e AS click_e,
           p.e - c.e AS gap_us
    FROM purchases p
    ASOF JOIN clicks c ON p.user_id = c.user_id AND c.e <= p.e
    """,
    doc="As-of join (purchase -> latest preceding click per user): "
    "union + ordered window fill, one shuffle on the key, O(1) state per "
    "row — never the range-join pair explosion.  Clicks pre-deduped per "
    "(user, microsecond) so 'the' as-of row is total.  Oracle uses "
    "DuckDB's native ASOF JOIN: two independent formulations, same rows.",
    tags=("J-asof",),
)
def asof_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id", F.unix_micros("ts").alias("e"), "event_id")
        .groupBy("user_id", "e")
        .agg(F.max("event_id").alias("click_id"))
        .select("user_id", F.col("e").alias("click_e"), "click_id")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.unix_micros("ts").alias("purchase_e"),
        F.col("event_id").alias("purchase_id"),
    )
    joined = joins.asof_join(
        purchases,
        clicks,
        on="user_id",
        left_ts="purchase_e",
        right_ts="click_e",
        right_cols=["click_e", "click_id"],
    )
    return joined.select(
        "user_id",
        "purchase_id",
        "purchase_e",
        "click_id",
        "click_e",
        (F.col("purchase_e") - F.col("click_e")).alias("gap_us"),
    )


@register(
    "hypertable_rollup",
    """
    WITH fine AS (
        SELECT CAST(FLOOR(epoch(ts) / 3600) * 3600 AS BIGINT) AS bucket_start,
               event_type,
               COUNT(*) AS n_events,
               SUM(CAST(ROUND(value*100, 0) AS BIGINT)) AS sv
        FROM events
        GROUP BY 1, 2
    )
    SELECT 'hour' AS granularity, bucket_start, event_type, n_events,
           CAST(sv AS DOUBLE) / 100.0 AS sum_value
    FROM fine
    UNION ALL
    SELECT 'day' AS granularity,
           CAST(FLOOR(bucket_start / 86400) * 86400 AS BIGINT) AS bucket_start,
           event_type,
           CAST(SUM(n_events) AS BIGINT) AS n_events,
           CAST(SUM(sv) AS DOUBLE) / 100.0 AS sum_value
    FROM fine
    GROUP BY 2, 3
    """,
    doc="Hypertable-style continuous aggregate: hour and day tiers in one "
    "fact scan — the day tier re-aggregates the hour tier's scaled-long "
    "partials (|hour buckets| rows), never the raw events.",
    tags=("A-ext", "hypertable"),
)
def hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return agg.hierarchical_time_rollup(
        ev, "ts", ["event_type"], "value", fine_seconds=3600, coarse_seconds=86400
    )


_Z_INTERLEAVE_SQL = " | ".join(
    f"(((qx >> {b}) & 1) << {2 * b}) | (((qy >> {b}) & 1) << {2 * b + 1})"
    for b in range(8)
)


@register(
    "zorder_curve_keys",
    f"""
    WITH base AS (
        SELECT o_orderkey, o_custkey AS ck,
               date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS dd
        FROM orders
    ), stats AS (
        SELECT min(ck) AS mnc, max(ck) AS mxc,
               min(dd) AS mnd, max(dd) AS mxd
        FROM base
    ), q AS (
        SELECT o_orderkey,
               CAST(floor((ck - mnc) * 256 / (mxc - mnc + 1)) AS BIGINT) AS qx,
               CAST(floor((dd - mnd) * 256 / (mxd - mnd + 1)) AS BIGINT) AS qy
        FROM base, stats
    )
    SELECT o_orderkey AS order_id,
           CAST({_Z_INTERLEAVE_SQL} AS BIGINT) AS zkey
    FROM q
    """,
    doc="Morton (z-order) layout keys over (customer, order day): integer "
    "span quantization + closed-form bit interleave, no UDF and no global "
    "sort — the key zorder_write range-partitions by so parquet min/max "
    "footers prune box predicates on EITHER dimension (operators/zorder.py; "
    "row-group pruning measured in tests/test_scale_ops.py).  The oracle "
    "recomputes the identical arithmetic in SQL.",
    tags=("O-ext", "layout"),
)
def zorder_curve_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_spark.operators import zorder

    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        F.col("o_custkey").alias("ck"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
        ).cast("long").alias("dd"),
    )
    keyed = zorder.zorder_key(base, ["ck", "dd"], bits=8)
    return keyed.select(F.col("o_orderkey").alias("order_id"), "zkey")


@register(
    "zorder_box_query",
    """
    WITH stats AS (
        SELECT min(l_orderkey) AS mno, max(l_orderkey) AS mxo,
               min(l_partkey) AS mnp, max(l_partkey) AS mxp
        FROM lineitem
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(ROUND(l_quantity, 0) AS BIGINT)) AS BIGINT)
               AS sum_qty
    FROM lineitem, stats
    WHERE l_orderkey BETWEEN mno + CAST(floor((mxo - mno) * 45 / 100) AS BIGINT)
                         AND mno + CAST(floor((mxo - mno) * 55 / 100) AS BIGINT)
      AND l_partkey  BETWEEN mnp + CAST(floor((mxp - mnp) * 45 / 100) AS BIGINT)
                         AND mnp + CAST(floor((mxp - mnp) * 55 / 100) AS BIGINT)
    """,
    doc="End-to-end z-order layout proof at bench scale: lineitem is "
    "written ONCE per sf as a 16-file Morton layout over (l_orderkey, "
    "l_partkey) — zorder_write's repartitionByRange + sortWithinPartitions "
    "— and this query scans THAT copy with a 10%-per-dimension box "
    "predicate on both dimensions.  The oracle computes the same box "
    "aggregate from the original table (the answer is layout-independent; "
    "the LAYOUT only changes which row groups the scan can skip — "
    "files/row-groups read per layout are recorded in the round notes).  "
    "Bench runs hit the steady-state read path: the layout is built "
    "once per lineitem-file identity (io.build_once).",
    tags=("O-ext", "layout"),
)
def zorder_box_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from data_pipeline_spark.operators import zorder

    def build(stage):
        li = load_table(spark, sf_dir, "lineitem")
        zorder.zorder_write(
            li, stage, ["l_orderkey", "l_partkey"], bits=10, n_files=16
        )

    final = cache_path(
        "zorder_lineitem", [os.path.join(sf_dir, "lineitem.parquet")],
        name="layout",
    )
    zl = read_parquet_cached(spark, build_once(final, build))
    # the box bounds must be LITERALS for the predicate to push into the
    # parquet scan (PushedFilters -> row-group pruning — the very thing
    # the layout exists for); a joined-in stats row would evaluate the
    # filter post-scan.  One 1-row collect, metadata-bounded by contract.
    st = zl.agg(
        F.min("l_orderkey").alias("mno"), F.max("l_orderkey").alias("mxo"),
        F.min("l_partkey").alias("mnp"), F.max("l_partkey").alias("mxp"),
    ).collect()[0]
    lo_o = st.mno + (st.mxo - st.mno) * 45 // 100
    hi_o = st.mno + (st.mxo - st.mno) * 55 // 100
    lo_p = st.mnp + (st.mxp - st.mnp) * 45 // 100
    hi_p = st.mnp + (st.mxp - st.mnp) * 55 // 100
    boxed = zl.filter(
        F.col("l_orderkey").between(F.lit(lo_o), F.lit(hi_o))
        & F.col("l_partkey").between(F.lit(lo_p), F.lit(hi_p))
    )
    return boxed.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.round("l_quantity", 0).cast("bigint"))
        .cast("bigint")
        .alias("sum_qty"),
    )


@register(
    "gapfill_interpolated_series",
    """
    WITH agg AS (
        SELECT event_type,
               CAST(floor(epoch(ts) / 900) * 900 AS BIGINT) AS bucket_start,
               COUNT(*) AS n,
               SUM(CAST(round(value * 100, 0) AS BIGINT)) AS sv
        FROM events GROUP BY 1, 2
    ), spine AS (
        SELECT event_type,
               unnest(generate_series(mn, mx, 900)) AS bucket_start
        FROM (SELECT event_type, min(bucket_start) AS mn,
                     max(bucket_start) AS mx
              FROM agg GROUP BY 1)
    ), joined AS (
        SELECT s.event_type, s.bucket_start, a.n, a.sv
        FROM spine s LEFT JOIN agg a USING (event_type, bucket_start)
    ), filled AS (
        SELECT event_type, bucket_start, n, sv,
               last_value(sv IGNORE NULLS) OVER w_prev AS prev_sv,
               last_value(CASE WHEN sv IS NOT NULL THEN bucket_start END
                          IGNORE NULLS) OVER w_prev AS prev_b,
               first_value(sv IGNORE NULLS) OVER w_next AS next_sv,
               first_value(CASE WHEN sv IS NOT NULL THEN bucket_start END
                           IGNORE NULLS) OVER w_next AS next_b
        FROM joined
        WINDOW
            w_prev AS (PARTITION BY event_type ORDER BY bucket_start
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
            w_next AS (PARTITION BY event_type ORDER BY bucket_start
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type, bucket_start,
           CAST(COALESCE(n, 0) AS BIGINT) AS n_events,
           sv IS NULL AS is_gap,
           prev_sv / 100.0 AS sum_value_locf,
           CASE WHEN sv IS NOT NULL THEN CAST(sv AS DOUBLE)
                ELSE prev_sv + ((next_sv - prev_sv)
                                * (bucket_start - prev_b))
                               / (next_b - prev_b)
           END / 100.0 AS sum_value_linear
    FROM filled
    """,
    doc="Hypertable gap-fill + interpolation (time_bucket_gapfill "
    "semantics): per-type 15-minute buckets, missing buckets generated "
    "with an in-row sequence+explode per key span (no driver loop), gaps "
    "filled by LOCF and by linear interpolation between neighboring "
    "present buckets from one pair of running windows.  Scaled-long sums "
    "keep present buckets exact; the interpolation divides once in double "
    "so both engines agree bit-for-bit.",
    tags=("A-ext", "hypertable"),
)
def gapfill_interpolated_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return agg.gapfill_interpolate(
        ev, "ts", ["event_type"], "value", bucket_seconds=900
    )
