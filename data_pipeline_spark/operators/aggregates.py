"""Aggregation operators (SURVEY.md §2.4).

The reference's aggregations are monitoring window counts
(data_pipeline/client.py:170-347), COUNT/MIN/MAX range planning for the full
refresh (tools/copy_table_to_blackhole_table.py:228-235,414-439), and
per-topic publish stats (_producer_retry.py:85-118).  All are partial-agg
friendly groupBys here: map-side combine runs before the shuffle, so the
shuffled bytes are proportional to |groups|, not |rows| — the property that
keeps these viable at 100 TB.

Floating-point policy: a distributed double sum is not reproducible across
partitionings, so money-like doubles (fixed 2-decimal values) are summed as
*scaled longs*: ``SUM(CAST(ROUND(x*100, 0) AS BIGINT)) / 100.0``.  Integer
addition is exact and order-independent, stays inside whole-stage codegen
(a decimal accumulator measured ~7x slower), and the identical expression in
any other engine yields bit-identical doubles.  ANSI mode (Spark 4 default)
turns a would-be bigint overflow into an error instead of a wrap; for
100 TB-scale sums of wide products, widen the scale budget or fall back to a
DECIMAL accumulator.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def scaled_long(col: str | Column, scale: int = 2) -> Column:
    """Fixed-point view of a double column with ``scale`` decimals as a
    bigint.  ROUND before the cast: the double nearest 7.00 may print as
    6.999...; a bare truncating cast would lose a unit."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * (10**scale), 0).cast("bigint")


def exact_sum(col: str | Column, alias: str, scale: int = 2) -> Column:
    """Order-independent exact sum of a fixed-decimal double column.
    Matches ``CAST(SUM(CAST(ROUND(x*100,0) AS BIGINT)) AS DOUBLE)/100.0``."""
    return (F.sum(scaled_long(col, scale)).cast("double") / (10.0**scale)).alias(alias)


def exact_avg(col: str | Column, alias: str, scale: int = 2) -> Column:
    """Exact-sum-based average: (double(sum_scaled)/100.0)/count —
    deterministic across partitionings, reproducible in any engine."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        (F.sum(scaled_long(c, scale)).cast("double") / (10.0**scale)) / F.count(c)
    ).alias(alias)


def tumbling_window_counts(
    df: DataFrame,
    ts_col: str,
    window_seconds: int,
    keys: Sequence[str],
    count_alias: str = "message_count",
    window_alias: str = "window_start",
) -> DataFrame:
    """Epoch-aligned fixed-window counts — the monitoring aggregation.

    Reference: windows are ``floor(timestamp / 600) * 600`` epoch-aligned
    600 s buckets counting messages per (topic, client)
    (client.py:217-221,303-324; monitoring_message_v1.avsc).

    The window start is computed arithmetically (bigint epoch seconds) rather
    than with ``F.window`` so batch and oracle SQL agree exactly; the
    streaming path (streaming/monitor.py) uses the same alignment.
    """
    win = (
        F.floor(F.unix_timestamp(F.col(ts_col)) / window_seconds) * window_seconds
    ).cast("bigint")
    return (
        df.withColumn(window_alias, win)
        .groupBy(window_alias, *keys)
        .agg(F.count(F.lit(1)).alias(count_alias))
    )


def scan_stats(df: DataFrame, pk: str) -> DataFrame:
    """COUNT(*) + MIN/MAX of the primary key in one pass — the refresh
    runner's range-planning queries (copy_table_to_blackhole_table.py:
    228-235,414-439) fused into a single aggregation (one scan, no shuffle
    beyond a single-row reduce)."""
    return df.agg(
        F.count(F.lit(1)).alias("row_count"),
        F.min(pk).alias("min_pk"),
        F.max(pk).alias("max_pk"),
    )


def rollup_counts(df: DataFrame, keys: Sequence[str], alias: str = "n") -> DataFrame:
    """ROLLUP counts — declared engine surface beyond the reference (SURVEY
    §2.4 note): hierarchical totals in one pass via partial aggregation."""
    return df.rollup(*keys).agg(F.count(F.lit(1)).alias(alias))


def hierarchical_time_rollup(
    df: DataFrame,
    ts_col: str,
    keys: Sequence[str],
    value_col: str,
    fine_seconds: int = 3600,
    coarse_seconds: int = 86400,
) -> DataFrame:
    """Hypertable-style continuous aggregate: counts + exact sums at two
    time granularities in ONE fact scan.

    Formulated as GROUPING SETS ((fine, keys), (coarse, keys)) — Catalyst's
    Expand duplicates rows in-memory ahead of map-side partial aggregation,
    so the fact table is scanned once and the shuffle carries only
    per-bucket partials.  (A union of tier DataFrames recomputes the whole
    subtree per branch — Spark has no common-subplan reuse — which is two
    full fact scans; the plan test pins one.)  At extreme tier counts the
    materialize-fine-then-reaggregate continuous-aggregate pattern wins
    instead; two tiers don't need it.  Integer epoch bucketing and
    scaled-long sums keep both tiers engine-reproducible.
    """
    epoch = F.unix_timestamp(F.col(ts_col))
    fine_b = (F.floor(epoch / fine_seconds) * fine_seconds).cast("bigint")
    coarse_b = (F.floor(epoch / coarse_seconds) * coarse_seconds).cast("bigint")
    base = df.select(
        fine_b.alias("__fine"),
        coarse_b.alias("__coarse"),
        *keys,
        scaled_long(value_col).alias("__v"),
    )
    grouped = base.groupingSets(
        [["__fine", *keys], ["__coarse", *keys]], "__fine", "__coarse", *keys
    ).agg(F.count(F.lit(1)).alias("n_events"), F.sum("__v").alias("__sv"))
    return grouped.select(
        F.when(F.col("__fine").isNotNull(), "hour").otherwise("day").alias(
            "granularity"
        ),
        F.coalesce("__fine", "__coarse").alias("bucket_start"),
        *keys,
        "n_events",
        (F.col("__sv").cast("double") / 100.0).alias("sum_value"),
    )


def gapfill_interpolate(
    df: DataFrame,
    ts_col: str,
    keys: Sequence[str],
    value_col: str,
    bucket_seconds: int = 900,
) -> DataFrame:
    """Hypertable-style gap-filled time series with LOCF and linear
    interpolation (the time_bucket_gapfill / interpolate pattern).

    Buckets the facts, generates the missing buckets per key with an
    in-row ``sequence`` + explode over each present-bucket-to-next span
    (no driver loop, no cross join against a global spine, no join-back),
    and fills gaps two ways from one per-key window pass:
    last-observation-carried-forward and linear interpolation between the
    neighboring present buckets.

    Scale shape: the fact stream is aggregated ONCE (one corpus shuffle,
    map-side combined), then every missing bucket is generated by the
    present bucket that precedes it — explode over [this_bucket,
    next_bucket) from one lead() — with the LOCF/interpolation anchors
    attached from the same per-key window pass.  The r12 form replaced a
    spine-generate + left-join-back that planned (and executed) the fact
    aggregation twice (Spark has no common-subexpression elimination) and
    paid a (keys, bucket) join exchange the windows then re-partitioned
    anyway; same row set by construction — gap buckets lie strictly
    between consecutive present buckets, and each key's min/max bucket is
    always a present edge, so fills never extrapolate.  Sums ride as
    scaled longs so present buckets are exact, and the interpolation
    expression — prev + ((next - prev) * dt) / span — multiplies in int64
    and divides once in double, reproducible bit-for-bit by any engine.
    A bucket whose values are all NULL stays a present spine point with
    is_gap=true (sum NULL), invisible to the fill anchors — identical to
    the join form's IGNORE NULLS windows.
    """
    from pyspark.sql import Window

    keys = list(keys)
    epoch = F.unix_timestamp(F.col(ts_col))
    bucket = (F.floor(epoch / bucket_seconds) * bucket_seconds).cast("bigint")
    agg = (
        df.select(*keys, bucket.alias("bucket_start"),
                  scaled_long(value_col).alias("__sv"))
        .groupBy(*keys, "bucket_start")
        .agg(F.count(F.lit(1)).alias("__n"), F.sum("__sv").alias("sv"))
    )
    w_prev = (
        Window.partitionBy(*keys)
        .orderBy("bucket_start")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_next = (
        Window.partitionBy(*keys)
        .orderBy("bucket_start")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    present_b = F.when(F.col("sv").isNotNull(), F.col("bucket_start"))
    step = F.lit(bucket_seconds).cast("bigint")
    # anchors at the present row: prev = last non-null up to and including
    # this row; nxt = first non-null from this row on (skips this row
    # exactly when its own sum is NULL — the all-NULL-bucket case)
    anchored = agg.select(
        *keys,
        F.col("bucket_start").alias("__b"),
        "__n",
        "sv",
        F.last("sv", ignorenulls=True).over(w_prev).alias("__psv"),
        F.last(present_b, ignorenulls=True).over(w_prev).alias("__pb"),
        F.first("sv", ignorenulls=True).over(w_next).alias("__nsv"),
        F.first(present_b, ignorenulls=True).over(w_next).alias("__nb"),
    )
    # the buckets a row generates: itself plus the gap run up to
    # (exclusive) the next present bucket; the gap rows' interpolation
    # anchor ahead is the NEXT row's first-non-null (this row's would see
    # its own sv).  Same partitioning and sort as the anchor pass — one
    # exchange, consecutive WindowExecs.
    w_lead = Window.partitionBy(*keys).orderBy("__b")
    enriched = anchored.select(
        "*",
        F.lead("__b").over(w_lead).alias("__lead_b"),
        F.lead("__nsv").over(w_lead).alias("__lead_nsv"),
        F.lead("__nb").over(w_lead).alias("__lead_nb"),
    ).select(
        *keys,
        "__b",
        "__n",
        "sv",
        "__psv",
        "__pb",
        "__nsv",
        "__nb",
        "__lead_nsv",
        "__lead_nb",
        F.explode(
            F.sequence(
                "__b",
                F.coalesce(F.col("__lead_b") - step, F.col("__b")),
                step,
            )
        ).alias("bucket_start"),
    )
    at_row = F.col("bucket_start") == F.col("__b")
    nxt_sv = F.when(at_row, F.col("__nsv")).otherwise(F.col("__lead_nsv"))
    nxt_b = F.when(at_row, F.col("__nb")).otherwise(F.col("__lead_nb"))
    linear = F.when(
        at_row & F.col("sv").isNotNull(), F.col("sv").cast("double")
    ).otherwise(
        F.col("__psv")
        + ((nxt_sv - F.col("__psv")) * (F.col("bucket_start") - F.col("__pb")))
        / (nxt_b - F.col("__pb"))
    )
    return enriched.select(
        *keys,
        "bucket_start",
        F.when(at_row, F.col("__n"))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("n_events"),
        (~at_row | F.col("sv").isNull()).alias("is_gap"),
        (F.col("__psv") / F.lit(100.0)).alias("sum_value_locf"),
        (linear / F.lit(100.0)).alias("sum_value_linear"),
    )
