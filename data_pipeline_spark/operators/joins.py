"""Join operators (SURVEY.md §2.5).

The reference performs "lookup joins" in client code against its schema
registry and Kafka metadata (e.g. schema_id -> schema/topic,
data_pipeline/message.py:159-161; topic -> latest schema,
schematizer_clientlib/schematizer.py:455-472; offset-in-watermark checks,
tools/tailer.py:278-308; prefix anti-join recovery, producer.py:291-422).
Here they are real distributed joins with scale-appropriate physical
strategies:

- dimension lookups  -> broadcast hash join (no shuffle of the fact side)
- latest-per-key     -> window `row_number` (single shuffle on the key), or
                        `max_by` aggregation when only one row is needed
- range predicates   -> equi-key + range condition so Spark can still hash
                        partition on the equi key instead of a BNL join
- prefix anti-join   -> window rank filter, no second scan
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def broadcast_lookup(
    fact: DataFrame,
    dim: DataFrame,
    on: str | Sequence[str],
    how: str = "inner",
) -> DataFrame:
    """Broadcast hash join of a fact stream/table against a small dimension.

    Reference behavior: per-message schema/topic resolution via a cached
    registry (message.py:159-161, schematizer.py:116-139).  At scale the
    dimension (schema catalog, nation, part, ...) is MBs while the fact side
    is TBs — an explicit ``broadcast`` hint guarantees no fact-side shuffle
    regardless of statistics.
    """
    return fact.join(F.broadcast(dim), on=on, how=how)


def latest_per_key(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str],
) -> DataFrame:
    """Keep the single newest row per key.

    Reference behaviors: latest enabled schema per topic
    (schematizer.py:455-472), newest topic by updated_at
    (tools/tailer.py:347-351), Kafka log compaction semantics
    (tools/compaction_setter.py:79-116).

    One shuffle on ``keys``; rows never collected to the driver.  AQE handles
    skewed keys (one hot topic) by splitting oversized partitions.
    """
    order_cols = [F.col(c).desc() if isinstance(c, str) else c for c in order_by]
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def range_join(
    left: DataFrame,
    right: DataFrame,
    equi: Sequence[tuple[str, str]],
    range_cond: Column,
    how: str = "inner",
) -> DataFrame:
    """Equi-key join with an additional range predicate.

    Reference behavior: requested offsets validated within
    [low_watermark, high_watermark] per (topic, partition)
    (tools/tailer.py:278-308).  Keeping at least one equi pair lets Spark use
    a shuffled/broadcast hash join and apply the range as a post-filter —
    never a cartesian BNL.
    """
    cond = range_cond
    for l_col, r_col in equi:
        cond = (left[l_col] == right[r_col]) & cond
    return left.join(right, on=cond, how=how)


def anti_join(left: DataFrame, right: DataFrame, on: str | Sequence[str]) -> DataFrame:
    """Rows of ``left`` with no match in ``right`` (left_anti).

    Reference behavior: recovery treats messages below the saved high
    watermark as already published and republishes only the rest
    (producer.py:291-422, _producer_retry.py:120-190).
    """
    return left.join(right, on=on, how="left_anti")


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salt_buckets: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: salt the big side, replicate the small side.

    A hot key (one topic with 100x the traffic) sinks a plain hash join at
    scale: one task gets the whole key.  Salting splits each key into
    ``salt_buckets`` sub-keys — the big side gets a deterministic per-row
    salt, the small side is replicated across all salts, and the join runs
    on (key, salt) so the hot key spreads over ``salt_buckets`` tasks.
    (AQE skew-join handles moderate skew automatically; explicit salting is
    for the pathological keys you know about.)

    Result equals ``big.join(small, key, how)`` for inner/left joins with a
    unique-keyed small side.
    """
    salt = F.pmod(F.xxhash64(*big.columns), F.lit(salt_buckets)).cast("int")
    big_salted = big.withColumn("__salt", salt)
    small_salted = small.withColumn(
        "__salt",
        F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)])),
    )
    return big_salted.join(small_salted, on=[key, "__salt"], how=how).drop("__salt")


def prefix_rows_per_key(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str],
    n_col: Column,
) -> DataFrame:
    """Mark the first N rows per key (N may vary per key) — the reference's
    "first `already_published_count` messages per topic are already
    published" prefix anti-join (producer.py:291-422).

    Adds boolean ``__in_prefix``; callers filter on it (or its negation).
    """
    order_cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    return df.withColumn("__in_prefix", F.row_number().over(w) <= n_col)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    left_ts: str,
    right_ts: str,
    right_cols: Sequence[str],
) -> DataFrame:
    """As-of join: for each left row, the latest right row with
    right_ts <= left_ts per key (inner: left rows with no prior right row
    are dropped).

    Formulated as union + ordered window fill, NOT a range join: both
    inputs are tagged, unioned, and sorted per key by (ts, side) so a
    running ``last(ignorenulls)`` carries each right row forward to every
    later left row.  One shuffle on the key, state O(1) per row — a
    range-join formulation explodes to every (left, right-before) pair
    before picking the max, which at 100 TB is quadratic in the history
    depth.  Ties (right_ts == left_ts) count as visible, matching
    ASOF JOIN ... ON r.ts <= l.ts semantics.

    Callers must ensure one right row per (key, right_ts) — pre-dedupe
    with latest_per_key — otherwise "the" as-of row is ambiguous.
    """
    keys = [on] if isinstance(on, str) else list(on)
    lcols = [c for c in left.columns if c not in keys]
    # the right row travels as ONE struct: filling columns independently
    # with last(ignorenulls) would stitch values from different right rows
    # whenever a right column is legitimately NULL
    r_struct = F.struct(*[F.col(c).alias(c) for c in right_cols])
    tagged_r = right.select(
        *keys,
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        r_struct.alias("__r"),
        *[F.lit(None).alias(f"__l_{c}") for c in lcols],
    )
    r_type = tagged_r.schema["__r"].dataType
    tagged_l = left.select(
        *keys,
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(r_type).alias("__r"),
        *[F.col(c).alias(f"__l_{c}") for c in lcols],
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy("__ts", "__side")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = tagged_r.unionByName(tagged_l).select(
        *keys,
        "__side",
        *[F.col(f"__l_{c}") for c in lcols],
        F.last("__r", ignorenulls=True).over(w).alias("__rf"),
    )
    out = filled.filter((F.col("__side") == 1) & F.col("__rf").isNotNull())
    return out.select(
        *keys,
        *[F.col(f"__l_{c}").alias(c) for c in lcols],
        *[F.col("__rf")[c].alias(c) for c in right_cols],
    )


def interval_bucket_join(
    points: DataFrame,
    intervals: DataFrame,
    point_ts: str,
    start_col: str,
    end_col: str,
    bucket_seconds: int = 3600,
    how: str = "inner",
) -> DataFrame:
    """Point-in-interval join with NO equi key (``start <= pt < end``),
    decomposed to an equi join so Spark never falls back to a
    BroadcastNestedLoop/cartesian plan.

    Each interval is exploded in-row to the fixed-width time buckets it
    overlaps (``F.sequence`` — no shuffle, replication factor =
    ceil(interval length / bucket width)); each point computes its single
    bucket; the join runs as a HASH join on bucket equality with the
    exact containment predicate as residual filter.  A point's one
    bucket can match an interval at most once, so no post-join dedup is
    needed — the result equals the theta join row-for-row.

    At 100 TB this is the difference between a per-task cartesian
    (points x intervals) and a shuffle keyed on time locality; pick
    ``bucket_seconds`` near the typical interval length so replication
    stays O(1) per interval while each bucket's point population stays
    bounded.  Skewed buckets (a flash-crowd hour) are AQE-splittable
    like any hash-join key.

    ``how`` supports "inner" (default) and "left_outer" semantics for
    the POINTS side (unmatched points kept with NULL interval columns).
    """
    us = F.lit(int(bucket_seconds) * 1_000_000)
    pt = F.unix_micros(F.col(point_ts))
    p = points.withColumn("__bkt", F.floor(pt / us))
    # end is exclusive: an interval ending exactly on a bucket boundary
    # does not overlap that bucket (sequence upper bound uses end - 1us);
    # empty/NULL intervals drop out (sequence of NULL is NULL, explode
    # drops it; end <= start guarded so sequence cannot run descending)
    ivs = intervals.filter(F.col(end_col) > F.col(start_col))
    ivs = ivs.withColumn(
        "__bkt",
        F.explode(
            F.sequence(
                F.floor(F.unix_micros(F.col(start_col)) / us),
                F.floor((F.unix_micros(F.col(end_col)) - F.lit(1)) / us),
            )
        ),
    )
    contained = (F.col(point_ts) >= F.col(start_col)) & (
        F.col(point_ts) < F.col(end_col)
    )
    if how == "inner":
        return p.join(ivs, on=["__bkt"], how="inner").filter(contained).drop(
            "__bkt"
        )
    if how == "left_outer":
        # synthetic row id so duplicate point rows keep independent fates
        # (an all-columns anti-join would drop every copy once one matched)
        pid = p.withColumn("__pid", F.monotonically_increasing_id())
        matched = pid.join(ivs, on=["__bkt"], how="inner").filter(contained)
        unmatched = pid.join(
            matched.select("__pid"), on="__pid", how="left_anti"
        )
        return (
            matched.drop("__bkt", "__pid")
            .unionByName(
                unmatched.drop("__bkt", "__pid"), allowMissingColumns=True
            )
        )
    raise ValueError(f"unsupported how={how!r}")
