"""Embedding similarity search: exact quantized cosine, brute-force top-k,
LSH-bucketed approximate variant.

Determinism: embeddings are quantized to 1e-6 fixed point and dot products
accumulate as bigints (exact, order-independent); the final cosine is one
double expression — ``dot / (sqrt(na) * sqrt(nb))`` — so results are
bit-identical across engines and partitionings.  Quantization error on unit-
scale float32 embeddings is ~1e-6, far below any ranking gap that matters.

Scale paths:
- top-k for a small query set: broadcast the queries, per-partition partial
  top-k via window rank — the base table is scanned once, never shuffled.
- all-pairs near-dup: never brute-force at scale; the LSH variant buckets by
  sign-random-hyperplane signatures and only joins within buckets.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_pipeline_spark.io import read_parquet_cached

Q = 1_000_000  # 1e-6 quantization


# --- SQL-text twins of the quantized-expression builders (r12 opt) --------
# Building these expressions through the Column DSL costs dozens of py4j
# roundtrips per higher-order lambda (~20 ms each; the r12 profile measured
# ~1.5 s of a 2.5 s ANN query construction in socket recv alone).  Composing
# the SAME expression as SQL text and parsing it with ONE F.expr call yields
# the identical analyzed expression — schema- and value-identical, pinned by
# tests/test_llmops.py::test_sql_expr_twins_bit_identical — at a fraction of
# the driver cost.  Each *_sql function returns a SQL fragment; arguments
# are SQL fragments themselves (plain column names or nested fragments).

def qvec_sql(col: str) -> str:
    return (
        f"transform({col}, _qx -> "
        f"cast(round(cast(_qx as double) * {Q}, 0) as bigint))"
    )


def norm_sq_sql(col: str) -> str:
    return (
        f"aggregate(transform({qvec_sql(col)}, _nx -> _nx * _nx), "
        f"cast(0 as bigint), (_na, _nv) -> _na + _nv)"
    )


def qvec_fixed_sql(col: str, dim: int) -> str:
    """``qvec_sql`` with the element loop UNROLLED for a declared dim.

    Higher-order functions evaluate interpreted and return a BOXED
    GenericArrayData, which every downstream UnsafeRow copy re-converts
    element-by-element — ruinous below a generator that replicates the
    array (the sf1 LSH payload projection measured 6.8 s boxed vs 0.8 s
    unrolled: posexplode copies each quantized vector L=147 times).  An
    unrolled ``array(...)`` of get()-terms compiles through whole-stage
    codegen straight into UnsafeArrayData, so replication is memcpy.
    Rows whose length differs from ``dim`` keep the transform form via
    the size guard — values identical for EVERY input (null vector,
    null elements, short/long rows; pinned by
    test_qvec_fixed_sql_bit_identical)."""
    elems = ",".join(
        f"cast(round(cast(get({col}, {i}) as double) * {Q}, 0) as bigint)"
        for i in range(dim)
    )
    return (
        f"CASE WHEN size({col}) = {dim} THEN array({elems}) "
        f"ELSE {qvec_sql(col)} END"
    )


def norm_sq_from_q_sql(qcol: str, dim: int) -> str:
    """Norm² from an ALREADY-QUANTIZED vector column, unrolled for the
    declared dim (same boxed-array rationale as ``qvec_fixed_sql``;
    integer addition is associative even on wrap-around, so the term
    chain equals the aggregate's left fold bit-for-bit).  Non-dim rows
    fall back to the aggregate form."""
    terms = "+".join(f"({qcol}[{i}] * {qcol}[{i}])" for i in range(dim))
    return (
        f"CASE WHEN size({qcol}) = {dim} THEN ({terms}) "
        f"ELSE aggregate(transform({qcol}, _nx -> _nx * _nx), "
        f"cast(0 as bigint), (_na, _nv) -> _na + _nv) END"
    )


def int_dot_sql(a: str, b: str) -> str:
    """Integer dot of two PRE-QUANTIZED array<bigint> fragments."""
    return (
        f"aggregate(zip_with({a}, {b}, (_dx, _dy) -> _dx * _dy), "
        f"cast(0 as bigint), (_da, _dv) -> _da + _dv)"
    )


def cos_parts_sql(dot: str, na: str, nb: str) -> str:
    """Quantized cosine from (int dot, norm², norm²) fragments — the
    nullif zero-norm guard of ``_cos_from_parts`` (0D = double literal,
    matching F.lit(0.0))."""
    return f"{dot} / nullif(sqrt({na}) * sqrt({nb}), 0D)"


def cos_cols_sql(aq: str, bq: str, an: str, bn: str) -> str:
    """Full scored cosine over pre-quantized column names."""
    return cos_parts_sql(int_dot_sql(aq, bq), an, bn)


def _qvec(col: Column | str) -> Column:
    """array<float> -> array<bigint> quantized view.  The float32 value is
    widened to double BEFORE scaling: float32 * int would multiply in
    float32 and round differently than any double-math engine.  A str
    argument is a SQL fragment and takes the one-roundtrip F.expr path."""
    if isinstance(col, str):
        return F.expr(qvec_sql(col))
    return F.transform(col, lambda x: F.round(x.cast("double") * Q, 0).cast("bigint"))


def quantized_dot(a: Column | str, b: Column | str) -> Column:
    """Exact integer dot product of two quantized vectors."""
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(int_dot_sql(qvec_sql(a), qvec_sql(b)))
    return F.aggregate(
        F.zip_with(_qvec(a), _qvec(b), lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def quantized_norm_sq(a: Column | str) -> Column:
    if isinstance(a, str):
        return F.expr(norm_sq_sql(a))
    return F.aggregate(
        F.transform(_qvec(a), lambda x: x * x),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def cosine(a: Column | str, b: Column | str) -> Column:
    """Reproducible cosine: integer dot / (sqrt * sqrt) in one double
    expr.  Zero-norm inputs score NULL (nullif guard — same contract as
    ``_cos_from_parts``), never an ANSI DIVIDE_BY_ZERO."""
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(
            cos_parts_sql(
                int_dot_sql(qvec_sql(a), qvec_sql(b)),
                norm_sq_sql(a),
                norm_sq_sql(b),
            )
        )
    return quantized_dot(a, b) / F.nullif(
        F.sqrt(quantized_norm_sq(a)) * F.sqrt(quantized_norm_sq(b)),
        F.lit(0.0),
    )


def quantized(df: DataFrame, id_col: str, vec_col: str, prefix: str) -> DataFrame:
    """(id, qvec, norm_sq) — quantize + norm ONCE per vector.  Every
    downstream dot reuses these instead of re-deriving them per pair/plane
    (the dominant cost in the naive formulation)."""
    return df.select(
        F.col(id_col).alias(f"{prefix}_id"),
        _qvec(f"`{vec_col}`").alias(f"{prefix}_q"),
        quantized_norm_sq(f"`{vec_col}`").alias(f"{prefix}_n"),
    )


def _int_dot(a: Column | str, b: Column | str) -> Column:
    """Integer dot of two pre-quantized vectors."""
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(int_dot_sql(a, b))
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def _cos_from_parts(dot: Column, na: Column, nb: Column) -> Column:
    """Quantized cosine from (int dot, norm², norm²).  The denominator is
    nullif-guarded: ONE zero-norm (or NULL -> zero-quantized) vector in a
    corpus would otherwise kill every ANN/topk query with an ANSI
    DIVIDE_BY_ZERO task error (the semantic gate's exact-verify learned
    the same lesson in r10).  A degenerate row scores NULL, and Spark's
    descending sort puts NULLs last, so it can never outrank a real
    neighbor — values on non-degenerate rows are bit-identical."""
    return dot / F.nullif(F.sqrt(na) * F.sqrt(nb), F.lit(0.0))


def cosine_topk(
    base: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact top-k neighbors for each query vector.

    The query side is quantized once and broadcast; the base table is
    scanned once with vectors quantized once per row; per-query ranking is
    a window over the (query_id) shuffle.  Ties break on neighbor id so the
    result is total-ordered.
    """
    q = quantized(queries, id_col, vec_col, "query")
    b = quantized(base, id_col, vec_col, "neighbor")
    scored = b.join(
        F.broadcast(q), F.col("query_id") != F.col("neighbor_id")
    ).select(
        "query_id",
        "neighbor_id",
        F.expr(
            cos_cols_sql("query_q", "neighbor_q", "query_n", "neighbor_n")
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
) -> DataFrame:
    """All pairs with cosine >= threshold (exact, brute force).

    Correctness baseline only: O(n^2) dot products.  The scale path is
    ``lsh_neardup_pairs``; keep this for validation and small partitions.
    """
    a = quantized(df, id_col, vec_col, "a")
    b = quantized(df, id_col, vec_col, "b")
    return (
        a.join(b, F.col("a_id") < F.col("b_id"))
        .select(
            F.col("a_id").alias("id_a"),
            F.col("b_id").alias("id_b"),
            F.expr(
                cos_cols_sql("a_q", "b_q", "a_n", "b_n")
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def _plane_signs(plane_seed: int, dim: int) -> list[int]:
    """Deterministic +-1 hyperplane: component i of plane `s` is +1 iff
    md5('s:i') first hex nibble >= '8'.  Computed driver-side (hashlib md5
    == SQL md5) so the bucket UDF ships a flat integer plane matrix, not
    dim x md5 calls."""
    import hashlib

    return [
        1 if hashlib.md5(f"{plane_seed}:{i}".encode()).hexdigest()[0] >= "8" else -1
        for i in range(dim)
    ]


def _bucket_tables_udf(num_tables: int, planes_per_table: int, dim: int):
    """array<float> -> array<bigint> of ``num_tables`` LSH bucket ids.

    All num_tables*planes_per_table hyperplane sign bits come from ONE
    Arrow-batched integer matmul — (batch, dim) @ (dim, L*b) — instead of
    L*b separate JVM aggregate expressions (512 nested lambdas would blow
    up the codegen tree).  Quantization matches ``_qvec`` exactly
    (float32 -> double -> round to 1e-6 fixed point), so the bits are
    deterministic across engines and batchings.
    """
    from pyspark.sql.types import ArrayType, LongType

    L, b = num_tables, planes_per_table
    planes = np.stack(
        [_plane_signs(s, dim) for s in range(L * b)], axis=1
    ).astype(np.int64)  # (dim, L*b)
    shifts = (1 << np.arange(b - 1, -1, -1)).astype(np.int64)

    @F.pandas_udf(ArrayType(LongType()))
    def buckets(emb: pd.Series) -> pd.Series:
        v = np.stack(emb.to_numpy())
        qv = np.rint(v.astype(np.float64) * Q).astype(np.int64)
        bits = (qv @ planes) >= 0  # (n, L*b)
        out = (bits.reshape(len(qv), L, b) * shifts).sum(axis=2)
        return pd.Series(list(out))

    return buckets


def lsh_planes_for_recall(
    threshold: float, num_tables: int = 64, target_recall: float = 0.95
) -> int:
    """Largest banding depth b with expected recall >= target at the boundary.

    Per-pair recall at angle theta is ``1 - (1 - p^b)^L`` with
    ``p = 1 - theta/pi`` (SimHash collision probability).  Recall decreases
    monotonically in b and pairs exactly AT the threshold are the worst
    case, so pick the deepest banding (fewest candidates) that still clears
    the target there.  E.g. cos 0.4, L=64 => b=6 (expected 0.985); a
    hand-pinned b=8 tops out ~0.80 — the round-3/4 red recall test.
    """
    theta = math.acos(max(-1.0, min(1.0, threshold)))
    p = 1.0 - theta / math.pi
    for b in range(16, 0, -1):
        if 1.0 - (1.0 - p**b) ** num_tables >= target_recall:
            return b
    return 1


def lsh_tables_for_recall(
    threshold: float,
    planes_per_table: int,
    target_recall: float = 0.95,
    max_tables: int = 1024,
) -> int:
    """Fewest tables L with expected boundary recall >= target at a GIVEN
    banding depth b: ``1 - (1 - p^b)^L >= target`` solved for L — the
    dual of ``lsh_planes_for_recall`` (which fixes L and derives b).
    Used by the corpus-size-aware path: deepening b to keep buckets
    sparse costs per-table recall, and this buys it back with tables."""
    theta = math.acos(max(-1.0, min(1.0, threshold)))
    p = 1.0 - theta / math.pi
    pb = p ** planes_per_table
    if pb >= 1.0:
        return 1
    if pb <= 0.0:
        return max_tables
    need = math.log(1.0 - target_recall) / math.log(1.0 - pb)
    return max(1, min(max_tables, math.ceil(need)))


def lsh_scaled_banding(
    threshold: float,
    corpus_size: int,
    num_tables: int = 64,
    target_recall: float = 0.95,
    target_occupancy: int = 64,
) -> tuple[int, int]:
    """(planes_per_table, num_tables) that keep CHANCE collisions from
    going quadratic as the corpus grows.

    The r11 sf1 leg measured the failure mode this prevents: at a fixed
    recall-derived depth (b=6 at cos 0.45 => 64 buckets/table), every
    bucket holds ~n/2^b vectors BY CHANCE, so candidates grow as
    L * (n/2^b)^2 — 3.6 s at 2k vectors became 85 s at 20k (x23.7 for
    x10 data).  Fix: deepen b so expected chance occupancy stays at
    ``target_occupancy`` (b >= log2(n/occupancy)), then re-derive the
    table count for the SAME boundary recall at the deeper b.  Tables
    are the cheap axis — all L*b plane dots ride one Arrow matmul and
    the explode carries (table, bucket, id) only — while bucket
    occupancy is the quadratic axis.  At small n this reproduces the
    recall-derived (b, L) exactly; at 100 TB it is the difference
    between a banded plan and an accidental all-pairs.

    NOT silent past the table budget (ADVICE r11): once the depth the
    corpus needs exceeds what ``lsh_tables_for_recall``'s max_tables can
    buy back (threshold 0.45 hits the 1024-table cap from ~1M vectors),
    expected boundary recall degrades continuously — so this emits a
    ``RuntimeWarning`` carrying the ACHIEVED expected recall instead of
    letting callers believe the target still holds.  Weakly-selective
    low-threshold LSH is intrinsically near-all-pairs; the warned-about
    regime is exactly where the IVF/PQ family is the measured scale path.
    """
    b_recall = lsh_planes_for_recall(threshold, num_tables, target_recall)
    b_sparse = max(
        1, math.ceil(math.log2(max(corpus_size, 1) / max(target_occupancy, 1)))
    ) if corpus_size > target_occupancy else 1
    b = max(b_recall, b_sparse)
    if b == b_recall:
        return b, num_tables
    L = max(num_tables, lsh_tables_for_recall(threshold, b, target_recall))
    theta = math.acos(max(-1.0, min(1.0, threshold)))
    achieved = 1.0 - (1.0 - (1.0 - theta / math.pi) ** b) ** L
    if achieved < target_recall:
        import warnings

        warnings.warn(
            f"lsh_scaled_banding: occupancy-driven depth b={b} needs more "
            f"tables than the max_tables cap allows — expected boundary "
            f"recall at threshold {threshold} is {achieved:.3f}, below the "
            f"{target_recall} target.  At this (threshold, corpus_size) "
            f"banded LSH is near-all-pairs; use the IVF/PQ path instead.",
            RuntimeWarning,
            stacklevel=2,
        )
    return b, L


def _bucket_pair_verify(threshold: float):
    """mapInArrow kernel: per bucket row (``ms`` = list of
    (v_id, v_q, v_n) member structs), verify every i<j member pair with
    the EXACT quantized cosine and emit survivors.

    Bit-parity contract with the expression form
    ``cos = int_dot(a_q, b_q) / nullif(sqrt(a_n) * sqrt(b_n), 0)`` and
    with the pre-r12 join form (pinned by
    test_lsh_arrow_verify_matches_expression_form):

    - the dot is an exact int64 product-sum; numpy int64 matmul wraps on
      overflow exactly like the JVM long;
    - int64 -> float64 widening, sqrt, multiply, divide are IEEE-754
      double ops in both engines — identical bits;
    - members with a NULL id are dropped (the join form's inner join on
      the id never matched them);
    - members with a NULL v_q / v_n or a NULL vector ELEMENT are dropped
      (zip_with/aggregate propagate the null into the cosine, and a
      null cosine never passes the >= threshold filter);
    - pairs of members with UNEQUAL vector lengths are dropped (zip_with
      null-pads the shorter side -> null cosine), so dots are computed
      per equal-length class;
    - a zero (or NaN-producing negative-wrapped) denominator is dropped
      (nullif -> null / NaN >= t is false);
    - members sort by id first, so every emitted pair has id_a < id_b —
      the canonical orientation least/greatest produced.
    """

    def verify(batches):
        import numpy as np
        import pyarrow as pa

        def _id_values(arr):
            """ids as a numpy array safe to index for VALID members only
            (invalid ones are masked out via ``bad``): typed null-fill
            keeps int64 exact (bare to_numpy would degrade an int column
            WITH nulls to float64, corrupting ids past 2^53); object
            fallback for any other id type."""
            t = arr.type
            if pa.types.is_integer(t):
                return arr.fill_null(0).to_numpy(zero_copy_only=False)
            if pa.types.is_string(t) or pa.types.is_large_string(t):
                return arr.fill_null("").to_numpy(zero_copy_only=False)
            return np.array(arr.to_pylist(), dtype=object)

        for rb in batches:
            lst = rb.column(0)
            offs = lst.offsets.to_numpy().astype(np.int64)
            members = lst.values
            ids_a = members.field("v_id")
            qs = members.field("v_q")
            ns = members.field("v_n")
            n_members = len(members)
            if n_members == 0:
                continue
            bad = np.zeros(n_members, dtype=bool)
            for arr in (ids_a, qs, ns):
                if arr.null_count:
                    bad |= arr.is_null().to_numpy(zero_copy_only=False)
            qoffs = qs.offsets.to_numpy().astype(np.int64)
            qvals = qs.values
            if qvals.null_count:
                # member has a null ELEMENT iff its slice of the child
                # validity map contains one
                elem_null = qvals.is_null().to_numpy(zero_copy_only=False)
                cum = np.concatenate(
                    ([0], np.cumsum(elem_null, dtype=np.int64))
                )
                bad |= (cum[qoffs[1:]] - cum[qoffs[:-1]]) > 0
                qvals_np = qvals.fill_null(0).to_numpy(
                    zero_copy_only=False
                ).astype(np.int64, copy=False)
            else:
                qvals_np = qvals.to_numpy(zero_copy_only=False).astype(
                    np.int64, copy=False
                )
            ids_np = _id_values(ids_a)
            ns_np = (
                ns.fill_null(0)
                .to_numpy(zero_copy_only=False)
                .astype(np.int64, copy=False)
            )
            lens = qoffs[1:] - qoffs[:-1]
            out_a, out_b, out_c = [], [], []
            for r in range(len(lst)):
                lo, hi = offs[r], offs[r + 1]
                sel = np.arange(lo, hi)
                if bad[lo:hi].any():
                    sel = sel[~bad[lo:hi]]
                if len(sel) < 2:
                    continue
                # canonical orientation: ascending id
                sel = sel[np.argsort(ids_np[sel], kind="stable")]
                for ln in np.unique(lens[sel]):
                    cls = sel[lens[sel] == ln]
                    k = len(cls)
                    if k < 2:
                        continue
                    g = qvals_np[qoffs[cls][:, None] + np.arange(ln)]
                    dots = g @ g.T
                    sq = np.sqrt(ns_np[cls].astype(np.float64))
                    iu, ju = np.triu_indices(k, 1)
                    denom = sq[iu] * sq[ju]
                    with np.errstate(divide="ignore", invalid="ignore"):
                        cos = dots[iu, ju].astype(np.float64) / denom
                        keep = (denom != 0) & (cos >= threshold)
                    if keep.any():
                        out_a.append(ids_np[cls][iu[keep]])
                        out_b.append(ids_np[cls][ju[keep]])
                        out_c.append(cos[keep])
            if out_a:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.concatenate(out_a), ids_a.type),
                        pa.array(np.concatenate(out_b), ids_a.type),
                        pa.array(np.concatenate(out_c), pa.float64()),
                    ],
                    names=["id_a", "id_b", "cos_sim"],
                )

    return verify


def lsh_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    num_tables: int = 64,
    planes_per_table: int | None = None,
    dim: int = 64,
    max_bucket: int = 1000,
    num_planes: int | None = None,
    corpus_size: int | None = None,
) -> DataFrame:
    """Approximate near-dup pairs via multi-table hyperplane LSH.

    Recall for a pair at angle theta is ``1 - (1 - p^b)^L`` with
    ``p = 1 - theta/pi``: one table of b planes has near-zero recall at low
    thresholds (the round-2 failure — 8 planes => ~3% at cos 0.45), so we
    band b-plane signatures across L independent tables, exactly like
    MinHash-LSH bands.  By default b is derived from the threshold via
    ``lsh_planes_for_recall`` (>=95% expected recall at the boundary):
    cos 0.4-0.45 with L=64 => b=6 (expected ~0.985).  Banding depth must
    track the threshold — at a production dedup threshold (cos 0.9,
    p=0.85) the derivation picks a much deeper b, collapsing candidates
    to a tiny fraction of pairs per table while keeping >=95% recall.

    Scale shape: the bucket explode carries (table, bucket, id) only —
    never vectors; per-(table, bucket) membership above ``max_bucket`` is
    dropped BEFORE pair expansion (hot-bucket guard — a degenerate bucket
    at 100 TB is otherwise one quadratic key), which also bounds the
    in-row pair array to max_bucket^2/2 structs (~8 MB at the default
    1000) — the cap is a memory guard for the expansion, not just a skew
    guard, so keep it in the low thousands; candidate id-pairs are
    deduped across tables BEFORE vectors are re-joined for the exact
    integer-cosine verification, so each surviving pair costs one dot.
    """
    if num_planes is not None:  # pre-r3 signature compatibility
        planes_per_table = num_planes
    if planes_per_table is None:
        if corpus_size is not None:
            # corpus-size-aware banding (r11): keep chance bucket
            # occupancy ~constant as n grows, buy the recall back with
            # tables — see lsh_scaled_banding for the measured failure
            # mode this prevents
            planes_per_table, num_tables = lsh_scaled_banding(
                threshold, corpus_size, num_tables
            )
        else:
            planes_per_table = lsh_planes_for_recall(threshold, num_tables)
    if planes_per_table == 0:
        # exhaustive configuration: zero hyperplanes put every vector in
        # the single bucket of one table, so candidates = all pairs and
        # recall is 1 BY CONSTRUCTION — the exactness limit of the
        # banding recall formula (p^0 = 1).  Validation-only (the bucket
        # posting list is the whole corpus: size max_bucket accordingly
        # and keep the input bounded); it certifies the full LSH pipeline
        # (posting lists, in-row pair expansion, quantized-cosine verify)
        # against the brute-force oracle.
        ids = quantized(df, id_col, vec_col, "v").select(
            "v_id",
            "v_q",
            "v_n",
            F.lit(0).alias("t"),
            F.lit(0).alias("bucket"),
        )
    else:
        bucket_of = _bucket_tables_udf(num_tables, planes_per_table, dim)
        # quantize + posexplode in ONE pipeline — no join back to the
        # vector table; the generator replicates the quantized payload
        # per (t, bucket) row, so the payload must be built UNSAFE
        # (qvec_fixed_sql) or every replica pays a boxed-array
        # conversion.  Two selects keep the norm from inlining 2 x dim
        # copies of the array construction (CollapseProject leaves
        # multiply-referenced non-cheap aliases alone).
        ids = df.select(
            F.col(id_col).alias("v_id"),
            F.col(vec_col).alias("_v"),
            F.expr(qvec_fixed_sql(f"`{vec_col}`", dim)).alias("v_q"),
        ).select(
            "v_id",
            "v_q",
            F.expr(norm_sq_from_q_sql("v_q", dim)).alias("v_n"),
            F.posexplode(bucket_of(F.col("_v"))).alias("t", "bucket"),
        )
    # bucket membership lists from ONE groupBy, with the QUANTIZED
    # VECTOR riding the posting list; pairs expand AND VERIFY in-row —
    # no bucket self-join, no candidate-stream shuffle, no vector
    # re-join.  The max_bucket cap is a size filter on the list
    # (hot-bucket OOM/skew guard: a degenerate bucket at 100 TB
    # otherwise becomes one quadratic key) and bounds the in-row pair
    # array.
    #
    # WHY vectors ride the posting lists (r12, guide §8): the prior form
    # expanded (id_a, id_b) candidates, deduped them across tables with
    # a full pair-stream exchange, then joined vectors back per pair.
    # The sf1 profile caught the static planner BROADCASTING the
    # 56M-pair candidate aggregate (~900 MB through the driver —
    # Catalyst's size estimate for a post-explode aggregate is
    # garbage-small, the bug class ngram_jaccard_pairs pinned in
    # ROUND10_NOTES §15), and the honest any-scale repair (shuffle_hash
    # vector joins) has to ship the vector payload ON the candidate
    # stream between the two joins — C x payload bytes.  Carrying
    # vectors in the bucket shuffle costs n x L x payload instead, and
    # lsh_scaled_banding holds occupancy ~constant, so the candidate
    # stream is ~(occupancy/2)x the bucket stream (sf1 measured: 2.9M
    # bucket rows vs 56M+ candidate occurrences) — the heavy bytes move
    # ONCE, in the smaller stream, and the only pair-keyed exchange left
    # is the OUTPUT-sized distinct after the threshold filter.
    # Cross-table duplicate candidates are verified redundantly (sf1
    # dup factor 1.38) instead of deduped first; duplicate (id_a, id_b,
    # cos_sim) rows collapse in the final distinct because the quantized
    # cosine is a pure function of the two int vectors — identical row
    # set, pinned by test_lsh_pair_rows_identical_to_join_form.
    grp = (
        ids.groupBy("t", "bucket")
        .agg(F.collect_list(F.struct("v_id", "v_q", "v_n")).alias("ms"))
        .filter((F.size("ms") >= 2) & (F.size("ms") <= max_bucket))
        .select("ms")
    )
    # per-bucket verification in ONE vectorized numpy kernel (guide
    # §4.2): the expression form evaluates an interpreted
    # aggregate(zip_with(...)) per pair (~10 us each; 778 CPU-s of the
    # 973 at the sf1 profile), where an exact int64 G @ G.T per bucket
    # does the same multiplies in C.  Bit-parity with the expression
    # form is pinned by test_lsh_arrow_verify_matches_expression_form
    # (null vectors, null elements, zero norms, mixed dims, overflow
    # wrap-around — int64 matmul wraps exactly like the JVM long).
    id_dt = df.schema[id_col].dataType.simpleString()
    out = grp.mapInArrow(
        _bucket_pair_verify(threshold),
        f"id_a {id_dt}, id_b {id_dt}, cos_sim double",
    )
    return out.distinct()


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the coarse-quantizer scale path
# ---------------------------------------------------------------------------


def spherical_kmeans(x, k: int, iters: int):
    """Driver-side spherical k-means over a raw sample matrix: zero-norm
    rows guarded, deterministic init (first k rows of the caller's
    md5-ordered sample), empty clusters keep their centroid.  Returns
    (unit_centroids, normalized_sample) — the ONE trainer ivf_assign and
    pq.semantic_model_train share, so their numerics can never diverge
    (both feed exactness certificates)."""
    import numpy as np

    norms = np.linalg.norm(x, axis=1)
    norms[norms == 0] = 1.0
    xn = x / norms[:, None]
    k = min(k, len(xn))
    cent = xn[:k].copy()
    for _ in range(iters):
        assign = (xn @ cent.T).argmax(axis=1)
        for ci in range(k):
            pts = xn[assign == ci]
            if len(pts):
                v = pts.sum(axis=0)
                n = np.linalg.norm(v)
                if n > 0:
                    cent[ci] = v / n
    return cent, xn


def ivf_centroids(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    kmeans_iters: int = 10,
    sample: int = 4096,
) -> DataFrame:
    """The IVF coarse quantizer: (list_id, c_vec).

    Centroids start as ``n_lists`` corpus vectors chosen deterministically
    by md5(id) order, then (``kmeans_iters`` > 0, the default) refine with
    spherical k-means Lloyd rounds over a driver-side md5-ordered sample —
    training is O(sample), never O(corpus), the pq_train pattern.
    ``kmeans_iters=0`` reproduces the r9 raw-corpus-vector quantizer
    exactly (lazy, empty-tolerant)."""
    return _ivf_centroids_impl(
        df, id_col, vec_col, n_lists, kmeans_iters, sample
    )[0]


def ivf_centroids_with_rows(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    kmeans_iters: int = 10,
    sample: int = 4096,
    with_vec: bool = False,
) -> tuple:
    """``(centroids_df, cq_rows)`` in one call.  On the k-means path the
    centroid matrix is ALREADY driver-resident, so the quantized rows are
    computed right there (``driver_centroid_rows`` — bit-identical to the
    ``_qvec`` expressions, pinned by
    test_driver_centroid_rows_bit_identical) instead of round-tripping
    them through a createDataFrame -> collect job (r12 profile: ~0.5 s
    of pure overhead per ANN query construction).  The
    ``kmeans_iters=0`` fallback path still derives the rows through
    Spark (its centroids never exist driver-side)."""
    cdf, cent = _ivf_centroids_impl(
        df, id_col, vec_col, n_lists, kmeans_iters, sample
    )
    if cent is None:
        return cdf, quantized_centroid_rows(cdf, with_vec)
    return cdf, driver_centroid_rows(cent, with_vec)


def _ivf_centroids_impl(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_lists: int,
    kmeans_iters: int,
    sample: int,
) -> tuple:
    """(centroids DataFrame, driver-side centroid matrix | None)."""
    rows = []
    if kmeans_iters > 0:
        import numpy as np

        rows = (
            df.select(
                F.col(vec_col).alias("v"),
                F.md5(F.col(id_col).cast("string")).alias("h"),
            )
            .filter(F.col("v").isNotNull())  # NULL vectors can't train
            .orderBy("h")
            .limit(max(sample, n_lists))
            .collect()
        )
    if rows:
        import numpy as np

        cent, _xn = spherical_kmeans(
            np.asarray([r.v for r in rows], np.float64),
            n_lists,
            kmeans_iters,
        )
        # pandas in => Arrow LocalTableScan: a plain list of tuples plans
        # as an RDD-backed Scan ExistingRDD whose every consumer stage
        # fans the n_lists rows across defaultParallelism PYTHON tasks
        # (r12 profile: ~10 CPU-s of worker spin per ANN construction)
        return (
            df.sparkSession.createDataFrame(
                pd.DataFrame(
                    {
                        "list_id": list(range(len(cent))),
                        "c_vec": [
                            [float(val) for val in cent[i]]
                            for i in range(len(cent))
                        ],
                    }
                ),
                "list_id INT, c_vec ARRAY<DOUBLE>",
            ),
            cent,
        )
    # kmeans_iters=0, an all-NULL corpus, or an empty one: the r9
    # raw-corpus-vector quantizer (lazy, empty-tolerant)
    centroids = (
        df.select(
            F.col(id_col).alias("c_src"),
            F.col(vec_col).alias("c_vec"),
            F.md5(F.col(id_col).cast("string")).alias("h"),
        )
        .orderBy("h")
        .limit(n_lists)
        .drop("h")
    )
    return (
        centroids.withColumn(
            "list_id", F.row_number().over(Window.orderBy("c_src")) - 1
        ).select("list_id", "c_vec"),
        None,
    )


def quantized_centroid_rows(centroids: DataFrame, with_vec: bool = False) -> list:
    """Collect the quantized centroid rows (list_id, c_q, c_n[, c_vec]),
    sorted by list_id — n_lists rows, tiny by contract, ONE job (a
    LocalTableScan on the k-means path).  The quantized values come from
    the same Spark expressions every pairwise path uses, so in-row
    assignment against these literals is bit-identical to the old
    broadcast-join formulation."""
    cols = [
        F.col("list_id"),
        _qvec("c_vec").alias("c_q"),
        quantized_norm_sq("c_vec").alias("c_n"),
    ]
    if with_vec:
        cols.append(F.col("c_vec"))
    return sorted(centroids.select(*cols).collect(), key=lambda r: r.list_id)


def driver_centroid_rows(cent, with_vec: bool = False) -> list:
    """``quantized_centroid_rows`` computed on the DRIVER from an
    already-resident centroid matrix — no createDataFrame -> collect
    round trip.  Bit-identical to the Spark expressions for arbitrary
    doubles: Spark's ``round(x, 0)`` on a double goes through
    BigDecimal.valueOf (the SHORTEST-repr decimal of the double, not its
    exact binary expansion) with HALF_UP, which
    ``Decimal(repr(x)).quantize(0, ROUND_HALF_UP)`` reproduces exactly —
    verified over 47k adversarial values including the n+0.5
    representability band, and pinned by
    test_driver_centroid_rows_bit_identical.  NaN/Inf elements quantize
    to NULL like the Spark cast, and a NULL element nulls the norm like
    the aggregate."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from pyspark.sql import Row

    out = []
    for i in range(len(cent)):
        vec = [float(v) for v in cent[i]]
        cq: list = []
        for v in vec:
            y = v * Q
            if math.isnan(y) or math.isinf(y):
                cq.append(None)
            else:
                cq.append(
                    int(
                        Decimal(repr(y)).quantize(
                            Decimal(1), rounding=ROUND_HALF_UP
                        )
                    )
                )
        cn = (
            None
            if any(q is None for q in cq)
            else sum(q * q for q in cq)
        )
        d = {"list_id": i, "c_q": cq, "c_n": cn}
        if with_vec:
            d["c_vec"] = vec
        out.append(Row(**d))
    return out


def ivf_assign_col(cq_rows: list, vec: Column) -> Column:
    """IN-ROW nearest-centroid assignment of a raw vector column: argmax
    quantized cosine over the collected centroids, ties to the LOWEST
    list_id.  Returns an int list_id column.

    Replaces the r9 cross-join + row_number formulation: that plan
    exploded the corpus into |corpus| x n_lists rows and shuffled them
    through a per-vector window — at 100 TB, a corpus-sized exchange
    whose only output is one int per row.  This form is a map-only
    Arrow-batched pandas UDF (the centroid matrix rides the closure):
    ZERO exchanges, and downstream consumers get list_id as a column on
    the scan itself, so the old assignments-join onto base disappears
    too.  (A pure-expression formulation — transform/aggregate over a
    centroid struct literal — was tried first and measured 3x SLOWER
    end-to-end than the join it replaced: Catalyst evaluates
    higher-order lambdas per element interpreted, n_lists x dim ops per
    row.  The numpy kernel does one int64 matmul per Arrow batch.)

    Numerics are bit-identical to the window form for FLOAT32-SOURCED
    vectors (the embedding column type): a float32 widened to double and
    scaled by Q=1e6 has an exact <=38-bit significand, which can never
    land in the band where floor(|x|+0.5) differs from Spark's
    BigDecimal-HALF_UP ROUND (a double like 0.49999999999999994 rounds
    up here, down there — impossible to produce from float32*1e6).  Dots
    are exact int64, cosines the same IEEE doubles, and np.argmax keeps
    the FIRST maximum — the window's list_id-ASC tie-break over
    ascending lists.  Arbitrary array<double> inputs that land exactly
    on that representability band are the one place this kernel may
    quantize 1-off from _qvec — use the window form if that ever
    matters.

    Degenerate-input contract (each deterministic, none an error):
    a NULL vector lands on list 0 (both forms); a vector containing a
    NULL/NaN element lands on list 0 (the window form's all-NULL-cosine
    outcome); a ZERO-NORM vector lands on list 0; a zero-norm CENTROID
    (NaN cosine against everything) ranks LAST, like the window form's
    NULL-cosine ranking, and is only chosen when no finite cosine
    exists — the ANSI window form instead raises DIVIDE_BY_ZERO on
    either zero-norm side (this kernel degrades gracefully where the
    old plan crashed)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    real = [r for r in cq_rows if r.c_q is not None and r.c_n is not None]
    cq_mat = np.asarray([list(r.c_q) for r in real], np.int64) if real else None
    c_n = np.asarray([r.c_n for r in real], np.float64) if real else None
    lids = np.asarray([r.list_id for r in real], np.int32) if real else None
    fallback = int(cq_rows[0].list_id) if cq_rows else None

    @pandas_udf("int")
    def _assign(s: pd.Series) -> pd.Series:
        n = len(s)
        if fallback is None:  # no centroids at all (empty corpus)
            return pd.Series([None] * n, dtype="Int32")
        res = np.full(n, fallback, np.int64)  # NULL vector -> lowest list
        mask = s.notna().to_numpy()
        if cq_mat is not None and mask.any():
            res[mask] = _assign_matrix(
                np.asarray(list(s[mask]), np.float64),
                cq_mat,
                c_n,
                lids,
                fallback,
            )
        return pd.Series(res, dtype="int32")

    return _assign(vec)


def _assign_matrix(xraw, cq_mat, c_n, lids, fallback):
    """The ivf_assign_col kernel on a plain (n, d) float64 matrix —
    shared by the Arrow UDF (per batch) and driver-side callers that
    already hold the vectors (the PQ training sample), so both produce
    the SAME list_ids from the same bytes.  See ivf_assign_col for the
    numerics and the degenerate-input contract."""
    x = xraw * Q
    # a NULL/NaN ELEMENT inside a vector would pass through
    # .astype(int64) as undefined garbage (INT64_MIN) and wrap
    # the dot products — route those rows to the NULL-vector
    # outcome (list 0) instead, the window form's
    # all-NULL-cosine result
    finite = np.isfinite(x).all(axis=1)
    x[~finite] = 0.0
    qv = (np.sign(x) * np.floor(np.abs(x) + 0.5)).astype(np.int64)
    vn = (qv * qv).sum(axis=1)  # exact int64: 64 * Q^2 << 2^63
    dots = qv @ cq_mat.T
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = dots / (
            np.sqrt(vn.astype(np.float64))[:, None] * np.sqrt(c_n)[None, :]
        )
    # a zero-norm CENTROID yields a NaN cosine for every vector;
    # raw np.argmax would let that NaN column win for the whole
    # corpus.  Rank non-finite cosines LAST (the window form's
    # NULL-cosine ordering): chosen only when nothing finite is
    np.copyto(cos, -np.inf, where=~np.isfinite(cos))
    best = lids[np.argmax(cos, axis=1)].astype(np.int64)
    best[vn == 0] = fallback  # zero-norm vector: list 0
    best[~finite] = fallback  # NULL/NaN element: list 0
    return best


def assign_rows_ndarray(x: "np.ndarray", cq_rows: list) -> "np.ndarray":
    """Driver-side nearest-list assignment of an already-collected
    float64 vector matrix, bit-identical to mapping ``ivf_assign_col``
    over the same rows (same kernel, same centroid literals).  Lets a
    caller that must collect the vectors anyway (the md5-ordered PQ
    training sample) skip the extra Spark job + Arrow crossing the
    column form would cost."""
    real = [r for r in cq_rows if r.c_q is not None and r.c_n is not None]
    fallback = int(cq_rows[0].list_id) if cq_rows else None
    if fallback is None:
        raise ValueError("no centroids")
    if not real or not len(x):
        return np.full(len(x), fallback, np.int64)
    return _assign_matrix(
        np.asarray(x, np.float64),
        np.asarray([list(r.c_q) for r in real], np.int64),
        np.asarray([r.c_n for r in real], np.float64),
        np.asarray([r.list_id for r in real], np.int32),
        fallback,
    )


def ivf_assign(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    kmeans_iters: int = 10,
    sample: int = 4096,
) -> tuple[DataFrame, DataFrame]:
    """Build an IVF index: (assignments, centroids).

    See ivf_centroids for the quantizer recipe.  Assignment is the
    in-row argmax of ivf_assign_col — a map-only plan (no join, no
    window shuffle); decisions are bit-identical to the r9 broadcast-
    join + window form (same quantized-cosine doubles, same tie-break).
    Returns (assignments(id, list_id), centroids(list_id, c_vec)).
    """
    c, cq_rows = ivf_centroids_with_rows(
        df, id_col, vec_col, n_lists, kmeans_iters, sample
    )
    assignments = df.select(
        F.col(id_col),
        ivf_assign_col(cq_rows, F.col(vec_col)).alias("list_id"),
    )
    return assignments, c


def driver_probe_lists(qq, qn, cq_rows: list, n_probe: int) -> list:
    """The n_probe nearest lists for ONE already-collected quantized
    query — the driver-side twin of ivf_probes, used where the queries
    are collected anyway (ivfpq_topk) so probe selection costs zero
    Spark jobs.  Exact integer dots over python ints and IEEE-double
    cosines reproduce ivf_probes' window order bit-for-bit: cos DESC,
    NULL cosines last, ties to the lowest list_id.  A ZERO-NORM side
    (query or centroid) also ranks that cosine last — deterministic
    where the ANSI window form raises DIVIDE_BY_ZERO (the same
    graceful-degradation contract as ivf_assign_col)."""
    import math

    if qq is None:  # NULL query vector: all cosines NULL -> first lists
        return [int(r.list_id) for r in cq_rows[:n_probe]]
    keyed = []
    for r in cq_rows:
        if r.c_q is None or r.c_n is None:
            group, val = 1, 0.0  # NULL cosine: after every real one
        else:
            dot = sum(a * b for a, b in zip(qq, r.c_q))
            den = math.sqrt(qn) * math.sqrt(r.c_n)
            if den == 0.0:  # zero-norm side: rank last, like NULL
                group, val = 1, 0.0
            else:
                group, val = 0, -(dot / den)
        keyed.append(((group, val, int(r.list_id)), int(r.list_id)))
    keyed.sort(key=lambda t: t[0])
    return [lid for _, lid in keyed[:n_probe]]


def ivf_probes(
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 4,
) -> DataFrame:
    """Each query's ``n_probe`` nearest IVF lists: (query_id, query_q,
    query_n, list_id) — centroids broadcast, one row_number window over
    |queries| x n_lists rows.  Shared by ivf_topk and the IVF-PQ
    composition (llmops/pq.py)."""
    q = quantized(queries, id_col, vec_col, "query")
    cq = centroids.select(
        "list_id",
        _qvec("c_vec").alias("c_q"),
        quantized_norm_sq("c_vec").alias("c_n"),
    )
    q_probe = q.join(F.broadcast(cq)).select(
        "query_id",
        "query_q",
        "query_n",
        "list_id",
        F.expr(
            cos_cols_sql("query_q", "c_q", "query_n", "c_n")
        ).alias("c_cos"),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("c_cos").desc(), F.col("list_id").asc()
    )
    return (
        q_probe.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= n_probe)
        .select("query_id", "query_q", "query_n", "list_id")
    )


def ivf_topk(
    base: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_lists: int = 64,
    n_probe: int = 24,
    kmeans_iters: int = 10,
    sample: int = 4096,
) -> DataFrame:
    """ANN top-k via IVF: each query scores the centroids, probes its
    ``n_probe`` nearest lists, and searches only those lists exactly.

    Defaults (n_probe=24/64, spherical-k-means centroids) come from the
    r10 measured recall table (ROUND10_NOTES.md): recall@10 >= 0.85 at a
    0.38 scan fraction on the UNIFORM-sphere synthetic corpus — the
    adversarial geometry for coarse routing (top-10 neighbors sit at cos
    0.31-0.41, barely above the pairwise background).  Clustered
    real-world embedding corpora concentrate neighbors into far fewer
    lists (the 10x near-dup-structured rehearsal corpus's measured
    numbers are in the same table).  Tune n_probe down when the corpus
    is clustered, up toward this default when it is not.

    At 100 TB the assignments table is written partitioned by list_id, so a
    probe reads n_probe/n_lists of the corpus — the scan shrinks by the
    probe ratio while recall stays tunable.
    """
    centroids, cq_rows = ivf_centroids_with_rows(
        base, id_col, vec_col, n_lists, kmeans_iters, sample
    )
    # list_id computed IN-ROW on the quantized scan itself: the r9 plan
    # joined the corpus against a separately-derived assignments frame —
    # a corpus-sized self-join whose only payload was one int per row
    listed = base.select(
        F.col(id_col).alias("neighbor_id"),
        _qvec(f"`{vec_col}`").alias("neighbor_q"),
        quantized_norm_sq(f"`{vec_col}`").alias("neighbor_n"),
        ivf_assign_col(cq_rows, F.col(vec_col)).alias("list_id"),
    )

    probes = ivf_probes(queries, centroids, id_col, vec_col, n_probe)

    scored = probes.join(listed, "list_id").filter(
        F.col("query_id") != F.col("neighbor_id")
    ).select(
        "query_id",
        "neighbor_id",
        F.expr(
            cos_cols_sql("query_q", "neighbor_q", "query_n", "neighbor_n")
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def ivf_write_layout(
    base: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    kmeans_iters: int = 10,
    sample: int = 4096,
) -> DataFrame:
    """Materialize the IVF index as a ``list_id``-PARTITIONED parquet
    layout — the serving form the ivf_topk docstring promises at 100 TB:
    assignment is a free in-row column on the encode scan
    (``ivf_assign_col``), the only wide op is the partition-by-list
    write, and a probe afterwards reads n_probe/n_lists of the corpus as
    a PARTITION-PRUNED scan (directory-level pruning, before any row or
    row-group is touched — the vector twin of zorder_box_query's layout
    argument).  Returns the centroids frame the caller must keep (or
    persist) for probe-time routing — probes computed against any other
    quantizer would silently search the wrong lists.
    """
    centroids, cq_rows = ivf_centroids_with_rows(
        base, id_col, vec_col, n_lists, kmeans_iters, sample
    )
    listed = base.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("embedding"),
        ivf_assign_col(cq_rows, F.col(vec_col)).alias("list_id"),
    )
    listed.write.mode("overwrite").partitionBy("list_id").parquet(path)
    return centroids


def ivf_layout_topk(
    spark,
    path: str,
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_probe: int = 4,
) -> DataFrame:
    """ANN top-k served off an ``ivf_write_layout`` table: the queries'
    probe lists collect to the driver (<= n_lists values, bounded) and
    prune the scan as a partition-column IN filter — only the probed
    list directories are read.  Scoring/rank mechanics are bit-identical
    to the in-memory ``ivf_topk`` given the same centroids (float arrays
    round-trip parquet exactly and the assignment was computed at write
    time with the same kernel) — test-pinned.
    """
    # Collect the probe frame ONCE (n_queries x n_probe rows, bounded by
    # contract) and rebuild it as a local table: the r10 form collected
    # list_ids for the partition filter and then JOINED the same probes
    # frame, executing the probe lineage (centroid join + window) twice
    # per query run (ADVICE r10).  The local rebuild also gives an
    # explicit empty short-circuit instead of leaning on isin([]).
    probes = ivf_probes(queries, centroids, id_col, vec_col, n_probe)
    probe_schema = probes.schema
    probe_rows = probes.collect()
    # pandas in => Arrow LocalTableScan (not an RDD-backed frame whose
    # consumer stages each pay defaultParallelism Python-worker tasks)
    probes = spark.createDataFrame(
        pd.DataFrame(
            {
                f: [r[f] for r in probe_rows]
                for f in probe_schema.fieldNames()
            }
        ),
        probe_schema,
    )
    probe_lists = sorted({int(r.list_id) for r in probe_rows})
    # footer-tax-free layout read (immutable until rewritten;
    # fingerprint-keyed cache in io.read_parquet_cached)
    idx = read_parquet_cached(spark, path)
    idx = (
        idx.filter(F.col("list_id").isin(probe_lists))
        if probe_lists
        else idx.filter(F.lit(False))
    )
    listed = idx.select(
        "neighbor_id",
        _qvec("embedding").alias("neighbor_q"),
        quantized_norm_sq("embedding").alias("neighbor_n"),
        "list_id",
    )
    scored = probes.join(listed, "list_id").filter(
        F.col("query_id") != F.col("neighbor_id")
    ).select(
        "query_id",
        "neighbor_id",
        F.expr(
            cos_cols_sql("query_q", "neighbor_q", "query_n", "neighbor_n")
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )
