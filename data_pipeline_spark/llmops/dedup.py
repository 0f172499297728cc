"""Document deduplication: exact, n-gram Jaccard, MinHash-LSH, SimHash.

Scale design (the whole point of these operators):

- exact dedup: one groupBy on md5(text) — shuffle carries (hash, id), never
  the text.
- n-gram Jaccard: the quadratic pair space is never materialized; candidate
  pairs come from an inverted shingle index (join on shingle), so cost is
  sum over shingles of |docs|^2 *within a shingle bucket* — linear-ish for
  natural corpora.
- MinHash-LSH: k md5-derived hash functions -> per-band bucket keys -> pairs
  only within identical buckets.  At 100 TB the posting-list groupBy is the
  only shuffle and its keys are uniformly distributed by construction.
- SimHash: 32-bit signature per doc from token-hash bit votes; one scan +
  one groupBy(doc), then near-dup = signatures within Hamming distance k,
  candidates from the same capped posting-list expansion as the rest of
  the family (`_capped_bucket_pairs` — no bucket self-join anywhere).

Every hash is md5-based so a SQL oracle reproduces results exactly.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_pipeline_spark.llmops.textstats import token_count, tokens


def exact_dup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """md5-keyed exact-duplicate groups: (doc_md5, n_copies, keeper_id).
    Shuffle payload is (hash, id) only — the text never moves."""
    return (
        df.select(F.md5(F.col(text_col)).alias("doc_md5"), F.col(id_col))
        .groupBy("doc_md5")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min(id_col).alias("keeper_id"),
        )
    )


def shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, distinct: bool = True
) -> DataFrame:
    """(id, shingle) pairs: word n-grams built with array ops INSIDE the row
    (zip_with over shifted slices — linear per document, see
    textstats.word_ngrams), then exploded — zero shuffle, unlike the
    posexplode + window-lead formulation which shuffles every token on
    (id).  Same shingle set, so oracle parity is unaffected.  r6: the
    per-element-slice transform was quadratic per doc; the zip_with form
    measured 1.8 s -> 0.8 s at sf0.1 with identical output, and the gap
    grows with document length."""
    from data_pipeline_spark.llmops.textstats import tokens_sql, word_ngrams_sql

    # SQL-text construction (r12 opt): one F.expr parse instead of the
    # n-1 zip_with lambda roundtrips — identical analyzed tree (pinned
    # by test_word_ngrams_sql_twin_bit_identical)
    out = df.select(
        F.col(id_col),
        F.explode(
            F.expr(word_ngrams_sql(tokens_sql(f"`{text_col}`"), n))
        ).alias("shingle"),
    )
    return out.distinct() if distinct else out


# In-row unordered-pair expansion over an `ids` posting list, as ONE parsed
# expression (r12 opt — the nested-lambda DSL form cost ~6 py4j-heavy HOF
# constructions per call; named_struct is what F.struct(alias...) builds, so
# the analyzed tree is identical, pinned by
# test_pair_structs_sql_twin_bit_identical):
_PAIR_STRUCTS_SQL = (
    "flatten(transform(ids, (_px, _pi) -> "
    "transform(slice(ids, _pi + 2, size(ids)), "
    "_py -> named_struct('id_a', least(_px, _py), "
    "'id_b', greatest(_px, _py)))))"
)

# The struct-membered twin (r13): posting lists whose members are
# (id, nd) structs.  Struct ordering compares fields left-to-right and
# member ids are distinct within a posting set, so least/greatest orient
# the pair by id exactly as the plain form does.
_PAIR_MEMBER_STRUCTS_SQL = (
    "flatten(transform(ids, (_px, _pi) -> "
    "transform(slice(ids, _pi + 2, size(ids)), "
    "_py -> named_struct('a', least(_px, _py), "
    "'b', greatest(_px, _py)))))"
)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_df: int = 1000,
    cache: bool = True,
) -> DataFrame:
    """Near-duplicate pairs by n-gram shingle-set Jaccard >= threshold.

    Similarity is computed over the DF-FILTERED shingle space: shingles
    appearing in more than ``max_df`` documents are excluded from both the
    intersection and the set sizes (the shingle analogue of IR stopword
    removal — a boilerplate shingle carries no near-dup signal).  Wherever
    no shingle exceeds the cap this is bit-identical to plain Jaccard (the
    oracle regime); integer counts => the double division is reproducible
    bit-for-bit.

    Scale shape: posting lists come from ONE map-side-combined groupBy —
    ``collect_set`` fuses the per-doc shingle dedup into the posting-list
    build, so the corpus shingle stream crosses the network once (the
    pre-r12 ``shingles(distinct=True)`` + ``collect_list`` form paid a
    second, (id, shingle)-keyed exchange of the same stream just to
    dedup it first) — and pairs are expanded IN-ROW with higher-order
    functions — there is no
    shingle self-join, so no single join key ever goes quadratic.  A
    shingle in k docs costs k^2/2 in-row pairs, bounded by max_df^2/2
    (~8 MB peak per row at the default 1000 — the cap is also the
    expansion's memory guard, keep it in the low thousands); uncapped
    (the pre-r5 shape), one "terms of service" shingle shared by a
    million docs is half a trillion rows.

    Per-doc set sizes RIDE the posting members (r13): each posting entry
    is an (id, nd) struct where nd = the doc's in-row distinct-shingle
    count, so candidate pairs come out of the in-row expansion already
    carrying both raw sizes — the per-doc sizes table (one more full
    posting explode + id-keyed exchange, cached because two join
    branches read it) is GONE.  The df-filtered size the Jaccard needs
    is nd minus the doc's OVERFLOW count (its shingles with df >
    max_df); that correction frame is built by exploding only the
    overflow postings (empty wherever no shingle exceeds the cap — the
    oracle regime) and left-joins the candidates with shuffle_hash
    hints: the build side is the overflow frame, which must never be
    assumed broadcastable (a boilerplate-heavy crawl can put most docs
    in it), and the candidate side must never broadcast (Catalyst's
    estimate for a post-explode aggregate is garbage-small — the 100x
    rehearsal measured that broadcast blowing the 1 GiB driver cap,
    ROUND10_NOTES §15).
    """
    from data_pipeline_spark.llmops.textstats import (
        tokens_sql,
        word_ngrams_sql,
    )

    grams_sql = word_ngrams_sql(tokens_sql(f"`{text_col}`"), n)
    # two selects keep the grams array from inlining into both consumers
    # (CollapseProject leaves multiply-referenced non-cheap aliases alone)
    sh = df.select(
        F.col(id_col), F.expr(grams_sql).alias("_g")
    ).select(
        F.col(id_col),
        F.size(F.array_distinct("_g")).alias("nd"),
        F.explode("_g").alias("shingle"),
    )
    posting = sh.groupBy("shingle").agg(
        F.collect_set(
            F.struct(F.col(id_col).alias("id"), F.col("nd"))
        ).alias("ids")
    )
    # posting feeds both the pair expansion and the overflow correction:
    # cache it for one-shot analytical calls, but per-trigger callers
    # (the streaming ingest gate) pass cache=False — an uncollected cache
    # entry per micro-batch grows the CacheManager for the life of the
    # stream
    if cache:
        posting = posting.cache()
    kept = posting.filter(F.size("ids") <= max_df)
    # per-doc overflow counts: how many of the doc's distinct shingles
    # were df-pruned.  n_sh(doc) = nd - overflow EXACTLY (the old sizes
    # table counted the doc's memberships in kept postings).
    ov = (
        posting.filter(F.size("ids") > max_df)
        .select(F.explode("ids").alias("m"))
        .groupBy(F.col("m.id").alias("_ov_id"))
        .agg(F.count(F.lit(1)).alias("_ov"))
    )
    inter = (
        kept.filter(F.size("ids") >= 2)
        .select(F.explode(F.expr(_PAIR_MEMBER_STRUCTS_SQL)).alias("p"))
        .groupBy("p.a", "p.b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("a.nd").alias("nd_a"),
            F.col("b.id").alias("id_b"),
            F.col("b.nd").alias("nd_b"),
            "n_inter",
        )
    )
    ova = ov.select(F.col("_ov_id").alias("id_a"), F.col("_ov").alias("_ov_a"))
    ovb = ov.select(F.col("_ov_id").alias("id_b"), F.col("_ov").alias("_ov_b"))
    n_a = F.col("nd_a").cast("long") - F.coalesce(F.col("_ov_a"), F.lit(0))
    n_b = F.col("nd_b").cast("long") - F.coalesce(F.col("_ov_b"), F.lit(0))
    return (
        inter.join(ova.hint("shuffle_hash"), "id_a", "left")
        .join(ovb.hint("shuffle_hash"), "id_b", "left")
        .withColumn(
            "jaccard",
            F.col("n_inter") / (n_a + n_b - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
) -> DataFrame:
    """Training-eval contamination flags: train docs sharing any word
    n-gram with the (small) eval set, with the count of distinct shared
    shingles — the decontamination primitive of a pretraining pipeline.

    Scale shape: the eval side is a benchmark (thousands of docs), so its
    distinct shingle set broadcasts; the corpus-side shingle stream is
    filtered map-side — no shuffle of the 100 TB side at all.  The raw
    (non-distinct) stream feeds the broadcast filter, and the per-doc
    DISTINCT-shingle count dedups only the surviving hits
    (contamination-sized), like contamination_report — a distinct before
    the filter would hash-exchange every corpus shingle (the r12 profile
    measured that exchange carrying 50x the bytes of the hit stream).
    """
    t_sh = shingles(train, id_col, text_col, n, distinct=False)
    e_sh = shingles(eval_df, id_col, text_col, n).select("shingle").distinct()
    return (
        t_sh.join(F.broadcast(e_sh), "shingle")
        .groupBy(id_col)
        .agg(F.countDistinct("shingle").alias("n_shared_shingles"))
    )


def contamination_report(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    source_col: str,
    n: int = 5,
) -> DataFrame:
    """Per-source contamination audit: for each training SOURCE, how many
    of its documents share an n-gram with the eval set, how many distinct
    eval documents are reachable from it, and the distinct shared shingle
    count — the report a pipeline reviews before deciding which sources
    need scrubbing (the matrix form of ``decontaminate``).

    Scale shape: the eval (shingle -> eval doc) map broadcasts (benchmark-
    sized); ``source`` rides the corpus shingle stream in-row (no join to
    re-attach it), the stream is filtered map-side by the broadcast, and
    the only shuffle is the groupBy(source) over the surviving hits —
    contamination-sized, not corpus-sized.  No distinct on the raw stream
    (countDistinct collapses duplicates after the filter instead).
    """
    from data_pipeline_spark.llmops.textstats import word_ngrams

    t_sh = train.select(
        F.col(id_col),
        F.col(source_col),
        F.explode(word_ngrams(tokens(text_col), n)).alias("shingle"),
    )
    e_map = (
        shingles(eval_df, id_col, text_col, n)
        .select("shingle", F.col(id_col).alias("eval_id"))
        .distinct()
    )
    hits = t_sh.join(F.broadcast(e_map), "shingle")
    return hits.groupBy(source_col).agg(
        F.countDistinct(id_col).alias("n_contaminated_docs"),
        F.countDistinct("eval_id").alias("n_eval_docs_hit"),
        F.countDistinct("shingle").alias("n_shared_shingles"),
    )


def _segments_expr(text_col: str, seg_len: int):
    """Array of a document's non-overlapping ``seg_len``-token segments
    (space-joined); empty for docs shorter than one segment."""
    toks = tokens(text_col)
    n_full = (F.size(toks) / seg_len).cast("int")
    return F.when(
        F.size(toks) >= seg_len,
        F.transform(
            F.sequence(F.lit(0), n_full - 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i * seg_len + 1, seg_len)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _counted_segments(
    df: DataFrame, id_col: str, text_col: str, seg_len: int
) -> DataFrame:
    """(id, si, seg, h, cnt) rows: every document segment with its hash and
    corpus-wide occurrence count — the shared core of the segment-dedup
    STAT (``segment_dup_stats``) and TRANSFORM (``strip_duplicated_
    segments``) so segmentation fixes can never diverge between them.
    Shuffle key is the segment hash (uniform; text rides only as far as
    the window that counts it — downstream projections prune it)."""
    from pyspark.sql import Window

    seg_rows = df.select(
        F.col(id_col), F.posexplode(_segments_expr(text_col, seg_len)).alias("si", "seg")
    ).withColumn("h", F.md5("seg"))
    cnt = F.count(F.lit(1)).over(Window.partitionBy("h"))
    return seg_rows.withColumn("cnt", cnt)


def segment_dup_stats(
    df: DataFrame, id_col: str, text_col: str, seg_len: int = 8
) -> DataFrame:
    """Corpus-wide SEGMENT-level duplication per document — the line-dedup
    primitive of CCNet/RefinedWeb-style pipelines (boilerplate detection:
    navigation bars, license headers, templated paragraphs repeat across
    documents even when whole docs don't).

    Documents split into non-overlapping ``seg_len``-token segments; a
    segment is duplicated if its hash occurs in more than one place in the
    corpus.  Returns (id, n_segments, n_dup_segments, dup_ratio).

    Scale shape: the shuffle key is the segment HASH (uniform by
    construction), counted with a hash-partitioned window, then one
    map-side-combined groupBy(doc).
    """
    return (
        _counted_segments(df, id_col, text_col, seg_len)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum((F.col("cnt") > 1).cast("long")).alias("n_dup_segments"),
        )
        .withColumn(
            "dup_ratio",
            F.col("n_dup_segments") / F.col("n_segments").cast("double"),
        )
    )


def strip_duplicated_segments(
    df: DataFrame, id_col: str, text_col: str, seg_len: int = 8, max_df: int = 1
) -> DataFrame:
    """Remove corpus-duplicated segments from every document — the
    TRANSFORM counterpart of ``segment_dup_stats`` (RefinedWeb/CCNet line
    dedup: templated lines are stripped from the text that ships to
    training, not just counted).

    A segment survives iff its corpus-wide occurrence count is <=
    ``max_df``; the sub-segment tail (final ``len % seg_len`` tokens) is
    always kept.  Returns (id, clean_md5, n_kept_segments,
    n_dropped_segments): the cleaned text ships as an md5 so document
    bodies never ride the shuffle — callers that need the text re-derive
    it map-side with the same expression.

    Scale shape: segment counting shuffles (doc, segment-hash) pairs
    under a hash-partitioned window; the rebuild is one groupBy(doc) +
    one equi-join back to the corpus for the tail — both on the doc id.
    """
    from pyspark.sql import Window

    # The TAIL rides the segment stream as one synthetic per-doc row
    # (r13): the pre-r13 form re-scanned the corpus for the tail and
    # shuffle_hash-joined it back onto the per-doc aggregate — a second
    # text scan, a join, and its exchange, all gone.  The tail row is
    # emitted UNCONDITIONALLY (so every document reaches the aggregate —
    # the old LEFT join's job), sorts last by construction (si = full
    # segment count), carries a count key no real segment can collide
    # with (md5 hex is [0-9a-f]+, '~t~<id>' is not, and it is unique per
    # doc so the count window sees a singleton partition — no hot key),
    # and is exempt from the drop rule / excluded from the segment
    # counts.  An empty tail ('' — exact-multiple docs, NULL text) is
    # filtered out of the reassembly exactly like the old
    # filter(x != '') did.  tail = the last (token_count % seg_len)
    # tokens WITHOUT materializing a second token array (r12,
    # substring_index under the split-keeps-empties contract; pinned by
    # test_strip_tail_expression_equivalence).
    cnt_sql = (
        f"(length(`{text_col}`) - length(replace(`{text_col}`, ' ', '')) + 1)"
    )
    m = f"({cnt_sql} % {seg_len})"
    tail_expr = F.expr(
        f"coalesce(CASE WHEN {m} = 0 THEN '' "
        f"ELSE substring_index(`{text_col}`, ' ', -{m}) END, '')"
    )
    si_tail = (F.expr(cnt_sql) / seg_len).cast("int")
    seg_structs = F.transform(
        _segments_expr(text_col, seg_len),
        lambda s, i: F.struct(
            i.alias("si"), s.alias("seg"), F.lit(False).alias("is_tail")
        ),
    )
    rows = df.select(
        F.col(id_col),
        F.explode(
            F.concat(
                seg_structs,
                F.array(
                    F.struct(
                        si_tail.alias("si"),
                        tail_expr.alias("seg"),
                        F.lit(True).alias("is_tail"),
                    )
                ),
            )
        ).alias("r"),
    ).select(
        id_col,
        "r.si",
        "r.seg",
        "r.is_tail",
        F.when(
            F.col("r.is_tail"),
            F.concat(F.lit("~t~"), F.col(id_col).cast("string")),
        )
        .otherwise(F.md5("r.seg"))
        .alias("h"),
    )
    marked = rows.withColumn(
        "cnt", F.count(F.lit(1)).over(Window.partitionBy("h"))
    )
    keep_row = F.col("is_tail") | (F.col("cnt") <= max_df)
    kept = marked.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.filter(
                    F.array_sort(
                        F.collect_list(
                            F.when(keep_row, F.struct("si", "seg", "is_tail"))
                        )
                    ),
                    lambda s: ~(s.is_tail & (s.seg == "")),
                ),
                lambda s: s.seg,
            ),
        ).alias("clean_text"),
        F.sum(
            (~F.col("is_tail") & (F.col("cnt") <= max_df)).cast("long")
        ).alias("n_kept_segments"),
        F.sum(
            (~F.col("is_tail") & (F.col("cnt") > max_df)).cast("long")
        ).alias("n_dropped_segments"),
    )
    return kept.select(
        id_col,
        F.md5("clean_text").alias("clean_md5"),
        "n_kept_segments",
        "n_dropped_segments",
    )


# MinHash banding parameters of the index's ``bands`` column: 30 hash
# functions split into 10 bands of 3 rows.  The S-curve midpoint is
# (1/10)^(1/3) ~= 0.46, so at the gate's threshold 0.8 a true near-dup
# pair collides in >= 1 band with probability 1-(1-0.8^3)^10 = 0.9992,
# while a J=0.3 pair collides only 24% of the time — false positives
# cost one exact-Jaccard evaluation each, never a wrong decision.
_INDEX_NUM_PERM = 30
_INDEX_BANDS = 10
_INDEX_ROWS = _INDEX_NUM_PERM // _INDEX_BANDS

# MinHash universal-hash family: h_j(x) = (a_j*x + b_j) mod (2^31 - 1).
# r10 replaced Kirsch-Mitzenmacher double hashing (h1 + j*h2, NO modular
# wrap) everywhere: without the wrap the k orderings are correlated — as
# j grows the h2 ordering dominates, so a near-dup pair whose one extra
# shingle hashes low under h1/h2 flips MANY minimums at once and the
# per-band escape events stop being independent.  Measured at the 10x
# rehearsal: 1.5% of planted J>=0.97 pairs escaped all 4 bands (theory
# for independent bands: 7.8e-5); with the modular family the measured
# escape rate matches theory.  (a*x + b) stays under 2^62, so the
# arithmetic is exact in signed-64 on Spark AND DuckDB — the oracle
# embeds the same constants.
_MH_P = 2147483647


def _mh_consts(j: int) -> tuple[int, int]:
    """Deterministic per-function constants (a in [1, P-1], b in
    [0, P-1]) from md5, embedded as literals on every engine."""
    import hashlib as _hl

    h = _hl.md5(f"mh:{j}".encode()).hexdigest()
    return int(h[:8], 16) % (_MH_P - 1) + 1, int(h[8:16], 16) % _MH_P


def _with_band_buckets(df: DataFrame, shingles_col: str) -> DataFrame:
    """Append an in-row MinHash band-bucket column ``bands_v2`` computed
    from an array<bigint> shingle-hash column: the universal modular
    family h_j(x) = (a_j*x + b_j) mod (2^31 - 1) over ONE 31-bit base
    value per shingle (x = xxhash64 >> 33, then mod P; a_j*x + b_j stays
    under 2^62, exact in signed-64 — see _MH_P for why r10 replaced the
    unwrapped Kirsch-Mitzenmacher form), per-function min via transform
    + array_min, band bucket = xxhash64 of the band's rows + band id.
    Zero explode, zero shuffle.

    The base-value array lands in its OWN projection so the hash runs
    once per row (CollapseProject keeps non-trivial aliases referenced
    many times in a separate Project); the 30 minimums are then plain
    integer transform traversals — 1 hash pass + 30 arithmetic passes
    per row.  Empty shingle sets get an EMPTY bands array (array_min of
    nothing is null, which would otherwise bucket all empty docs
    together)."""
    # SQL-text construction (r12 opt): the Column-DSL form built 31
    # higher-order lambdas (~20 ms of py4j each) per call — ~0.6 s of
    # driver wall per gate trigger / index build.  One F.expr parse
    # yields the identical analyzed tree (pinned by
    # test_band_buckets_sql_twin_bit_identical).
    col = F.col(shingles_col)
    staged = df.withColumns(
        {
            # 31-bit base value per shingle, hashed once; the 30 family
            # members are integer ops over this one array
            "_x": F.expr(
                f"transform(`{shingles_col}`, "
                f"_bs -> shiftrightunsigned(xxhash64(_bs), 33) % {_MH_P})"
            ),
        }
    )

    def mh_min_sql(j: int) -> str:
        a, b = _mh_consts(j)
        return (
            f"array_min(transform(_x, _bx -> ({a} * _bx + {b}) % {_MH_P}))"
        )

    mins = [mh_min_sql(j) for j in range(_INDEX_NUM_PERM)]
    buckets = ", ".join(
        "xxhash64({}, {})".format(
            ", ".join(mins[t * _INDEX_ROWS : (t + 1) * _INDEX_ROWS]), t
        )
        for t in range(_INDEX_BANDS)
    )
    bands = F.when(F.size(col) > 0, F.expr(f"array({buckets})")).otherwise(
        F.array().cast("array<bigint>")
    )
    return staged.withColumn("bands_v2", bands).drop("_x")


def doc_shingle_index(
    df: DataFrame, id_col: str, text_col: str, n: int = 3,
    with_bands: bool = True, row_col: str | None = None,
) -> DataFrame:
    """Per-document dedup index row: ``(cor_id, h, n_sh, shingles,
    bands_v2)`` — the md5 of the text, the distinct-shingle count, the
    doc's distinct shingle set as 64-bit xxhash64 values, and its MinHash
    LSH band buckets (see ``_with_band_buckets``; the column is VERSIONED
    because bucket values are a function of the hash family — a pre-r10
    ``bands`` sidecar would silently never collide with r10 batch
    buckets, so the family change renames the column and stale sidecars
    fail loud instead).

    This is the PERSISTABLE form of everything the incremental gate needs
    from a corpus document: ~8 bytes per shingle instead of the text, no
    tokenization at gate time, and the exact-dup pass column-prunes to the
    ``h`` column alone; the band-pruned near pass column-prunes its first
    phase to (cor_id, bands).  Built entirely in-row (array ops +
    xxhash64 in codegen): one scan, zero shuffle.

    ``with_bands=False`` skips the band computation for EPHEMERAL index
    frames feeding an unpruned gate (incremental_dedup_gate's in-memory
    path) — persisted sidecars should always keep the default so any
    later reader can band-prune.

    ``row_col`` carries the whole input row along as one struct column of
    that name, so a caller that materializes the result once (the
    streaming ingest sink) holds each document and its index row
    together, with no name clash between the two.
    """
    from data_pipeline_spark.llmops.textstats import tokens_sql, word_ngrams_sql

    sh = F.array_distinct(
        F.expr(
            "transform({}, _hs -> xxhash64(_hs))".format(
                word_ngrams_sql(tokens_sql(f"`{text_col}`"), n)
            )
        )
    )
    row = (
        [F.struct(*[F.col(f"`{c}`") for c in df.columns]).alias(row_col)]
        if row_col
        else []
    )
    base = df.select(
        F.col(id_col).alias("cor_id"),
        F.md5(text_col).alias("h"),
        sh.alias("shingles"),
        *row,
    )
    base = base.select(
        "cor_id", "h", F.size("shingles").alias("n_sh"), "shingles",
        *([row_col] if row_col else []),
    )
    return _with_band_buckets(base, "shingles") if with_bands else base


# Literal-vs-join crossover budget for the band-pruned gate's fat-trigger
# path: the literal form's arrays_overlap probe costs O(|batch buckets|)
# PER INDEX ROW, so the acceptable literal work is a row x bucket product,
# not a bucket count.  Calibrated from the r10 measurement (ROUND10_NOTES
# §14: on a 40k-row index the 4096-bucket literal was the right default,
# join at parity from ~500 buckets) => 4096 * 40_000 probe ops.  The
# adaptive bound divides this by the live index size at gate time, so the
# choice tracks the deployment instead of the measuring host's corpus.
_LITERAL_PROBE_BUDGET = 4096 * 40_000
_LITERAL_MIN, _LITERAL_MAX = 512, 65_536


def adaptive_literal_bound(index_rows: int) -> int:
    """max_literal_buckets derived from the index size (clamped): the
    r10 calibration point reproduces exactly (40k rows -> 4096), small
    sidecars tolerate fatter literals, corpus-scale sidecars flip to the
    join form much earlier."""
    return min(
        _LITERAL_MAX,
        max(_LITERAL_MIN, _LITERAL_PROBE_BUDGET // max(index_rows, 1)),
    )


def indexed_dedup_gate(
    index: DataFrame,
    incoming: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    band_prune: bool = False,
    max_literal_buckets: int | None = None,
    index_rows: "int | Callable[[], int | None] | None" = None,
) -> DataFrame:
    """Ingest-time dedup gate against a PRE-BUILT index (the
    ``doc_shingle_index`` schema): flag INCOMING documents that duplicate
    the indexed corpus exactly (md5 match) or nearly (shingle Jaccard >=
    threshold vs any indexed doc).

    Returns (id, exact_dup, near_dup, best_jaccard, keep) for every
    incoming doc; keep = neither flag.

    Scale shape: the batch is small relative to the corpus, so the
    incoming md5 set and the incoming (shingle-hash -> id) map BROADCAST;
    the index is scanned map-side (h column only for the exact pass,
    shingle arrays for the near pass) and NEVER shuffles — per-doc sizes
    ride the rows (``n_sh``/in-row counts), so there is no corpus-side
    aggregation and nothing to cache.  Against a persisted index this
    reads no corpus text at all; Jaccard counts are over 64-bit shingle
    hashes (identical to string-shingle Jaccard barring 2^-64 collisions).
    The per-(incoming, corpus) intersection aggregation is bounded by
    |batch shingles| x their corpus document frequency.

    ``band_prune=True`` turns on the MinHash band-bucket pre-filter for
    the near pass: phase one scans only the index's (cor_id, bands)
    columns against the BROADCAST batch bucket set, and the expensive
    shingle-array explode runs on the COLLIDING candidate docs alone —
    O(candidates) instead of O(index) per trigger.  The trade, stated
    precisely: a true near-dup pair at exactly J = threshold = 0.8 is
    a band candidate with p = 1-(1-0.8^3)^10 = 0.9992 (higher above
    threshold, ~1-2e-6 at J = 0.9); false candidates only cost an exact
    Jaccard evaluation, never a wrong flag.  ``best_jaccard`` becomes
    "best among band candidates" — decisions (exact_dup/near_dup/keep)
    are what the pruned gate certifies, and sub-threshold best values may
    be absent.  Requires an index with the ``bands`` column
    (doc_shingle_index emits it; older sidecars must be rebuilt).

    ``max_literal_buckets`` bounds the FAT-TRIGGER regime of the pruned
    scan: the in-row ``arrays_overlap`` probe iterates the embedded
    bucket literal per index row, so its scan cost is
    O(|batch buckets| x |index|) — linear in the trigger where the value
    join is O(|index bands|) with a broadcast probe.  Past the bound the
    gate switches to the join form automatically (same decisions — the
    parity test pins it).  Measured on a 40k-row index (local[32], warmed):
    the join form is at parity from ~500 buckets and 1.5x faster at 50k
    (10.5s vs 15.6s); the literal keeps the default below the bound
    because it is ONE index scan (the join form re-scans the index to
    semi-join candidates back — irrelevant against a page-cached sandbox
    index, real I/O against a disk-resident one).

    By default (``max_literal_buckets=None``) the bound is DERIVED from
    the index size at gate time (``adaptive_literal_bound``: the r10
    measured probe budget divided by the live row count), because the
    literal's cost is a row x bucket product — the right crossover on a
    4k-row dev sidecar and a 40M-row production one differ by 10^4.
    ``index_rows`` supplies that size for free when the caller has it
    (the streaming sink reads it off its ledger); otherwise one count()
    runs only when the decision is actually needed.  Passing an explicit
    ``max_literal_buckets`` pins the form (the parity test forces both
    sides of the crossover).
    """
    inc, batch_buckets = stage_dedup_batch(
        incoming, id_col, text_col, n, band_prune
    )
    return index_dedup_flags(
        index,
        inc,
        id_col,
        threshold,
        band_prune=band_prune,
        batch_buckets=batch_buckets,
        max_literal_buckets=max_literal_buckets,
        index_rows=index_rows,
    )


def stage_dedup_batch(
    incoming: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    band_prune: bool = False,
) -> tuple[DataFrame, list | None]:
    """Batch-staging half of ``indexed_dedup_gate``: the incoming docs as
    gate rows ``(inc_id, h, inc_n, shingles)``, plus — for a band-pruned
    gate — the batch's distinct band buckets as a sorted driver list
    (None otherwise).  A caller that already holds these rows (the
    streaming ingest sink stages its batch once per trigger) builds them
    itself and calls ``index_dedup_flags`` directly."""
    # the batch is trigger-bounded by the same contract that lets it
    # broadcast: materialize its index rows ONCE (one tokenize job) and
    # let every branch of the flags half replay them — the exact/near/size
    # branches otherwise each re-tokenize the batch.  localCheckpoint
    # keeps the rows in executor block storage rather than shipping them
    # through the driver as a pickled (list-built) local frame, which
    # every broadcast build that read it re-deserialized in a single task.
    # Fault tolerance is that of the trigger: lost blocks re-run it.  The
    # streaming ingest sink skips this half: its trigger is already
    # materialized (persisted staging) and its survivors' rows sit on the
    # driver after the within-batch collapse, so it hands them back as a
    # pandas-built (Arrow) LocalRelation — read without a job, no pickling.
    local = doc_shingle_index(
        incoming, id_col, text_col, n, with_bands=band_prune
    ).localCheckpoint(eager=True)
    batch_buckets: list | None = None
    if band_prune:
        # band buckets ride the same materialized rows; ship ONLY the
        # bands column to the driver (the shingle arrays stay put)
        batch_buckets = sorted(
            {
                b
                for r in local.select("bands_v2").collect()
                for b in (r.bands_v2 or [])
            }
        )
        local = local.drop("bands_v2")
    inc = local.select(
        F.col("cor_id").alias("inc_id"),
        "h",
        F.col("n_sh").alias("inc_n"),
        "shingles",
    )
    return inc, batch_buckets


def index_dedup_flags(
    index: DataFrame,
    inc: DataFrame,
    id_col: str,
    threshold: float = 0.8,
    band_prune: bool = False,
    batch_buckets: list | None = None,
    max_literal_buckets: int | None = None,
    index_rows: "int | Callable[[], int | None] | None" = None,
) -> DataFrame:
    """Index-flags half of ``indexed_dedup_gate``: flag staged gate rows
    ``inc`` = (inc_id, h, inc_n, shingles) against ``index`` — exact md5
    hits and (band-pruned) shingle-Jaccard near hits in ONE plan, so one
    action decides the batch.  The batch side broadcasts into every join.
    ``batch_buckets`` is the batch's distinct band-bucket list, required
    for a band-pruned gate.  Returns (id, exact_dup, near_dup,
    best_jaccard, keep) per staged row."""
    if band_prune and "bands_v2" not in index.columns:
        raise ValueError(
            "band_prune=True needs a 'bands_v2' column on the index — "
            "r10 changed the MinHash family (the unwrapped r7 form "
            "correlated the band orderings; see _MH_P), so buckets from "
            "a pre-r10 'bands' sidecar can never collide with current "
            "batch buckets.  Rebuild the sidecar with "
            "doc_shingle_index(), or gate with band_prune=False."
        )
    # index side stays map-side: join the index hash stream against the
    # BROADCAST batch (inc_id, h) map — a matching index row yields the
    # duplicated batch id directly, so the old second broadcast (matched
    # hashes shipped back onto the batch) and its distinct exchange are
    # gone.  The distinct on the surviving ids partial-aggregates
    # map-side, so even a boilerplate flood shuffles at most
    # |batch| x partitions rows; the index itself never shuffles.
    exact = (
        index.select("h")
        .join(F.broadcast(inc.select("inc_id", "h")), "h")
        .select(F.col("inc_id").alias("exact_id"))
        .distinct()
    )

    near_source = index
    if band_prune:
        # phase 1 FUSED into the index scan: the batch's distinct band
        # buckets (<= _INDEX_BANDS per doc, trigger-bounded by the same
        # contract that lets the batch broadcast) collect to the driver
        # and prune the scan IN-ROW via one arrays_overlap against the
        # literal bucket array — band ids are salted into the bucket
        # hash, so value membership is equivalent to the band join (a
        # cross-band 64-bit collision only admits a false candidate,
        # costing one Jaccard evaluation, never a wrong decision).  One
        # index scan, zero extra joins/shuffles; the shingle explode
        # below runs on colliding rows only.  arrays_overlap hashes the
        # smaller side (the row's _INDEX_BANDS buckets) and probes the
        # literal array — O(|batch buckets|) per index row, and ONE
        # expression node, so the plan stays small (a 10-position
        # isin/InSet OR-chain measured ~30x slower in Catalyst on the
        # same data).  Empty `bands` arrays (shingle-less docs) simply
        # never overlap.
        buckets = batch_buckets
        if buckets and max_literal_buckets is None:
            # adaptive crossover: only pay the sizing when a decision is
            # needed (tiny triggers below the floor never count anything)
            if len(buckets) <= _LITERAL_MIN:
                max_literal_buckets = _LITERAL_MIN
            else:
                if callable(index_rows):  # lazy supplier (ledger stats)
                    index_rows = index_rows()
                if index_rows is None:
                    index_rows = index.count()
                max_literal_buckets = adaptive_literal_bound(index_rows)
        if not buckets:
            near_source = index.filter(F.lit(False))
        elif len(buckets) > max_literal_buckets:
            # FAT TRIGGER: the literal form's arrays_overlap probe walks
            # the whole bucket array per index row (O(|batch buckets|)
            # per row) and the SQL text itself grows to megabytes.  The
            # bucket set is already driver-side, so it ships as an
            # explicitly-broadcast single-column frame instead: the index
            # band explode stays map-side against the broadcast set, only
            # the (bounded) candidate ids reshuffle for the distinct, and
            # the surviving rows semi-join back.  Decisions are identical
            # to the literal path (test-pinned).
            # pandas in => Arrow conversion; a plain list of tuples
            # becomes a pickled LocalRelation that the broadcast build
            # re-deserializes row by row (r12: ~0.5 s driver+build for a
            # 50k-bucket trigger)
            bframe = inc.sparkSession.createDataFrame(
                pd.DataFrame({"bb": [int(b) for b in buckets]}),
                schema="bb bigint",
            )
            candidates = (
                index.select("cor_id", F.explode("bands_v2").alias("bb"))
                .join(F.broadcast(bframe), "bb", "left_semi")
                .select("cor_id")
                .distinct()
            )
            # no broadcast hint on candidates: a boilerplate flood can
            # collide most of the index, and AQE sees the runtime size
            near_source = index.join(candidates, "cor_id", "left_semi")
        else:
            # one parsed SQL expression instead of F.lit(list): building
            # thousands of Literal nodes element-by-element over py4j
            # measured ~2 s of pure driver time; the parser takes one call
            lit_arr = F.expr(
                "CAST(array(%s) AS array<bigint>)"
                % ",".join(str(int(b)) for b in buckets)
            )
            near_source = index.filter(F.arrays_overlap("bands_v2", lit_arr))

    inc_sh = inc.select("inc_id", F.explode("shingles").alias("sh"))
    # per-doc sizes ride the exploded rows (functionally dependent on
    # cor_id), so the grouped intersection already carries cor_n — no
    # second index pass, no corpus-side size aggregation
    cor_sh = near_source.select(
        "cor_id", F.col("n_sh").alias("cor_n"), F.explode("shingles").alias("sh")
    )
    inter = (
        cor_sh.join(F.broadcast(inc_sh), "sh")
        .groupBy("inc_id", "cor_id", "cor_n")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    inc_sizes = inc.select("inc_id", "inc_n")
    jac = inter.join(F.broadcast(inc_sizes), "inc_id").withColumn(
        "jaccard",
        F.col("n_inter") / (F.col("inc_n") + F.col("cor_n") - F.col("n_inter")),
    )
    best = jac.groupBy("inc_id").agg(F.max("jaccard").alias("best_jaccard"))

    # flag attachment: exact/best are bounded by the batch, so broadcast
    # them onto the incoming frame — without the hint the planner can't
    # size these derived frames and falls back to sort-merge
    out = (
        inc.select("inc_id")
        .join(F.broadcast(exact.withColumn("exact", F.lit(1))),
              F.col("inc_id") == F.col("exact_id"), "left")
        .join(F.broadcast(best), "inc_id", "left")
    )
    exact_dup = F.coalesce(F.col("exact"), F.lit(0))
    near_dup = (F.coalesce(F.col("best_jaccard"), F.lit(0.0)) >= threshold).cast(
        "int"
    )
    return out.select(
        F.col("inc_id").alias(id_col),
        exact_dup.alias("exact_dup"),
        near_dup.alias("near_dup"),
        F.col("best_jaccard"),
        ((exact_dup == 0) & (near_dup == 0)).cast("int").alias("keep"),
    )


def collapse_batch(
    rows, threshold: float = 0.8, max_df: int = 1000, near: bool = True
) -> tuple[list, int, int]:
    """Within-batch duplicate collapse on the DRIVER, over a trigger's
    collected ``(id, h, shingles)`` rows (``doc_shingle_index`` columns:
    md5 and 64-bit shingle-hash set).  Returns ``(survivor ids in input
    order, n exact-dropped, n near-dropped)``.

    The rules are those of the Spark form it replaces on the streaming
    path (``exact_dup_groups`` then ``ngram_jaccard_pairs`` over the
    exact keepers):

    - exact: one keeper per md5, the min id; every other copy drops;
    - near (``near=True``): over the exact keepers, every pair with
      Jaccard >= ``threshold`` drops its LARGER id.  Jaccard is over the
      df-filtered shingle space — a shingle in more than ``max_df``
      keepers leaves both the intersection and the set sizes — and only
      pairs sharing a kept shingle are candidates, so docs with empty
      shingle sets never pair.

    Shingles are compared as 64-bit hashes, as ``indexed_dedup_gate``
    compares them: identical to the string-shingle Spark form barring
    2^-64 collisions (pinned by a parity test).  Cost is the Spark
    form's: sum over kept shingles of df^2 / 2 pair increments, bounded
    by the trigger.  Rows with a NULL id never survive, as the id join
    of the Spark form drops them."""
    rows = [r for r in rows if r[0] is not None]
    keeper: dict = {}
    for i, h, _sh in rows:
        if h not in keeper or i < keeper[h]:
            keeper[h] = i
    kept = [(i, set(sh or ())) for i, h, sh in rows if keeper[h] == i]
    n_exact = len(rows) - len(kept)
    if not near:
        return [i for i, _ in kept], n_exact, 0
    posting: dict = {}
    for i, sh in kept:
        for s in sh:
            posting.setdefault(s, set()).add(i)
    size = {i: len(sh) for i, sh in kept}
    inter: dict = {}
    for ids in posting.values():
        ids = list(ids)
        if len(ids) > max_df:
            for i in ids:  # df-capped: out of the sizes too
                size[i] -= 1
            continue
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                a, b = ids[x], ids[y]
                pair = (a, b) if a < b else (b, a)
                inter[pair] = inter.get(pair, 0) + 1
    losers = {
        b
        for (a, b), k in inter.items()
        if k / (size[a] + size[b] - k) >= threshold
    }
    return [i for i, _ in kept if i not in losers], n_exact, len(losers)


def incremental_dedup_gate(
    corpus: DataFrame,
    incoming: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Ingest-time dedup gate straight off the corpus TEXT: the index form
    of each corpus row is built in-row on the fly (never materialized) and
    fed to ``indexed_dedup_gate`` — identical decisions to gating against
    a persisted ``doc_shingle_index``, at the cost of re-reading and
    re-shingling the corpus per call.  The admission check a pipeline runs
    on a bounded corpus slice; for a GROWING corpus, persist the index
    sidecar instead (streaming.ingest.DedupGatedIngest) so each trigger
    reads hashes, not text.

    r8: the previous standalone implementation cached the intersection
    frame to feed a separate corpus-side size aggregation and never
    unpersisted it — per-micro-batch callers accumulated CacheManager
    entries for the life of the stream.  Sizes now ride the shingle rows
    in-row, so there is no second pass and nothing to cache.
    """
    return indexed_dedup_gate(
        doc_shingle_index(corpus, id_col, text_col, n, with_bands=False),
        incoming,
        id_col,
        text_col,
        n,
        threshold,
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 12, n: int = 3
) -> DataFrame:
    """MinHash signature per doc: hash function j of a shingle is
    ``(a_j * x + b_j) mod (2^31 - 1)`` over ONE 28-bit integer x cut from
    ONE md5 of the shingle (a universal family mod a Mersenne prime —
    the construction Spark's own MinHashLSH uses); the signature element
    is the numeric min over the doc's shingles.  One explode + groupBy.

    r7 moved from per-seed md5(shingle||'#'||j) (num_hashes digests per
    shingle occurrence — the path's dominant CPU) to ONE md5 + integer
    arithmetic in codegen (measured 2.29s -> 1.22s for the signature
    stage at sf0.1).  r10 replaced that round's Kirsch-Mitzenmacher
    formula (h1 + j*h2, no modular wrap) with the modular family: the
    unwrapped linear combination correlates the k orderings (h2
    dominates as j grows), and the 10x rehearsal measured 1.5% of
    planted J>=0.97 pairs escaping all 4 bands vs the 7.8e-5 independent
    -band theory; with the wrap the measured escape rate matches theory
    at the same per-shingle cost (see _MH_P above)."""
    # distinct=False: min() is duplicate-insensitive, and the distinct would
    # be a SECOND full shuffle of the (id, shingle) stream — dropping it
    # leaves the map-side-combined groupBy(id) as the only shuffle, which
    # carries |docs| rows (r6 measurement: parity-identical signatures,
    # equal local time within noise, one fewer 100TB-scale shuffle)
    sh = shingles(df, id_col, text_col, n, distinct=False)
    md5 = F.md5("shingle")
    x = F.conv(F.substring(md5, 1, 7), 16, 10).cast("bigint")  # 28-bit < P
    # one column per hash function instead of a num_hashes-way row explode:
    # the groupBy then partial-aggregates num_hashes mins map-side, so the
    # shuffle carries |docs| rows, not |shingles| x num_hashes
    hashed = sh.select(
        id_col,
        *[
            ((F.lit(_mh_consts(j)[0]) * x + F.lit(_mh_consts(j)[1])) % _MH_P)
            .alias(f"h{j}")
            for j in range(num_hashes)
        ],
    )
    per_doc = hashed.groupBy(id_col).agg(
        *[F.min(f"h{j}").alias(f"m{j}") for j in range(num_hashes)]
    )
    return per_doc.select(
        id_col,
        F.array(*[F.col(f"m{j}") for j in range(num_hashes)]).alias("sig"),
    )


def minhash_lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 12,
    bands: int = 4,
    n: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """LSH banding: split the signature into ``bands`` bands of
    num_hashes/bands rows; band key = md5 of the band's concatenated minhash
    values; candidate pairs share at least one band bucket.

    Returns (id_a, id_b, n_shared_bands).  Pairs are expanded IN-ROW off
    (band, bucket) posting lists — the same shape as ``ngram_jaccard_pairs``
    and the LSH-ANN path — so no join key can go quadratic: a bucket of k
    docs costs k^2/2 in-row pairs, hard-capped by ``max_bucket`` (a bucket
    larger than that is an identical-doc flood, which exact dedup owns; at
    the oracle SFs every bucket is far below the cap, so the SQL pairing
    remains bit-identical).

    r6 re-measurement vs the pre-r6 (band,bucket) self-join at sf0.1
    (4 reps, identical 269 output pairs): self-join 3.50-4.05s,
    posting-list 3.51-4.16s — a wash locally; the r3->r5 "regression"
    (2.73->4.29s) reproduces under neither formulation's steady state and
    was environmental.  ~3.4s of either total is the shared
    signature+banding prefix, not pairing.  The posting-list shape wins on
    the 100TB axis (bounded expansion, one consistent pattern across the
    dedup family), so it is the keeper.
    """
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(df, id_col, text_col, num_hashes, n)
    banded = sigs.select(
        id_col,
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band"),
        "sig",
    ).select(
        id_col,
        "band",
        F.md5(
            F.concat_ws(
                "|",
                F.transform(
                    F.slice(
                        F.col("sig"), F.col("band") * rows_per_band + 1, rows_per_band
                    ),
                    lambda x: x.cast("string"),
                ),
            )
        ).alias("bucket"),
    )
    posting = (
        banded.groupBy("band", "bucket")
        .agg(F.collect_list(id_col).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_bucket))
    )
    pair_structs = F.expr(_PAIR_STRUCTS_SQL)
    return (
        posting.select(F.explode(pair_structs).alias("p"))
        .groupBy("p.id_a", "p.id_b")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str, bits: int = 32
) -> DataFrame:
    """32-bit SimHash per document.

    Token hash bits come from md5 hex nibbles (bit b = nibble b/4, bit
    3-b%4), votes are +-1 per token occurrence, signature bit = sign of the
    vote sum.  Explode factor is bits x tokens but all integer codegen; one
    groupBy(doc, bit) + one groupBy(doc).
    """
    # r6 re-measurement under collect() (count() silently PRUNES the vote
    # aggregation, which had made the bit-explode look 0.5 s — comparing
    # pruned plans): per-NIBBLE explode (x8 rows, 4 vote columns per row,
    # map-side combine) 1.0 s vs bit-explode (x32 rows) 2.6 s vs per-bit
    # columns 2.5 s at sf0.1 — identical signatures, 4x fewer exploded
    # rows and one md5-nibble extraction per 4 bits
    votes = _simhash_nibble_votes(df, id_col, text_col, bits // 4)
    contrib = _nibble_contrib(31 if bits == 32 else None)
    return (
        votes.select(id_col, contrib.alias("c"))
        .groupBy(id_col)
        .agg(F.sum("c").alias("simhash"))
    )


def _nibble_contrib(top_bit: int | None):
    """Signature contribution of one (id, nibble) vote row: the 4 sign
    bits weighted into their 32-bit positions (nibble n holds bits
    4n..4n+3 counted from the top).  ``top_bit`` fixed at 31 for the
    32-bit signature; None uses n % 8 (the per-half layout of the 64-bit
    signature)."""
    n_in_word = F.col("n") if top_bit is not None else (F.col("n") % 8)
    return sum(
        [
            F.when(F.col(f"s{k}") >= 0, 1).otherwise(0).cast("bigint")
            * F.pow(F.lit(2.0), 31 - (n_in_word * 4 + k)).cast("bigint")
            for k in range(4)
        ],
        F.lit(0).cast("bigint"),
    )


def _simhash_nibble_votes(
    df: DataFrame, id_col: str, text_col: str, nibbles: int
) -> DataFrame:
    """(id, nibble index n, vote sums s0..s3): the shared core of the 32-
    and 64-bit signatures.  Bit b of a token comes from md5 hex nibble
    b//4 (bit 3 - b%4 within the nibble), so a 32-bit signature is exactly
    the first 8 nibbles of the 64-bit one's space."""
    toks = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("w")).select(
        id_col, F.md5("w").alias("hw")
    )
    ex = toks.select(
        id_col,
        "hw",
        F.explode(F.sequence(F.lit(0), F.lit(nibbles - 1))).alias("n"),
    )
    val = F.conv(F.substring("hw", F.col("n") + 1, 1), 16, 10).cast("int")
    votes = [
        ((F.shiftright(val, 3 - k) % 2) * 2 - 1).alias(f"v{k}") for k in range(4)
    ]
    return (
        ex.select(id_col, "n", *votes)
        .groupBy(id_col, "n")
        .agg(*[F.sum(f"v{k}").alias(f"s{k}") for k in range(4)])
    )


def simhash64_signatures(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """64-bit SimHash as two signed 32-bit halves (id, sh_hi, sh_lo).

    The scale path for banded near-dup search: 32-bit signatures band into
    only 2^8 buckets per band (simhash_neardup_pairs), which goes
    quadratic on bucket floods at billions of documents; 64 bits give
    2^16-bucket bands.  Two bigint halves instead of one 64-bit value
    because the top-bit weight of a packed u64 overflows signed bigint.
    ``sh_hi`` is bit-identical to the 32-bit ``simhash`` (same nibble
    definition) — asserted in tests."""
    votes = _simhash_nibble_votes(df, id_col, text_col, 16)
    c = _nibble_contrib(None)
    return votes.select(id_col, "n", c.alias("c")).groupBy(id_col).agg(
        F.sum(F.when(F.col("n") < 8, F.col("c")).otherwise(0)).alias("sh_hi"),
        F.sum(F.when(F.col("n") >= 8, F.col("c")).otherwise(0)).alias("sh_lo"),
    )


def _capped_bucket_pairs(
    banded: DataFrame, fields: list[str], max_bucket: int
) -> DataFrame:
    """Unordered within-bucket pairs off (band, bucket) posting lists,
    expanded IN-ROW — the one pairing pattern the whole dedup family uses
    (ngram_jaccard_pairs, minhash_lsh_candidate_pairs, LSH-ANN).

    ``banded`` carries (band, bucket, *fields); ``fields[0]`` must be the
    document id (orders each pair so <f>_a holds the smaller id).  Output:
    one distinct row per pair with <f>_a / <f>_b for every field.

    No bucket self-join means no join key can go quadratic: a bucket of k
    docs costs k^2/2 in-row pairs, hard-capped by ``max_bucket`` (which is
    also the expansion's per-row memory guard).  A bucket larger than the
    cap is an identical/boilerplate flood that exact dedup owns.  NOTE:
    whether a cap engages at a given corpus size depends on the bucket
    space — 32-bit SimHash's 2^8-bucket bands flood linearly with corpus
    size (sf0.1 already peaks ~1.1k docs/bucket), so oracle-anchored
    callers must size the cap above their SF envelope (the catalog query
    passes max_bucket=10_000) while production uses the tight default.
    """
    id_f = fields[0]
    doc = F.struct(*[F.col(f).alias(f) for f in fields])
    posting = (
        banded.groupBy("band", "bucket")
        .agg(F.collect_list(doc).alias("docs"))
        .filter((F.size("docs") >= 2) & (F.size("docs") <= max_bucket))
    )

    def ordered_pair(x, y):
        fwd = F.struct(
            *[x[f].alias(f"{f}_a") for f in fields],
            *[y[f].alias(f"{f}_b") for f in fields],
        )
        rev = F.struct(
            *[y[f].alias(f"{f}_a") for f in fields],
            *[x[f].alias(f"{f}_b") for f in fields],
        )
        return F.when(x[id_f] < y[id_f], fwd).otherwise(rev)

    pair_structs = F.flatten(
        F.transform(
            "docs",
            lambda x, i: F.transform(
                F.slice(F.col("docs"), i + 2, F.size("docs")),
                lambda y: ordered_pair(x, y),
            ),
        )
    )
    cols = [f"{f}_a" for f in fields] + [f"{f}_b" for f in fields]
    return (
        posting.select(F.explode(pair_structs).alias("p"))
        .select(*[F.col(f"p.{c}").alias(c) for c in cols])
        .distinct()
    )


def _simhash32_banded(sigs: DataFrame, id_col: str) -> DataFrame:
    """(id, sh, band, bucket) rows: 32-bit signature split into 4 bands of
    8 bits (2^8 buckets per band) — shared by the pair expansion and the
    flood-stats audit so they can never band differently."""
    bands, band_width = 4, 8
    return sigs.select(
        F.col(id_col).alias("id"),
        F.col("simhash").alias("sh"),
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band"),
    ).withColumn(
        "bucket",
        # simhash >> shift, shift varies per band: exact pow-2 division
        F.floor(
            F.col("sh")
            / F.pow(F.lit(2.0), (bands - 1 - F.col("band")) * band_width)
        ).cast("bigint")
        % (1 << band_width),
    )


def _simhash64_banded(sigs: DataFrame, id_col: str) -> DataFrame:
    """(id, hi, lo, band, bucket) rows: 64-bit signature (two 32-bit
    halves) split into 4 bands of 16 bits (2^16 buckets per band)."""
    return sigs.select(
        F.col(id_col).alias("id"),
        F.col("sh_hi").alias("hi"),
        F.col("sh_lo").alias("lo"),
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("band"),
    ).withColumn(
        "bucket",
        F.floor(
            F.when(F.col("band") < 2, F.col("hi")).otherwise(F.col("lo"))
            / F.when(F.col("band") % 2 == 0, F.lit(65536.0)).otherwise(
                F.lit(1.0)
            )
        ).cast("bigint")
        % 65536,
    )


def capped_bucket_stats(
    banded: DataFrame, id_field: str, max_bucket: int
) -> DataFrame:
    """Recall-loss audit for ``_capped_bucket_pairs`` callers: per band,
    how many buckets (and how many doc postings) exceed ``max_bucket``
    and were therefore dropped before pair expansion, plus the peak
    bucket size.  One row per band:

        (band, n_buckets, n_flooded_buckets, n_flooded_postings,
         max_bucket_size)

    Capping is DOCUMENTED drop-semantics, not silent: a pair whose every
    shared band floods is lost, which voids e.g. the SimHash pigeonhole
    guarantee for docs inside flooded buckets.  Run this beside any
    capped pairing to size the cap for the corpus — 32-bit SimHash's
    2^8-bucket bands flood linearly with corpus size (~1.1k docs/bucket
    already at sf0.1), so its callers must either raise the cap above
    their corpus envelope or accept (and now: measure) the loss.  Cost:
    the same (band, bucket) groupBy the pairing itself runs — counts
    only, no posting lists.
    """
    per_bucket = banded.groupBy("band", "bucket").agg(
        F.count(id_field).alias("n_docs")
    )
    flooded = F.col("n_docs") > max_bucket
    return (
        per_bucket.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum(flooded.cast("int")).alias("n_flooded_buckets"),
            F.sum(F.when(flooded, F.col("n_docs")).otherwise(0)).alias(
                "n_flooded_postings"
            ),
            F.max("n_docs").alias("max_bucket_size"),
        )
        .orderBy("band")
    )


def simhash_flood_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 32,
    max_bucket: int = 1000,
) -> DataFrame:
    """``capped_bucket_stats`` over the exact banding the simhash pair
    functions use — the companion audit the 32/64-bit near-dup callers
    run to see whether (and how much) the flood cap is costing recall at
    their corpus size."""
    if bits == 64:
        sigs = simhash64_signatures(df, id_col, text_col)
        banded = _simhash64_banded(sigs, id_col)
    else:
        sigs = simhash_signatures(df, id_col, text_col)
        banded = _simhash32_banded(sigs, id_col)
    return capped_bucket_stats(banded, "id", max_bucket)


def simhash64_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-dup pairs with 64-bit SimHash Hamming <= max_hamming (<= 3 for
    the pigeonhole guarantee over 4 bands of 16 bits).

    Same exact-banding construction as the 32-bit path but with 65536
    buckets per band — bucket occupancy stays near-linear at corpus scales
    where 256 buckets flood.  Pairs expand in-row off capped posting lists
    (``_capped_bucket_pairs``): even a genuine boilerplate flood sharing
    all four bands (the case more buckets can't fix) stays bounded per
    key instead of going quadratic in one join."""
    sigs = simhash64_signatures(df, id_col, text_col).cache()
    pairs = _capped_bucket_pairs(
        _simhash64_banded(sigs, id_col), ["id", "hi", "lo"], max_bucket
    )
    hamming = F.bit_count(
        F.col("hi_a").bitwiseXOR(F.col("hi_b"))
    ) + F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
    return (
        pairs.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))
    )


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash_a, simhash_b) <= max_hamming.

    Blocks on bit-prefix bands (pigeonhole: distance<=3 over 4 bands
    guarantees one exact band match), so candidates are banded, not
    all-pairs, and pairs expand in-row off capped posting lists
    (``_capped_bucket_pairs``) — no (band, bucket) join key exists to go
    quadratic under a flood.  The 32-bit bands hold only 2^8 buckets each,
    so at billion-document scale average occupancy itself explodes;
    ``simhash64_neardup_pairs`` (2^16-bucket bands, same exact-banding
    guarantee) is the declared scale path, with this 32-bit form kept as
    the oracle anchor.

    The cap DROPS flooded buckets (documented recall loss — a pair whose
    every shared band floods is lost, voiding the pigeonhole guarantee
    for those docs); ``simhash_flood_stats`` reports per-band flooded
    bucket/posting counts so the loss is measured, not silent — at the
    default cap the 2^8-bucket bands already flood near sf0.1 corpus
    sizes, so size ``max_bucket`` above the corpus envelope or switch to
    the 64-bit path.
    """
    sigs = simhash_signatures(df, id_col, text_col).cache()
    pairs = _capped_bucket_pairs(
        _simhash32_banded(sigs, id_col), ["id", "sh"], max_bucket
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return pairs.withColumn("hamming", hamming).filter(
        F.col("hamming") <= max_hamming
    ).select("id_a", "id_b", "hamming")


# Edge count at or below which ``connected_components`` labels on the
# driver: the collected id pairs stay a few MB, and one collect beats the
# fixed overhead of several distributed rounds.
UNION_FIND_MAX_EDGES = 100_000


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    id_col: str,
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Connected components of the (src_col, dst_col) edge graph.

    Returns (id_col, component) where component = the smallest node id
    reachable — the canonical representative of each near-dup cluster.
    Nodes with no edges are singleton components of themselves.  Every
    edge endpoint must be a row of ``nodes``: the output is exactly one
    row per node, and an endpoint outside ``nodes`` is undefined input
    (the driver branch drops it, the distributed branch labels it).

    Scale shape: the edge list is the OUTPUT of banded/inverted-index
    candidate generation, typically orders of magnitude smaller than the
    corpus.  At or below ``UNION_FIND_MAX_EDGES`` edges the exact labels
    come from a driver-side union-find (O(E a(E)) after one collect of id
    pairs).  Above it, ``connected_components_star`` runs: O(log n)
    distributed rounds on any topology, so a high-diameter chain costs
    no more rounds than a graph of small dense clusters.
    """
    # Materialize the DIRECTED edge list once; union(a,b) == union(b,a)
    # makes the mirror direction redundant for the driver union-find, and
    # the star rounds derive it in-row.  The size probe is a count over
    # the checkpointed blocks (a bounded limit+collect was tried instead
    # and measured WORSE: CollectLimit's incremental scale-up launched 4
    # jobs to gather 100k rows from 32 small blocks where count + collect
    # are exactly 2).
    canon = edges.select(
        F.col(src_col).alias("id"), F.col(dst_col).alias("nbr")
    ).localCheckpoint(eager=True)
    if canon.count() <= UNION_FIND_MAX_EDGES:
        # no distinct on this path (one exchange + AQE round saved):
        # union-find is duplicate-tolerant, and for unique canonical
        # edge lists the row count is |E| either way
        return _driver_union_find(
            [(r.id, r.nbr) for r in canon.collect()], canon, nodes, id_col
        )
    return connected_components_star(canon, nodes, id_col, "id", "nbr")


def _attach_singletons(
    labels: DataFrame, nodes: DataFrame, id_col: str
) -> DataFrame:
    """Nodes untouched by any edge become singleton components of
    themselves — the star rounds' tail (the driver union-find attaches its
    own, bounded labels with a broadcast join)."""
    # shuffle_hash pin (r13): labels grow with the GRAPH, and the
    # checkpoint-inherited Catalyst estimate for them chains through
    # aggregate-over-explode rounds (the garbage-small class of
    # ROUND10_NOTES §15) — without the pin the static planner flipped
    # this anti-join to a labels BROADCAST when the upstream pipeline's
    # estimate moved.  The co-keyed anti-join is the any-scale shape.
    singletons = (
        nodes.select(F.col(id_col).alias("node"))
        .join(labels.select("node").hint("shuffle_hash"), "node", "left_anti")
        .select("node", F.col("node").alias("component"))
    )
    return labels.union(singletons).select(F.col("node").alias(id_col), "component")


def _driver_union_find(
    pairs: list, edge_frame: DataFrame, nodes: DataFrame, id_col: str
) -> DataFrame:
    """Exact small-graph path: union-find with path compression over the
    already-collected (id, nbr) pairs (direction-insensitive: union(a,b)
    == union(b,a), so the caller passes each edge ONCE), labels = min
    node id per component — identical output to the star rounds.
    ``edge_frame`` supplies the session and the id dtype."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    comp_min: dict = {}
    members = {x for e in pairs for x in e}
    for x in members:
        r = find(x)
        m = comp_min.get(r)
        if m is None or x < m:
            comp_min[r] = x
    spark = edge_frame.sparkSession
    schema = edge_frame.select(
        F.col("id").alias("node"), F.col("id").alias("component")
    ).schema
    # Arrow-path creation (pandas in, not a list of tuples): a pickled
    # LocalRelation is re-deserialized by EVERY task of every stage that
    # scans it (r12 profile: 13 CPU-s on a 50k-row label set inside the
    # downstream window stage); the Arrow form converts once driver-side.
    pdf = pd.DataFrame(
        [(x, comp_min[find(x)]) for x in members],
        columns=["node", "component"],
    )
    labels = spark.createDataFrame(pdf, schema=schema)
    # Labels here are bounded by UNION_FIND_MAX_EDGES BY CONSTRUCTION
    # (this path only runs below it), so the singleton attach can be one
    # broadcast LEFT join against the node set — no anti-join + union
    # re-scan of the label relation, and the broadcast build reads it
    # exactly once.  The star rounds keep the co-keyed anti-join form
    # (their label set grows with the graph).
    return (
        nodes.select(F.col(id_col))
        .join(
            F.broadcast(labels.withColumnRenamed("node", id_col)),
            id_col,
            "left",
        )
        .select(
            F.col(id_col),
            F.coalesce(F.col("component"), F.col(id_col)).alias("component"),
        )
    )


def connected_components_star(
    edges: DataFrame,
    nodes: DataFrame,
    id_col: str,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_rounds: int = 20,
) -> DataFrame:
    """Connected components by alternating large-star / small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the distributed branch of ``connected_components`` (graphs above
    ``UNION_FIND_MAX_EDGES``), same signature and output.

    Label propagation needs O(diameter) rounds (a 1M-node path graph is
    1M rounds); star contraction converges in O(log n) rounds on any
    graph.  Per round:

    - large-star: every node links its strictly-larger neighbors to the
      minimum of its neighborhood (including itself);
    - small-star: orienting each edge large->small, every node links its
      smaller neighbors AND itself to the minimum of those.

    Both preserve connectivity; the fixpoint is a star per component
    rooted at the component's minimum id.  Called directly it skips the
    driver bound, which is how ``neardup_components(star=True)`` reaches
    it; adversarial chain topologies (e.g. overlapping shingle chains
    across a scraped mirror farm) converge here in a handful of rounds.
    """
    # no distinct on the canonicalized input (one exchange + AQE round
    # saved): round 1's collect_set dedups duplicate edges in-row, the
    # round invariant keeps later edge sets canonical, and label
    # extraction dedups with its own distinct.  NOT checkpointed (r12):
    # since the in-row explode rewrite, round 1 reads the input edge
    # frame through exactly ONE plan branch, so an eager checkpoint here
    # is a pure extra materialization (one blocking job + a full write/
    # read of the edge list) — the caller's pipeline executes once
    # either way, inside round 1's own checkpoint job; every LATER round
    # reads only the previous round's checkpointed cur, so lineage stays
    # truncated.
    pairs = edges.select(
        F.least(F.col(src_col), F.col(dst_col)).alias("s"),
        F.greatest(F.col(src_col), F.col(dst_col)).alias("l"),
    ).filter(F.col("s") != F.col("l"))
    cur = pairs  # invariant: edges as (s, l) canonical pairs, s < l
    for round_no in range(max_rounds):
        # -- large-star, ONE shuffle: group each node's neighborhood
        # in-row (collect_set dedups cross-group edge duplicates from the
        # previous round) and link every strictly-larger neighbor to
        # m = min(N(u) u {u}) with an in-row explode — the r7 form spent
        # a groupBy + a join + a distinct here (3 shuffles)
        # both directions in-row, not union(fwd, rev): Spark has no
        # common-subexpression elimination, so the union form would plan
        # cur twice — one branch over cur, not two
        adj = cur.select(
            F.explode(
                F.array(
                    F.struct(F.col("s").alias("u"), F.col("l").alias("v")),
                    F.struct(F.col("l").alias("u"), F.col("s").alias("v")),
                )
            ).alias("e")
        ).select("e.u", "e.v")
        grouped = adj.groupBy("u").agg(F.collect_set("v").alias("vs"))
        m = F.least(F.col("u"), F.array_min("vs"))
        ls = grouped.select(
            m.alias("s"),
            F.explode(F.filter("vs", lambda v: v > F.col("u"))).alias("l"),
        ).filter(F.col("s") != F.col("l"))
        # -- small-star, ONE shuffle: group the smaller neighborhood by
        # the larger endpoint (all s < l, so min(ss) is the star root)
        # and link it plus the node itself to that min, again in-row
        g2 = ls.groupBy("l").agg(F.collect_set("s").alias("ss"))
        cur = (
            g2.select(
                F.array_min("ss").alias("s"),
                F.explode(
                    F.array_union("ss", F.array(F.col("l")))
                ).alias("l"),
            )
            .filter(F.col("s") != F.col("l"))
            .localCheckpoint(eager=True)
        )
        # fixpoints of the alternation are exactly unions of stars, and a
        # canonical edge set is a star set iff no node is both a root (s)
        # and a member (l) — one semi-join probe per round, far cheaper
        # than the two exceptAll set-equality shuffles it replaces.
        # The probe is SKIPPED after round 1 (r13): a non-trivial edge
        # set essentially never stars in one round, and when it does, the
        # next round is an idempotent no-op on a star set (large-star
        # re-emits (root, member) edges verbatim, small-star re-groups
        # them verbatim — both proven by the fixpoint characterization),
        # so correctness is unchanged and the common case saves one
        # action's worth of jobs per invocation.  A one-round budget has
        # no next round, so it probes round 1.
        if round_no == 0 and max_rounds > 1:
            continue
        chained = (
            cur.select("l")
            .join(cur.select(F.col("s").alias("l")), "l", "leftsemi")
            .limit(1)
            .count()
        )
        if chained == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components_star did not reach the star fixpoint in "
            f"{max_rounds} rounds — raise max_rounds (label extraction from "
            "a chained edge set would return conflicting components)"
        )
    # fixpoint is a star per component: every edge is (root, member).
    # cur tolerates cross-group duplicate edges between rounds (the next
    # round's collect_set absorbs them), so dedup once at extraction
    labels = cur.select(
        F.col("l").alias("node"), F.col("s").alias("component")
    ).distinct()
    roots = cur.select(F.col("s").alias("node")).distinct().select(
        "node", F.col("node").alias("component")
    )
    return _attach_singletons(labels.union(roots), nodes, id_col)


def exact_contract(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> tuple[DataFrame, DataFrame]:
    """Collapse md5-exact duplicate texts to their min-id representative
    BEFORE near-dup pair generation and component propagation.

    Real crawled corpora are 20-40% byte-identical duplicates; every such
    group forms a Jaccard-1.0 CLIQUE in the pair graph (m docs -> m(m-1)/2
    edges and m shingle-set copies through the posting lists), all of
    which collapses to one node here at the cost of a single md5 groupBy
    whose shuffle carries (hash, id).  Returns ``(rep_docs, members)``:
    ``rep_docs`` has one row per distinct text (representative id + text),
    ``members`` maps every doc id to its representative
    (``rep_id == id`` for representatives themselves).

    Correctness contract (the reason this is parity-exact, not an
    approximation): J(rep_a, rep_b) = J(a, b) for any members a, b —
    identical texts have identical shingle sets — so the rep graph has an
    edge iff the full graph connects the groups, and within a group every
    member is connected to its rep by a J=1.0 edge.  The component LABEL
    is also preserved: min doc id over a full cluster = min over its
    groups' min-ids = min rep id.  Docs with FEWER THAN ``n`` tokens have
    no n-shingles, so the pair graph gives two identical short texts NO
    edge — they must remain separate singletons, and therefore only docs
    with >= 1 shingle are eligible to contract (the fp for the rest is a
    per-doc unique sentinel).

    SCOPE of the parity claim (ADVICE r11): the argument above holds in
    the sub-``max_df`` regime of ``ngram_jaccard_pairs`` — where no
    duplicate group alone pushes a shingle's document frequency past the
    cap.  Exact-duplicate MULTIPLICITY counts toward df only in the
    uncontracted form, so a group of more than ``max_df`` identical
    copies has its own shingles df-pruned there (every copy degrades to a
    signal-free singleton) while the contracted form counts the group
    once and keeps them.  The two behaviors diverge by construction and
    the contracted one is the intended semantics: it matches the UNCAPPED
    Jaccard oracle (a duplicate pile should never stopword its own
    contents away), while the cap keeps doing its real job — bounding
    CROSS-document boilerplate expansion, measured over distinct texts.
    Pinned by tests/test_llmops.py::test_exact_contract_beyond_max_df.
    """
    # the shuffles stay NARROW — (fp, id) only, text never moves: reps
    # come from a map-side-combined min(id) groupBy, members from a
    # co-keyed fp join, and the representatives' text re-attaches via a
    # semi join on id (AQE broadcasts the rep-id side while it fits;
    # at warehouse scale this is the write of the deduplicated corpus).
    # An earlier form carried the text through min(struct(id, text)) —
    # one wide shuffle of every document body, measured ~2x this one.
    # token_count is the space-counting form (no token-array allocation
    # in the keying map stage; same rule duplicate_rate probes with)
    has_shingle = token_count(text_col) >= n
    keyed = df.select(
        F.col(id_col),
        F.when(has_shingle, F.md5(F.col(text_col)))
        .otherwise(F.concat(F.lit("~"), F.col(id_col).cast("string")))
        .alias("fp"),
    )
    reps = keyed.groupBy("fp").agg(F.min(id_col).alias("rep_id"))
    members = keyed.join(reps, "fp").select(F.col(id_col), "rep_id")
    rep_docs = df.select(id_col, text_col).join(
        reps.select(F.col("rep_id").alias(id_col)), id_col, "left_semi"
    )
    return rep_docs, members


def expand_contracted_components(
    comp_rep: DataFrame, members: DataFrame, id_col: str
) -> DataFrame:
    """Re-attach contracted members: each doc inherits its exact-dup
    representative's component.  (id, component) over the FULL corpus."""
    return members.join(
        comp_rep.select(F.col(id_col).alias("rep_id"), "component"), "rep_id"
    ).select(F.col(id_col), "component")


def duplicate_rate(df: DataFrame, text_col: str, n: int = 3) -> float:
    """EXACT fraction of rows the contraction can actually REMOVE:
    byte-exact duplicates of an earlier row that also carry >= 1
    n-shingle — the same eligibility rule ``exact_contract`` applies
    (short/NULL/empty texts get per-doc sentinel fps there and never
    collapse, so counting them would enable a contraction pass that
    contracts nothing on a short-duplicate-heavy corpus — NULL and ''
    even hash identically).  Computed with a two-level aggregate
    (groupBy md5 -> count groups; ineligible rows share the one NULL-fp
    group and are excluded from the numerator).  The shuffle carries
    only PER-PARTITION-DISTINCT 32-byte fingerprints (map-side
    combine), so at any corpus scale the probe moves a vanishing
    fraction of corpus bytes (~0.003% for 1 KB docs) and the text
    itself never moves.

    An earlier form used ``approx_count_distinct``: at the rsd needed to
    sit a 2% threshold (0.005) Spark's HLL++ has a multi-second fixed
    register cost (measured 7-13 s vs 0.5-1.0 s for this exact form at
    the sf1 corpus — the r12 sf1 ABA bracket flagged it as a 1.9-2.6x
    wall regression on every contraction-wired query), so exact is both
    sharper AND cheaper here."""
    # ">= n tokens" WITHOUT materializing the token array (r12 opt):
    # token_count is the space-counting form — skips the regex split +
    # per-token string allocation that dominated the probe's map stage
    # (pinned by test_duplicate_rate_predicate_equivalence), and is the
    # SAME expression exact_contract keys on, so the probe's decision
    # can never drift from the rule the contraction applies.
    has_shingle = token_count(text_col) >= n
    row = (
        df.select(
            F.when(has_shingle, F.md5(F.col(text_col))).alias("fp")
        )
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.sum("c").alias("n_total"),
            F.sum(F.when(F.col("fp").isNotNull(), F.col("c"))).alias("elig"),
            F.count(F.when(F.col("fp").isNotNull(), True)).alias("groups"),
        )
        .first()
    )
    if not row.n_total or row.elig is None:
        return 0.0
    return max(0.0, (row.elig - row.groups) / row.n_total)


# Skip-the-contraction threshold, grounded in the r12 forced-rate sweep
# (tools_contract_crossover.py, 50k-doc corpus, PAIR-style duplicates —
# the conservative case, least removable clique mass per duplicate):
# parity 0 mismatches at every rate; walls cross over near ~14% there,
# while pile-style duplication (real crawls) crosses near zero and wins
# 7.4x with 45 GB less spill at 100x/30% (ROUND11_NOTES §4).  The
# threshold sits LOW: below it there is by definition almost nothing to
# contract (the premium is pure waste — the r11 sf0.1 trio's ~1.2x),
# above it the contraction is cheap O(corpus) insurance against
# duplicate piles, whose uncontracted worst case is otherwise only
# bounded by ngram_jaccard_pairs' max_df backstop.
CONTRACT_MIN_DUP_RATE = 0.02


def neardup_components(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    star: bool = False,
    contract: bool | str = "auto",
) -> DataFrame:
    """pairs -> connected components over the full corpus, with the
    exact-dup PRE-CONTRACTION rate-adaptive by default: shingling,
    posting lists, pair expansion and label propagation all run on one
    representative per distinct text, and members re-expand at the end
    (r10 verdict item #3 — the planted 100x rehearsal clusters spend GBs
    of shuffle and spill propagating through duplicate cores that
    contribute no new components).

    ``contract="auto"`` (default, r11 verdict item #6) probes the
    corpus's CONTRACTIBLE byte-exact duplicate rate with one exact
    distinct-fingerprint aggregate (``duplicate_rate`` — narrow
    md5-only shuffle, same eligibility rule as the contraction
    itself) and contracts only when the rate clears
    ``CONTRACT_MIN_DUP_RATE`` — at realistic crawl rates (20-40%) the
    contraction is a 7.4x wall / 8.3x shuffle / 45 GB-spill win, while
    on a nearly-duplicate-free corpus (the sf0.1 base at 0.16%) the md5
    groupBy + re-expand join can only cost; the probe removes that
    premium without giving up the win.  ``contract=True``/``False``
    force either form (the measured A/B twins); the two produce
    identical (id, component) rows in the sub-max_df regime (parity
    argument and its SCOPE in ``exact_contract`` — a duplicate group
    larger than ngram_jaccard_pairs' max_df df-prunes its own shingles
    only in the uncontracted form; the contracted form keeps them,
    matching the uncapped oracle).  Pinned by the shared recursive-CTE
    oracle and tests/test_llmops.py."""
    if not (isinstance(contract, bool) or contract == "auto"):
        raise ValueError(
            f"contract must be 'auto', True or False, got {contract!r}"
        )
    if contract == "auto":
        contract = duplicate_rate(docs, text_col) >= CONTRACT_MIN_DUP_RATE
    if contract:
        rep_docs, members = exact_contract(docs, id_col, text_col, n)
    else:
        rep_docs, members = docs, None
    pairs = ngram_jaccard_pairs(rep_docs, id_col, text_col, n=n, threshold=threshold)
    cc = connected_components_star if star else connected_components
    comp = cc(pairs, rep_docs, id_col)
    if members is not None:
        comp = expand_contracted_components(comp, members, id_col)
    return comp


def duplicate_span_stats(
    df: DataFrame, id_col: str, text_col: str, n: int = 8
) -> DataFrame:
    """Inter-document duplicate-SPAN statistics: per document, how many of
    its tokens sit inside a token window that also occurs verbatim in some
    OTHER document (the overlapping-n-gram formulation of substring dedup
    from the training-data-dedup literature — cf. the ExactSubstr
    procedure of Lee et al., "Deduplicating Training Data Makes Language
    Models Better", ACL 2022, public literature).  Differs from
    ``segment_dup_stats``: segments are non-overlapping fixed blocks
    (cheap, position-insensitive), while spans here are maximal unions of
    OVERLAPPING duplicated n-gram windows, so a copied passage is measured
    at its true extent regardless of alignment.

    Output: (id, n_tokens, n_dup_spans, dup_tokens, dup_fraction) with
    zero-filled rows for clean documents.  Integer logic throughout; the
    one double division is engine-reproducible.

    Scale shape: positions ride the gram stream in-row (posexplode of the
    in-row n-gram array); the shuffle key is md5(gram) — fixed 16-byte
    binary rows, never the gram text.  Duplicate grams are found in ONE
    hash-partitioned pass (min/max(id) window over the gram hash) rather
    than a posting-list expansion: a boilerplate gram shared by a million
    documents is a million rows in one spillable window buffer, never an
    in-row million-entry list, so flood grams cannot blow worker memory
    (they spill).  Span merging is one per-doc window over the FLAGGED
    positions only (duplicated-content-sized, not corpus-sized):
    cumulative max-end interval union.
    """
    from pyspark.sql import Window

    from data_pipeline_spark.llmops.textstats import word_ngrams

    grams = df.select(
        F.col(id_col),
        F.posexplode(word_ngrams(tokens(text_col), n)).alias("pos", "g"),
    ).select(id_col, "pos", F.unhex(F.md5("g")).alias("h"))
    # "occurs in >= 2 distinct docs" == min(id) != max(id): one partial-
    # aggregated pass, no distinct expansion.  The key is the 16-byte
    # BINARY md5 (not the 32-char hex string) — halves the shuffle width
    # of the gram stream, still collision-safe at corpus scale.
    # ONE hash-partitioned pass over the gram stream (r12): min/max(id)
    # as window aggregates over partitionBy(h), filter in place.  The
    # r11 groupBy(h) + join-back form scanned AND shuffled the corpus
    # gram stream twice (no CSE across the two branches; 18.7 CPU-s of
    # its 28 at sf0.1 was the duplicated stream); the join itself also
    # concentrated every flood-gram row in one h-partition, so the
    # window form's per-group buffer (spillable
    # ExternalAppendOnlyUnsafeRowArray) has the same skew exposure the
    # join had, while moving the stream over the network once instead
    # of twice.  Row set is identical: min(id) != max(id) over the
    # h-partition == "occurs in >= 2 distinct docs".
    w_h = Window.partitionBy("h")
    flagged = (
        grams.withColumn("lo", F.min(id_col).over(w_h))
        .withColumn("hi", F.max(id_col).over(w_h))
        .filter(F.col("lo") != F.col("hi"))
        .select(id_col, "pos")
    )
    w_prev = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    spans = flagged.withColumn("e", F.col("pos") + F.lit(n - 1)).withColumn(
        "prev_e", F.max("e").over(w_prev)
    )
    new_span = F.col("prev_e").isNull() | (F.col("pos") > F.col("prev_e"))
    contrib = (
        F.when(new_span, F.lit(n))
        .when(F.col("e") > F.col("prev_e"), F.col("e") - F.col("prev_e"))
        .otherwise(F.lit(0))
    )
    per = spans.groupBy(id_col).agg(
        F.sum(new_span.cast("long")).alias("n_dup_spans"),
        F.sum(contrib).alias("dup_tokens"),
    )
    # token_count = the space-counting form: this branch re-reads the
    # corpus text ONLY to count tokens, so skipping the regex split +
    # token-array allocation cuts the branch's map stage ~5x (r12)
    nt = df.select(F.col(id_col), token_count(text_col).alias("n_tokens"))
    # per is one row per document (corpus-sized, post-agg estimate reads
    # small) — pin the co-keyed shuffle instead of a growing broadcast
    return nt.join(per.hint("shuffle_hash"), id_col, "left").select(
        id_col,
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.coalesce(F.col("n_dup_spans"), F.lit(0)).cast("long").alias(
            "n_dup_spans"
        ),
        F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("long").alias(
            "dup_tokens"
        ),
        (
            F.coalesce(F.col("dup_tokens"), F.lit(0))
            / F.col("n_tokens").cast("double")
        ).alias("dup_fraction"),
    )
