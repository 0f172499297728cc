"""LLM-data-pipeline query catalog: text analysis, dedup families,
similarity search, multimodal plumbing — each Spark implementation paired
with DuckDB oracle SQL (same md5-derived hash families, same quantized
fixed-point similarity math, so results match bit-for-bit).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_spark.io import (
    build_once,
    cache_path,
    load_spread,
    load_table,
    parquet_nonnull_rows,
    parquet_num_rows,
    read_parquet_cached,
    spread_scan,
    table_rows,
)
from data_pipeline_spark.llmops import dedup as ld
from data_pipeline_spark.llmops import multimodal, similarity, sketches, textstats
from data_pipeline_spark.queries import QUERIES, register

_STOP_EN_SQL = "('the','a','of','and','to','in','is')"


def _corpus_model(spark: SparkSession, sf_dir: str, **train_args):
    """The ``pq.AnnModel`` of ``sf_dir``'s embeddings file, trained ONCE
    per (file identity, ``pq.ann_train`` arguments) and persisted as
    ``model.json`` through ``io.build_once``: what every catalog ANN
    query searches with, where it used to train per call (build once per
    corpus snapshot, serve many reads, as REPOSE and the incremental
    top-k framework do).  Every call, the building one included, returns
    the model read back from the file (JSON floats round-trip double
    exactly), so cold and warm calls search with the same bytes."""
    import json

    from data_pipeline_spark.llmops import pq

    def build(stage):
        emb = load_table(spark, sf_dir, "embeddings")
        pq.write_model(stage, pq.ann_train(emb, **train_args))

    final = cache_path(
        "ann_model",
        [os.path.join(sf_dir, "embeddings.parquet")],
        json.dumps(train_args, sort_keys=True),
        name="model.json",
    )
    return pq.read_model(build_once(final, build))[0]


@register(
    "doc_text_stats",
    f"""
    SELECT doc_id,
           len(string_split(text,' ')) AS n_tokens,
           len(list_distinct(string_split(text,' '))) AS n_distinct_tokens,
           len(list_distinct(string_split(text,' ')))
             / CAST(len(string_split(text,' ')) AS DOUBLE) AS distinct_ratio,
           (length(text) - (len(string_split(text,' ')) - 1))
             / CAST(len(string_split(text,' ')) AS DOUBLE) AS avg_token_len,
           len(list_filter(string_split(text,' '), x -> x IN {_STOP_EN_SQL}))
             / CAST(len(string_split(text,' ')) AS DOUBLE) AS stopword_ratio
    FROM documents
    """,
    doc="Per-document token/quality features in one codegen scan (no "
    "shuffle): the cheap filters a pretraining pipeline runs first.",
    tags=("llm", "textstats"),
)
def doc_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return textstats.quality_features(docs).select(
        "doc_id",
        "n_tokens",
        "n_distinct_tokens",
        "distinct_ratio",
        "avg_token_len",
        "stopword_ratio",
    )


@register(
    "doc_quality_scores",
    f"""
    SELECT doc_id,
           (len(list_distinct(string_split(text,' ')))
              / CAST(len(string_split(text,' ')) AS DOUBLE)) * 0.5
           + (len(list_filter(string_split(text,' '), x -> x IN {_STOP_EN_SQL}))
              / CAST(len(string_split(text,' ')) AS DOUBLE)) * 0.3
           + (least(CAST(len(string_split(text,' ')) AS DOUBLE), 100.0) / 100.0) * 0.2
             AS quality_score
    FROM documents
    """,
    doc="Composite quality score (diversity + stopword density + length "
    "cap); fixed double expression order => engine-reproducible.",
    tags=("llm", "textstats"),
)
def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return textstats.quality_features(docs).select(
        "doc_id", textstats.quality_score().alias("quality_score")
    )


def _hits_sql(lang: str) -> str:
    stops = ",".join(f"'{s}'" for s in textstats.STOPWORDS[lang])
    return f"len(list_filter(string_split(text,' '), x -> x IN ({stops})))"


@register(
    "doc_lang_id",
    f"""
    WITH scored AS (
        SELECT doc_id, lang,
               {_hits_sql('de')} AS h_de, {_hits_sql('en')} AS h_en,
               {_hits_sql('es')} AS h_es, {_hits_sql('fr')} AS h_fr
        FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN greatest(h_de,h_en,h_es,h_fr) = 0 THEN 'und'
                WHEN h_de = greatest(h_de,h_en,h_es,h_fr) THEN 'de'
                WHEN h_en = greatest(h_de,h_en,h_es,h_fr) THEN 'en'
                WHEN h_es = greatest(h_de,h_en,h_es,h_fr) THEN 'es'
                ELSE 'fr' END AS lang_pred
    FROM scored
    """,
    doc="Function-word-ratio language ID (n-gram heuristic), lexicographic "
    "tie-break; compared against the corpus label downstream.",
    tags=("llm", "textstats"),
)
def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", "lang", textstats.lang_id("text").alias("lang_pred")
    )


@register(
    "ngram_repetition_filter",
    """
    WITH g AS (
        SELECT doc_id, string_split(text,' ') AS toks FROM documents
    ), n AS (
        SELECT doc_id,
               CASE WHEN len(toks) >= 2 THEN
                 list_transform(generate_series(1, len(toks)-1),
                                i -> toks[i] || ' ' || toks[i+1])
               ELSE [] END AS g2,
               CASE WHEN len(toks) >= 3 THEN
                 list_transform(generate_series(1, len(toks)-2),
                                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
               ELSE [] END AS g3
        FROM g
    )
    SELECT doc_id,
           CASE WHEN len(g2) = 0 THEN 0.0
                ELSE 1.0 - len(list_distinct(g2)) / CAST(len(g2) AS DOUBLE)
           END AS rep_2gram,
           CASE WHEN len(g3) = 0 THEN 0.0
                ELSE 1.0 - len(list_distinct(g3)) / CAST(len(g3) AS DOUBLE)
           END AS rep_3gram,
           CAST((CASE WHEN len(g2) = 0 THEN 0.0
                 ELSE 1.0 - len(list_distinct(g2)) / CAST(len(g2) AS DOUBLE) END) > 0.18
             OR (CASE WHEN len(g3) = 0 THEN 0.0
                 ELSE 1.0 - len(list_distinct(g3)) / CAST(len(g3) AS DOUBLE) END) > 0.16
             AS INT) AS is_repetitive
    FROM n
    """,
    doc="Gopher/MassiveText-style repetition gate: per-document duplicate "
    "2-/3-gram fraction (1 - distinct/total over word n-grams) plus the "
    "boolean gate at the published thresholds.  All in-row array ops on "
    "one codegen scan — no explode, no shuffle, so it composes with the "
    "other cheap quality filters at any corpus size.  Integer counts => "
    "the double division reproduces bitwise across engines.",
    tags=("llm", "textstats", "quality"),
)
def ngram_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Two-projection shape, measured 12.9 s -> 0.8 s at sf0.1: (1) the
    # expensive gram arrays (linear zip_with form, textstats.word_ngrams)
    # are consumed ONCE each — total counts are pure arithmetic on the
    # token count, only array_distinct touches the array; (2) the ratio
    # expressions then reference the tiny count columns, so the flag's
    # re-use of r2/r3 re-reads integers, not rebuilt arrays.
    # conditional spread (r13): the r9 "deliberately NOT repartitioned"
    # rationale predates spread_scan's conditional form — at scale the
    # scan arrives already split and NO exchange is planned (the plan
    # test still pins join-free + single-scan; the only exchange ever
    # allowed is the small-SF round-robin spread), while at the bench
    # SFs the ~1 CPU-s of in-row gram math stops running on one core
    docs = load_spread(spark, sf_dir, "documents")
    toks = textstats.tokens("text")
    sz = F.size(toks)
    counted = docs.select(
        "doc_id",
        F.greatest(sz - 1, F.lit(0)).alias("n2"),
        F.size(F.array_distinct(textstats.word_ngrams(toks, 2))).alias("d2"),
        F.greatest(sz - 2, F.lit(0)).alias("n3"),
        F.size(F.array_distinct(textstats.word_ngrams(toks, 3))).alias("d3"),
    )

    def rep(n, d):
        return F.when(F.col(n) == 0, F.lit(0.0)).otherwise(
            F.lit(1.0) - F.col(d) / F.col(n).cast("double")
        )

    r2, r3 = rep("n2", "d2"), rep("n3", "d3")
    return counted.select(
        "doc_id",
        r2.alias("rep_2gram"),
        r3.alias("rep_3gram"),
        ((r2 > 0.18) | (r3 > 0.16)).cast("int").alias("is_repetitive"),
    )


@register(
    "doc_fingerprints",
    """
    SELECT doc_id,
           md5(text) AS doc_md5,
           md5(array_to_string(list_sort(list_distinct(string_split(text,' '))),' '))
             AS content_fp
    FROM documents
    """,
    doc="Raw + order-normalized content fingerprints (rolling-hash family "
    "analogue) for exact and shuffled-copy detection.",
    tags=("llm", "fingerprint"),
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return textstats.fingerprints(docs, "doc_id", "text")


@register(
    "doc_exact_dedup",
    """
    SELECT md5(text) AS doc_md5, COUNT(*) AS n_copies, MIN(doc_id) AS keeper_id
    FROM documents
    GROUP BY 1
    """,
    doc="Exact dedup groups keyed by md5 — the shuffle carries (hash,id), "
    "never the document body.",
    tags=("llm", "dedup"),
)
def doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return ld.exact_dup_groups(docs, "doc_id", "text")


_SHINGLES_SQL = """
    toks AS (
        SELECT doc_id, unnest(string_split(text,' ')) AS w,
               generate_subscripts(string_split(text,' '), 1) AS i
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               w || ' ' || lead(w,1) OVER (PARTITION BY doc_id ORDER BY i)
                 || ' ' || lead(w,2) OVER (PARTITION BY doc_id ORDER BY i) AS shingle
        FROM toks
        QUALIFY shingle IS NOT NULL
    )
"""


@register(
    "jaccard_neardup_pairs",
    f"""
    WITH {_SHINGLES_SQL},
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.8
    """,
    doc="3-gram shingle-set Jaccard near-dup pairs via inverted shingle "
    "index — the quadratic pair space is never materialized.",
    tags=("llm", "dedup"),
)
def jaccard_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return ld.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.8)


@register(
    "eval_decontamination",
    """
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text,' ')) AS w,
               generate_subscripts(string_split(text,' '), 1) AS i
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               w || ' ' || lead(w,1) OVER (PARTITION BY doc_id ORDER BY i)
                 || ' ' || lead(w,2) OVER (PARTITION BY doc_id ORDER BY i)
                 || ' ' || lead(w,3) OVER (PARTITION BY doc_id ORDER BY i) AS shingle
        FROM toks
        QUALIFY shingle IS NOT NULL
    ),
    eval_sh AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0)
    SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_shingles
    FROM sh s JOIN eval_sh e ON s.shingle = e.shingle
    WHERE s.doc_id % 97 <> 0
    GROUP BY s.doc_id
    """,
    doc="Training-eval decontamination: train docs sharing any word 4-gram "
    "with the eval split (here doc_id %% 97 == 0 stands in for a benchmark "
    "set), plus the count of distinct shared shingles.  The eval shingle "
    "set broadcasts; the corpus side is filtered map-side — no shuffle of "
    "the big side.",
    tags=("llm", "dedup", "decontamination"),
)
def eval_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread the small-SF single-file scan so the tokenize/shingle/md5
    # map work uses the cluster (r9 measured A/B); r12: conditional — at
    # scale the scan arrives already split and the round-robin shuffle
    # the unconditional form paid is removed outright (guide §2.4)
    docs = load_spread(spark, sf_dir, "documents")
    eval_df = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    return ld.decontaminate(train, eval_df, "doc_id", "text", n=4)


_MH_VALUES_SQL = ", ".join(
    f"({j}, {ld._mh_consts(j)[0]}, {ld._mh_consts(j)[1]})" for j in range(12)
)


@register(
    "minhash_lsh_candidates",
    f"""
    WITH {_SHINGLES_SQL},
    hashed AS (
        SELECT doc_id, t.seed,
               (t.a * ('0x' || substr(md5(shingle), 1, 7))::BIGINT + t.b)
                   % 2147483647 AS h
        FROM sh CROSS JOIN (VALUES {_MH_VALUES_SQL}) t(seed, a, b)
    ),
    per_seed AS (SELECT doc_id, seed, MIN(h) AS minh FROM hashed GROUP BY 1, 2),
    banded AS (
        SELECT doc_id, CAST(seed // 3 AS INT) AS band,
               md5(string_agg(CAST(minh AS VARCHAR), '|' ORDER BY seed)) AS bucket
        FROM per_seed GROUP BY doc_id, CAST(seed // 3 AS INT)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared_bands
    FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
         AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    """,
    doc="MinHash(12)+LSH(4 bands x 3 rows) candidate pairs: universal "
    "modular family (a_j*x + b_j mod 2^31-1) off one md5 per shingle "
    "(r10 — the r7 Kirsch-Mitzenmacher form lacked the modular wrap, "
    "correlating the 12 orderings and losing 1.5% of J>=0.97 planted "
    "pairs at the 10x rehearsal; per-seed md5s would be 12 digests per "
    "shingle occurrence, the pre-r7 dominant CPU), posting-list pairing, "
    "one shuffle.",
    tags=("llm", "dedup"),
)
def minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread the small-SF single-file scan so the tokenize/shingle/md5
    # map work uses the cluster (r9 measured A/B); r12: conditional — at
    # scale the scan arrives already split and the round-robin shuffle
    # the unconditional form paid is removed outright (guide §2.4)
    docs = load_spread(spark, sf_dir, "documents")
    return ld.minhash_lsh_candidate_pairs(
        docs, "doc_id", "text", num_hashes=12, bands=4, n=3
    )


# shared by the signature + pairs oracles (DuckDB CTE body)
_SIMHASH_SQL = """
    toks AS (
        SELECT doc_id, md5(unnest(string_split(text,' '))) AS hw FROM documents
    ),
    votes AS (
        SELECT doc_id, t.b,
               SUM(2 * ((strpos('0123456789abcdef',
                                substr(hw, CAST(t.b // 4 AS INT) + 1, 1)) - 1)
                        >> (3 - (t.b % 4)) & 1) - 1) AS v
        FROM toks CROSS JOIN range(0, 32) t(b)
        GROUP BY 1, 2
    ),
    sig AS (
        SELECT doc_id,
               CAST(SUM(CAST(CASE WHEN v >= 0 THEN 1 ELSE 0 END AS BIGINT)
                   * (CAST(1 AS BIGINT) << CAST(31 - b AS INT))) AS BIGINT) AS simhash
        FROM votes
        GROUP BY doc_id
    )
"""


@register(
    "simhash_signatures",
    f"WITH {_SIMHASH_SQL} SELECT doc_id, simhash FROM sig",
    doc="32-bit SimHash signatures from md5-nibble bit votes; integer "
    "codegen end-to-end.",
    tags=("llm", "dedup"),
)
def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread the small-SF single-file scan so the tokenize/shingle/md5
    # map work uses the cluster (r9 measured A/B); r12: conditional — at
    # scale the scan arrives already split and the round-robin shuffle
    # the unconditional form paid is removed outright (guide §2.4)
    docs = load_spread(spark, sf_dir, "documents")
    return ld.simhash_signatures(docs, "doc_id", "text", bits=32)


@register(
    "simhash_flood_stats",
    f"""
    WITH {_SIMHASH_SQL},
    banded AS (
        SELECT doc_id, CAST(t.band AS INT) AS band,
               CAST(floor(simhash / power(2.0, (3 - t.band) * 8)) AS BIGINT)
                   % 256 AS bucket
        FROM sig CROSS JOIN range(0, 4) t(band)
    ),
    per_bucket AS (
        SELECT band, bucket, COUNT(*) AS n_docs FROM banded GROUP BY 1, 2
    )
    SELECT band,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(CAST(n_docs > 10 AS INT)) AS BIGINT) AS n_flooded_buckets,
           CAST(SUM(CASE WHEN n_docs > 10 THEN n_docs ELSE 0 END) AS BIGINT)
               AS n_flooded_postings,
           CAST(MAX(n_docs) AS BIGINT) AS max_bucket_size
    FROM per_bucket GROUP BY band ORDER BY band
    """,
    doc="Flood audit for the capped posting-list pairing: per SimHash "
    "band, how many buckets (and doc postings) exceed the cap and would "
    "be dropped before pair expansion, plus the peak bucket size — the "
    "companion measurement that turns the cap's documented drop-semantics "
    "from silent into observed (32-bit bands flood linearly with corpus "
    "size, the reason the 64-bit banding is the scale path).  Same "
    "(band, bucket) groupBy the pairing itself runs; counts only.",
    tags=("llm", "dedup"),
)
def simhash_flood_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    stats = ld.simhash_flood_stats(
        docs, "doc_id", "text", bits=32, max_bucket=10
    )
    return stats.select(
        F.col("band").cast("int").alias("band"),
        F.col("n_buckets").cast("long").alias("n_buckets"),
        F.col("n_flooded_buckets").cast("long").alias("n_flooded_buckets"),
        F.col("n_flooded_postings").cast("long").alias("n_flooded_postings"),
        F.col("max_bucket_size").cast("long").alias("max_bucket_size"),
    )


@register(
    "simhash_neardup_pairs",
    f"""
    WITH {_SIMHASH_SQL}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
    doc="SimHash near-dup pairs at Hamming <= 3.  The Spark side blocks on "
    "4 bit-prefix bands — EXACT here by pigeonhole (distance <= 3 over 4 "
    "bands forces one identical band), so the banded join is oracle-"
    "comparable against the O(n^2) SQL formulation while scanning only "
    "band-bucket collisions at scale.",
    tags=("llm", "dedup"),
)
def simhash_neardup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # this query is the ORACLE ANCHOR, so its cap sits above the catalog-SF
    # bucket envelope (sf0.1 peaks at ~1.1k docs/bucket — the 2^8-bucket
    # bands flood linearly with corpus size, which is exactly why
    # simhash64_neardup_pairs with 2^16-bucket bands is the scale path;
    # the library default max_bucket=1000 stays the production guard)
    pairs = ld.simhash_neardup_pairs(
        docs, "doc_id", "text", max_hamming=3, max_bucket=10_000
    )
    return pairs.select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


@register(
    "simhash64_neardup_pairs",
    """
    WITH toks AS (
        SELECT doc_id, md5(unnest(string_split(text,' '))) AS hw FROM documents
    ),
    votes AS (
        SELECT doc_id, t.b,
               SUM(2 * ((strpos('0123456789abcdef',
                                substr(hw, CAST(t.b // 4 AS INT) + 1, 1)) - 1)
                        >> (3 - (t.b % 4)) & 1) - 1) AS v
        FROM toks CROSS JOIN range(0, 64) t(b)
        GROUP BY 1, 2
    ),
    sig AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN b < 32 THEN
                   CAST(CASE WHEN v >= 0 THEN 1 ELSE 0 END AS BIGINT)
                   * (CAST(1 AS BIGINT) << CAST(31 - b AS INT))
                 ELSE 0 END) AS BIGINT) AS sh_hi,
               CAST(SUM(CASE WHEN b >= 32 THEN
                   CAST(CASE WHEN v >= 0 THEN 1 ELSE 0 END AS BIGINT)
                   * (CAST(1 AS BIGINT) << CAST(63 - b AS INT))
                 ELSE 0 END) AS BIGINT) AS sh_lo
        FROM votes GROUP BY doc_id
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.sh_hi, b.sh_hi))
                + bit_count(xor(a.sh_lo, b.sh_lo)) AS INT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sh_hi, b.sh_hi))
          + bit_count(xor(a.sh_lo, b.sh_lo)) <= 3
    """,
    doc="64-bit SimHash near-dup pairs — the banding scale path: 4 bands "
    "x 16 bits = 65536 buckets/band (vs 256 for 32-bit), same Hamming<=3 "
    "pigeonhole exactness, so the banded capped-posting-list Spark plan "
    "verifies against the O(n^2) SQL formulation (upgraded from rows-only "
    "in r7; previously brute-force-verified in unit tests only).",
    tags=("llm", "dedup", "scale-path"),
)
def simhash64_neardup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return ld.simhash64_neardup_pairs(docs, "doc_id", "text", max_hamming=3)


_QDOT = (
    "list_sum(list_transform({a}, (x,i) -> "
    "CAST(ROUND(CAST(x AS DOUBLE)*1000000, 0) AS BIGINT) "
    "* CAST(ROUND(CAST({b}[i] AS DOUBLE)*1000000, 0) AS BIGINT)))"
)


def _cos_sql(a: str, b: str) -> str:
    # NULLIF mirrors similarity._cos_from_parts' zero-norm guard: a
    # zero-quantizing embedding scores NULL on BOTH engines (DuckDB's
    # IEEE float division would otherwise yield NaN/inf here while Spark
    # returns NULL, and the two sort differently — a driver hash-mismatch
    # on a query that is behaving as designed).
    dot = _QDOT.format(a=a, b=b)
    na = _QDOT.format(a=a, b=a)
    nb = _QDOT.format(a=b, b=b)
    return (
        f"CAST({dot} AS DOUBLE) / NULLIF("
        f"sqrt(CAST({na} AS DOUBLE)) * sqrt(CAST({nb} AS DOUBLE)), 0.0)"
    )


_COSINE_TOPK_SQL = f"""
    WITH scored AS (
        SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
               {_cos_sql('q.embedding', 'b.embedding')} AS cos_sim
        FROM embeddings q JOIN embeddings b ON q.vec_id != b.vec_id
        WHERE q.vec_id < 5
    )
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cos_sim DESC, neighbor_id ASC) AS rank,
           cos_sim
    FROM scored
    QUALIFY rank <= 10
    """


@register(
    "embedding_cosine_topk",
    _COSINE_TOPK_SQL,
    doc="Brute-force cosine top-k (ANN baseline): queries broadcast, base "
    "scanned once; 1e-6 quantized integer dot => bit-reproducible.",
    tags=("llm", "similarity"),
)
def embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(
        emb, emb.filter(F.col("vec_id") < 5), id_col="vec_id", k=10
    )


@register(
    "filtered_cosine_topk",
    f"""
    WITH scored AS (
        SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id, b.label,
               {_cos_sql('q.embedding', 'b.embedding')} AS cos_sim
        FROM embeddings q JOIN embeddings b ON q.vec_id != b.vec_id
        WHERE q.vec_id < 5 AND b.label IN (0, 2, 4, 6, 8)
    )
    SELECT query_id, neighbor_id, CAST(label AS BIGINT) AS label,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cos_sim DESC, neighbor_id ASC) AS rank,
           cos_sim
    FROM scored
    QUALIFY rank <= 10
    """,
    doc="Metadata-FILTERED vector search (the vector-store staple): "
    "exact cosine top-k restricted to rows matching a metadata "
    "predicate.  PRE-filter semantics — the predicate applies before "
    "any vector math, so k is always filled from the eligible set "
    "(post-filtering an ANN shortlist under-fills k when the predicate "
    "is selective).  At scale the predicate pushes to the parquet scan "
    "(partition/row-group pruning on the metadata column) and the IVF "
    "path composes identically: filter the codes table, then probe.",
    tags=("llm", "similarity"),
)
def filtered_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    eligible = emb.filter(F.col("label").isin(0, 2, 4, 6, 8))
    out = similarity.cosine_topk(
        eligible, emb.filter(F.col("vec_id") < 5), id_col="vec_id", k=10
    )
    lab = eligible.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").cast("bigint").alias("label"),
    )
    return out.join(F.broadcast(lab), "neighbor_id").select(
        "query_id", "neighbor_id", "label", "rank", "cos_sim"
    )


@register(
    "embedding_neardup_pairs",
    f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {_cos_sql('a.embedding', 'b.embedding')} AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE {_cos_sql('a.embedding', 'b.embedding')} >= 0.45
    """,
    doc="Exact cosine near-dup pairs (correctness baseline for the LSH "
    "scale path in llmops.similarity.lsh_neardup_pairs).",
    tags=("llm", "similarity"),
)
def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.neardup_pairs(emb, threshold=0.45)


@register(
    "multimodal_meta",
    """
    SELECT doc_id AS media_id, 'image' AS media_type, 'raw' AS format,
           octet_length(encode(text)) AS n_bytes
    FROM documents
    """,
    doc="Multimodal binary-column plumbing: opaque blob + typed metadata "
    "(decode itself is stubbed; see llmops.multimodal).",
    tags=("llm", "multimodal"),
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return multimodal.attach_media(docs, "doc_id", "text").select(
        "media_id", "media_type", "format", "n_bytes"
    )


@register(
    "multimodal_real_decode",
    None,  # pandas-UDF real-codec path: rows-only check
    doc="REAL media decode at query level: synthesize a valid bmp / ppm / "
    "png / jpeg / gif image or 16-bit PCM wav / flac per document "
    "(media_id % 7; pixels and samples = text bytes), decode each in the "
    "mapInPandas feature kernel — PNG runs a real zlib inflate + unfilter, "
    "JPEG a real Huffman + IDCT, GIF a real LZW decode, FLAC a real rice + "
    "fixed-predictor decode, WAV a real PCM parse — and emit actual "
    "luminance/amplitude-histogram statistics: the "
    "decode->stats path a production pipeline runs with PIL/soundfile, "
    "exercised end-to-end with the stdlib codecs.  Exploded to scalar "
    "rows for the driver canon.",
    tags=("llm", "multimodal"),
)
def multimodal_real_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the small-SF documents table is one parquet file = ONE partition;
    # spread it so the codec kernels use the cluster (at 100 TB the scan
    # arrives already split)
    docs = load_spread(spark, sf_dir, "documents")
    media = multimodal.synthesize_multiformat_media(docs, "doc_id", "text")
    feats = multimodal.extract_features(media)
    return feats.select(
        "media_id",
        "n_bytes",
        F.posexplode("features").alias("feat_idx", "value"),
    )


@register(
    "multimodal_features",
    None,  # pandas-UDF path: rows-only check (no SQL equivalent)
    doc="Arrow-batched fake feature extraction over binary media via "
    "mapInPandas — the GPU-inference batch shape, testable without codecs.  "
    "The catalog entry explodes the feature vector to (media_id, feat_idx, "
    "value) rows so the result is scalar-typed (driver-canon-safe); the "
    "array-valued API is multimodal.extract_features.",
    tags=("llm", "multimodal"),
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.attach_media(docs, "doc_id", "text")
    feats = multimodal.extract_features(media)
    return feats.select(
        "media_id",
        "n_bytes",
        F.posexplode("features").alias("feat_idx", "value"),
    )


@register(
    "multimodal_frame_pipeline",
    None,  # mapInPandas path: rows-only check (no SQL equivalent)
    doc="resize -> frame-sample pipeline over binary media: 1:1 resize to "
    "a fixed byte budget, then 1:N frame explosion inside mapInPandas "
    "(no join, blobs never transit an array column), then per-frame "
    "fingerprints.  Kernels are deterministic stubs; the batch shapes are "
    "the real contract.",
    tags=("llm", "multimodal"),
)
def multimodal_frame_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").limit(500)
    media = multimodal.attach_media(docs, "doc_id", "text")
    resized = multimodal.resize_media(media, width=16, height=16)
    frames = multimodal.sample_frames(resized, n_frames=4)
    return frames.select(
        "media_id", "frame_index", "n_bytes", F.md5("content").alias("frame_md5")
    )


@register(
    "multimodal_mp4_keyframes",
    """
    SELECT doc_id AS media_id,
           k AS frame_index,
           k AS pts_ticks,
           1 + greatest(octet_length(encode(coalesce(text, ''))), 1) AS n_bytes,
           TRUE AS payload_ok
    FROM (
        SELECT doc_id, text,
               unnest(generate_series(0, CAST(2 + doc_id % 5 AS BIGINT), 2)) AS k
        FROM documents
    )
    """,
    doc="REAL video-container demux at query level: synthesize a valid MP4 "
    "per document (3 + doc_id%5 frames, keyframes every 2nd sample, frame "
    "payloads derived from the text), then parse the ISO BMFF sample tables "
    "(stts/stsc/stsz/stco/stss) inside mapInPandas and emit the sync "
    "samples' (index, pts, size) plus a payload-integrity flag checked "
    "against the source text through a join.  The oracle reconstructs the "
    "expected sample table arithmetically from (doc_id, octet_length(text)) "
    "— a full cross-check that the container roundtrip preserves frame "
    "count, keyframe grid, timestamps, sizes and byte ranges.",
    tags=("llm", "multimodal"),
)
def multimodal_mp4_keyframes(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_spread(spark, sf_dir, "documents")
    media = multimodal.synthesize_mp4_media(docs, "doc_id", "text")
    frames = multimodal.sample_keyframes(media)
    joined = frames.join(
        docs.select(F.col("doc_id").alias("media_id"), "text"), "media_id"
    )
    expected_tail = F.when(
        F.coalesce(F.length("text"), F.lit(0)) > 0,
        F.encode(F.col("text"), "utf-8"),
    ).otherwise(F.lit(bytes([0])))
    payload_ok = (
        F.col("content") == F.concat(F.substring("content", 1, 1), expected_tail)
    ) & (F.hex(F.substring("content", 1, 1)) == F.lpad(F.hex("frame_index"), 2, "0"))
    return joined.select(
        "media_id",
        "frame_index",
        "pts_ticks",
        "n_bytes",
        payload_ok.alias("payload_ok"),
    )


@register(
    "multimodal_flac_roundtrip",
    """
    SELECT doc_id AS media_id,
           greatest(octet_length(encode(coalesce(text, ''))), 1) AS n_samples,
           CAST(8000 AS BIGINT) AS sample_rate,
           TRUE AS pcm_ok
    FROM documents
    """,
    doc="REAL lossless-compressed audio at query level: synthesize one FLAC "
    "stream per document (rice-coded fixed-predictor subset, llmops.flac; "
    "sample i = (text byte i - 128) * 256), decode it back inside "
    "mapInPandas and compare the PCM byte-for-byte against the stream "
    "recomputed from the source text through a join.  The oracle "
    "reconstructs (n_samples, sample_rate, pcm_ok) arithmetically from "
    "octet_length(text) — certifying the full encode -> Arrow transit -> "
    "decode roundtrip including CRC-8/CRC-16 and STREAMINFO MD5 checks.",
    tags=("llm", "multimodal"),
)
def multimodal_flac_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_spread(spark, sf_dir, "documents")
    media = multimodal.synthesize_audio_media(docs, "doc_id", "text", fmt="flac")
    joined = media.join(
        docs.select(F.col("doc_id").alias("media_id"), "text"), "media_id"
    )
    return multimodal.verify_audio_roundtrip(joined)


@register(
    "html_text_extraction",
    """
    SELECT doc_id,
           'doc-' || CAST(doc_id AS VARCHAR) AS title,
           CAST(1 + doc_id % 3 AS BIGINT) AS n_links,
           TRUE AS text_ok
    FROM documents
    """,
    doc="REAL HTML -> text extraction at query level (the CommonCrawl-"
    "WET step): each document is wrapped in a deterministic page "
    "template (title, 1+id%3 nav links, script/style junk, escaped "
    "body paragraphs, entity footer) and re-extracted with the stdlib-"
    "parser extractor inside mapInPandas — script/style dropped, blocks "
    "to line breaks, entities decoded, whitespace normalized.  text_ok "
    "pins the extracted text equal to the expected construction "
    "(computed independently from the source text in the kernel), and "
    "title/n_links are id-derivable, so the whole wrap -> parse -> "
    "extract round is oracle-verified.  Malformed-markup tolerance is "
    "unit-pinned (HTMLParser never raises).",
    tags=("llm", "textstats"),
)
def html_text_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    docs = load_spread(spark, sf_dir, "documents")

    def run(batches):
        from data_pipeline_spark.llmops import html_text

        for pdf in batches:
            if pdf.empty:
                continue
            rows = []
            for did, t in zip(pdf["doc_id"], pdf["text"]):
                did = int(did)
                out = html_text.extract_html(
                    html_text.wrap_in_html(did, t or "")
                )
                nav = [f"Nav {i}" for i in range(1 + did % 3)]
                paras = [
                    " ".join(p.split()) for p in (t or "").split("\n")
                ]
                expected = "\n".join(
                    nav + [p for p in paras if p] + ["© corpus"]
                )
                rows.append(
                    (
                        did,
                        out["title"],
                        len(out["links"]),
                        out["text"] == expected
                        and out["title"] == f"doc-{did}",
                    )
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "title", "n_links", "text_ok"]
            )

    return docs.select("doc_id", "text").mapInPandas(
        run, schema="doc_id long, title string, n_links long, text_ok boolean"
    )


@register(
    "warc_extraction",
    """
    SELECT doc_id,
           'https://corpus.example/doc/' || CAST(doc_id AS VARCHAR) AS url,
           CAST(3 AS BIGINT) AS n_records,
           CAST(200 AS BIGINT) AS http_status,
           doc_id % 2 = 1 AS gzipped,
           TRUE AS payload_ok
    FROM documents
    """,
    doc="REAL WARC ingest at query level — the CommonCrawl container the "
    "HTML->text step reads from: per document a 3-record WARC/1.0 file "
    "(warcinfo + request + response, per-record-gzipped .warc.gz layout "
    "for odd ids, plain for even) is synthesized around the html_text "
    "page template, then parsed back inside mapInPandas — gzip members "
    "inflated, record grammar walked by Content-Length, the response "
    "record gated on WARC-Type + application/http + HTTP 200 + "
    "text/html before extraction.  payload_ok pins the recovered HTTP "
    "body byte-equal to an independently re-built page AND the "
    "extracted text equal to its expected construction, so the whole "
    "build -> (gzip) -> parse -> HTTP -> extract round is oracle-"
    "verified; url/n_records/status/gzipped are id-derivable.  "
    "Malformed-archive quarantine (parse_warc_safe never raises) is "
    "fuzz-pinned in tests/test_warc.py.  One mapInPandas, no shuffle.",
    tags=("llm", "textstats", "multimodal"),
)
def warc_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    docs = load_spread(spark, sf_dir, "documents")

    def run(batches):
        from data_pipeline_spark.llmops import html_text, warc

        for pdf in batches:
            if pdf.empty:
                continue
            rows = []
            for did, t in zip(pdf["doc_id"], pdf["text"]):
                did = int(did)
                html = html_text.wrap_in_html(did, t or "").encode("utf-8")
                gz = did % 2 == 1
                stream = warc.build_warc_file(did, html, gzip_records=gz)
                res, err = warc.parse_warc_safe(stream)
                if res is None:
                    rows.append((did, "", 0, 0, gz, False))
                    continue
                out = html_text.extract_html(
                    res["body"].decode("utf-8", "replace")
                )
                nav = [f"Nav {i}" for i in range(1 + did % 3)]
                paras = [
                    " ".join(p.split()) for p in (t or "").split("\n")
                ]
                expected = "\n".join(
                    nav + [p for p in paras if p] + ["© corpus"]
                )
                ok = (
                    res["body"] == html
                    and res["content_type"].startswith("text/html")
                    and res["warc_date"] == warc.warc_date(did)
                    and out["text"] == expected
                )
                rows.append(
                    (did, res["url"], res["n_records"], res["status"],
                     gz, ok)
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "url", "n_records", "http_status",
                         "gzipped", "payload_ok"],
            )

    return docs.select("doc_id", "text").mapInPandas(
        run,
        schema="doc_id long, url string, n_records long, "
        "http_status long, gzipped boolean, payload_ok boolean",
    )


def _warc_archive_dir(spark: SparkSession, sf_dir: str) -> str:
    """Synthesize the documents table as REAL multi-capture .warc.gz
    archive files (warcinfo + request/response pairs, 50 captures per
    file — the CommonCrawl segment layout, miniaturized), ONCE per
    documents-file identity (``io.build_once``), and reuse across
    queries and bench reps — the fixture a file-level WARC source reads.
    A production deployment deletes this helper and points read_warc at
    the crawl's segment listing."""

    def build(stage):
        os.makedirs(stage)

        def write_segment(pdf):
            import pandas as _pd

            from data_pipeline_spark.llmops import html_text as _ht
            from data_pipeline_spark.llmops import warc as _warc

            caps = sorted(
                (int(d), _ht.wrap_in_html(int(d), t or "").encode("utf-8"))
                for d, t in zip(pdf["doc_id"], pdf["text"])
            )
            g = caps[0][0] // 50
            blob = _warc.build_warc_archive(caps, gzip_records=True)
            path = os.path.join(stage, f"segment-{g:05d}.warc.gz")
            with open(path, "w+b") as fh:
                fh.write(blob)
            return _pd.DataFrame({"g": [g], "n": [len(caps)]})

        # segments build DISTRIBUTED (one task per 50-doc group writing
        # its own file — local[n] shares the FS; a cluster fixture would
        # write to shared storage): the driver never materializes the
        # corpus
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        n_seg = (
            docs.groupBy((F.col("doc_id") / 50).cast("long"))
            .applyInPandas(write_segment, schema="g long, n long")
            .count()
        )
        assert n_seg > 0

    final = cache_path(
        "warc_archives", [os.path.join(sf_dir, "documents.parquet")],
        name="archives",
    )
    return build_once(final, build)


@register(
    "warc_file_source",
    """
    WITH g AS (SELECT doc_id, text, doc_id // 50 AS f FROM documents)
    SELECT doc_id,
           'https://corpus.example/doc/' || CAST(doc_id AS VARCHAR) AS url,
           CAST(200 AS BIGINT) AS http_status,
           CAST(COUNT(*) OVER (PARTITION BY f) AS BIGINT)
               AS responses_in_file,
           TRUE AS text_ok
    FROM g
    """,
    doc="FILE-LEVEL WARC source (llmops/warc.read_warc): the documents "
    "table is materialized once as real multi-capture .warc.gz archives "
    "(50 request/response pairs per segment file, per-record gzip "
    "members) and read back through spark.read.format('binaryFile') + "
    "one mapInPandas — one output row per RESPONSE record, corrupt "
    "archives quarantined as one error row instead of task failures.  "
    "doc_id re-derives from the target URI, responses_in_file counts "
    "the records actually parsed out of each segment (pinning the "
    "multi-record walk), and text_ok re-extracts the HTTP body through "
    "the HTML extractor and compares against the expected construction "
    "— so file layout, record grammar, gzip member walk, HTTP gate and "
    "extraction are all oracle-verified.  At 100 TB: parallelism = "
    "segment files, no shuffle before the per-file record count.",
    tags=("llm", "textstats", "multimodal"),
)
def warc_file_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from data_pipeline_spark.llmops import warc

    archive_dir = _warc_archive_dir(spark, sf_dir)
    rows = warc.read_warc(spark, archive_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def verify(batches):
        from data_pipeline_spark.llmops import html_text

        for pdf in batches:
            if pdf.empty:
                continue
            ok = []
            for did, body, t in zip(pdf["doc_id"], pdf["body"], pdf["text"]):
                did = int(did)
                ext = html_text.extract_html(
                    bytes(body).decode("utf-8", "replace")
                )
                nav = [f"Nav {i}" for i in range(1 + did % 3)]
                paras = [
                    " ".join(p.split()) for p in (t or "").split("\n")
                ]
                expected = "\n".join(
                    nav + [p for p in paras if p] + ["© corpus"]
                )
                ok.append(ext["text"] == expected)
            # echo the envelope columns through the kernel (r13): carrying
            # url/status/warc_file past the verify removes the old third
            # join (checked back onto parsed by doc_id) — one exchange of
            # the response stream gone; body/text stay kernel-local
            yield pdf[
                ["doc_id", "url", "http_status", "warc_file"]
            ].assign(text_ok=ok)

    # parsed feeds THREE consumers (per-file counts, the verify join, and
    # the final projection); without materialization each branch re-reads
    # and re-gunzips the whole archive (r12 profile: three ~25-task parse
    # stages, 26 CPU-s total, for one 12 CPU-s parse).  One checkpointed
    # parse pass is also the 100 TB shape: the archive bytes are read
    # once and every downstream decision runs on the parsed rows.
    parsed = (
        rows.filter(F.col("error_class") == "")
        .select(
            F.element_at(F.split(F.col("url"), "/"), -1).cast("long").alias(
                "doc_id"
            ),
            "url",
            "http_status",
            "warc_file",
            "body",
        )
        .localCheckpoint(eager=False)
    )
    per_file = parsed.groupBy("warc_file").agg(
        F.count(F.lit(1)).alias("responses_in_file")
    )
    checked = (
        parsed.join(docs, "doc_id")
        .select("doc_id", "url", "http_status", "warc_file", "body", "text")
        .mapInPandas(
            verify,
            schema="doc_id long, url string, http_status long, "
            "warc_file string, text_ok boolean",
        )
    )
    return (
        checked.join(F.broadcast(per_file), "warc_file")
        .select("doc_id", "url", "http_status", "responses_in_file",
                "text_ok")
    )


@register(
    "multimodal_quarantine_stats",
    """
    SELECT doc_id AS media_id,
           CASE doc_id % 6 WHEN 0 THEN 'bmp' WHEN 1 THEN 'ppm'
                WHEN 2 THEN 'png' WHEN 3 THEN 'jpeg' WHEN 4 THEN 'gif'
                ELSE 'tiff' END AS fmt,
           doc_id % 3 = 2 AS decode_ok,
           CASE WHEN doc_id % 3 = 2 THEN '' ELSE 'decode_error' END
               AS error_class,
           CAST(CASE WHEN doc_id % 3 = 2 THEN 16 ELSE 0 END AS BIGINT)
               AS width,
           CAST(CASE WHEN doc_id % 3 = 2 THEN 12 ELSE 0 END AS BIGINT)
               AS height
    FROM documents
    """,
    doc="Corrupt-input QUARANTINE pipeline: real corpora contain "
    "truncated and bit-rotten files, and an uncaught decoder exception "
    "kills the "
    "task — after Spark's retries, the whole 100 TB job.  Per document a "
    "valid image in one of the six native formats is synthesized, then "
    "deterministically damaged by id%3 (truncate-to-8-bytes / zero the "
    "magic bytes / left intact), and decoded through decode_media_safe "
    "inside mapInPandas: bad rows become (decode_ok=false, error_class) "
    "rows instead of task failures.  The damage classes guarantee the "
    "outcome, so the whole quarantine path is oracle-verified; the fuzz "
    "test additionally pins that no decoder hangs on random corruption.",
    tags=("llm", "multimodal"),
)
def multimodal_quarantine_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_spread(spark, sf_dir, "documents")
    media = multimodal.synthesize_corrupt_media(docs, "doc_id", "text")
    return multimodal.decode_with_quarantine(media)


@register(
    "container_codec_probe",
    """
    SELECT doc_id,
           CAST(128 + 2 * (doc_id % 33) AS BIGINT) AS vid_width,
           CAST(96 + 2 * (doc_id % 17) AS BIGINT) AS vid_height,
           CASE doc_id % 3 WHEN 0 THEN 'baseline' WHEN 1 THEN 'main'
                ELSE 'high' END AS avc_profile,
           CASE doc_id % 3 WHEN 0 THEN '3.0' WHEN 1 THEN '3.1'
                ELSE '4.0' END AS avc_level,
           CASE WHEN doc_id % 2 = 1 THEN 'cabac' ELSE 'cavlc' END
               AS entropy_coding,
           CASE WHEN doc_id % 2 = 1 THEN 'opus' ELSE 'vorbis' END
               AS audio_codec,
           CAST(CASE WHEN doc_id % 2 = 1 THEN 2 ELSE 1 END AS BIGINT)
               AS audio_channels,
           CAST(CASE WHEN doc_id % 2 = 1 THEN 48000 ELSE 44100 END
                AS BIGINT) AS audio_rate,
           CAST(1 + doc_id % 5 AS DOUBLE) AS audio_duration_sec,
           CAST(2 AS BIGINT) AS ogg_pages,
           CAST(2 AS BIGINT) AS ogg_packets,
           CAST(1000 * (96 + 32 * (doc_id % 4)) AS BIGINT) AS mp3_bitrate,
           CAST(CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
                ELSE 32000 END AS BIGINT) AS mp3_sample_rate,
           CAST(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 2 END AS BIGINT)
               AS mp3_channels,
           CAST(10 + doc_id % 7 AS BIGINT) AS mp3_frames,
           CAST((10 + doc_id % 7) * 1152 AS DOUBLE)
               / (CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
                  ELSE 32000 END) AS mp3_duration_sec,
           CASE doc_id % 3 WHEN 0 THEN 'vp8' WHEN 1 THEN 'vp8l'
                ELSE 'vp8x' END AS webp_format,
           CAST(100 + doc_id % 50 AS BIGINT) AS webp_width,
           CAST(80 + doc_id % 40 AS BIGINT) AS webp_height
    FROM documents
    """,
    doc="REAL container codec-metadata extraction at query level: per "
    "document synthesize an MP4 whose avc1 sample entry carries a "
    "generated H.264 SPS/PPS in an avcC record (dims via 16-aligned "
    "coding size + frame cropping, profile/level/entropy cycling by id) "
    "an Ogg stream (Opus/Vorbis alternating, CRC-sealed pages) and an "
    "ID3-prefixed MP3 frame chain, then parse all three back — "
    "exp-Golomb SPS decode for width/height/profile/level, Ogg granule "
    "arithmetic and MPEG frame-header walks for duration.  This is the "
    "probe pass a 100 TB video/audio ingest runs BEFORE deciding what "
    "to ffmpeg-decode; the oracle reconstructs every parsed field "
    "arithmetically from doc_id.  One mapInPandas, no shuffle.",
    tags=("llm", "multimodal"),
)
def container_codec_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_spread(spark, sf_dir, "documents")
    return multimodal.container_probe(docs, "doc_id")


@register(
    "cms_bigram_bounds",
    """
    WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
    big AS (
        SELECT t[i] || ' ' || t[i + 1] AS item
        FROM toks, LATERAL unnest(generate_series(1, len(t) - 1)) AS g(i)
    ),
    exact AS (
        SELECT item, CAST(COUNT(*) AS BIGINT) AS n FROM big GROUP BY item
        ORDER BY n DESC, item ASC LIMIT 50
    )
    SELECT item, n, 1 AS overestimates, 1 AS within_bound FROM exact
    """,
    doc="Count-Min sketch certificate over token bigrams: the sketch "
    "(depth 5 x width 2048) builds as pure codegen DataFrame ops — slot "
    "columns derived in-row, explode, ONE partial-aggregated groupBy "
    "whose shuffle carries at most depth*width rows per partition "
    "regardless of stream size (CM is linear, so any merge tree yields "
    "the identical matrix).  The top-50 exact bigrams are then point-"
    "estimated against the broadcast sketch; `overestimates` (est >= "
    "true) is the CM theorem and `within_bound` (est <= true + "
    "ceil(9N/width), Markov^5) holds deterministically on this corpus — "
    "the oracle hash-verifies both flags plus the exact counts.",
    tags=("llm", "sketch"),
)
def cms_bigram_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_spark.llmops import sketches

    width, depth = 2048, 5
    stream = _bigram_stream(spark, sf_dir)
    # ONE corpus pass (r12 opt): the raw stream previously fed THREE plan
    # branches (sketch build, exact top-50, total count) and Spark has no
    # CSE, so the tokenize + bigram expansion executed three times per
    # action.  All three consumers derive exactly from the per-item
    # counts: CMS counters are additive (weighted build == stream build),
    # big_n = sum of group counts (coalesce 0 keeps the empty-stream
    # row), and the top-50 is a sort of the groups.  localCheckpoint
    # materializes the vocabulary-bounded group table once.
    grouped = (
        stream.groupBy("item")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    sketch = sketches.count_min_sketch(
        grouped, "item", width, depth, weight_col="n"
    )
    exact = grouped.orderBy(F.col("n").desc(), F.col("item").asc()).limit(50)
    total = grouped.agg(
        F.coalesce(F.sum("n"), F.lit(0).cast("long")).alias("big_n")
    )
    est = sketches.cms_estimates(sketch, exact, "item", width, depth)
    return (
        exact.join(est, "item")
        .crossJoin(F.broadcast(total))
        .select(
            "item",
            "n",
            (F.col("cms_est") >= F.col("n")).cast("int").alias(
                "overestimates"
            ),
            (
                F.col("cms_est")
                <= F.col("n") + F.ceil(F.lit(9.0) * F.col("big_n") / width)
            ).cast("int").alias("within_bound"),
        )
    )


@register(
    "multimodal_jpeg_differential",
    """
    SELECT doc_id AS media_id,
           CAST(24 AS BIGINT) AS img_w,
           CAST(16 AS BIGINT) AS img_h,
           1 AS progressive_match,
           1 AS restart_match,
           1 AS lossless_match,
           1 AS arithmetic_match,
           1 AS hierarchical_match
    FROM documents
    WHERE doc_id % 25 = 0
    """,
    doc="Progressive + restart + lossless (SOF3) + ARITHMETIC (SOF9) + "
    "HIERARCHICAL (Annex J DHP/EXP pyramids, closed-loop oracle over "
    "five variants: Huffman-seq, Huffman-prog refinements, "
    "arithmetic+lossless-final, progressive BASE, and the fully exact "
    "lossless-base+lossless-final pyramid) "
    "JPEG differential at "
    "query level: the lossless leg must reproduce the ORIGINAL pixels "
    "byte-exactly (predictor cycles over all seven T.81 choices by row). "
    "Progressive-JPEG + restart-interval differential at query level: "
    "per document, a deterministic 24x16 RGB image (text bytes cycled) "
    "is encoded baseline, 9-scan progressive (SOF2), and both layouts "
    "with restart markers, then all four decode inside one Arrow batch.  "
    "Progressive and restart streams transmit IDENTICAL quantized "
    "coefficients, so their decodes must match the baseline decode "
    "pixel-for-pixel; the match flags are SQL constants the oracle "
    "hash-verifies — any codec divergence flips a flag and fails the "
    "driver comparison.  Kernel is mapInPandas over a repartitioned "
    "subset (codec cost, not data volume, bounds the row count).",
    tags=("llm", "multimodal"),
)
def multimodal_jpeg_differential(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread_scan(
        load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 25 == 0),
        spark,
    )
    return multimodal.jpeg_progressive_differential(docs, "doc_id", "text")


@register(
    "lsh_ann_neardup",
    None,  # approximate (bucketed recall): rows-only check
    doc="Multi-table hyperplane-LSH bucketed near-dup search — the 100 TB "
    "scale path: banded bucket join replaces the O(n^2) cross product; "
    "measured 13/14 recall vs the exact baseline at sf0.01.  r11: the "
    "banding is CORPUS-SIZE-AWARE (similarity.lsh_scaled_banding) — at a "
    "fixed recall-derived depth, chance bucket occupancy n/2^b makes "
    "candidates quadratic once n >> 2^b (the sf1 leg measured x23.7 wall "
    "for x10 data); deepening b with n and re-deriving the table count "
    "keeps the same boundary recall with linear-ish candidates.",
    tags=("llm", "similarity"),
)
def lsh_ann_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread the single-file scan: the Arrow bucketize matmul and the
    # quantize projections otherwise run in ONE task (r12 profile)
    emb = load_spread(spark, sf_dir, "embeddings")
    return similarity.lsh_neardup_pairs(
        emb, threshold=0.45, num_tables=64, dim=64,
        # exact corpus size from the parquet footers — the count() job
        # this replaces computed the same number with a full scan stage
        corpus_size=table_rows(spark, sf_dir, "embeddings"),
    )


@register(
    "bpe_pair_counts_exact",
    """
    WITH words AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS n
        FROM (
            SELECT unnest(
                string_split_regex(lower(coalesce(text, '')), '\\s+')
            ) AS word
            FROM documents
        )
        WHERE word <> ''
        GROUP BY word
    ),
    pairs AS (
        SELECT substring(word, CAST(i AS INT), 1) AS lhs,
               CASE WHEN i < length(word)
                    THEN substring(word, CAST(i + 1 AS INT), 1)
                    ELSE '</w>' END AS rhs,
               n
        FROM words,
             LATERAL unnest(
                 generate_series(1, CAST(length(word) AS BIGINT))
             ) AS g(i)
    )
    SELECT lhs, rhs, CAST(SUM(n) AS BIGINT) AS pair_count
    FROM pairs
    GROUP BY lhs, rhs
    ORDER BY pair_count DESC, lhs ASC, rhs ASC
    LIMIT 50
    """,
    doc="BPE trainer certificate: the frequency-weighted adjacent-symbol "
    "pair counts over the initial character segmentation (with the </w> "
    "terminal) — exactly the statistic merge #1 of BPE training "
    "maximises, and the only corpus-sized computation in the trainer "
    "(corpus -> word counts is ONE shuffle bounded by vocabulary; pair "
    "expansion is in-row transform+explode over the word table).  Top-50 "
    "pairs oracle-verified; the iterative merge loop itself runs on the "
    "bounded top-V word table driver-side (llmops/bpe.py, same bounded-"
    "collect contract as the PQ codebook sample) and is covered by "
    "bpe_learned_merges + exact-parity unit tests.",
    tags=("llm", "textstats"),
)
def bpe_pair_counts_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_spark.llmops import bpe

    docs = load_table(spark, sf_dir, "documents")
    return (
        bpe.pair_counts(bpe.word_counts(docs))
        .orderBy(
            F.col("pair_count").desc(), F.col("lhs").asc(), F.col("rhs").asc()
        )
        .limit(50)
    )


@register(
    "bpe_learned_merges",
    None,  # iterative trainer: rows-only check (no SQL equivalent)
    doc="Distributed BPE tokenizer training: corpus -> word counts (one "
    "vocabulary-bounded shuffle), deterministic top-20k truncation "
    "(count desc, word asc), then 60 merge iterations on the driver "
    "with incremental pair-count maintenance (only words containing "
    "the merged pair are touched — the production-trainer formulation, "
    "exact-parity-tested against the naive full-rescan reference).  "
    "Returns the ranked merge table; deterministic bit-for-bit under "
    "repartitioning (tie-break: count desc, pair lexicographic asc).",
    tags=("llm", "textstats"),
)
def bpe_learned_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_spark.llmops import bpe

    import pandas as pd

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe.bpe_train(docs, n_merges=60, max_words=20_000)
    # pandas in => Arrow LocalTableScan: the tuple-list form made the
    # RESULT frame RDD-backed, so every timed collect paid a 32-task
    # Python stage to read 60 driver-resident rows (r12)
    return spark.createDataFrame(
        pd.DataFrame(
            merges, columns=["rank", "lhs", "rhs", "pair_count"]
        ),
        "rank long, lhs string, rhs string, pair_count long",
    )


@register(
    "word_frequencies",
    """
    SELECT w, COUNT(*) AS n
    FROM (SELECT unnest(string_split(text,' ')) AS w FROM documents)
    GROUP BY w
    ORDER BY n DESC, w ASC
    LIMIT 50
    """,
    doc="Corpus word frequencies (the classic wordcount): explode + "
    "partial-agg count + top-k; shuffle carries (word, count) only.",
    tags=("llm", "textstats"),
)
def word_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(textstats.tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("w").asc())
        .limit(50)
    )


@register(
    "tfidf_top_terms",
    """
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents
    ),
    tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    df AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.w,
               ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
        FROM tf JOIN df ON tf.w = df.w CROSS JOIN n
    )
    SELECT doc_id, w, tfidf
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                     ORDER BY tfidf DESC, w ASC) AS rn
        FROM scored
    )
    WHERE rn <= 3
    """,
    doc="TF-IDF top-3 terms per document: tf groupBy + df groupBy + "
    "broadcast of the (tiny) document-frequency table back onto tf.  "
    "Fixed double expression (tf * ln(N/df)) => engine-reproducible.",
    tags=("llm", "textstats"),
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(textstats.tokens("text")).alias("w"))
    tf = toks.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = toks.groupBy("w").agg(F.count_distinct("doc_id").alias("df"))
    # plan-time scalar, same value the oracle computes — exact row count
    # straight off the parquet footers (no count() job)
    n_docs = table_rows(spark, sf_dir, "documents")
    scored = tf.join(F.broadcast(dfreq), "w").select(
        "doc_id",
        "w",
        # ROUND(...,6): JVM Math.log and C log differ in the last ulp —
        # transcendental functions are the one place bitwise cross-engine
        # parity is impossible, so the contract is 1e-6-quantized
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("w").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "w", "tfidf")
    )


@register(
    "unigram_logprob_score",
    """
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents
    ),
    wf AS (SELECT w, COUNT(*) AS c FROM toks GROUP BY 1),
    tot AS (SELECT COUNT(*) AS n FROM toks),
    scored AS (
        SELECT t.doc_id,
               CAST(ROUND(-ln(CAST(wf.c AS DOUBLE) / tot.n) * 1000000, 0)
                    AS BIGINT) AS s
        FROM toks t JOIN wf ON t.w = wf.w CROSS JOIN tot
    )
    SELECT doc_id,
           CAST(SUM(s) AS DOUBLE) / COUNT(*) / 1000000.0 AS avg_surprisal,
           COUNT(*) AS n_tokens
    FROM scored
    GROUP BY doc_id
    """,
    doc="Unigram LM quality score (the CCNet-perplexity proxy): per-doc "
    "mean token surprisal -ln p(w) under the corpus unigram model.  "
    "Scale shape: vocabulary frequencies are a tiny broadcast dimension; "
    "the only big-side shuffle is the per-doc partial-agg groupBy.  "
    "Per-token surprisals are 1e-6-quantized to scaled longs before "
    "summing (transcendental-fn contract, same as tfidf) so the mean is "
    "order-independent and engine-reproducible.",
    tags=("llm", "textstats", "quality"),
)
def unigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(textstats.tokens("text")).alias("w"))
    wf = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    # plan-time scalar, same value the oracle computes: sum of per-doc
    # token counts == count of exploded token rows (explode emits
    # size(tokens) rows per doc, 0 for NULL; token_count == size(tokens)
    # row-for-row, test-pinned), via space arithmetic instead of a
    # second tokenize+explode pass over the corpus
    total = (
        docs.agg(F.sum(textstats.token_count("text"))).first()[0] or 0
    )
    scored = toks.join(F.broadcast(wf), "w").select(
        "doc_id",
        F.round(
            -F.log(F.col("c").cast("double") / F.lit(total)) * 1_000_000, 0
        )
        .cast("bigint")
        .alias("s"),
    )
    return scored.groupBy("doc_id").agg(
        (
            F.sum("s").cast("double") / F.count(F.lit(1)) / 1_000_000.0
        ).alias("avg_surprisal"),
        F.count(F.lit(1)).alias("n_tokens"),
    )


@register(
    "bigram_lm_perplexity",
    """
    WITH toks AS (
        SELECT doc_id, w, i FROM (
            SELECT doc_id, unnest(string_split(text,' ')) AS w,
                   generate_subscripts(string_split(text,' '), 1) AS i
            FROM documents
        )
    ),
    uni AS (SELECT w, COUNT(*) AS cu FROM toks GROUP BY 1),
    tot AS (SELECT COUNT(*) AS n FROM toks),
    big AS (
        SELECT prev, w, COUNT(*) AS cb FROM (
            SELECT doc_id, lag(w) OVER (PARTITION BY doc_id ORDER BY i)
                       AS prev, w
            FROM toks
        ) WHERE prev IS NOT NULL GROUP BY 1, 2
    ),
    ctx AS (SELECT prev, SUM(cb) AS cc FROM big GROUP BY 1),
    seq AS (
        SELECT doc_id, w, i,
               lag(w) OVER (PARTITION BY doc_id ORDER BY i) AS prev
        FROM toks
    ),
    scored AS (
        SELECT s.doc_id,
               CAST(ROUND(-ln(
                   CASE WHEN s.prev IS NULL
                        THEN CAST(u.cu AS DOUBLE) / t.n
                        ELSE 0.75 * (CAST(b.cb AS DOUBLE) / c.cc)
                             + 0.25 * (CAST(u.cu AS DOUBLE) / t.n)
                   END) * 1000000, 0) AS BIGINT) AS sc
        FROM seq s
        JOIN uni u ON u.w = s.w
        CROSS JOIN tot t
        LEFT JOIN big b ON b.prev = s.prev AND b.w = s.w
        LEFT JOIN ctx c ON c.prev = s.prev
    )
    SELECT doc_id,
           CAST(SUM(sc) AS DOUBLE) / COUNT(*) / 1000000.0 AS avg_surprisal,
           COUNT(*) AS n_tokens
    FROM scored GROUP BY doc_id
    """,
    doc="Interpolated BIGRAM LM quality score — the actual CCNet-style "
    "perplexity filter (unigram_logprob_score is its backoff floor): "
    "per-token surprisal -ln(0.75*p(w|prev) + 0.25*p(w)) under the "
    "corpus's own counts (Jelinek-Mercer interpolation, lambda=0.75; "
    "first token scores as pure unigram), per-doc mean.  Scale shape: "
    "the unigram table broadcasts; the bigram model join is ONE "
    "shuffle co-keyed on (prev, w) against the token-pair stream, and "
    "the context totals derive from the bigram table itself (no second "
    "corpus scan).  Every observed bigram has an observed context, so "
    "the interpolation never divides by zero; surprisals are "
    "1e-6-quantized longs before summation (the transcendental-fn "
    "contract), making the mean order-independent and the result "
    "bit-identical across engines.",
    tags=("llm", "textstats", "quality"),
)
def bigram_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # (w, prev) pairs derived IN-ROW from the token array (r13 opt): the
    # previous token of position i is tokens[i-1] — no posexplode + lag
    # window, so the doc_id hash-exchange + sort of the ENTIRE corpus
    # token stream disappears from BOTH consumers of seq (the model
    # build and the scoring join; Spark has no CSE, so each branch paid
    # it).  The model groupBy now map-side-combines straight off the
    # scan, shuffling bigram-vocabulary-bounded partials instead of every
    # token.  Row set identical: lag over (doc, i) is exactly "previous
    # array element, NULL at i=0" (pinned by tests/test_llmops.py::
    # test_bigram_seq_inline_matches_window_form).  Two selects keep the
    # split from inlining into both lambda references (CollapseProject
    # leaves multiply-referenced non-cheap aliases alone).
    seq = docs.select(
        "doc_id", F.expr(textstats.tokens_sql("`text`")).alias("_tk")
    ).select(
        "doc_id",
        F.expr(
            "inline(transform(_tk, (_w, _i) -> named_struct("
            "'w', _w, "
            "'prev', CASE WHEN _i = 0 THEN CAST(NULL AS STRING) "
            "ELSE element_at(_tk, _i) END)))"
        ),
    )
    # materialize the (prev, w, cb) MODEL table once (r12 opt): big feeds
    # both the scored join and the ctx aggregation — two plan branches,
    # and Spark has no CSE, so each otherwise replays the tokenize +
    # posexplode + lag-window pipeline over the corpus.  The model table
    # is bigram-vocabulary-bounded (Heaps-law at natural language), so
    # checkpointing it is cheap at any corpus scale; materializing the
    # raw token stream instead was measured SLOWER at sf0.1 (the token
    # rows outweigh re-tokenizing).
    big = (
        seq.filter(F.col("prev").isNotNull())
        .groupBy("prev", "w")
        .agg(F.count(F.lit(1)).alias("cb"))
        .localCheckpoint(eager=True)
    )
    ctx = big.groupBy("prev").agg(F.sum("cb").alias("cc"))
    # The UNIGRAM table derives from the checkpointed MODEL plus one
    # cheap first-token pass instead of a third full tokenize+explode+
    # groupBy over the corpus (r12 opt): every token occurrence is
    # either a doc's FIRST token or the second element of exactly one
    # bigram occurrence, so cu(w) = sum_prev cb(prev, w) + count(docs
    # whose first token is w), exact integers.  The first-token pass is
    # space arithmetic only (substring_index — no token-array
    # allocation), its group table is vocabulary-bounded, and it runs
    # inside the async uni BroadcastExchange build, not as an extra
    # blocking action.  Pinned value-identical by tests/test_llmops.py::
    # test_bigram_uni_from_model_identity.
    ft = docs.filter(F.col("text").isNotNull()).select(
        textstats.first_token("text").alias("w"),
        F.lit(1).cast("long").alias("cu"),
    )
    # token total WITHOUT a corpus-scan action (r13): every token is
    # either a doc's first token or the second element of exactly one
    # bigram, so total = sum(cb over the checkpointed MODEL) + count of
    # non-NULL texts — and the latter is parquet FOOTER metadata
    # (num_rows - null_count per row group; same integer identity the
    # uni reconstruction rests on, summed over w).  The model sum is a
    # tiny vocab-bounded job over checkpoint blocks; corpora without
    # footer null-count stats fall back to the r12 space-arithmetic scan.
    import os as _os

    nn = parquet_nonnull_rows(
        _os.path.join(sf_dir, "documents.parquet"), "text"
    )
    if nn is not None:
        total = (big.agg(F.sum("cb")).first()[0] or 0) + nn
    else:
        total = docs.agg(F.sum(textstats.token_count("text"))).first()[0] or 0
    # union BEFORE the aggregate: one exchange (map-side combined) builds
    # the whole table, vs groupBy+union+groupBy's three
    uni = (
        big.select("w", F.col("cb").alias("cu"))
        .unionByName(ft)
        .groupBy("w")
        .agg(F.sum("cu").alias("cu"))
    )
    p = F.when(
        F.col("prev").isNull(),
        F.col("cu").cast("double") / F.lit(total),
    ).otherwise(
        F.lit(0.75) * (F.col("cb").cast("double") / F.col("cc"))
        + F.lit(0.25) * (F.col("cu").cast("double") / F.lit(total))
    )
    # uni/ctx are WORD-keyed (Heaps-law-bounded at natural language) and
    # broadcast deliberately; the BIGRAM model is not bounded the same
    # way, so its join must stay the co-keyed shuffle the docstring
    # promises — without the hint Catalyst's estimate for the post-agg
    # model was small enough to broadcast a frame that grows with the
    # corpus (the 100x plan audit, ROUND10_NOTES §16)
    scored = (
        seq.join(F.broadcast(uni), "w")
        .join(big.hint("shuffle_hash"), ["prev", "w"], "left")
        .join(ctx, "prev", "left")
        .select(
            "doc_id",
            F.round(-F.log(p) * 1_000_000, 0).cast("bigint").alias("sc"),
        )
    )
    return scored.groupBy("doc_id").agg(
        (F.sum("sc").cast("double") / F.count(F.lit(1)) / 1_000_000.0).alias(
            "avg_surprisal"
        ),
        F.count(F.lit(1)).alias("n_tokens"),
    )


@register(
    "ivf_ann_topk",
    None,  # approximate (probe subset): rows-only check
    doc="IVF-flat ANN top-k at the DOCUMENTED DEFAULT config (spherical-"
    "k-means lists, n_probe=24/64 — recall@10 >= 0.8 measured on the "
    "uniform-sphere corpus, the r10 recall table): queries probe their "
    "n_probe nearest lists — the scan shrinks by the probe ratio "
    "(llmops/similarity.ivf_topk; partition-by-list layout at scale).",
    tags=("llm", "similarity"),
)
def ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(
        emb, emb.filter(F.col("vec_id") < 5), k=10,
        model=_corpus_model(spark, sf_dir, n_lists=64, m=None),
    )


# Planted-recall oracle: 20 queries are identical copies of corpus vectors
# under shifted ids, so DuckDB derives each query's true rank-1 neighbor by
# BRUTE FORCE — an independent ground truth for ANN paths whose pruned-probe
# construction guarantees they find it (see the certificates' docstrings).
_PLANTED_RANK1_SQL = f"""
    WITH q AS (
        SELECT vec_id + 1000000 AS query_id, embedding
        FROM embeddings WHERE vec_id < 20
    ), scored AS (
        SELECT q.query_id, b.vec_id AS neighbor_id,
               {_cos_sql('q.embedding', 'b.embedding')} AS cos_sim
        FROM q CROSS JOIN embeddings b
    )
    SELECT query_id, neighbor_id, cos_sim FROM (
        SELECT query_id, neighbor_id, cos_sim,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, neighbor_id ASC
                                 ) AS rn
        FROM scored
    ) WHERE rn = 1
    """


def _planted_queries(emb: DataFrame) -> DataFrame:
    return emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"), "embedding"
    )


@register(
    "ivf_planted_recall",
    _PLANTED_RANK1_SQL,
    doc="Recall certificate for IVF ANN at the PRODUCTION config "
    "(n_probe=24/64, k-means lists — the exact path ivf_ann_topk runs, "
    "NOT the probe-everything exactness limit): 20 planted queries are "
    "identical copies of corpus vectors under shifted ids, so the true "
    "nearest neighbor is the source vector and the BRUTE-FORCE oracle "
    "derives it independently.  Rank-1 recall is 1.0 BY CONSTRUCTION, "
    "not empirically: the assignment kernel and the probe window compute "
    "bit-identical quantized cosines (ivf_assign_col's contract), so an "
    "identical copy's nearest centroid IS its source's list — probe #1 "
    "always covers the true neighbor, and the exact in-list cosine "
    "(exactly 1.0's double expression) beats every non-identical "
    "candidate.  This upgrades the driver slot ivf_ann_topk held as a "
    "rows-only check into an oracle-paired assertion about the "
    "PRUNED-probe path (r10 verdict item #2).",
    tags=("llm", "similarity"),
)
def ivf_planted_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.ivf_topk(
        emb, _planted_queries(emb), k=10,
        model=_corpus_model(spark, sf_dir, n_lists=64, m=None),
    )
    return out.filter(F.col("rank") == 1).select(
        "query_id", "neighbor_id", "cos_sim"
    )


@register(
    "ivfpq_planted_recall",
    _PLANTED_RANK1_SQL,
    doc="Recall certificate for IVF-PQ at the production COARSE config "
    "(n_probe=24/64 k-means routing, residual-PQ ADC inside the probed "
    "lists): the planted copies' rank-1 recall is guaranteed because (a) "
    "probe selection and list assignment share bit-identical quantized "
    "cosines, so probe #1 is always the source vector's list, and (b) "
    "the re-rank depth (shortlist=4096 >= every probed population at "
    "oracle/bench scale) exact-scores ALL probed candidates, so the ADC "
    "approximation cannot cut the true neighbor before the exact cosine "
    "ranks it first.  Unlike ivfpq_exact_topk (probe-everything, "
    "lossless codebooks), this certifies the PRUNED coarse path with "
    "LOSSY production codebooks against the brute-force oracle; the "
    "production shortlist=200 recall numbers live in ivfpq_ann_topk and "
    "the ROUND10_NOTES grid.",
    tags=("llm", "similarity"),
)
def ivfpq_planted_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_spark.llmops import pq

    emb = load_table(spark, sf_dir, "embeddings")
    out = pq.ivfpq_topk(
        emb, _planted_queries(emb), id_col="vec_id", k=10, shortlist=4096,
        model=_corpus_model(spark, sf_dir),
    )
    return out.filter(F.col("rank") == 1).select(
        "query_id", "neighbor_id", "cos_sim"
    )


@register(
    "ivf_exact_topk",
    _COSINE_TOPK_SQL,
    doc="IVF-flat ANN at its exactness limit: n_probe = n_lists probes "
    "every inverted list, so the probe-join path must reproduce the "
    "brute-force top-k bit-for-bit — driver-level certification of the "
    "IVF machinery (coarse quantizer, list assignment, probe join, "
    "windowed rank) against the same oracle as embedding_cosine_topk.",
    tags=("llm", "similarity"),
)
def ivf_exact_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(
        emb, emb.filter(F.col("vec_id") < 5), k=10, n_probe=16,
        model=_corpus_model(spark, sf_dir, n_lists=16, m=None),
    )


def _persisted_ivf_layout(spark: SparkSession, sf_dir: str):
    """The IVF serving layout (list_id-partitioned parquet), materialized
    ONCE per embeddings-file identity — the ANN twin of the gate/semantic
    sidecars: steady-state queries pay probe + pruned scan + rank, never
    a re-index.  Its quantizer is the persisted 16-list IVF-flat
    ``_corpus_model`` that ivf_exact_topk searches with, because probes
    against any other quantizer would search the wrong lists; the model's
    JSON round-trip is bit-exact in double, so probe-time routing
    reproduces the write-time quantizer (the r10 ARRAY<FLOAT> reload
    truncated to float32; parity pinned in tests/test_llmops.py).
    Returns (layout path, that model)."""
    model = _corpus_model(spark, sf_dir, n_lists=16, m=None)

    def build(stage):
        emb = load_table(spark, sf_dir, "embeddings")
        similarity.ivf_write_layout(emb, stage, model=model)

    final = cache_path(
        "ivf_layout", [os.path.join(sf_dir, "embeddings.parquet")],
        name="layout",
    )
    return build_once(final, build), model


@register(
    "ivf_partitioned_exact_topk",
    _COSINE_TOPK_SQL,
    doc="The IVF index as a SERVED TABLE: vectors written once to a "
    "list_id-PARTITIONED parquet layout (similarity.ivf_write_layout — "
    "assignment rides the encode scan in-row, the partitioned write is "
    "the only wide op), queries probe the persisted centroids and read "
    "ONLY the probed list directories via partition pruning "
    "(plan-tested: PartitionFilters carries the probe IN-list and the "
    "pruned scan reads n_probe/n_lists of the files).  At n_probe = "
    "n_lists = 16 the layout path must reproduce brute-force cosine "
    "top-k bit-for-bit against the same oracle as embedding_cosine_topk "
    "— certifying that NOTHING about a vector matters to search beyond "
    "what the layout row stores (the decision-completeness argument the "
    "text-gate sidecar makes).  Layout + centroids materialize once per "
    "corpus identity (_persisted_ivf_layout); parity with the in-memory "
    "ivf_topk at pruning configs is pinned in tests/test_llmops.py.",
    tags=("llm", "similarity", "scale-path"),
)
def ivf_partitioned_exact_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    layout, model = _persisted_ivf_layout(spark, sf_dir)
    return similarity.ivf_layout_topk(
        spark, layout, emb.filter(F.col("vec_id") < 5), model,
        k=10, n_probe=16,
    )


@register(
    "lsh_exact_neardup",
    f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {_cos_sql('a.embedding', 'b.embedding')} AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE a.vec_id < 500 AND b.vec_id < 500
      AND {_cos_sql('a.embedding', 'b.embedding')} >= 0.45
    """,
    doc="Hyperplane-LSH at its exactness limit: planes_per_table=0 puts "
    "every vector in one bucket (recall 1 by construction, the p^0=1 "
    "limit of the banding formula), so the posting-list pair expansion "
    "and quantized-cosine verification must reproduce the brute-force "
    "pair set exactly — driver-level certification of the LSH pipeline. "
    "Bounded to 500 vectors because the single posting list is "
    "deliberately quadratic.",
    tags=("llm", "similarity"),
)
def lsh_exact_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    return similarity.lsh_neardup_pairs(
        emb, threshold=0.45, num_tables=1, planes_per_table=0, dim=64,
        max_bucket=1000,
    )


@register(
    "pretraining_corpus_filter",
    f"""
    WITH scored AS (
        SELECT doc_id, text,
               {_hits_sql('de')} AS h_de, {_hits_sql('en')} AS h_en,
               {_hits_sql('es')} AS h_es, {_hits_sql('fr')} AS h_fr,
               (len(list_distinct(string_split(text,' ')))
                  / CAST(len(string_split(text,' ')) AS DOUBLE)) * 0.5
               + (len(list_filter(string_split(text,' '), x -> x IN {_STOP_EN_SQL}))
                  / CAST(len(string_split(text,' ')) AS DOUBLE)) * 0.3
               + (least(CAST(len(string_split(text,' ')) AS DOUBLE), 100.0) / 100.0) * 0.2
                 AS quality_score
        FROM documents
    ),
    kept AS (
        SELECT doc_id, text, quality_score FROM scored
        WHERE quality_score >= 0.36
          AND greatest(h_de,h_en,h_es,h_fr) > 0
          AND h_en = greatest(h_de,h_en,h_es,h_fr)
          AND NOT (h_de = greatest(h_de,h_en,h_es,h_fr))  -- lexicographic argmax = en
    ),
    exact_kept AS (
        SELECT MIN(doc_id) AS doc_id FROM kept GROUP BY md5(text)
    ),
    survivors AS (
        SELECT k.doc_id, k.quality_score FROM kept k
        JOIN exact_kept e ON e.doc_id = k.doc_id
    ),
    toks AS (
        SELECT doc_id, unnest(string_split(text,' ')) AS w,
               generate_subscripts(string_split(text,' '), 1) AS i
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               w || ' ' || lead(w,1) OVER (PARTITION BY doc_id ORDER BY i)
                 || ' ' || lead(w,2) OVER (PARTITION BY doc_id ORDER BY i) AS shingle
        FROM toks
        QUALIFY shingle IS NOT NULL
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
    dup_losers AS (
        SELECT DISTINCT b.doc_id AS loser
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        JOIN sizes sa ON sa.doc_id = a.doc_id
        JOIN sizes sb ON sb.doc_id = b.doc_id
        GROUP BY a.doc_id, b.doc_id, sa.n_sh, sb.n_sh
        HAVING COUNT(*) / CAST(sa.n_sh + sb.n_sh - COUNT(*) AS DOUBLE) >= 0.8
    )
    SELECT s.doc_id, s.quality_score
    FROM survivors s
    WHERE s.doc_id NOT IN (SELECT loser FROM dup_losers)
    """,
    doc="End-to-end pretraining corpus filter: language-ID gate (en) -> "
    "quality threshold -> exact dedup (md5 keeper) -> near-dup removal "
    "(jaccard>=0.8, keep lower id).  The full LLM-data-pipeline composed "
    "from engine operators in one plan.",
    tags=("llm", "pipeline"),
)
def pretraining_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scored = textstats.quality_features(docs).withColumn(
        "lang_pred", textstats.lang_id("text")
    ).withColumn("quality_score", textstats.quality_score())
    kept = scored.filter(
        (F.col("quality_score") >= 0.36) & (F.col("lang_pred") == "en")
    ).select("doc_id", "text", "quality_score")

    # keepers and losers are doc-keyed id sets that scale with the corpus
    # (every doc is a keeper of its own exact group; losers grow with the
    # dup count) — neither may broadcast at 100 TB, and both post-agg
    # estimates read small enough that the planner tried (100x plan
    # audit, ROUND10_NOTES §16): pin the co-keyed shuffles
    keepers = ld.exact_dup_groups(kept, "doc_id", "text").select(
        F.col("keeper_id").alias("doc_id")
    )
    survivors = kept.join(keepers.hint("shuffle_hash"), "doc_id").select(
        "doc_id", "quality_score"
    )

    losers = (
        ld.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.8)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    return survivors.join(losers.hint("shuffle_hash"), "doc_id", "left_anti")


@register(
    "deterministic_sample",
    """
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE CAST(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1
               AS INT) % 5 = 0
    """,
    doc="Deterministic ~20%% sample: md5(id) nibble bucket — reproducible "
    "on any engine/cluster, no RNG state (training-set carving).",
    tags=("llm", "sampling"),
)
def deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1), 16, 10)
        .cast("int") % 5
    )
    return docs.filter(bucket == 0).select("doc_id", "lang", "n_chars")


@register(
    "corpus_mix_stats",
    """
    WITH per AS (
        SELECT source, lang, COUNT(*) AS n_docs,
               CAST(SUM(len(string_split(text,' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source, lang
    ),
    tot AS (SELECT SUM(n_tokens) AS total_tokens FROM per)
    SELECT per.source, per.lang, per.n_docs, per.n_tokens,
           CAST(per.n_tokens AS DOUBLE) / CAST(tot.total_tokens AS DOUBLE) AS token_share
    FROM per CROSS JOIN tot
    """,
    doc="Training-mix statistics: per-(source, lang) docs/tokens and token "
    "share — the numbers a data-mixing policy consumes.  Integer counts, "
    "single double division: engine-reproducible.",
    tags=("llm", "stats"),
)
def corpus_mix_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(textstats.tokens("text"))).alias("n_tokens"),
    )
    tot = per.agg(F.sum("n_tokens").alias("total_tokens"))
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        "lang",
        "n_docs",
        "n_tokens",
        (F.col("n_tokens").cast("double") / F.col("total_tokens").cast("double")).alias(
            "token_share"
        ),
    )


@register(
    "sequence_packing",
    """
    WITH sized AS (
        SELECT doc_id, len(string_split(text,' ')) AS n_tokens FROM documents
    ),
    cum AS (
        SELECT doc_id, n_tokens,
               CAST(SUM(n_tokens) OVER (ORDER BY doc_id
                                        ROWS UNBOUNDED PRECEDING) - n_tokens
                    AS BIGINT) AS start_pos
        FROM sized
    )
    SELECT doc_id, n_tokens, start_pos,
           CAST(start_pos // 512 AS BIGINT) AS pack_id,
           CAST(start_pos % 512 AS BIGINT) AS pack_offset
    FROM cum
    """,
    doc="Training-sequence packing (concat-then-chunk): each doc's start "
    "position is a running token sum in doc order; pack = position div "
    "context_len.  The cumsum is TWO-PHASE (per-bucket window + broadcast "
    "bucket-prefix): a naive global-order window is a single-partition "
    "bottleneck at corpus scale, this shape scans once and shuffles only "
    "the tiny bucket-totals frame.  Integer arithmetic — deterministic.",
    tags=("llm", "packing"),
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id", F.size(textstats.tokens("text")).alias("n_tokens")
    ).withColumn("bucket", F.expr("doc_id div 8192"))
    # phase 1: cumsum WITHIN each doc_id-range bucket (parallel windows)
    bw = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = sized.withColumn("local_cum", F.sum("n_tokens").over(bw))
    # phase 2: exclusive prefix over bucket totals — a frame with one row
    # per bucket, so the global-order window here is trivially small
    totals = sized.groupBy("bucket").agg(F.sum("n_tokens").alias("btot"))
    pw = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    prefix = totals.select(
        "bucket", F.coalesce(F.sum("btot").over(pw), F.lit(0)).alias("prefix")
    )
    cum = local.join(F.broadcast(prefix), "bucket").withColumn(
        "start_pos",
        (F.col("prefix") + F.col("local_cum") - F.col("n_tokens")).cast("bigint"),
    )
    return cum.select(
        "doc_id",
        "n_tokens",
        "start_pos",
        # integer division: a double-division cast TRUNCATES in Spark but
        # ROUNDS in DuckDB — `div`/`//` agree exactly
        F.expr("start_pos div 512").alias("pack_id"),
        (F.col("start_pos") % 512).cast("bigint").alias("pack_offset"),
    )


@register(
    "embedding_neardup_clusters",
    f"""
    WITH RECURSIVE pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE {_cos_sql('a.embedding', 'b.embedding')} >= 0.45
    ),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION ALL
        SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach(id, r) AS (
        SELECT vec_id, vec_id FROM embeddings
        UNION
        SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
    ),
    comp AS (SELECT id AS vec_id, MIN(r) AS component FROM reach GROUP BY id)
    SELECT c.vec_id, c.component,
           COUNT(*) OVER (PARTITION BY c.component) AS cluster_size,
           CAST(c.vec_id = c.component AS INT) AS is_representative
    FROM comp c
    """,
    doc="SEMANTIC dedup clustering: the embedding-space analogue of "
    "neardup_cluster_assignment — exact cosine>=0.45 pair graph -> "
    "connected components -> min-id representative per cluster, the step "
    "that turns pairwise embedding near-dups into keep/drop decisions.  "
    "This catalog form uses the exact O(n^2) pair baseline so the "
    "recursive-CTE oracle certifies the composition; at corpus scale the "
    "identical clustering runs off lsh_neardup_pairs candidates (same "
    "edge schema, capped posting lists).",
    tags=("llm", "similarity", "dedup", "iterative"),
)
def embedding_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = similarity.neardup_pairs(emb, threshold=0.45).select("id_a", "id_b")
    comp = ld.connected_components(pairs, emb, "vec_id")
    w = Window.partitionBy("component")
    return comp.select(
        "vec_id",
        "component",
        F.count(F.lit(1)).over(w).alias("cluster_size"),
        (F.col("vec_id") == F.col("component")).cast("int").alias(
            "is_representative"
        ),
    )


@register(
    "neardup_cluster_assignment",
    f"""
    WITH RECURSIVE {_SHINGLES_SQL},
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT id_a, id_b
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.8
    ),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION ALL
        SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach(id, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
    ),
    comp AS (SELECT id AS doc_id, MIN(r) AS component FROM reach GROUP BY id)
    SELECT c.doc_id, c.component,
           COUNT(*) OVER (PARTITION BY c.component) AS cluster_size,
           CAST(c.doc_id = c.component AS INT) AS is_representative
    FROM comp c
    """,
    doc="Near-dup cluster assignment: the pairs->clusters->representative "
    "step a dedup pipeline needs after candidate generation.  Connected "
    "components over the Jaccard>=0.8 pair graph: a driver union-find up "
    "to a fixed edge bound, large-star/small-star rounds above it "
    "(singletons are their own component); the oracle computes the same "
    "fixpoint as a recursive CTE.  Representative = smallest doc_id in "
    "the cluster, so survivors are deterministic.",
    tags=("llm", "dedup", "iterative"),
)
def neardup_cluster_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # spread the small-SF single-file scan so the tokenize/shingle/md5
    # map work uses the cluster (r9 measured A/B); r12: conditional — at
    # scale the scan arrives already split and the round-robin shuffle
    # the unconditional form paid is removed outright (guide §2.4)
    docs = load_spread(spark, sf_dir, "documents")
    # exact-dup pre-contraction (r11): one representative per distinct
    # text feeds shingling/pairs/propagation, members re-expand at the
    # end — identical components (exact_contract's parity argument, and
    # this oracle), far less pair-graph shuffle on duplicate-heavy corpora
    comp = ld.neardup_components(docs, "doc_id", "text", n=3, threshold=0.8)
    w = Window.partitionBy("component")
    return comp.select(
        "doc_id",
        "component",
        F.count(F.lit(1)).over(w).alias("cluster_size"),
        (F.col("doc_id") == F.col("component")).cast("int").alias(
            "is_representative"
        ),
    )


@register(
    "neardup_cluster_assignment_star",
    f"""
    WITH RECURSIVE {_SHINGLES_SQL},
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT id_a, id_b
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.8
    ),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION ALL
        SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach(id, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
    ),
    comp AS (SELECT id AS doc_id, MIN(r) AS component FROM reach GROUP BY id)
    SELECT c.doc_id, c.component,
           COUNT(*) OVER (PARTITION BY c.component) AS cluster_size,
           CAST(c.doc_id = c.component AS INT) AS is_representative
    FROM comp c
    """,
    doc="Cluster assignment via the large-star/small-star contraction at "
    "every graph size (O(log n) rounds on ANY topology), skipping the "
    "driver union-find that neardup_cluster_assignment uses on small "
    "pair graphs.  Same oracle as neardup_cluster_assignment: both paths "
    "compute the identical component fixpoint, so the driver verifies "
    "the star variant against the same recursive CTE.",
    tags=("llm", "dedup", "iterative"),
)
def neardup_cluster_assignment_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # spread the small-SF single-file scan so the tokenize/shingle/md5
    # map work uses the cluster (r9 measured A/B); r12: conditional — at
    # scale the scan arrives already split and the round-robin shuffle
    # the unconditional form paid is removed outright (guide §2.4)
    docs = load_spread(spark, sf_dir, "documents")
    comp = ld.neardup_components(
        docs, "doc_id", "text", n=3, threshold=0.8, star=True
    )
    w = Window.partitionBy("component")
    return comp.select(
        "doc_id",
        "component",
        F.count(F.lit(1)).over(w).alias("cluster_size"),
        (F.col("doc_id") == F.col("component")).cast("int").alias(
            "is_representative"
        ),
    )


@register(
    "neardup_quality_survivors",
    f"""
    WITH RECURSIVE {_SHINGLES_SQL},
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT id_a, id_b
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.8
    ),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION ALL
        SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach(id, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
    ),
    comp AS (SELECT id AS doc_id, MIN(r) AS component FROM reach GROUP BY id),
    q AS (
        SELECT doc_id,
               (len(list_distinct(string_split(text,' ')))
                  / CAST(len(string_split(text,' ')) AS DOUBLE)) * 0.5
               + (len(list_filter(string_split(text,' '), x -> x IN {{stops}}))
                  / CAST(len(string_split(text,' ')) AS DOUBLE)) * 0.3
               + (least(CAST(len(string_split(text,' ')) AS DOUBLE), 100.0) / 100.0) * 0.2
                 AS quality_score
        FROM documents
    )
    SELECT component, doc_id AS survivor_id, quality_score
    FROM (
        SELECT c.component, c.doc_id, q.quality_score,
               ROW_NUMBER() OVER (PARTITION BY c.component
                                  ORDER BY q.quality_score DESC, c.doc_id ASC) AS rn
        FROM comp c JOIN q ON q.doc_id = c.doc_id
    )
    WHERE rn = 1
    """.replace("{stops}", _STOP_EN_SQL),
    doc="The KEEP decision of a fuzzy-dedup pipeline: per near-dup cluster "
    "keep the highest-QUALITY copy (not the smallest id) — clusters from "
    "the Jaccard>=0.8 connected components, quality from the composite "
    "score, doc_id tie-break for determinism.  One window over "
    "cluster-sized groups.",
    tags=("llm", "dedup", "quality"),
)
def neardup_quality_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_spark.operators.ordering import top_k_per_key

    docs = load_table(spark, sf_dir, "documents")
    pairs = ld.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.8)
    comp = ld.connected_components(pairs, docs, "doc_id")
    quality = textstats.quality_features(docs).select(
        "doc_id", textstats.quality_score().alias("quality_score")
    )
    # comp and quality are both per-doc (corpus-sized); the planner was
    # broadcasting the quality scan because the label side's checkpoint
    # hides its stats — at 100 TB neither side broadcasts, so pin the
    # co-keyed shuffle (100x plan audit, ROUND10_NOTES §16)
    best = top_k_per_key(
        comp.join(quality.hint("shuffle_hash"), "doc_id"),
        keys=["component"],
        order_by=[F.col("quality_score").desc(), F.col("doc_id").asc()],
        k=1,
    )
    return best.select(
        "component", F.col("doc_id").alias("survivor_id"), "quality_score"
    )


_BPE_SQL_PAT = textstats.BPE_ISH_PATTERN.replace("'", "''")


@register(
    "bpe_token_stats",
    f"""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_ws_tokens,
           len(regexp_extract_all(text, '{_BPE_SQL_PAT}')) AS n_bpe_tokens,
           len(regexp_extract_all(text, '{_BPE_SQL_PAT}'))
             / CAST(len(string_split(text, ' ')) AS DOUBLE) AS expansion_ratio
    FROM documents
    """,
    doc="Token budgeting: whitespace words vs GPT-2-style pre-tokenizer "
    "pieces per document (BPE_ISH_PATTERN is restricted to constructs "
    "Java regex and RE2 parse identically, so both engines tokenize the "
    "same).  Pure codegen scan, no shuffle.",
    tags=("llm", "textstats"),
)
def bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_ws = textstats.token_count("text")
    n_bpe = F.size(textstats.bpe_ish_tokens("text"))
    return docs.select(
        "doc_id",
        n_ws.alias("n_ws_tokens"),
        n_bpe.alias("n_bpe_tokens"),
        (n_bpe / n_ws.cast("double")).alias("expansion_ratio"),
    )


@register(
    "temperature_mix_sampling",
    """
    WITH per AS (
        SELECT source, SUM(len(string_split(text,' '))) AS n_tok,
               COUNT(*) AS n_docs
        FROM documents GROUP BY source
    ),
    tot AS (SELECT SUM(n_tok) AS t FROM per),
    w AS (
        SELECT source, n_docs, n_tok,
               CAST(n_tok AS DOUBLE) / CAST(tot.t AS DOUBLE) AS share,
               sqrt(CAST(n_tok AS DOUBLE) / CAST(tot.t AS DOUBLE)) AS wgt
        FROM per CROSS JOIN tot
    ),
    norm AS (
        SELECT *, MAX(cum_w) OVER () AS total_w FROM (
            SELECT *, SUM(wgt) OVER (ORDER BY source
                                     ROWS UNBOUNDED PRECEDING) AS cum_w
            FROM w
        )
    ),
    rates AS (
        SELECT source, n_docs,
               LEAST(1.0, (wgt / total_w) / share) AS rate,
               CAST(FLOOR(LEAST(1.0, (wgt / total_w) / share)
                          * 4294967296.0) AS BIGINT) AS keep_below
        FROM norm
    )
    SELECT d.source, r.n_docs, r.rate,
           COUNT(*) FILTER (
               WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
                          AS BIGINT) < r.keep_below
           ) AS n_sampled
    FROM documents d JOIN rates r ON r.source = d.source
    GROUP BY 1, 2, 3
    """,
    doc="Temperature-rebalanced corpus sampling (T=2): per-source rate = "
    "min(1, target/actual) with target share ∝ sqrt(actual share).  "
    "Deterministic across engines without an RNG: (1) sqrt and division "
    "are IEEE-correctly-rounded so per-source weights match bitwise; (2) "
    "the weight normalizer is a RUNNING sum over ORDER BY source — both "
    "engines fold left-to-right, so the double total matches where a "
    "plain SUM's partial-aggregation order would not; (3) the keep/drop "
    "coin is an md5(doc_id) 32-bit bucket compared to floor(rate*2^32).",
    tags=("llm", "sampling"),
)
def temperature_mix_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.sum(F.size(textstats.tokens("text"))).alias("n_tok"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    tot = per.agg(F.sum("n_tok").alias("t"))
    w = per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        (F.col("n_tok").cast("double") / F.col("t").cast("double")).alias("share"),
        F.sqrt(F.col("n_tok").cast("double") / F.col("t").cast("double")).alias(
            "wgt"
        ),
    )
    run = Window.orderBy("source").rowsBetween(Window.unboundedPreceding, 0)
    norm = w.withColumn("cum_w", F.sum("wgt").over(run)).withColumn(
        "total_w", F.max("cum_w").over(Window.partitionBy())
    )
    rate = F.least(F.lit(1.0), (F.col("wgt") / F.col("total_w")) / F.col("share"))
    rates = norm.select(
        "source",
        "n_docs",
        rate.alias("rate"),
        F.floor(rate * F.lit(4294967296.0)).cast("bigint").alias("keep_below"),
    )
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    return (
        docs.join(F.broadcast(rates), "source")
        .groupBy("source", "n_docs", "rate")
        .agg(
            F.sum(F.when(bucket < F.col("keep_below"), 1).otherwise(0)).alias(
                "n_sampled"
            )
        )
    )


@register(
    "trailing_7d_user_spend",
    """
    SELECT user_id, event_id,
           CAST(SUM(CAST(ROUND(value*100, 0) AS BIGINT))
                  OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                        RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
                AS DOUBLE) / 100.0 AS trailing_7d
    FROM events
    """,
    doc="Event-time RANGE frame: per user, trailing 7-day sum — the frame "
    "is bounded by time distance, not row count (ties are peers on both "
    "engines), in exact scaled longs.  Ordered by INTEGER microseconds on "
    "both sides: the corpus has sub-second timestamps, and a "
    "seconds-truncating order key silently shifts frame boundaries "
    "(caught at sf0.1).  Complements the ROWS-frame sliding_value_avg.",
    tags=("A-ext", "window-range"),
)
def trailing_7d_user_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-604_800_000_000, 0)
    )
    from data_pipeline_spark.operators import aggregates as agg

    return ev.select(
        "user_id",
        "event_id",
        (F.sum(agg.scaled_long("value")).over(w).cast("double") / 100.0).alias(
            "trailing_7d"
        ),
    )


@register(
    "quality_decile_binning",
    """
    SELECT doc_id, lang,
           NTILE(10) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS decile
    FROM documents
    """,
    doc="Curriculum binning: per-language size deciles, bit-identical to "
    "NTILE over a total order (doc_id tie-break — without it NTILE is "
    "non-deterministic on ties).  The bucketing a curriculum/mixing "
    "schedule consumes.",
    tags=("llm", "sampling", "window"),
)
def quality_decile_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase exact NTILE (the ``sequence_packing`` pattern).

    A naive ``NTILE(10) OVER (PARTITION BY lang ORDER BY ...)`` sorts each
    language's ENTIRE corpus in one task — with English ~half a 100 TB
    corpus that is a single-task sort.  Instead: rank within (lang,
    size-bucket) in parallel windows, reconstruct the global per-lang rank
    from an exclusive prefix over per-bucket counts (one row per bucket —
    dimension cardinality, broadcast back), and convert (rank, count) to
    the decile with NTILE's closed-form tile split.  Bit-identical to the
    oracle's NTILE, no per-language total-order sort in the plan
    (asserted in test_plans.py).
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    # bucket by the leading order key: bucket order == (n_chars, doc_id)
    # order across buckets, so per-bucket ranks + bucket prefix = global
    # rank.  Residual skew only under a DEGENERATE length distribution
    # (most docs sharing one 256-char band); remedy there is a second
    # bucketing level on (n_chars, doc_id div D) — order-respecting because
    # doc_id is the tie-break within equal n_chars.
    sized = docs.withColumn("bucket", F.expr("n_chars div 256"))
    bw = Window.partitionBy("lang", "bucket").orderBy("n_chars", "doc_id")
    local = sized.withColumn("local_rank", F.row_number().over(bw))
    totals = sized.groupBy("lang", "bucket").agg(F.count(F.lit(1)).alias("bn"))
    pw = (
        Window.partitionBy("lang")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix = totals.select(
        "lang",
        "bucket",
        F.coalesce(F.sum("bn").over(pw), F.lit(0)).alias("prefix"),
        F.sum("bn").over(Window.partitionBy("lang")).alias("c"),
    )
    ranked = (
        local.join(F.broadcast(prefix), ["lang", "bucket"])
        .withColumn("r", (F.col("prefix") + F.col("local_rank")).cast("bigint"))
        .withColumn("q", F.expr("c div 10"))
        .withColumn("rem", F.col("c") % 10)
    )
    # NTILE(10): the first `rem` tiles have q+1 rows, the rest q rows
    decile = F.expr(
        "CASE WHEN r <= (q + 1) * rem THEN (r + q) div (q + 1) "
        "ELSE rem + ((r - (q + 1) * rem + q - 1) div q) END"
    ).cast("int")
    return ranked.select("doc_id", "lang", decile.alias("decile"))


@register(
    "approx_distinct_users_scale_path",
    None,  # rows-only: HLL sketches differ across engines by construction
    doc="HyperLogLog distinct counting (rsd=2%%): the scale path for "
    "distinct_users_per_type — exact expand-distinct shuffles every "
    "(group, user) pair, HLL ships a fixed-size sketch per group and "
    "merges map-side.  Rows-only by necessity (DuckDB's approx sketch is "
    "a different estimator); the unit test bounds the error vs exact.",
    tags=("A-ext", "scale-path"),
)
def approx_distinct_users_scale_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("n_users_approx"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "hll_user_overlap",
    """
    WITH d AS (SELECT DISTINCT event_type, user_id FROM events),
    per AS (SELECT event_type, COUNT(*) AS n FROM d GROUP BY 1),
    ov AS (
        SELECT x.event_type AS ta, y.event_type AS tb, COUNT(*) AS n_ov
        FROM d x JOIN d y
          ON x.user_id = y.user_id AND x.event_type < y.event_type
        GROUP BY 1, 2
    )
    SELECT pa.event_type AS type_a, pb.event_type AS type_b,
           CAST(pa.n AS BIGINT) AS users_a,
           CAST(pb.n AS BIGINT) AS users_b,
           CAST(pa.n + pb.n - coalesce(ov.n_ov, 0) AS BIGINT)
               AS users_union,
           CAST(coalesce(ov.n_ov, 0) AS BIGINT) AS users_overlap_est
    FROM per pa
    JOIN per pb ON pa.event_type < pb.event_type
    LEFT JOIN ov ON ov.ta = pa.event_type AND ov.tb = pb.event_type
    ORDER BY 1, 2
    """,
    doc="Sketch SET ALGEBRA — the audience-overlap pattern at 100 TB: one "
    "fixed-size DataSketches HLL per event_type (hll_sketch_agg, "
    "JVM-native, map-side merged), then every type pair's union "
    "cardinality via hll_union on the two sketches and the intersection "
    "by inclusion-exclusion (|A|+|B|-|A union B|, floored at 0).  The "
    "pairwise join runs over the HANDFUL of per-group sketches (never "
    "the user stream), so overlap across N groups costs O(N^2) sketch "
    "merges instead of N^2 distinct-count shuffles.  At this table's "
    "per-type cardinalities the lgK=14 sketch stays in DataSketches' "
    "exact sparse mode, so the SQL oracle checks true counts — the same "
    "exact-configuration certification the other sketches carry; at "
    "100 TB the identical plan degrades gracefully to ~1% estimates.",
    tags=("A-ext", "scale-path", "sketch"),
)
def hll_user_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sk = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id", F.lit(14)).alias("sk"),
    )
    a = sk.select(
        F.col("event_type").alias("type_a"), F.col("sk").alias("sk_a")
    )
    b = sk.select(
        F.col("event_type").alias("type_b"), F.col("sk").alias("sk_b")
    )
    pairs = a.join(b, F.col("type_a") < F.col("type_b"))
    est_a = F.round(F.hll_sketch_estimate("sk_a")).cast("bigint")
    est_b = F.round(F.hll_sketch_estimate("sk_b")).cast("bigint")
    est_u = F.round(
        F.hll_sketch_estimate(F.hll_union("sk_a", "sk_b"))
    ).cast("bigint")
    return pairs.select(
        "type_a",
        "type_b",
        est_a.alias("users_a"),
        est_b.alias("users_b"),
        est_u.alias("users_union"),
        F.greatest(
            est_a + est_b - est_u, F.lit(0).cast("bigint")
        ).alias("users_overlap_est"),
    ).orderBy("type_a", "type_b")


@register(
    "approx_doc_length_quantiles",
    None,  # rows-only: GK-sketch quantiles are engine-specific
    doc="Streaming-mergeable quantiles (Greenwald-Khanna, accuracy 1e4): "
    "p50/p90/p99 document lengths per language without a global sort — "
    "the scale path for percentile stats over a 100 TB corpus.  "
    "Rows-only; unit test bounds rank error vs exact quantiles.",
    tags=("A-ext", "scale-path"),
)
def approx_doc_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    q = F.percentile_approx("n_chars", [0.5, 0.9, 0.99], 10000)
    # Scalar columns, not one array column: the driver canon hashes pandas
    # values, and a list-valued cell is unhashable.
    return docs.groupBy("lang").agg(
        F.element_at(q, 1).alias("p50_approx"),
        F.element_at(q, 2).alias("p90_approx"),
        F.element_at(q, 3).alias("p99_approx"),
        F.count(F.lit(1)).alias("n_docs"),
    )


@register(
    "exact_doc_length_percentiles",
    """
    WITH ranked AS (
        SELECT lang, n_chars,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY lang) AS n
        FROM documents
    )
    SELECT lang,
           MAX(CASE WHEN rn = CAST(CEIL(0.5 * n) AS BIGINT) THEN n_chars END) AS p50,
           MAX(CASE WHEN rn = CAST(CEIL(0.9 * n) AS BIGINT) THEN n_chars END) AS p90,
           MAX(CASE WHEN rn = CAST(CEIL(0.99 * n) AS BIGINT) THEN n_chars END) AS p99
    FROM ranked
    GROUP BY lang
    """,
    doc="Exact discrete percentiles (type-1 quantile: the value at rank "
    "ceil(q*n) under a total order) — integer rank arithmetic, no "
    "interpolation, so both engines agree bitwise.  The exact counterpart "
    "of approx_doc_length_quantiles: correctness anchor at test scale, "
    "sketch at 100 TB.",
    tags=("A-ext", "quantiles"),
)
def exact_doc_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    wn = Window.partitionBy("lang")
    ranked = docs.select(
        "lang",
        "n_chars",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    def at(q):
        return F.max(
            F.when(
                F.col("rn") == F.ceil(F.lit(q) * F.col("n")).cast("bigint"),
                F.col("n_chars"),
            )
        )
    return ranked.groupBy("lang").agg(
        at(0.5).alias("p50"), at(0.9).alias("p90"), at(0.99).alias("p99")
    )


@register(
    "hashed_classifier_score",
    """
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    votes AS (
        SELECT doc_id,
               (('0x' || substr(md5('w#' || CAST(
                     ('0x' || substr(md5(w), 1, 15))::BIGINT % 4096
                   AS VARCHAR)), 1, 15))::BIGINT % 2001) - 1000 AS v
        FROM toks
    )
    SELECT doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(v) AS BIGINT) AS vote_sum,
           CAST(SUM(v) AS BIGINT) / CAST(COUNT(*) * 1000 AS DOUBLE) AS score,
           CAST(SUM(v) >= 0 AS INT) AS keep
    FROM votes GROUP BY doc_id
    """,
    doc="fasttext/CCNet-style quality-classifier inference: every token "
    "hashes into one of 4096 weight buckets (one md5 per token, same "
    "double-hash cut as minhash), the doc score is the mean bucket weight. "
    "Weights are md5-derived stand-ins so the oracle reproduces scores "
    "bit-for-bit; a trained vector drops into the same plan as a literal "
    "map or broadcast dimension.  Integer vote sums keep the aggregation "
    "order-independent; the single final division is IEEE-exact.  Plan: "
    "in-row math + ONE map-side-combined groupBy — no weight-table join.",
    tags=("llm", "quality", "classifier"),
)
def hashed_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_spark.llmops import classify

    # conditional spread (r13): the tokenize + 4096-bucket vote math ran
    # in ONE task off the single-split scan; inert at scale (no exchange
    # once the scan arrives split)
    docs = load_spread(spark, sf_dir, "documents")
    return classify.hashed_linear_score(docs, "doc_id", "text", buckets=4096)


@register(
    "doc_pii_scrub",
    """
    WITH seeded AS (
        SELECT doc_id,
               text || CASE WHEN doc_id % 5 = 0
                    THEN ' contact user' || CAST(doc_id AS VARCHAR)
                         || '@example.com or 555-123-4567'
                    ELSE '' END AS txt
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(txt,
                '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}')) AS BIGINT)
               AS n_emails,
           CAST(len(regexp_extract_all(txt, '\\d{3}-\\d{3}-\\d{4}')) AS BIGINT)
               AS n_phones,
           md5(regexp_replace(
                 regexp_replace(txt, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}',
                                '<EMAIL>', 'g'),
                 '\\d{3}-\\d{3}-\\d{4}', '<PHONE>', 'g')) AS scrubbed_md5
    FROM seeded
    """,
    doc="Document-content PII scrub (the corpus-side counterpart of the "
    "P10 field redaction): regex-redact emails/phones with typed tags and "
    "count matches.  The synthetic corpus carries no organic PII, so a "
    "deterministic injection (docs with doc_id%5==0 gain an email+phone "
    "suffix, built identically on both sides) exercises real matches; the "
    "md5 of the scrubbed text rides instead of the body so nothing "
    "downstream shuffles document text.  All JVM regexp ops, zero Python.",
    tags=("llm", "pii"),
)
def doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_spark.llmops import classify

    docs = load_table(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com or 555-123-4567"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return classify.pii_scrub(seeded, "doc_id", "text")


@register(
    "segment_dedup_stats",
    """
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w,
               generate_subscripts(string_split(text, ' '), 1) AS i
        FROM documents
    ),
    segs AS (
        SELECT doc_id, CAST((i - 1) // 8 AS INT) AS si,
               md5(string_agg(w, ' ' ORDER BY i)) AS h
        FROM toks GROUP BY doc_id, CAST((i - 1) // 8 AS INT)
        HAVING COUNT(*) = 8
    ),
    counted AS (
        SELECT doc_id, h, COUNT(*) OVER (PARTITION BY h) AS cnt FROM segs
    )
    SELECT doc_id,
           COUNT(*) AS n_segments,
           CAST(SUM(CAST(cnt > 1 AS BIGINT)) AS BIGINT) AS n_dup_segments,
           CAST(SUM(CAST(cnt > 1 AS BIGINT)) AS BIGINT)
               / CAST(COUNT(*) AS DOUBLE) AS dup_ratio
    FROM counted GROUP BY doc_id
    """,
    doc="CCNet/RefinedWeb-style LINE-level dedup statistics: documents "
    "split into non-overlapping 8-token segments; a segment is boilerplate "
    "if its hash occurs more than once in the corpus.  Per-doc duplicated-"
    "segment ratio drives paragraph-level filtering where whole-document "
    "dedup misses templated content.  Shuffle carries (doc_id, md5) — the "
    "segment text never moves; window over the uniform hash key, then one "
    "map-side-combined groupBy(doc).",
    tags=("llm", "dedup"),
)
def segment_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return ld.segment_dup_stats(docs, "doc_id", "text", seg_len=8)


@register(
    "boilerplate_strip",
    """
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w,
               generate_subscripts(string_split(text, ' '), 1) AS i
        FROM documents
    ),
    segs AS (
        SELECT doc_id, CAST((i - 1) // 8 AS INT) AS si,
               string_agg(w, ' ' ORDER BY i) AS seg
        FROM toks GROUP BY doc_id, CAST((i - 1) // 8 AS INT)
        HAVING COUNT(*) = 8
    ),
    counted AS (
        SELECT doc_id, si, seg,
               COUNT(*) OVER (PARTITION BY md5(seg)) AS cnt
        FROM segs
    ),
    kept AS (
        SELECT doc_id,
               string_agg(CASE WHEN cnt <= 1 THEN seg END, ' ' ORDER BY si)
                   AS kept_text,
               SUM(CASE WHEN cnt <= 1 THEN 1 ELSE 0 END) AS n_kept,
               SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS n_dropped
        FROM counted GROUP BY doc_id
    ),
    base AS (
        SELECT doc_id,
               coalesce(array_to_string(
                   array_slice(string_split(text, ' '),
                       (len(string_split(text, ' ')) // 8) * 8 + 1,
                       len(string_split(text, ' '))), ' '), '') AS tail
        FROM documents
    )
    SELECT b.doc_id,
           md5(CASE
                 WHEN coalesce(kept_text, '') <> '' AND tail <> ''
                   THEN kept_text || ' ' || tail
                 WHEN coalesce(kept_text, '') <> '' THEN kept_text
                 ELSE tail
               END) AS clean_md5,
           CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept_segments,
           CAST(coalesce(n_dropped, 0) AS BIGINT) AS n_dropped_segments
    FROM base b LEFT JOIN kept k USING (doc_id)
    """,
    doc="Corpus-duplicated-segment REMOVAL (the RefinedWeb/CCNet line-dedup "
    "transform, not just the statistic): every 8-token segment whose hash "
    "occurs more than once in the corpus is stripped from the text that "
    "ships to training; sub-segment tails are kept.  The cleaned text "
    "rides as an md5 so document bodies never shuffle; segment counting "
    "windows over the hash key and the rebuild is one groupBy(doc) + one "
    "doc-id join for the tail.",
    tags=("llm", "dedup", "transform"),
)
def boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread the small-SF single-file scan so the tokenize/shingle/md5
    # map work uses the cluster (r9 measured A/B); r12: conditional — at
    # scale the scan arrives already split and the round-robin shuffle
    # the unconditional form paid is removed outright (guide §2.4)
    docs = load_spread(spark, sf_dir, "documents")
    return ld.strip_duplicated_segments(docs, "doc_id", "text", seg_len=8)


@register(
    "contamination_by_source",
    f"""
    WITH {_SHINGLES_SQL.replace("documents", "(SELECT * FROM documents WHERE doc_id % 97 <> 0)")},
    eval_toks AS (
        SELECT doc_id, unnest(string_split(text,' ')) AS w,
               generate_subscripts(string_split(text,' '), 1) AS i
        FROM documents WHERE doc_id % 97 = 0
    ),
    eval_sh AS (
        SELECT DISTINCT doc_id AS eval_id,
               w || ' ' || lead(w,1) OVER (PARTITION BY doc_id ORDER BY i)
                 || ' ' || lead(w,2) OVER (PARTITION BY doc_id ORDER BY i)
                 || ' ' || lead(w,3) OVER (PARTITION BY doc_id ORDER BY i)
                 || ' ' || lead(w,4) OVER (PARTITION BY doc_id ORDER BY i) AS shingle
        FROM eval_toks
        QUALIFY shingle IS NOT NULL
    ),
    train_sh AS (
        SELECT t.doc_id, d.source,
               t.w || ' ' || lead(t.w,1) OVER (PARTITION BY t.doc_id ORDER BY t.i)
                   || ' ' || lead(t.w,2) OVER (PARTITION BY t.doc_id ORDER BY t.i)
                   || ' ' || lead(t.w,3) OVER (PARTITION BY t.doc_id ORDER BY t.i)
                   || ' ' || lead(t.w,4) OVER (PARTITION BY t.doc_id ORDER BY t.i) AS shingle
        FROM toks t JOIN documents d USING (doc_id)
        QUALIFY shingle IS NOT NULL
    )
    SELECT s.source,
           COUNT(DISTINCT s.doc_id) AS n_contaminated_docs,
           COUNT(DISTINCT e.eval_id) AS n_eval_docs_hit,
           COUNT(DISTINCT s.shingle) AS n_shared_shingles
    FROM train_sh s JOIN eval_sh e ON s.shingle = e.shingle
    GROUP BY s.source
    """,
    doc="Per-source contamination audit (the matrix form of "
    "eval_decontamination): for each training source, its contaminated doc "
    "count, distinct eval docs reachable, and shared 5-gram count.  Source "
    "rides the shingle stream in-row; the eval shingle->doc map broadcasts; "
    "the only shuffle is contamination-sized.",
    tags=("llm", "dedup", "decontamination"),
)
def contamination_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    eval_df = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    return ld.contamination_report(
        train, eval_df, "doc_id", "text", "source", n=5
    )


@register(
    "url_blocklist_filter",
    """
    WITH seeded AS (
        SELECT doc_id,
               text || CASE WHEN doc_id % 4 = 0
                    THEN ' see https://site' || CAST(doc_id % 50 AS VARCHAR)
                         || '.example.org/page' || CAST(doc_id AS VARCHAR)
                         || ' and http://cdn' || CAST(doc_id % 7 AS VARCHAR)
                         || '.example.net/asset'
                    ELSE '' END AS txt
        FROM documents
    ),
    parsed AS (
        SELECT doc_id,
               list_transform(
                   regexp_extract_all(txt, 'https?://[a-z0-9.-]+[a-z0-9/]*'),
                   u -> regexp_extract(u, 'https?://([a-z0-9.-]+)', 1)
               ) AS domains
        FROM seeded
    )
    SELECT doc_id,
           CAST(len(domains) AS BIGINT) AS n_urls,
           CAST(len(list_filter(domains,
                d -> list_contains([
                    'site0.example.org','site5.example.org','site10.example.org',
                    'site15.example.org','site20.example.org','site25.example.org',
                    'site30.example.org','site35.example.org','site40.example.org',
                    'site45.example.org'], d))) AS BIGINT) AS n_blocked,
           CAST(len(list_filter(domains,
                d -> list_contains([
                    'site0.example.org','site5.example.org','site10.example.org',
                    'site15.example.org','site20.example.org','site25.example.org',
                    'site30.example.org','site35.example.org','site40.example.org',
                    'site45.example.org'], d))) = 0 AS INT) AS keep
    FROM parsed
    """,
    doc="URL extraction + domain blocklist gate (the web-pipeline source "
    "filter): extract links, parse domains in-row, count hits against a "
    "broadcast blocklist, keep = no blocked domain.  The synthetic corpus "
    "carries no organic URLs, so a deterministic injection (docs with "
    "doc_id%4==0 gain two links, built identically on both sides) "
    "exercises real matches.  All JVM regexp/array ops, zero shuffle.",
    tags=("llm", "filter", "web"),
)
def url_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    blocklist = [f"site{k}.example.org" for k in range(0, 50, 5)]
    txt = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit(" see https://site"),
                (F.col("doc_id") % 50).cast("string"),
                F.lit(".example.org/page"),
                F.col("doc_id").cast("string"),
                F.lit(" and http://cdn"),
                (F.col("doc_id") % 7).cast("string"),
                F.lit(".example.net/asset"),
            ),
        ).otherwise(F.lit("")),
    )
    domains = F.transform(
        F.regexp_extract_all(txt, F.lit("https?://[a-z0-9.-]+[a-z0-9/]*"), F.lit(0)),
        lambda u: F.regexp_extract(u, "https?://([a-z0-9.-]+)", 1),
    )
    blocked = F.filter(domains, lambda d: d.isin(*blocklist))
    return docs.select(
        "doc_id",
        F.size(domains).cast("long").alias("n_urls"),
        F.size(blocked).cast("long").alias("n_blocked"),
        (F.size(blocked) == 0).cast("int").alias("keep"),
    )


@register(
    "corpus_health_by_source",
    """
    WITH base AS (
        SELECT doc_id, source, md5(text) AS h,
               len(string_split(text, ' ')) AS nt
        FROM documents
    ),
    copies AS (
        SELECT doc_id, source, nt,
               COUNT(*) OVER (PARTITION BY h) AS copies
        FROM base
    ),
    toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w,
               generate_subscripts(string_split(text, ' '), 1) AS i
        FROM documents
    ),
    segs AS (
        SELECT doc_id, CAST((i - 1) // 8 AS INT) AS si,
               md5(string_agg(w, ' ' ORDER BY i)) AS sh
        FROM toks GROUP BY doc_id, CAST((i - 1) // 8 AS INT)
        HAVING COUNT(*) = 8
    ),
    counted AS (
        SELECT doc_id, COUNT(*) OVER (PARTITION BY sh) AS cnt FROM segs
    ),
    seg AS (
        SELECT doc_id, COUNT(*) AS ns,
               SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS nd
        FROM counted GROUP BY doc_id
    )
    SELECT c.source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN c.copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_exact_dup_docs,
           CAST(SUM(CASE WHEN c.copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
               / CAST(COUNT(*) AS DOUBLE) AS exact_dup_ratio,
           CAST(SUM(c.nt) AS BIGINT) AS total_tokens,
           CAST(SUM(coalesce(s.nd, 0)) AS BIGINT)
               / CAST(greatest(SUM(coalesce(s.ns, 0)), 1) AS DOUBLE)
               AS seg_dup_ratio
    FROM copies c LEFT JOIN seg s USING (doc_id)
    GROUP BY c.source
    """,
    doc="Per-source corpus health report: document count, exact-duplicate "
    "document ratio (corpus-wide md5 copies), total tokens, and segment-"
    "level boilerplate ratio — the one-look dashboard a pipeline reviews "
    "per ingest source.  Exact integer sums with single final divisions; "
    "source rides every stream in-row, per-doc partials join on doc_id.",
    tags=("llm", "dedup", "report"),
)
def corpus_health_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        "source",
        F.md5("text").alias("h"),
        textstats.token_count("text").alias("nt"),
    )
    copies = base.withColumn(
        "copies", F.count(F.lit(1)).over(Window.partitionBy("h"))
    )
    seg = ld.segment_dup_stats(docs, "doc_id", "text", seg_len=8).select(
        "doc_id",
        F.col("n_segments").alias("ns"),
        F.col("n_dup_segments").alias("nd"),
    )
    joined = copies.join(seg, "doc_id", "left")
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("copies") > 1).cast("long")).alias("n_exact_dup_docs"),
        (
            F.sum((F.col("copies") > 1).cast("long"))
            / F.count(F.lit(1)).cast("double")
        ).alias("exact_dup_ratio"),
        F.sum("nt").alias("total_tokens"),
        (
            F.sum(F.coalesce("nd", F.lit(0)))
            / F.greatest(F.sum(F.coalesce("ns", F.lit(0))), F.lit(1)).cast(
                "double"
            )
        ).alias("seg_dup_ratio"),
    )


@register(
    "incremental_dedup_gate",
    """
    WITH inc AS (SELECT * FROM documents WHERE doc_id % 10 = 0),
    cor AS (SELECT * FROM documents WHERE doc_id % 10 <> 0),
    exact AS (
        SELECT DISTINCT i.doc_id FROM inc i
        JOIN cor c ON md5(i.text) = md5(c.text)
    ),
    inc_toks AS (
        SELECT doc_id, unnest(string_split(text,' ')) AS w,
               generate_subscripts(string_split(text,' '), 1) AS i
        FROM inc
    ),
    inc_sh AS (
        SELECT DISTINCT doc_id AS inc_id,
               w || ' ' || lead(w,1) OVER (PARTITION BY doc_id ORDER BY i)
                 || ' ' || lead(w,2) OVER (PARTITION BY doc_id ORDER BY i) AS shingle
        FROM inc_toks QUALIFY shingle IS NOT NULL
    ),
    cor_toks AS (
        SELECT doc_id, unnest(string_split(text,' ')) AS w,
               generate_subscripts(string_split(text,' '), 1) AS i
        FROM cor
    ),
    cor_sh AS (
        SELECT DISTINCT doc_id AS cor_id,
               w || ' ' || lead(w,1) OVER (PARTITION BY doc_id ORDER BY i)
                 || ' ' || lead(w,2) OVER (PARTITION BY doc_id ORDER BY i) AS shingle
        FROM cor_toks QUALIFY shingle IS NOT NULL
    ),
    inc_sizes AS (SELECT inc_id, COUNT(*) AS inc_n FROM inc_sh GROUP BY 1),
    cor_sizes AS (SELECT cor_id, COUNT(*) AS cor_n FROM cor_sh GROUP BY 1),
    inter AS (
        SELECT i.inc_id, c.cor_id, COUNT(*) AS n_inter
        FROM inc_sh i JOIN cor_sh c ON i.shingle = c.shingle
        GROUP BY 1, 2
    ),
    best AS (
        SELECT inc_id,
               MAX(n_inter / CAST(s.inc_n + z.cor_n - n_inter AS DOUBLE))
                   AS best_jaccard
        FROM inter
        JOIN inc_sizes s USING (inc_id)
        JOIN cor_sizes z USING (cor_id)
        GROUP BY inc_id
    )
    SELECT i.doc_id,
           CAST(e.doc_id IS NOT NULL AS INT) AS exact_dup,
           CAST(coalesce(b.best_jaccard, 0.0) >= 0.8 AS INT) AS near_dup,
           b.best_jaccard,
           CAST(e.doc_id IS NULL
                AND coalesce(b.best_jaccard, 0.0) < 0.8 AS INT) AS keep
    FROM inc i
    LEFT JOIN exact e ON e.doc_id = i.doc_id
    LEFT JOIN best b ON b.inc_id = i.doc_id
    """,
    doc="Ingest-time incremental dedup gate: flag each INCOMING doc "
    "(doc_id%10==0 stands in for the new crawl batch) that duplicates "
    "the EXISTING corpus exactly (md5) or nearly (Jaccard >= 0.8 vs any "
    "corpus doc).  The batch's hash set and shingle map broadcast; the "
    "corpus is scanned once map-side for both checks and never shuffles "
    "(the reverse orientation of decontaminate) — the reason a 100 TB "
    "corpus isn't re-paired against itself on every ingest.",
    tags=("llm", "dedup", "ingest"),
)
def incremental_dedup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread the small-SF single-file scan so the tokenize/shingle/md5
    # map work uses the cluster (r9 measured A/B); r12: conditional — at
    # scale the scan arrives already split and the round-robin shuffle
    # the unconditional form paid is removed outright (guide §2.4)
    docs = load_spread(spark, sf_dir, "documents", shared=True)
    incoming = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    return ld.incremental_dedup_gate(corpus, incoming, "doc_id", "text")


def _persisted_gate_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus half's doc_shingle_index sidecar, materialized ONCE per
    documents-file identity and reused — by both gate catalog entries and
    across bench reps — so their timings measure the steady-state
    per-trigger gate, not an index rebuild (the streaming sink builds
    index rows incrementally per admitted batch; a full rebuild per
    trigger is precisely what the sidecar exists to avoid)."""
    return read_parquet_cached(spark, _gate_index_dir(spark, sf_dir))


def _gate_index_dir(spark: SparkSession, sf_dir: str) -> str:
    """The directory of ``_persisted_gate_index``, built on the first
    call (``io.build_once``)."""

    def build(stage):
        corpus = load_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") % 10 != 0
        )
        # repartition off the small-SF single-file partition before the
        # in-row band computation (interpreted HOFs, ~1 ms/doc on one
        # core); at 100 TB the corpus arrives already split
        ld.doc_shingle_index(
            spread_scan(corpus, spark), "doc_id", "text"
        ).write.parquet(stage)

    final = cache_path(
        "gate_index", [os.path.join(sf_dir, "documents.parquet")],
        name="index",
    )
    return build_once(final, build)


@register(
    "persisted_index_dedup_gate",
    QUERIES["incremental_dedup_gate"].oracle,
    doc="The SAME admission decisions as incremental_dedup_gate, but off "
    "a PERSISTED doc_shingle_index round-tripped through parquet — the "
    "steady-state form the streaming ingest sink runs every trigger: the "
    "gate reads ~8-byte shingle hashes and md5s (exact pass column-prunes "
    "to md5 alone) instead of re-reading and re-tokenizing corpus text.  "
    "Sharing the corpus-scan oracle certifies that the index is decision-"
    "complete: nothing about an admitted document matters to dedup beyond "
    "what the sidecar row stores.",
    tags=("llm", "dedup", "ingest"),
)
def persisted_index_dedup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    incoming = docs.filter(F.col("doc_id") % 10 == 0)
    return ld.indexed_dedup_gate(
        _persisted_gate_index(spark, sf_dir), incoming, "doc_id", "text"
    )


@register(
    "banded_index_dedup_gate",
    """
    WITH inc AS (SELECT * FROM documents WHERE doc_id % 10 = 0),
    cor AS (SELECT * FROM documents WHERE doc_id % 10 <> 0),
    exact AS (
        SELECT DISTINCT i.doc_id FROM inc i
        JOIN cor c ON md5(i.text) = md5(c.text)
    ),
    inc_toks AS (
        SELECT doc_id, unnest(string_split(text,' ')) AS w,
               generate_subscripts(string_split(text,' '), 1) AS i
        FROM inc
    ),
    inc_sh AS (
        SELECT DISTINCT doc_id AS inc_id,
               w || ' ' || lead(w,1) OVER (PARTITION BY doc_id ORDER BY i)
                 || ' ' || lead(w,2) OVER (PARTITION BY doc_id ORDER BY i) AS shingle
        FROM inc_toks QUALIFY shingle IS NOT NULL
    ),
    cor_toks AS (
        SELECT doc_id, unnest(string_split(text,' ')) AS w,
               generate_subscripts(string_split(text,' '), 1) AS i
        FROM cor
    ),
    cor_sh AS (
        SELECT DISTINCT doc_id AS cor_id,
               w || ' ' || lead(w,1) OVER (PARTITION BY doc_id ORDER BY i)
                 || ' ' || lead(w,2) OVER (PARTITION BY doc_id ORDER BY i) AS shingle
        FROM cor_toks QUALIFY shingle IS NOT NULL
    ),
    inc_sizes AS (SELECT inc_id, COUNT(*) AS inc_n FROM inc_sh GROUP BY 1),
    cor_sizes AS (SELECT cor_id, COUNT(*) AS cor_n FROM cor_sh GROUP BY 1),
    inter AS (
        SELECT i.inc_id, c.cor_id, COUNT(*) AS n_inter
        FROM inc_sh i JOIN cor_sh c ON i.shingle = c.shingle
        GROUP BY 1, 2
    ),
    best AS (
        SELECT inc_id,
               MAX(n_inter / CAST(s.inc_n + z.cor_n - n_inter AS DOUBLE))
                   AS best_jaccard
        FROM inter
        JOIN inc_sizes s USING (inc_id)
        JOIN cor_sizes z USING (cor_id)
        GROUP BY inc_id
    )
    SELECT i.doc_id,
           CAST(e.doc_id IS NOT NULL AS INT) AS exact_dup,
           CAST(coalesce(b.best_jaccard, 0.0) >= 0.8 AS INT) AS near_dup,
           CAST(e.doc_id IS NULL
                AND coalesce(b.best_jaccard, 0.0) < 0.8 AS INT) AS keep
    FROM inc i
    LEFT JOIN exact e ON e.doc_id = i.doc_id
    LEFT JOIN best b ON b.inc_id = i.doc_id
    """,
    doc="The BAND-PRUNED form of persisted_index_dedup_gate — the "
    "steady-state trigger shape at 100 TB: phase one scans only the "
    "index's (cor_id, bands) MinHash band-bucket columns against the "
    "broadcast batch buckets, and the shingle-array explode runs on the "
    "band-COLLIDING candidates alone (O(candidates), not O(index), per "
    "trigger — measured 450->32 docs exploded at sf0.01, 4500->1581 at "
    "sf0.1).  Admission DECISIONS match the full-scan SQL oracle exactly "
    "(a >=0.8 pair escapes all 10 bands with p=8e-4, and a false band "
    "collision only costs an exact-Jaccard evaluation); best_jaccard is "
    "omitted because below-threshold candidates may legitimately be "
    "pruned before scoring.  The bucket pre-filter is ADAPTIVE "
    "(max_literal_buckets): small triggers embed the bucket set as one "
    "in-row arrays_overlap literal (one index scan), fat triggers — "
    "including this entry at sf0.1, ~5000 buckets — switch to a "
    "broadcast value join whose per-row cost is trigger-independent; "
    "path parity is test-pinned.",
    tags=("llm", "dedup", "ingest"),
)
def banded_index_dedup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    incoming = docs.filter(F.col("doc_id") % 10 == 0)
    flags = ld.indexed_dedup_gate(
        _persisted_gate_index(spark, sf_dir), incoming, "doc_id", "text",
        band_prune=True,
        # adaptive literal/join crossover sizing off the sidecar's parquet
        # footers (exact row count, no count() job per trigger)
        index_rows=lambda: parquet_num_rows(_gate_index_dir(spark, sf_dir)),
    )
    return flags.select("doc_id", "exact_dup", "near_dup", "keep")


def _bigram_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token bigrams of every document — the item stream both heavy-hitter
    queries sketch over (same derivation as the oracle's
    string_split + generate_series form).  Repartitioned off the small-SF
    single file so the per-partition summaries + mergeable reduction are
    genuinely exercised (the guarantee is merge-tree-independent, so the
    exact-configuration oracle is unaffected)."""
    docs = load_spread(spark, sf_dir, "documents")
    toks = docs.select(textstats.tokens("text").alias("t"))
    bigrams = F.when(
        F.size("t") >= 2,
        F.expr(
            "transform(sequence(1, size(t) - 1),"
            " i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    return toks.select(F.explode(bigrams).alias("item"))


@register(
    "heavy_hitter_bigrams",
    None,  # sketch output depends on partition boundaries: rows-only
    doc="Misra-Gries heavy hitters (k=20) over token bigrams: one "
    "mapInPandas pass builds a capacity-k summary per partition (the item "
    "stream never shuffles; the only exchange carries <= k rows per "
    "partition), merged with the mergeable-summaries reduction.  Every "
    "bigram with frequency > n/(k+1) is guaranteed present with a "
    "lower-bound weight; the unit suite pins the guarantee and the "
    "exact-configuration equality (llmops/sketches.py).",
    tags=("llm", "scale-path"),
)
def heavy_hitter_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sketches.misra_gries_heavy_hitters(
        _bigram_stream(spark, sf_dir), "item", k=20
    )


@register(
    "heavy_hitter_bigrams_exact",
    """
    WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
    big AS (
        SELECT t[i] || ' ' || t[i + 1] AS item
        FROM toks, LATERAL unnest(generate_series(1, len(t) - 1)) AS g(i)
    )
    SELECT item, CAST(COUNT(*) AS BIGINT) AS weight
    FROM big
    GROUP BY item
    ORDER BY weight DESC, item ASC
    LIMIT 50
    """,
    doc="The Misra-Gries exactness limit: with k >= |distinct items| no "
    "counter is ever pruned and the merged summary IS the exact GROUP BY "
    "— certifying the full sketch machinery (per-partition summaries, "
    "mergeable reduction, final subtraction) against the brute-force SQL "
    "oracle, the same pattern as ivf_exact_topk / lsh_exact_neardup.",
    tags=("llm", "scale-path"),
)
def heavy_hitter_bigrams_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    mg = sketches.misra_gries_heavy_hitters(
        _bigram_stream(spark, sf_dir), "item", k=1_000_000
    )
    return mg.orderBy(F.col("weight").desc(), F.col("item").asc()).limit(50)


@register(
    "pq_ann_topk",
    None,  # approximate (ADC shortlist recall): rows-only check
    doc="Product-quantization ANN top-k (llmops/pq.py): 8-byte PQ codes "
    "per 64-dim vector (32x compression), per-query ADC lookup tables "
    "broadcast into a codes-only scan, shortlist re-ranked with the exact "
    "quantized cosine.  Measured recall@10 at the default config (m=8, "
    "64 centroids/subspace, 20*k re-rank depth): 0.98 at sf0.01, 0.92 at "
    "sf0.1 (r10 recall table); the unit suite floors recall at 0.9 and "
    "pins the lossless-codebook exactness limit.",
    tags=("llm", "similarity"),
)
def pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_spark.llmops import pq

    emb = load_table(spark, sf_dir, "embeddings")
    return pq.pq_topk(
        emb, emb.filter(F.col("vec_id") < 5), id_col="vec_id", k=10,
        model=_corpus_model(spark, sf_dir, n_lists=None),
    )


@register(
    "pq_exact_topk",
    _COSINE_TOPK_SQL,
    doc="The PQ exactness limit: lossless per-subspace codebooks (every "
    "distinct training subvector, zero Lloyd iterations) make encoding "
    "invertible, so the ADC ranking equals the exact float ranking and "
    "the re-ranked top-k IS the brute-force answer — certifying the full "
    "PQ machinery (train, encode, ADC scan, shortlist, re-rank) against "
    "the same SQL oracle as embedding_cosine_topk / ivf_exact_topk.  A "
    "certification config, not the scale path (codebooks grow with the "
    "sample); the scale path is pq_ann_topk.",
    tags=("llm", "similarity"),
)
def pq_exact_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_spark.llmops import pq

    emb = load_table(spark, sf_dir, "embeddings")
    model = _corpus_model(
        spark, sf_dir, n_lists=None, m=8, n_centroids=None, sample=10**6
    )
    return pq.pq_topk(
        emb, emb.filter(F.col("vec_id") < 5), id_col="vec_id",
        k=10, shortlist=50, model=model,
    )


@register(
    "ivfpq_ann_topk",
    None,  # approximate (coarse-probe + ADC recall): rows-only check
    doc="IVF-PQ ANN (llmops/pq.py ivfpq_topk): coarse IVF routing prunes "
    "the scan to n_probe/n_lists of the corpus, PQ ADC scores only the "
    "probed lists' 8-byte codes, exact quantized-cosine re-rank touches "
    "the shortlist — the complete billion-scale layout (codes partitioned "
    "by list_id at scale so probes prune file reads).  r10 moved the "
    "codes to IVF RESIDUALS (the IndexIVFPQ layout) and the defaults to "
    "the measured production config (n_probe=24/64 k-means lists, 64 "
    "centroids, 20*k re-rank): recall@10 0.84 at sf0.01 / 0.84 at sf0.1 "
    "on the uniform-sphere corpus — the adversarial routing geometry "
    "(the r10 recall table separates the contributions).",
    tags=("llm", "similarity"),
)
def ivfpq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_spark.llmops import pq

    emb = load_table(spark, sf_dir, "embeddings")
    return pq.ivfpq_topk(
        emb, emb.filter(F.col("vec_id") < 5), id_col="vec_id", k=10,
        model=_corpus_model(spark, sf_dir),
    )


@register(
    "ivfpq_exact_topk",
    _COSINE_TOPK_SQL,
    doc="The IVF-PQ double exactness limit: probing every list "
    "(n_probe = n_lists) removes the coarse approximation and lossless "
    "codebooks remove the PQ approximation, so the full composition "
    "(assign, probe, ADC scan, shortlist, re-rank) must reproduce the "
    "brute-force answer bit-for-bit — certified against the same SQL "
    "oracle as embedding_cosine_topk.",
    tags=("llm", "similarity"),
)
def ivfpq_exact_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_spark.llmops import pq

    emb = load_table(spark, sf_dir, "embeddings")
    model = _corpus_model(
        spark, sf_dir, n_lists=16, m=8, n_centroids=None,
        sample=10**6,  # lossless codebooks must cover EVERY vector
    )
    return pq.ivfpq_topk(
        emb, emb.filter(F.col("vec_id") < 5), id_col="vec_id",
        k=10, n_probe=16, shortlist=50, model=model,
    )


@register(
    "semantic_dedup_gate",
    """
    SELECT vec_id,
           CAST(vec_id % 20 = 0 AS INT) AS near_dup,
           CAST(vec_id % 20 <> 0 AS INT) AS keep
    FROM embeddings WHERE vec_id % 10 = 0
    """,
    doc="SEMANTIC (embedding) ingest gate, batch form of "
    "streaming.ingest.SemanticGatedIngest: incoming vectors (vec_id%10=0) "
    "gate against a corpus that contains a PLANTED near-copy (md5-derived "
    "noise, cos ~0.99) of every vec_id%20=0 incoming doc — coarse-probe "
    "the ANN index sidecar (pq.semantic_index_rows: residual PQ codes + "
    "list ids), ADC-score only the probed lists, exact-verify the bounded "
    "candidate set with the quantized cosine.  Background pairs top out "
    "at cos 0.48 on this corpus, so the >= 0.9 decision is ARITHMETIC in "
    "vec_id and the oracle checks every admission decision end-to-end "
    "through the train -> encode -> probe -> ADC -> verify machinery; a "
    "routing or scoring regression flips a flag and fails the driver "
    "comparison.  The model + index sidecar materializes ONCE per corpus "
    "identity (_persisted_semantic_index, the semantic twin of the text "
    "gate's), so steady-state runs time probe + scan + verify — the "
    "per-trigger shape the streaming sink pays; training determinism "
    "makes a rebuilt sidecar gate identically.  Chaos replay + "
    "batch-parity for the streaming form are pinned in "
    "tests/test_semantic_gate.py.",
    tags=("llm", "similarity", "ingest"),
)
def semantic_dedup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_spark.llmops import pq

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    incoming = emb.filter(F.col("vec_id") % 10 == 0)
    model, index = _persisted_semantic_index(spark, sf_dir)
    flags = pq.semantic_gate_flags(index, incoming, model, threshold=0.9)
    return flags.select("vec_id", "near_dup", "keep")


def _semantic_gate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The semantic gate's corpus: the non-incoming embeddings plus a
    deterministic PLANTED near-copy (cos ~0.99) of every vec_id%20=0
    incoming vector.  Factored out so the live query and the persisted
    model+index sidecar build bit-identical corpora."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    seeds = emb.filter(F.col("vec_id") % 20 == 0)
    # deterministic planted near-copy: per-component md5 noise (~cos 0.99
    # after renormalization); the id offset clears BOTH the table's id
    # space and the scale-rehearsal expansion ids (base + i*1e6, i<=29),
    # so planted corpus ids never collide with incoming ids and the
    # gate's self-pair filter can't mask a genuine candidate
    noisy = F.transform(
        F.col("embedding"),
        lambda x, j: x.cast("double")
        + 0.02
        * (
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat_ws(":", F.col("vec_id"), j)), 1, 4
                    ),
                    16,
                    10,
                ).cast("double")
                - 32768.0
            )
            / 32768.0
        ),
    )
    norm = F.sqrt(F.aggregate(noisy, F.lit(0.0), lambda a, x: a + x * x))
    planted = seeds.select(
        (F.col("vec_id") + 100_000_000).alias("vec_id"),
        F.transform(noisy, lambda x: (x / norm).cast("float")).alias(
            "embedding"
        ),
    )
    return emb.filter(F.col("vec_id") % 10 != 0).unionByName(planted)


def _persisted_semantic_index(spark: SparkSession, sf_dir: str):
    """The semantic gate's (model, index-sidecar) pair, materialized ONCE
    per embeddings-file identity and reused across bench reps — the
    semantic twin of ``_persisted_gate_index``: the streaming sink
    trains once and appends index rows per admitted trigger, so the
    steady-state per-trigger cost is probe + ADC scan + verify against a
    PERSISTED index, never model retraining or a corpus re-encode.
    Training is deterministic (md5-ordered sample, fixed-seed k-means), so
    a rebuilt sidecar gates identically; the shared oracle certifies the
    decisions either way.  The index parquet and its ``model.json``
    publish as one directory (``io.build_once``), so neither is ever
    seen without the other."""
    from data_pipeline_spark.llmops import pq

    def build(stage):
        corpus = _semantic_gate_corpus(spark, sf_dir)
        model = pq.ann_train(corpus)
        pq.semantic_index_rows(corpus, model).write.parquet(
            os.path.join(stage, "index")
        )
        pq.write_model(os.path.join(stage, "model.json"), model)

    final = build_once(
        cache_path(
            "semantic_index", [os.path.join(sf_dir, "embeddings.parquet")],
            name="sidecar",
        ),
        build,
    )
    return (
        pq.read_model(os.path.join(final, "model.json"))[0],
        read_parquet_cached(spark, os.path.join(final, "index")),
    )


@register(
    "grouped_heavy_hitters_exact",
    """
    WITH toks AS (
        SELECT lang, unnest(string_split(text, ' ')) AS item FROM documents
    ), c AS (
        SELECT lang, item, CAST(COUNT(*) AS BIGINT) AS weight
        FROM toks GROUP BY 1, 2
    )
    SELECT lang, item, weight FROM (
        SELECT lang, item, weight,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY weight DESC, item) AS rn
        FROM c
    ) WHERE rn <= 5
    """,
    doc="Per-group Misra-Gries exactness limit: top-5 tokens per language "
    "through the keyed sketch (per-partition per-group summaries + keyed "
    "mergeable reduction) with k >= |distinct|, which must equal the exact "
    "per-group GROUP BY — certifying the grouped machinery like "
    "heavy_hitter_bigrams_exact does the global one.  The sketch regime "
    "(small k, per-group n/(k+1) guarantee) is pinned in units.",
    tags=("llm", "scale-path"),
)
def grouped_heavy_hitters_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_spread(spark, sf_dir, "documents")
    toks = docs.select("lang", F.explode(textstats.tokens("text")).alias("item"))
    mg = sketches.misra_gries_by_group(toks, "lang", "item", k=1_000_000)
    w = Window.partitionBy("lang").orderBy(F.col("weight").desc(), F.col("item"))
    return (
        mg.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("lang", "item", "weight")
    )


@register(
    "bloom_prefilter_decontamination",
    """
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text,' ')) AS w,
               generate_subscripts(string_split(text,' '), 1) AS i
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               w || ' ' || lead(w,1) OVER (PARTITION BY doc_id ORDER BY i)
                 || ' ' || lead(w,2) OVER (PARTITION BY doc_id ORDER BY i)
                 || ' ' || lead(w,3) OVER (PARTITION BY doc_id ORDER BY i)
                 || ' ' || lead(w,4) OVER (PARTITION BY doc_id ORDER BY i) AS shingle
        FROM toks
        QUALIFY shingle IS NOT NULL
    ),
    eval_sh AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 89 = 0)
    SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_shingles
    FROM sh s JOIN eval_sh e ON s.shingle = e.shingle
    WHERE s.doc_id % 89 <> 0
    GROUP BY s.doc_id
    """,
    doc="Bloom-prefiltered 5-gram decontamination, certified against the "
    "PLAIN exact SQL: because a Bloom filter has no false negatives, "
    "broadcast-bitmap prefilter + exact verify of the survivors is "
    "result-identical to the exact join — any missed member breaks the "
    "driver hash.  The eval side compresses to a 128 KiB bitmap (vs its "
    "full distinct-shingle string set), the corpus stream is gated "
    "map-side by a vectorized probe (KM double hashing, positions in "
    "codegen), and only the surviving minority reaches the exact "
    "broadcast semi-join.  At 100 TB this is the decontamination plan "
    "when the blocklist outgrows an exact broadcast.",
    tags=("llm", "dedup", "decontamination", "scale-path"),
)
def bloom_prefilter_decontamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from data_pipeline_spark.llmops import bloom

    # spread: the train-side shingle stream + bitmap probe is the heavy
    # map phase; r12 profile had it in ONE task off the single-split scan
    docs = load_spread(spark, sf_dir, "documents", shared=True)
    eval_df = docs.filter(F.col("doc_id") % 89 == 0)
    train = docs.filter(F.col("doc_id") % 89 != 0)
    return bloom.bloom_decontaminate(
        train, eval_df, "doc_id", "text", n=5, m_bits=1 << 20, k=5
    )


@register(
    "weighted_sample_topk",
    """
    SELECT doc_id, lang, n_chars
    FROM documents
    ORDER BY ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                 / 1152921504606846976.0)) / n_chars DESC,
             doc_id
    LIMIT 100
    """,
    doc="Weighted sampling WITHOUT replacement (Efraimidis-Spirakis, "
    "IPL 2006): each item draws key u^(1/w) from a uniform u and the "
    "top-k keys are the sample — here ranked by the monotone-equivalent "
    "ln(u)/w with u derived from md5(doc_id) (60-bit fixed point), so "
    "the draw is reproducible on any engine and the oracle runs the "
    "identical arithmetic.  Spark executes this as TakeOrderedAndProject "
    "(per-partition top-k + k-row merge, no global sort shuffle) — the "
    "one-pass distributed reservoir: weighting docs by n_chars makes the "
    "sample token-budget-proportional, the carving step after "
    "temperature_mix_sampling decides per-source rates.",
    tags=("llm", "sampling", "scale-path"),
)
def weighted_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("double")
        / F.lit(float(1 << 60))
    )
    key = F.log(u) / F.col("n_chars")
    return (
        docs.orderBy(key.desc(), "doc_id")
        .limit(100)
        .select("doc_id", "lang", "n_chars")
    )


@register(
    "duplicate_span_stats",
    """
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text,' ')) AS w,
               generate_subscripts(string_split(text,' '), 1) AS i
        FROM documents
    ),
    grams AS (
        SELECT doc_id, i AS pos,
               w || ' ' || lead(w,1) OVER w1 || ' ' || lead(w,2) OVER w1
                 || ' ' || lead(w,3) OVER w1 || ' ' || lead(w,4) OVER w1
                 || ' ' || lead(w,5) OVER w1 || ' ' || lead(w,6) OVER w1
                 || ' ' || lead(w,7) OVER w1 AS g
        FROM toks
        WINDOW w1 AS (PARTITION BY doc_id ORDER BY i)
        QUALIFY g IS NOT NULL
    ),
    dupg AS (
        SELECT md5(g) AS h FROM grams GROUP BY md5(g)
        HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    flagged AS (
        SELECT g.doc_id, g.pos FROM grams g JOIN dupg d ON md5(g.g) = d.h
    ),
    spans AS (
        SELECT doc_id, pos, pos + 7 AS e,
               MAX(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING) AS prev_e
        FROM flagged
    ),
    per AS (
        SELECT doc_id,
               SUM(CASE WHEN prev_e IS NULL OR pos > prev_e
                        THEN 1 ELSE 0 END) AS n_dup_spans,
               SUM(CASE WHEN prev_e IS NULL OR pos > prev_e THEN 8
                        WHEN e > prev_e THEN e - prev_e ELSE 0 END)
                   AS dup_tokens
        FROM spans GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(len(string_split(d.text,' ')) AS BIGINT) AS n_tokens,
           CAST(COALESCE(per.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
           CAST(COALESCE(per.dup_tokens, 0) AS BIGINT) AS dup_tokens,
           COALESCE(per.dup_tokens, 0)
               / CAST(len(string_split(d.text,' ')) AS DOUBLE) AS dup_fraction
    FROM documents d LEFT JOIN per USING (doc_id)
    """,
    doc="Duplicate-SPAN statistics (overlapping 8-gram windows, maximal "
    "span union): the substring-level dedup measurement from the "
    "training-data-dedup literature, complementing segment_dedup_stats' "
    "non-overlapping blocks — a copied passage is measured at its true "
    "extent regardless of block alignment.  Shuffle key is md5(gram) "
    "(fixed 32-byte rows); duplicates found by groupBy + join-back (two "
    "linear shuffles, flood-gram-safe — no posting lists); span merge is "
    "a per-doc cumulative-max window over flagged positions only.",
    tags=("llm", "dedup", "scale-path"),
)
def duplicate_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the small-SF documents table is one parquet file = ONE partition;
    # spread it so gram generation (tokenize + ngrams + md5) uses the
    # cluster — at 100 TB the scan arrives already split
    docs = load_spread(spark, sf_dir, "documents", shared=True)
    return ld.duplicate_span_stats(docs, "doc_id", "text", n=8)


@register(
    "leakage_safe_split",
    f"""
    WITH RECURSIVE {_SHINGLES_SQL},
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT id_a, id_b
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.8
    ),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION ALL
        SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach(id, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
    ),
    comp AS (SELECT id AS doc_id, MIN(r) AS component FROM reach GROUP BY id),
    split AS (
        SELECT doc_id, component,
               ('0x' || substr(md5(CAST(component AS VARCHAR)), 1, 15))::BIGINT
                   % 100 AS bucket
        FROM comp
    )
    SELECT doc_id, component,
           CASE WHEN bucket < 90 THEN 'train'
                WHEN bucket < 95 THEN 'val'
                ELSE 'test' END AS split
    FROM split
    """,
    doc="LEAKAGE-SAFE train/val/test split: the assignment unit is the "
    "near-dup CLUSTER, not the document — hashing doc ids directly puts "
    "near-copies of the same page on both sides of the split, inflating "
    "eval (the contamination mode eval_decontamination measures after "
    "the fact; this query prevents it by construction).  Composition of "
    "existing primitives: Jaccard>=0.8 pair graph -> connected "
    "components -> split by md5(component) 60-bit fixed point into "
    "90/5/5.  Every member of a cluster shares its component's hash, so "
    "cluster cohesion is structural, not probabilistic; the hash is "
    "engine-reproducible (same md5 arithmetic as weighted_sample_topk) "
    "so reshuffling, re-partitioning or re-running can never move a "
    "document across the split — the property that makes incremental "
    "corpus refreshes append-safe.",
    tags=("llm", "dedup", "sampling", "iterative"),
)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread the small-SF single-file scan so the tokenize/shingle/md5
    # map work uses the cluster (r9 measured A/B); r12: conditional — at
    # scale the scan arrives already split and the round-robin shuffle
    # the unconditional form paid is removed outright (guide §2.4)
    docs = load_spread(spark, sf_dir, "documents")
    comp = ld.neardup_components(docs, "doc_id", "text", n=3, threshold=0.8)
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("component").cast("string")), 1, 15),
            16,
            10,
        ).cast("bigint")
        % 100
    )
    return comp.select(
        "doc_id",
        "component",
        F.when(bucket < 90, F.lit("train"))
        .when(bucket < 95, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


@register(
    "doc_chunking",
    """
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    s AS (
        SELECT doc_id, toks,
               unnest(generate_series(
                   0, CAST(floor((len(toks) - 1) / 40) AS INT))) AS chunk_idx
        FROM t
    )
    SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(least(50, len(toks) - chunk_idx * 40) AS BIGINT)
               AS n_chunk_tokens,
           array_to_string(
               list_slice(toks, chunk_idx * 40 + 1, chunk_idx * 40 + 50),
               ' ') AS chunk_text
    FROM s
    """,
    doc="Stride-windowed document chunking (50-token windows, stride 40 — "
    "10-token overlap): the preprocessing step that turns variable-length "
    "documents into model-window-sized training/retrieval units while the "
    "overlap preserves cross-boundary context.  Entirely IN-ROW "
    "(split -> sequence of starts -> posexplode -> slice): zero shuffles, "
    "zero UDFs, embarrassingly parallel over 100 TB, and (doc_id, "
    "chunk_idx) is a deterministic key so re-runs, retries and "
    "incremental refreshes produce identical chunk identities — the "
    "property downstream dedup and embedding caches key on.",
    tags=("llm", "textstats", "scale-path"),
)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    size, stride = 50, 40
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    with_toks = docs.select(
        "doc_id",
        toks.alias("toks"),
        F.sequence(
            F.lit(0),
            F.floor((F.size(toks) - 1) / F.lit(stride)).cast("int"),
        ).alias("starts"),
    )
    return with_toks.select(
        "doc_id",
        F.posexplode("starts").alias("chunk_idx", "__s"),
        "toks",
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.least(
            F.lit(size), F.size("toks") - F.col("chunk_idx") * stride
        )
        .cast("bigint")
        .alias("n_chunk_tokens"),
        F.array_join(
            F.slice(F.col("toks"), F.col("chunk_idx") * stride + 1, size),
            " ",
        ).alias("chunk_text"),
    )


@register(
    "gopher_quality_flags",
    """
    WITH w AS (
        SELECT doc_id, text, string_split(text, ' ') AS words
        FROM documents
    ),
    c AS (
        SELECT doc_id, text, words,
               list_transform(
                   range(CAST(floor((len(words) - 1) / 8) AS BIGINT) + 1),
                   i -> array_to_string(words[i*8+1 : (i+1)*8], ' ')
               ) AS lines0
        FROM w
    ),
    l AS (
        SELECT doc_id, text, words,
               lines0
               || (CASE WHEN doc_id % 3 = 0 THEN [lines0[1]]
                        ELSE CAST([] AS VARCHAR[]) END)
               || (CASE WHEN doc_id % 4 = 0 THEN ['- ' || words[1]]
                        ELSE CAST([] AS VARCHAR[]) END)
               || (CASE WHEN doc_id % 5 = 0 THEN ['and more...']
                        ELSE CAST([] AS VARCHAR[]) END) AS lines
        FROM c
    ),
    m AS (
        SELECT doc_id,
               CAST(len(words) AS BIGINT) AS n_words,
               (length(text) - (len(words) - 1))
                 / CAST(len(words) AS DOUBLE) AS mean_word_len,
               CAST(len(lines) AS BIGINT) AS n_lines,
               (len(lines) - len(list_distinct(lines)))
                 / CAST(len(lines) AS DOUBLE) AS dup_line_frac,
               len(list_filter(lines, x -> starts_with(x, '- ')))
                 / CAST(len(lines) AS DOUBLE) AS bullet_line_frac,
               len(list_filter(lines, x -> ends_with(x, '...')))
                 / CAST(len(lines) AS DOUBLE) AS ellipsis_line_frac
        FROM l
    )
    SELECT doc_id, n_words, mean_word_len, n_lines, dup_line_frac,
           bullet_line_frac, ellipsis_line_frac,
           (n_words BETWEEN 50 AND 100000) AS flag_word_count,
           (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
               AS flag_mean_word_len,
           (dup_line_frac <= 0.30) AS flag_dup_lines,
           (bullet_line_frac <= 0.90) AS flag_bullet_lines,
           (ellipsis_line_frac <= 0.30) AS flag_ellipsis_lines,
           ((n_words BETWEEN 50 AND 100000)
            AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
            AND dup_line_frac <= 0.30
            AND bullet_line_frac <= 0.90
            AND ellipsis_line_frac <= 0.30) AS keep
    FROM m
    """,
    doc="Gopher repetition/format quality rules (Rae et al. 2021 §A1.1): "
    "word-count bounds, mean-word-length bounds, duplicate-line fraction, "
    "bullet-line fraction, ellipsis-line fraction -> per-rule flags + the "
    "conjunctive keep decision.  The corpus text is single-line, so the "
    "query derives a deterministic line structure (8-word wrap) and plants "
    "rule triggers arithmetically in doc_id (a repeated first line at "
    "id%3, a bullet line at id%4, an ellipsis line at id%5) so every rule "
    "fires differentially and the oracle checks the full decision table.  "
    "Entirely IN-ROW (split -> sequence/slice wrap -> list predicates in "
    "codegen): zero shuffles, zero UDFs — the shape that lets the filter "
    "run as a pushed scan over 100 TB.",
    tags=("llm", "textstats", "quality"),
)
def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    base = docs.select(
        "doc_id",
        "text",
        words.alias("words"),
        F.transform(
            F.sequence(
                F.lit(0), F.floor((F.size(words) - 1) / F.lit(8)).cast("int")
            ),
            lambda i: F.array_join(F.slice(F.col("words"), i * 8 + 1, 8), " "),
        ).alias("lines0"),
    )
    empty = F.array().cast("array<string>")
    lines = F.concat(
        F.col("lines0"),
        F.when(F.col("doc_id") % 3 == 0, F.array(F.element_at("lines0", 1)))
        .otherwise(empty),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.array(F.concat(F.lit("- "), F.element_at("words", 1))),
        ).otherwise(empty),
        F.when(F.col("doc_id") % 5 == 0, F.array(F.lit("and more...")))
        .otherwise(empty),
    )
    m = base.select(
        "doc_id",
        F.size("words").cast("bigint").alias("n_words"),
        (
            (F.length("text") - (F.size("words") - 1))
            / F.size("words").cast("double")
        ).alias("mean_word_len"),
        lines.alias("lines"),
    ).select(
        "doc_id",
        "n_words",
        "mean_word_len",
        F.size("lines").cast("bigint").alias("n_lines"),
        (
            (F.size("lines") - F.size(F.array_distinct("lines")))
            / F.size("lines").cast("double")
        ).alias("dup_line_frac"),
        (
            F.size(F.filter("lines", lambda x: x.startswith("- ")))
            / F.size("lines").cast("double")
        ).alias("bullet_line_frac"),
        (
            F.size(F.filter("lines", lambda x: x.endswith("...")))
            / F.size("lines").cast("double")
        ).alias("ellipsis_line_frac"),
    )
    flag_wc = (F.col("n_words") >= 50) & (F.col("n_words") <= 100000)
    flag_mwl = (F.col("mean_word_len") >= 3.0) & (F.col("mean_word_len") <= 10.0)
    flag_dup = F.col("dup_line_frac") <= 0.30
    flag_bul = F.col("bullet_line_frac") <= 0.90
    flag_ell = F.col("ellipsis_line_frac") <= 0.30
    return m.select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "n_lines",
        "dup_line_frac",
        "bullet_line_frac",
        "ellipsis_line_frac",
        flag_wc.alias("flag_word_count"),
        flag_mwl.alias("flag_mean_word_len"),
        flag_dup.alias("flag_dup_lines"),
        flag_bul.alias("flag_bullet_lines"),
        flag_ell.alias("flag_ellipsis_lines"),
        (flag_wc & flag_mwl & flag_dup & flag_bul & flag_ell).alias("keep"),
    )


@register(
    "text_normalization",
    r"""
    WITH aug AS (
        SELECT doc_id,
               text || (CASE WHEN doc_id % 2 = 0
                             THEN ' cafe' || chr(769)
                             ELSE ' café' END)
                    || chr(7) || '  tail' AS raw_text
        FROM documents
    )
    SELECT doc_id,
           CAST(length(raw_text) AS BIGINT) AS n_chars_raw,
           trim(regexp_replace(regexp_replace(
                nfc_normalize(raw_text), '[\x00-\x1f\x7f]', '', 'g'),
                ' +', ' ', 'g')) AS norm_text,
           CAST(length(trim(regexp_replace(regexp_replace(
                nfc_normalize(raw_text), '[\x00-\x1f\x7f]', '', 'g'),
                ' +', ' ', 'g'))) AS BIGINT) AS n_chars_norm,
           (trim(regexp_replace(regexp_replace(
                nfc_normalize(raw_text), '[\x00-\x1f\x7f]', '', 'g'),
                ' +', ' ', 'g')) <> raw_text) AS changed
    FROM aug
    """,
    doc="Unicode text normalization — the standard pre-tokenization "
    "cleanup (NFC compose, C0/DEL control strip, whitespace collapse, "
    "trim).  The corpus is ASCII, so the query plants a deterministic "
    "dirty suffix per row (a DECOMPOSED e+U+0301 on even ids vs the "
    "composed é on odd — NFC maps both to the same composed form — plus "
    "a BEL control byte and a double space), and the oracle verifies the "
    "normalized text, char counts and changed flag end-to-end.  The NFC "
    "step is an Arrow-batched pandas UDF (Spark has no normalizer "
    "expression — one of the few sanctioned Python steps); the regex "
    "strip/collapse stays in JVM codegen.  Zero shuffles: a map-only "
    "scan at any scale.",
    tags=("llm", "textstats", "pandas-udf"),
)
def text_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 2 == 0, F.lit(" café")).otherwise(
            F.lit(" café")
        ),
        F.lit("\x07  tail"),
    )
    aug = docs.select("doc_id", raw.alias("raw_text"))
    norm = textstats.normalize_text("raw_text")
    return aug.select(
        "doc_id",
        F.length("raw_text").cast("bigint").alias("n_chars_raw"),
        norm.alias("norm_text"),
        F.length(norm).cast("bigint").alias("n_chars_norm"),
        (norm != F.col("raw_text")).alias("changed"),
    )


@register(
    "domain_quota_sample",
    """
    SELECT source, doc_id, rk
    FROM (
        SELECT source, doc_id,
               CAST(row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS BIGINT) AS rk
        FROM documents
    )
    WHERE rk <= 15
    """,
    doc="Per-domain quota sampling: keep at most N=15 documents per "
    "source, chosen by md5(doc_id) order — the crawl-pipeline cap that "
    "stops a single domain from dominating the training mix, "
    "deterministic across engines/reruns (no RNG state).  Scale shape: "
    "computed in TWO stages — a per-(source, salt-of-64) local top-N "
    "then the global per-source top-N over at most N*64 survivors — so "
    "the full-corpus sort a naive window implies never happens and the "
    "per-source shuffle volume is bounded by N*salt rows regardless of "
    "domain skew (a hot domain with 10^9 pages costs what a cold one "
    "does).  The two-stage result is exactly the single-stage top-N "
    "because the order key is total and per-row (md5, id tiebreak).",
    tags=("llm", "sampling", "scale-path"),
)
def domain_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    n = 15
    docs = load_table(spark, sf_dir, "documents")
    key = F.md5(F.col("doc_id").cast("string"))
    salted = docs.select(
        "source",
        "doc_id",
        key.alias("k"),
        (F.crc32(F.col("doc_id").cast("string")) % 64).alias("salt"),
    )
    w1 = Window.partitionBy("source", "salt").orderBy("k", "doc_id")
    stage1 = salted.withColumn("r1", F.row_number().over(w1)).filter(
        F.col("r1") <= n
    )
    w2 = Window.partitionBy("source").orderBy("k", "doc_id")
    return (
        stage1.withColumn("rk", F.row_number().over(w2).cast("bigint"))
        .filter(F.col("rk") <= n)
        .select("source", "doc_id", "rk")
    )
