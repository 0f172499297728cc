"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship pricing-summary query at sf0.001;
``queries()``/``oracle_sql()`` expose the full catalog from
``data_pipeline_spark.queries`` (each Spark implementation paired with the
ANSI SQL its DuckDB oracle runs on the same parquet tables).
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

import data_pipeline_spark.queries_llm  # noqa: E402,F401  (registers LLM ops)
import data_pipeline_spark.queries_pipeline  # noqa: E402,F401  (registers wire ops)
import data_pipeline_spark.queries_tpch  # noqa: E402,F401  (registers TPC-H shapes)
from data_pipeline_spark.queries import QUERIES  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES["q1_pricing_summary"].spark(spark, "/root/testdata/sf0.001")


# The driver verifies the first 50 registrations only, so order the catalog
# by evidence need (re-ranked each round): queries that have never received a
# driver verdict come first, queries whose code or oracle changed this round
# second, and a representative spread of the long-green set fills the
# remaining window; the rest follow.
_PRIORITY = [
    # -- one in-process memo --------------------------------------------------
    # CODE CHANGED: io's one memo now holds every analyzed frame, spread
    # split count and footer total on the files' identity (the spread of a
    # filtered documents scan and of the gate corpus, the persisted gate,
    # semantic and z-order sidecars, the IVF layout), and
    # pq.semantic_gate_flags lost its prune_scan fork and margin knob
    "multimodal_jpeg_differential",
    "semantic_dedup_gate",
    "persisted_index_dedup_gate",
    "banded_index_dedup_gate",
    "zorder_box_query",
    "ivf_partitioned_exact_topk",
    "bigram_lm_perplexity",
    # -- the WARC source reads a directory ------------------------------------
    # CODE CHANGED: read_warc loads the archive directory with a
    # pathGlobFilter instead of a glob in the path; warc_extraction shares
    # the WARC codec and fixture
    "warc_file_source",
    "warc_extraction",
    # -- one build-once cache -------------------------------------------------
    # CODE CHANGED: every query whose derived artifact now builds through
    # io.build_once (new cache keys and, for the z-order copy, a new final
    # name): the z-order copy of lineitem, the per-corpus ANN model, the
    # IVF serving layout and the text and semantic gate indexes
    "pq_ann_topk",
    "pq_exact_topk",
    "ivfpq_ann_topk",
    "ivfpq_exact_topk",
    "ivfpq_planted_recall",
    "ivf_ann_topk",
    "ivf_exact_topk",
    "ivf_planted_recall",
    # -- one Spark job per side of a CDC batch --------------------------------
    # CODE CHANGED: every query that publishes to and tails a topic (the
    # staged publish, the tail's observed offsets)
    "topic_transport_roundtrip",
    "wire_key_roundtrip",
    "encrypted_transport_roundtrip",
    "envelope_roundtrip",
    # -- one distributed connected-components algorithm ----------------------
    # CODE CHANGED: every consumer of dedup.connected_components, whose
    # above-bound graphs now take the large-star/small-star rounds
    # (min-label propagation deleted)
    "neardup_cluster_assignment",
    "neardup_cluster_assignment_star",
    "leakage_safe_split",
    "embedding_neardup_clusters",
    "neardup_quality_survivors",
    # -- recency rotation: the 8 queries whose latest verdict is still r9
    # (4 are rows-only by nature — approx sketches, the iterative BPE
    # trainer, the Misra-Gries bound certificate)
    "approx_distinct_users_scale_path",
    "approx_doc_length_quantiles",
    "bpe_learned_merges",
    "doc_chunking",
    "heavy_hitter_bigrams",
    "incident_window_counts",
    "session_window_sessions",
    "weighted_sample_topk",
    # -- recency rotation: oldest r10-vintage spread (oracle-paired)
    "cdc_snapshot_apply",
    "contamination_by_source",
    "cube_lineitem_counts",
    "customers_without_orders",
    "distinct_users_per_type",
    "doc_fingerprints",
    "doc_pii_scrub",
    "domain_quota_sample",
    "dq_column_stats",
    "event_type_intersection",
    "first_event_at_or_after",
    "gopher_quality_flags",
    "hashed_classifier_score",
    "minhash_lsh_candidates",
    "namespace_parse",
    "pii_redacted_display",
    "priority_queue_head",
    "q11_important_parts",
    "q12_shipmode_priority",
    "q14_promo_revenue_share",
    "q18_large_orders",
    "q3_shipping_priority",
    "q4_order_priority_check",
    # -- r13 evidence targets (verified since; past the 50-query window) ----
    # code changed in the r13 optimization round (every restructured query
    # and every consumer of the changed operators: the in-row bigram
    # stream, posting-list sizes, the singleton-attach pin, the shared
    # spread checkpoint, the tail-through-aggregation strip, the
    # vectorized wire kernels, the star round-1 probe skip, the WARC
    # verify fold)
    "jaccard_neardup_pairs",
    "lsh_exact_neardup",
    "incremental_dedup_gate",
    "duplicate_span_stats",
    "bloom_prefilter_decontamination",
    "boilerplate_strip",
    "segment_dedup_stats",
    "corpus_health_by_source",
]


def _ordered() -> list[str]:
    rest = [n for n in QUERIES if n not in set(_PRIORITY)]
    return [n for n in _PRIORITY if n in QUERIES] + rest


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: QUERIES[name].spark for name in _ordered()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL per query (omitted => rows-only check)."""
    return {
        name: QUERIES[name].oracle
        for name in _ordered()
        if QUERIES[name].oracle is not None
    }
