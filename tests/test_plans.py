"""Physical-plan audits: pin the physical strategy, not just the results.

These are the `.explain("formatted")` checks SURVEY §0/§4 calls for: filters
reach the parquet scan, projections prune columns, dimension joins
broadcast, range joins never degrade to cartesian products.
"""

from __future__ import annotations

import re

import pytest

import data_pipeline_spark.queries_llm  # noqa: F401
import data_pipeline_spark.queries_tpch  # noqa: F401
from data_pipeline_spark.plans import audit
from data_pipeline_spark.queries import QUERIES
from tests.conftest import SF_CORRECT


def _q(name, spark):
    return QUERIES[name].spark(spark, SF_CORRECT)


def test_q1_filter_pushdown_and_pruning(spark):
    df = _q("q1_pricing_summary", spark)
    audit.assert_pushdown(df, "lineitem", "l_shipdate")
    # 7 needed columns of 11 in the table
    audit.assert_pruned_schema(df, "lineitem", max_fields=7)
    assert audit.has_whole_stage_codegen(df)


def test_tailer_projection_pushdown(spark):
    df = _q("tailer_projection", spark)
    audit.assert_pushdown(df, "events", "ts")
    audit.assert_pruned_schema(df, "events", max_fields=5)


def test_dim_join_broadcasts(spark):
    audit.assert_broadcast_join(_q("broadcast_dim_enrich", spark))
    audit.assert_no_cartesian(_q("broadcast_dim_enrich", spark))


def test_range_join_is_not_cartesian(spark):
    df = _q("shipped_within_90d", spark)
    audit.assert_no_cartesian(df)


def test_multiway_join_broadcasts_dims(spark):
    df = _q("revenue_by_nation", spark)
    audit.assert_broadcast_join(df)
    audit.assert_no_cartesian(df)


def test_topk_uses_take_ordered(spark):
    plan = audit.formatted_plan(_q("top_orders_by_price", spark))
    assert "TakeOrderedAndProject" in plan  # no global sort for top-k


def test_topic_read_prunes_partitions(spark, tmp_path):
    """Offset-bounded topic reads prune partition directories at plan time
    (the transport's scale guarantee: a seek never scans the whole topic)."""
    import json

    from data_pipeline_spark.io import load_table
    from data_pipeline_spark.producer import Producer
    from data_pipeline_spark.registry import SchemaRegistry
    from data_pipeline_spark.sources.file_topic import TopicStore

    reg = SchemaRegistry()
    rs = reg.register_schema(
        "ns.db.x",
        "e",
        json.dumps(
            {"type": "record", "name": "e",
             "fields": [{"name": "event_id", "type": "long"}]}
        ),
    )
    store = TopicStore(spark, str(tmp_path / "t"))
    ev = load_table(spark, SF_CORRECT, "events").select("event_id").limit(200)
    Producer(store, reg).publish(ev, rs.schema_id, order_by="event_id")

    # bounds that touch only partition 2: Kafka semantics say partitions
    # absent from starting_offsets begin at EARLIEST (they are not skipped),
    # so excluding them takes explicit ending bounds.
    all_parts = {p: 0 for p in range(4)}
    df = store.read(
        rs.topic,
        starting_offsets={**all_parts, 2: 10},
        ending_offsets={**all_parts, 2: 20},
    )
    plan = audit.formatted_plan(df)
    assert "PartitionFilters" in plan
    rows = df.select("partition", "offset").collect()
    assert rows, "expected partition 2 to hold offsets 10..19"
    assert all(r.partition == 2 and 10 <= r.offset < 20 for r in rows)
    # offset predicate lands in PushedFilters for row-group pruning
    assert "offset" in plan

    # regression (4-round data-loss bug): a partition missing from the
    # committed map is read from the reset position, not silently dropped
    partial = store.read(rs.topic, starting_offsets={2: 10})
    seen = {r.partition for r in partial.select("partition").distinct().collect()}
    full = {
        r.partition
        for r in store.read(rs.topic).select("partition").distinct().collect()
    }
    assert seen == full, "partitions absent from starting_offsets must be read"


# --- TPC-H workload pack #2 plan audits (queries_tpch) -----------------------


def _fact_scan_count(df, table_substr):
    return sum(1 for s in audit.scan_info(df) if table_substr in s.location)


@pytest.mark.parametrize(
    "name",
    [
        "q2_min_cost_supplier",
        "q15_top_supplier",
        "q17_small_quantity_revenue",
        "q21_waiting_suppliers",
    ],
)
def test_correlated_subquery_shapes_scan_fact_once(spark, name):
    """Agg+join-back correlated subqueries are window formulations: the
    fact table is read exactly once (a literal join-back reads it twice —
    at 100 TB that is the whole corpus re-scanned)."""
    df = _q(name, spark)
    assert _fact_scan_count(df, "lineitem") == 1, audit.formatted_plan(df)


@pytest.mark.parametrize(
    "name",
    ["q5_local_supplier_volume", "q8_market_share", "q10_returned_items"],
)
def test_tpch2_multiway_joins_broadcast_dims(spark, name):
    df = _q(name, spark)
    audit.assert_broadcast_join(df)
    audit.assert_no_cartesian(df)


def test_q19_disjunctive_predicates_push_to_both_scans(spark):
    """OR-of-ANDs splits into per-side residuals that both reach parquet
    (Catalyst CNF extraction): the lineitem scan gets the quantity bounds,
    the part scan gets the brand/size bounds."""
    df = _q("q19_disjunctive_revenue", spark)
    audit.assert_pushdown(df, "lineitem", "l_quantity")
    audit.assert_pushdown(df, "part", "p_brand")


def test_q7_nation_pair_filter_pushes_to_dim_scans(spark):
    """The disjunctive nation-pair condition leaves an Or(n_name=..) filter
    on each nation role scan, so the broadcast sides are pre-pruned."""
    df = _q("q7_volume_shipping", spark)
    audit.assert_pushdown(df, "nation", "n_name")
    audit.assert_no_cartesian(df)


def test_asof_join_plan_has_no_join_operator(spark):
    """The as-of formulation is union + window: no join node exists at all
    (a range-join formulation would explode pairs before aggregating)."""
    df = _q("asof_click_attribution", spark)
    assert audit.join_strategies(df) == [], audit.formatted_plan(df)


def test_hypertable_rollup_single_fact_scan(spark):
    """Both granularity tiers come out of ONE events scan — the day tier
    re-aggregates hour partials, it never rereads the fact table."""
    df = _q("hypertable_rollup", spark)
    assert (
        sum(1 for s in audit.scan_info(df) if "events" in s.location) == 1
    ), audit.formatted_plan(df)


def test_events_loader_handles_both_ts_encodings(spark, tmp_path):
    """The r4 regression: testdata regeneration switched events.ts from
    TIMESTAMP(NANOS)-as-long to timestamp[us].  The loader must normalise
    BOTH physical encodings to the same TimestampType values."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_spark.io import load_table

    base = [1_700_000_000_000_000, 1_700_000_123_456_789]  # microseconds
    cols = {
        "event_id": pa.array([1, 2], pa.int64()),
        "user_id": pa.array([10, 20], pa.int64()),
        "event_type": pa.array(["a", "b"]),
        "value": pa.array([1.0, 2.0], pa.float64()),
        "props": pa.array(["{}", "{}"]),
    }

    us_dir = tmp_path / "us" / "events.parquet"
    ns_dir = tmp_path / "ns" / "events.parquet"
    us_dir.parent.mkdir(parents=True)
    ns_dir.parent.mkdir(parents=True)
    pq.write_table(
        pa.table({**cols, "ts": pa.array(base, pa.timestamp("us"))}), str(us_dir)
    )
    pq.write_table(
        pa.table(
            {**cols, "ts": pa.array([v * 1000 for v in base], pa.timestamp("ns"))}
        ),
        str(ns_dir),
    )

    got_us = load_table(spark, str(tmp_path / "us"), "events")
    got_ns = load_table(spark, str(tmp_path / "ns"), "events")
    assert dict(got_us.dtypes)["ts"] == "timestamp"
    assert dict(got_ns.dtypes)["ts"] == "timestamp"
    rows_us = {r.event_id: r.ts for r in got_us.collect()}
    rows_ns = {r.event_id: r.ts for r in got_ns.collect()}
    assert rows_us == rows_ns
    assert rows_us[2].microsecond == 456789

    # loading must not mutate session timezone as a side effect, and the
    # NTZ->instant mapping must be identical under ANY session timezone
    from pyspark.sql import functions as F

    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
        got_tokyo = load_table(spark, str(tmp_path / "us"), "events")
        micros = {
            r.event_id: r.m
            for r in got_tokyo.select(
                "event_id", F.unix_micros("ts").alias("m")
            ).collect()
        }
        assert micros == {1: base[0], 2: base[1]}
        assert spark.conf.get("spark.sql.session.timeZone") == "Asia/Tokyo"
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)


def test_jaccard_has_no_shingle_self_join(spark):
    """Pair generation is in-row off posting lists: the only joins in the
    plan are the two size lookups on document id.  A shingle self-join
    (the pre-r5 shape) is the operator that goes quadratic on one hot
    shingle at corpus scale.

    r10: the size lookups are pinned ShuffledHashJoin — the candidate-
    pair side is an aggregate over an in-row explode whose size estimate
    is garbage-small, and letting the planner broadcast it blew the
    1 GiB driver result cap at the 100x rehearsal scale.  Broadcast
    anywhere in this plan is a regression."""
    df = _q("jaccard_neardup_pairs", spark)
    strategies = audit.join_strategies(df)
    assert strategies and all(s == "ShuffledHashJoin" for s in strategies), (
        audit.formatted_plan(df)
    )
    # the join keys are document ids, never the shingle string
    plan = audit.formatted_plan(df)
    assert "shingle" not in [
        seg
        for line in plan.splitlines()
        if "Join" in line and "condition" not in line
        for seg in line.split()
    ]
    # one documents scan feeds shingles (cached posting lists reused)
    assert _fact_scan_count(df, "documents") <= 2


def test_no_corpus_sized_broadcasts_in_heavy_family(spark):
    """The r10 100x rehearsal's bug class, pinned: Catalyst estimates
    aggregates-over-explodes as tiny and will broadcast frames that grow
    with the corpus (the jaccard sizes join blew the 1 GiB driver result
    cap at 500k docs).  The fixed queries carry shuffle_hash pins, so any
    broadcast in their plans must build over a DRIVER-LOCAL relation
    (LocalTableScan — e.g. the union-find labels, bounded by
    UNION_FIND_MAX_EDGES by construction; the r12 singleton attach broadcasts
    them so the corpus node side is never shuffled), never over a subtree
    that reads or shuffles the corpus.  The bigram LM keeps exactly its
    two deliberate word-keyed model broadcasts (unigram + context totals —
    Heaps-bounded), never the bigram table."""
    for name in (
        "boilerplate_strip",
        "duplicate_span_stats",
        "neardup_quality_survivors",
        "pretraining_corpus_filter",
    ):
        df = _q(name, spark)
        for build in audit.broadcast_build_subtrees(df):
            corpus_sized = [
                op
                for op in build
                if "Scan parquet" in op
                or re.match(r"(\+-|:-)?\s*(AQEShuffleRead|Exchange)\b", op)
            ]
            assert not corpus_sized, (name, build, audit.formatted_plan(df))
    lm = _q("bigram_lm_perplexity", spark)
    s = audit.join_strategies(lm)  # each join counts twice (tree+details)
    assert set(s) == {"BroadcastHashJoin", "ShuffledHashJoin"}, s
    assert s.count("ShuffledHashJoin") == 2, (  # exactly ONE shuffled join:
        audit.formatted_plan(lm)                # the bigram-model lookup
    )


def test_minhash_candidates_have_no_bucket_self_join(spark):
    """MinHash candidate pairs come from in-row posting-list expansion:
    there must be NO join in the plan at all (the pre-r6 (band,bucket)
    self-join is quadratic in bucket size with no cap)."""
    df = _q("minhash_lsh_candidates", spark)
    assert audit.join_strategies(df) == [], audit.formatted_plan(df)


def test_simhash_pairs_have_no_bucket_self_join(spark):
    """Both SimHash pair stages use the capped posting-list in-row pairing
    (the r6 flag: they were the last uncapped (band,bucket) self-joins in
    the dedup family) — there must be NO join in either plan."""
    df32 = _q("simhash_neardup_pairs", spark)
    assert audit.join_strategies(df32) == [], audit.formatted_plan(df32)
    df64 = _q("simhash64_neardup_pairs", spark)
    assert audit.join_strategies(df64) == [], audit.formatted_plan(df64)


def test_decile_binning_has_no_per_language_total_sort(spark):
    """The document-stream window must partition by (lang, bucket), never
    lang alone: a per-language total order is a single-task sort of half
    the corpus at 100 TB.  The decile comes from the closed-form tile
    split, so no ntile executes over the full table either."""
    df = _q("quality_decile_binning", spark)
    plan = audit.formatted_plan(df)
    assert "ntile" not in plan.lower(), plan
    # the full-table exchange ahead of the rank window carries the bucket key
    assert re.search(r"hashpartitioning\(lang#\d+, bucket#\d+", plan), plan
    # remaining windows (bucket prefix, per-lang totals) run over the
    # aggregated one-row-per-bucket frame, which joins back as a broadcast
    assert "BroadcastHashJoin" in audit.join_strategies(df), plan


def test_unigram_score_broadcasts_vocabulary(spark):
    """The vocabulary-frequency dimension must broadcast back onto the
    token stream — shuffling the 100 TB token stream on the word would
    move the corpus for a dictionary-sized probe."""
    df = _q("unigram_logprob_score", spark)
    strategies = audit.join_strategies(df)
    assert strategies and all(s == "BroadcastHashJoin" for s in strategies), (
        audit.formatted_plan(df)
    )


def test_repetition_filter_is_single_scan_no_shuffle(spark):
    """The repetition gate is in-row array math: one documents scan, no
    join, no data-keyed exchange before the final result.  The ONLY
    exchange ever allowed is spread_scan's conditional small-SF
    round-robin (absent at scale, where the scan arrives split)."""
    df = _q("ngram_repetition_filter", spark)
    assert audit.join_strategies(df) == []
    plan = audit.formatted_plan(df)
    for ln in plan.splitlines():
        if "Arguments" in ln and "partitioning" in ln.lower():
            assert "RoundRobinPartitioning" in ln, plan
    assert "hashpartitioning" not in plan and "rangepartitioning" not in plan, plan
    assert _fact_scan_count(df, "documents") == 1


def test_decontamination_broadcasts_eval_side(spark):
    """The eval shingle set must broadcast — shuffling the corpus side on
    shingle would move the 100 TB table for a benchmark-sized probe."""
    df = _q("eval_decontamination", spark)
    strategies = audit.join_strategies(df)
    assert strategies and all(s == "BroadcastHashJoin" for s in strategies), (
        audit.formatted_plan(df)
    )


def test_classifier_score_has_no_weight_join(spark):
    """The hashed linear classifier derives bucket weights in-row (md5
    expression), so the plan must contain NO join — a weight-table shuffle
    would move the 100 TB token stream for a 4096-entry dimension."""
    df = _q("hashed_classifier_score", spark)
    assert audit.join_strategies(df) == [], audit.formatted_plan(df)
    assert _fact_scan_count(df, "documents") == 1


def test_pii_scrub_is_single_scan_no_shuffle(spark):
    """Document scrubbing is pure row-local regexp work: one scan, no
    exchange, whole-stage codegen."""
    df = _q("doc_pii_scrub", spark)
    plan = audit.formatted_plan(df)
    assert audit.join_strategies(df) == []
    assert "Exchange" not in plan, plan
    assert audit.has_whole_stage_codegen(df)


def test_segment_dedup_shuffles_hashes_not_text(spark):
    """The corpus-wide segment-count window must partition on the segment
    HASH; the exchange before it must not carry the segment text."""
    df = _q("segment_dedup_stats", spark)
    plan = audit.formatted_plan(df)
    assert re.search(r"hashpartitioning\(h#\d+", plan), plan
    # the md5 projection happens BELOW the exchange: every Exchange block's
    # input schema carries the hash column, never the 'seg' text attribute
    exchange_blocks = re.findall(
        r"\(\d+\) Exchange\n(?:.+\n)*?Arguments:.*", plan
    )
    assert exchange_blocks, plan
    for block in exchange_blocks:
        assert not re.search(r"\bseg#\d+", block), block
    assert audit.join_strategies(df) == []


def test_indexed_gate_broadcasts_batch_and_prunes_index_columns(spark):
    """The ingest admission gate: every join broadcasts a batch-bounded
    side (the index/corpus side must never shuffle — at 100 TB that's the
    whole point), and the index scans column-prune — the exact-dup pass
    reads the md5 column ALONE, never the shingle arrays."""
    df = _q("persisted_index_dedup_gate", spark)
    strategies = audit.join_strategies(df)
    assert strategies and all(s == "BroadcastHashJoin" for s in strategies), (
        audit.formatted_plan(df)
    )
    index_scans = [
        s for s in audit.scan_info(df) if "spark_graft_gate_index" in s.location
    ]
    schemas = sorted(s.read_schema for s in index_scans)
    assert schemas == [
        "struct<cor_id:bigint,n_sh:int,shingles:array<bigint>>",
        "struct<h:string>",
    ], schemas


def test_contamination_report_broadcasts_eval_map(spark):
    """The eval shingle->doc map must broadcast onto the corpus shingle
    stream — the corpus side never shuffles on the shingle."""
    df = _q("contamination_by_source", spark)
    strategies = audit.join_strategies(df)
    assert strategies and all(s == "BroadcastHashJoin" for s in strategies), (
        audit.formatted_plan(df)
    )


def test_zorder_key_broadcasts_stats_no_fact_shuffle(spark):
    """The span stats must come back as a broadcast (nested-loop on a
    1-row frame) — any other shape would shuffle the 100 TB fact to attach
    two constants; the only exchange below the key projection is the
    stats aggregation's own (which carries one row per partition)."""
    df = _q("zorder_curve_keys", spark)
    strategies = audit.join_strategies(df)
    assert strategies and set(strategies) == {"BroadcastNestedLoopJoin"}, (
        audit.formatted_plan(df)
    )
    plan = audit.formatted_plan(df)
    # no sort-merge machinery and no exchange of the orders fact itself:
    # the single shuffle Exchange in the plan feeds the min/max
    # HashAggregate (one row per partition)
    assert "SortMergeJoin" not in plan
    import re as _re

    shuffles = _re.findall(r"\(\d+\) Exchange\b", plan)
    assert len(shuffles) == 1, plan


def test_interval_bucket_join_never_nested_loop(spark):
    """The no-equi-key containment join must plan as HASH joins on the
    bucket key — a theta-join formulation would be BroadcastNestedLoop
    (per-task cartesian), the shape that cannot survive 100 TB."""
    df = _q("incident_window_counts", spark)
    strategies = audit.join_strategies(df)
    assert strategies, audit.formatted_plan(df)
    assert all(
        s in ("BroadcastHashJoin", "ShuffledHashJoin", "SortMergeJoin")
        for s in strategies
    ), strategies
    plan = audit.formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_gopher_flags_zero_shuffle_map_only(spark):
    """The Gopher rules run as one in-row scan: no exchange, no join —
    the shape that makes the filter a pushed scan over 100 TB."""
    df = _q("gopher_quality_flags", spark)
    plan = audit.formatted_plan(df)
    assert re.search(r"\(\d+\) Exchange\b", plan) is None, plan
    assert audit.join_strategies(df) == [], plan


def test_text_normalization_zero_shuffle(spark):
    """NFC UDF + regex cleanup is map-only: the one Python stage is an
    ArrowEvalPython (vectorized batch transfer), never row-at-a-time
    BatchEvalPython, and nothing shuffles."""
    df = _q("text_normalization", spark)
    plan = audit.formatted_plan(df)
    assert re.search(r"\(\d+\) Exchange\b", plan) is None, plan
    assert "ArrowEvalPython" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_domain_quota_two_stage_shuffle_shape(spark):
    """The quota sample's first window partitions by (source, salt) —
    the skew-bound stage — and only the N*salt survivors reach the
    per-source window; no global (unpartitioned) sort anywhere."""
    df = _q("domain_quota_sample", spark)
    plan = audit.formatted_plan(df)
    exchanges = re.findall(r"Arguments: hashpartitioning\([^)]*\)", plan)
    assert len(exchanges) == 2, plan
    assert "salt" in exchanges[0], exchanges
    assert "salt" not in exchanges[1], exchanges
    # windows sort WITHIN hash partitions; a global range-partitioned
    # sort would be `Exchange rangepartitioning`
    assert "rangepartitioning" not in plan, plan


def test_filtered_search_predicate_pushes_to_scan(spark):
    """The filtered vector search's IN-list predicate must reach the
    parquet scan (row-group pruning before any vector loads) — an
    arithmetic predicate would silently evaluate post-scan only."""
    df = _q("filtered_cosine_topk", spark)
    scans = audit.scan_info(df)
    assert any(
        "embeddings" in s.location and "In(label" in s.pushed_filters
        for s in scans
    ), [(s.location, s.pushed_filters) for s in scans]
