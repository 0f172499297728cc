"""Scale rehearsal: run the heavy dedup/gate/cluster/ANN/tokenizer family
end-to-end at 1x / 10x / 30x the sf0.1 corpus and RECORD the behavior the
100 TB claims rest on — per-query wall clock, shuffle read/write bytes,
spill, peak execution memory — plus the correctness invariants that do
not need a SQL oracle at scale:

- band-pruned vs unpruned ingest-gate DECISION PARITY,
- planted near-dup pair recall (MinHash-LSH candidates),
- cluster cohesion (every planted pair shares a component),
- leakage-safe split cohesion (no planted pair crosses splits),
- Misra-Gries guarantee (every bigram with freq > N/(k+1) surfaces,
  weights are lower bounds),
- ANN recall at the documented default configs on a CLUSTERED corpus
  (the geometry the synthetic uniform-sphere testdata cannot provide).

Corpus expansion is deterministic and Spark-side (no RNG, no driver
loops): copy ``i`` of each document keeps the original text with ONE
appended token when ``doc_id % 9 == i % 9`` (a planted near-dup,
3-shingle Jaccard ~0.96) and otherwise replaces every third token with
an md5-derived salt (Jaccard ~0 against everything).  Embedding copy
``i`` adds deterministic md5-derived noise (~cos 0.93 to its original)
and renormalizes — planting one tight cluster per base vector.  Planted
ids are ``base_id + i * 1_000_000``, so ground truth is arithmetic.

Scratch data lives under /tmp/spark_graft_scale_rehearsal (testdata is
read-only); _SUCCESS markers make rebuilds idempotent.

Usage:  python tools_scale_rehearsal.py [--scales 1,10,30]
Writes SCALE_REHEARSAL_r10.json at the repo root and prints a summary
table (the ROUND10_NOTES.md table is generated from that JSON).
"""

from __future__ import annotations

import argparse
import json
import os
import time
import urllib.request
from pathlib import Path

from pyspark.sql import functions as F

SCRATCH = Path("/tmp/spark_graft_scale_rehearsal")
BASE = "/root/testdata/sf0.1"
OFFSET = 1_000_000

HEAVY = [
    "minhash_lsh_candidates",
    "neardup_cluster_assignment",
    "neardup_cluster_assignment_star",
    "incremental_dedup_gate",
    "persisted_index_dedup_gate",
    "banded_index_dedup_gate",
    "leakage_safe_split",
    "segment_dedup_stats",
    "bpe_pair_counts_exact",
    "heavy_hitter_bigrams",
    "pq_ann_topk",
    "ivfpq_ann_topk",
    # r10 additions: the semantic (embedding) ingest gate, the WARC
    # sources (per-doc roundtrip + file-level segments) and the bigram
    # LM perplexity filter — the round's new operators carry scale
    # evidence from day one
    "semantic_dedup_gate",
    "warc_extraction",
    "warc_file_source",
    "bigram_lm_perplexity",
]


# ------------------------------------------------------------- expansion

def _salted_text(i: int):
    """Replace every 3rd token with an md5 salt unique to (copy, doc):
    every 3-token window contains a salted position, so 3-shingle
    Jaccard against the original (and every other copy) is ~0."""
    toks = F.split(F.col("text"), " ")
    salted = F.transform(
        toks,
        lambda w, idx: F.when(
            idx % 3 == 2,
            F.substring(
                F.md5(F.concat_ws(":", w, F.lit(i), F.col("doc_id"))), 1, 8
            ),
        ).otherwise(w),
    )
    return F.array_join(salted, " ")


def build_scaled(spark, factor: int) -> str:
    """Materialize the factor-x documents + embeddings tables (idempotent).

    v3 (r11): alongside the r10 APPEND-TOKEN near-dup channel
    (J = d/(d+1) when ``doc_id % 9 == i % 9``), copy ``i % 4 == 1`` of
    EVERY document is an EXACT byte-identical copy (J = 1.0) — real
    crawled corpora are 20-40% byte-identical duplicates (this plants
    ~25-30%) and the r10 corpus had none, which is exactly the regime
    the exact-dup pre-contraction (dedup.neardup_components) exists for.
    Exact copies are planted near-dup pairs too (``planted_doc_pairs``
    includes the channel), so every invariant strengthens rather than
    changes; the v3 suffix busts the older scratch caches."""
    if factor == 1:
        return BASE
    out = SCRATCH / f"sf0.1x{factor}_v3"
    if (out / "_SUCCESS").exists():
        return str(out)
    out.mkdir(parents=True, exist_ok=True)

    docs = spark.read.parquet(f"{BASE}/documents.parquet")
    parts = [docs]
    for i in range(1, factor):
        is_dup = F.col("doc_id") % 9 == i % 9
        text = (
            F.col("text") if i % 4 == 1
            else F.when(
                is_dup, F.concat(F.col("text"), F.lit(f" zqdup{i}"))
            ).otherwise(_salted_text(i))
        )
        parts.append(
            docs.select(
                (F.col("doc_id") + i * OFFSET).alias("doc_id"),
                text.alias("text"),
                "lang",
                "source",
                F.length(text).alias("n_chars"),
            )
        )
    big = parts[0]
    for p in parts[1:]:
        big = big.unionByName(p)
    big.repartition(32).write.mode("overwrite").parquet(
        str(out / "documents.parquet")
    )

    emb = spark.read.parquet(f"{BASE}/embeddings.parquet")
    eparts = [emb]
    for i in range(1, factor):
        noisy = F.transform(
            F.col("embedding"),
            lambda x, j: x.cast("double")
            + 0.05
            * (
                (
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat_ws(
                                    ":", F.col("vec_id"), F.lit(i), j
                                )
                            ),
                            1,
                            4,
                        ),
                        16,
                        10,
                    ).cast("double")
                    - 32768.0
                )
                / 32768.0
            ),
        )
        norm = F.sqrt(
            F.aggregate(
                noisy, F.lit(0.0), lambda acc, x: acc + x * x
            )
        )
        eparts.append(
            emb.select(
                (F.col("vec_id") + i * OFFSET).alias("vec_id"),
                F.transform(noisy, lambda x: (x / norm).cast("float")).alias(
                    "embedding"
                ),
                "label",
            )
        )
    ebig = eparts[0]
    for p in eparts[1:]:
        ebig = ebig.unionByName(p)
    ebig.repartition(32).write.mode("overwrite").parquet(
        str(out / "embeddings.parquet")
    )
    (out / "_SUCCESS").touch()
    return str(out)


def planted_doc_pairs(spark, factor: int, min_shingles: int = 0):
    """Ground-truth (id_a, id_b) planted near-dup pairs, id_a < id_b.

    ``min_shingles`` restricts to base docs with at least that many
    DISTINCT 3-shingles: the planted copy appends one token, so its
    Jaccard is d/(d+1) — short/repetitive docs legitimately fall under
    the 0.8 design threshold (d < 4) or into the band-escape regime
    (the LSH-recall invariant uses d >= 30 => J >= 0.968, where the
    4-band escape probability is 7.8e-5)."""
    from data_pipeline_spark.llmops.dedup import doc_shingle_index

    base = spark.read.parquet(f"{BASE}/documents.parquet")
    if min_shingles:
        eligible = (
            doc_shingle_index(base, "doc_id", "text", with_bands=False)
            .filter(F.col("n_sh") >= min_shingles)
            .select(F.col("cor_id").alias("doc_id"))
        )
        base = base.join(eligible, "doc_id")
    base = base.select("doc_id")
    pairs = None
    for i in range(1, factor):
        if i % 4 == 1:
            # exact-copy channel (v3): EVERY doc's copy i is J = 1.0 —
            # identical minhash signatures, so band escape is impossible
            # and the pair is ground truth regardless of min_shingles
            p = base.select(
                F.col("doc_id").alias("id_a"),
                (F.col("doc_id") + i * OFFSET).alias("id_b"),
            )
        else:
            p = base.filter(F.col("doc_id") % 9 == i % 9).select(
                F.col("doc_id").alias("id_a"),
                (F.col("doc_id") + i * OFFSET).alias("id_b"),
            )
        pairs = p if pairs is None else pairs.unionByName(p)
    return pairs


# ------------------------------------------------------------- metrics

def _api(spark, path: str):
    base = spark.sparkContext.uiWebUrl
    if not base:  # UI disabled: degrade to walls-only (metrics zeroed)
        return []
    with urllib.request.urlopen(f"{base}/api/v1/{path}", timeout=30) as r:
        return json.load(r)


def _stage_ids(spark) -> set:
    app = spark.sparkContext.applicationId
    return {
        (s["stageId"], s["attemptId"])
        for s in _api(spark, f"applications/{app}/stages")
    }


def _stage_metrics(spark, before: set) -> dict:
    """Aggregate task metrics over stages submitted since ``before``
    (runs are sequential, so watermark attribution is exact)."""
    app = spark.sparkContext.applicationId
    agg = {
        "shuffle_read_mb": 0.0,
        "shuffle_write_mb": 0.0,
        "spill_mem_mb": 0.0,
        "spill_disk_mb": 0.0,
        "input_mb": 0.0,
        "peak_exec_mem_mb": 0.0,
        "n_stages": 0,
    }
    for s in _api(spark, f"applications/{app}/stages"):
        if (s["stageId"], s["attemptId"]) in before:
            continue
        if s.get("status") not in ("COMPLETE", "SKIPPED"):
            continue
        mb = 1.0 / (1024 * 1024)
        agg["shuffle_read_mb"] += s.get("shuffleReadBytes", 0) * mb
        agg["shuffle_write_mb"] += s.get("shuffleWriteBytes", 0) * mb
        agg["spill_mem_mb"] += s.get("memoryBytesSpilled", 0) * mb
        agg["spill_disk_mb"] += s.get("diskBytesSpilled", 0) * mb
        agg["input_mb"] += s.get("inputBytes", 0) * mb
        agg["peak_exec_mem_mb"] = max(
            agg["peak_exec_mem_mb"], s.get("peakExecutionMemory", 0) * mb
        )
        agg["n_stages"] += 1
    for k in agg:
        if isinstance(agg[k], float):
            agg[k] = round(agg[k], 2)
    return agg


def timed_run(spark, fn, label: str) -> dict:
    before = _stage_ids(spark)
    t0 = time.perf_counter()
    rows = fn()
    wall = time.perf_counter() - t0
    m = _stage_metrics(spark, before)
    m["wall_s"] = round(wall, 2)
    m["rows"] = rows
    print(f"    {label}: {wall:.1f}s rows={rows} "
          f"shW={m['shuffle_write_mb']}MB spill={m['spill_disk_mb']}MB",
          flush=True)
    return m


# ------------------------------------------------------------- invariants

def check_invariants(spark, sf_dir: str, factor: int) -> dict:
    from data_pipeline_spark.io import load_table
    from data_pipeline_spark.llmops import pq, similarity
    from data_pipeline_spark.queries import QUERIES

    inv: dict = {}

    # 1. band-pruned vs unpruned gate decision parity
    banded = (
        QUERIES["banded_index_dedup_gate"]
        .spark(spark, sf_dir)
        .select("doc_id", "exact_dup", "near_dup", "keep")
    )
    unpruned = (
        QUERIES["persisted_index_dedup_gate"]
        .spark(spark, sf_dir)
        .select("doc_id", "exact_dup", "near_dup", "keep")
    )
    diff = banded.exceptAll(unpruned).count() + unpruned.exceptAll(
        banded
    ).count()
    inv["gate_decision_parity"] = {"mismatches": diff, "ok": diff == 0}

    if factor > 1:
        expected = planted_doc_pairs(spark, factor).cache()
        n_expected = expected.count()

        # 2. planted-pair recall in the LSH candidate generator — scored
        # on pairs whose Jaccard is solidly above threshold (d >= 30
        # shingles => J >= 0.968, band-escape p = 7.8e-5); short docs'
        # planted copies legitimately sit at or below J = 0.8
        strong = planted_doc_pairs(spark, factor, min_shingles=30).cache()
        n_strong = strong.count()
        cand = QUERIES["minhash_lsh_candidates"].spark(spark, sf_dir)
        found = strong.join(cand, ["id_a", "id_b"], "left_semi").count()
        strong.unpersist()
        inv["lsh_planted_recall"] = {
            "expected_strong": n_strong,
            "found": found,
            "recall": round(found / n_strong, 5),
            "ok": found / n_strong >= 0.995,
        }

        # 3. cluster cohesion: every planted pair shares a component
        comp = QUERIES["neardup_cluster_assignment"].spark(spark, sf_dir)
        a = comp.select(
            F.col("doc_id").alias("id_a"), F.col("component").alias("ca")
        )
        b = comp.select(
            F.col("doc_id").alias("id_b"), F.col("component").alias("cb")
        )
        split_pairs = (
            expected.join(a, "id_a").join(b, "id_b")
            .filter(F.col("ca") != F.col("cb"))
            .count()
        )
        inv["cluster_cohesion"] = {
            "split_pairs": split_pairs, "ok": split_pairs == 0
        }

        # 4. leakage-safe split: planted pairs never cross splits
        sp = QUERIES["leakage_safe_split"].spark(spark, sf_dir)
        sa = sp.select(F.col("doc_id").alias("id_a"), F.col("split").alias("sa"))
        sb = sp.select(F.col("doc_id").alias("id_b"), F.col("split").alias("sb"))
        crossers = (
            expected.join(sa, "id_a").join(sb, "id_b")
            .filter(F.col("sa") != F.col("sb"))
            .count()
        )
        inv["split_leakage"] = {"crossers": crossers, "ok": crossers == 0}
        expected.unpersist()

    # 5. Misra-Gries guarantee at scale (no oracle needed): every bigram
    # with true freq > N/(k+1) surfaces, and weights are lower bounds
    from data_pipeline_spark.queries_llm import _bigram_stream

    k = 20
    stream = _bigram_stream(spark, sf_dir).cache()
    n_total = stream.count()
    mg_rows = {
        r["item"]: r["weight"]
        for r in QUERIES["heavy_hitter_bigrams"].spark(spark, sf_dir).collect()
    }
    true_counts = {
        r["item"]: r["n"]
        for r in stream.groupBy("item")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > n_total / (k + 1))
        .collect()
    }
    stream.unpersist()
    missing = [i for i in true_counts if i not in mg_rows]
    over = [i for i, w in mg_rows.items()
            if i in true_counts and w > true_counts[i]]
    inv["mg_guarantee"] = {
        "n": n_total,
        "required_items": len(true_counts),
        "missing": len(missing),
        "weight_overestimates": len(over),
        "ok": not missing and not over,
    }

    # 6. semantic gate decisions match the arithmetic ground truth at
    # every scale (the catalog's oracle, recomputed Spark-side: near_dup
    # iff vec_id % 20 == 0 — the planted-copy rule; see queries_llm)
    sem = QUERIES["semantic_dedup_gate"].spark(spark, sf_dir)
    sem_bad = sem.filter(
        F.col("near_dup") != (F.col("vec_id") % 20 == 0).cast("int")
    ).count()
    inv["semantic_gate_decisions"] = {"mismatches": sem_bad,
                                      "ok": sem_bad == 0}

    # 7. ANN recall at the documented defaults on this (clustered at
    # factor>1) corpus, vs the exact brute force
    emb = load_table(spark, sf_dir, "embeddings").cache()
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {}
    for r in similarity.cosine_topk(emb, queries, k=10).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)

    def recall(rows):
        got: dict = {}
        for r in rows:
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        return round(
            sum(len(got.get(q, set()) & s) / len(s) for q, s in exact.items())
            / len(exact),
            4,
        )

    ann = {
        "ivf_default": recall(
            similarity.ivf_topk(emb, queries, k=10).collect()
        ),
        "ivfpq_default": recall(pq.ivfpq_topk(emb, queries, k=10).collect()),
        "pq_default": recall(pq.pq_topk(emb, queries, k=10).collect()),
    }
    if factor > 1:
        # clustered geometry: how few probes does the SAME index need?
        ann["ivf_nprobe8_of_64"] = recall(
            similarity.ivf_topk(emb, queries, k=10, n_probe=8).collect()
        )
    ann["ok"] = all(
        v >= 0.8 for kk, v in ann.items() if kk.endswith("_default")
    )
    inv["ann_recall"] = ann
    emb.unpersist()
    return inv


def contract_ab(spark, sf_dir: str) -> dict:
    """A/B the exact-dup pre-contraction (r11): contracted vs uncontracted
    neardup_components on this corpus — walls + shuffle via timed_run, and
    full COMPONENT PARITY (the contraction must be invisible in the
    output).  Both variants materialize to scratch parquet so the parity
    diff reads results instead of recomputing two pair graphs."""
    from data_pipeline_spark.io import load_table
    from data_pipeline_spark.llmops import dedup as ld

    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    out: dict = {}
    paths: dict = {}
    for mode, contract in (("contracted", True), ("uncontracted", False)):
        path = str(SCRATCH / "contract_ab" / Path(sf_dir).name / mode)
        paths[mode] = path

        def run(contract=contract, path=path):
            # construct INSIDE the timer: connected_components eagerly
            # localCheckpoints the edge graph at dataframe-construction
            # time, so building the frame outside would hide the pair
            # graph (the dominant cost) from the measurement
            comp = ld.neardup_components(
                docs, "doc_id", "text", contract=contract
            )
            comp.write.mode("overwrite").parquet(path)
            return spark.read.parquet(path).count()

        out[mode] = timed_run(spark, run, f"components_{mode}")
    a = spark.read.parquet(paths["contracted"])
    b = spark.read.parquet(paths["uncontracted"])
    mism = a.exceptAll(b).count() + b.exceptAll(a).count()
    out["component_parity"] = {"mismatches": mism, "ok": mism == 0}
    print(f"    component_parity: {out['component_parity']}", flush=True)
    return out


# ------------------------------------------------------------- main

def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", default="1,10,30")
    ap.add_argument("--out", default="SCALE_REHEARSAL_r10.json")
    ap.add_argument(
        "--queries",
        default="",
        help="comma list restricting the sweep to a HEAVY subset — for "
        "single-decade growth probes (e.g. 300x on the linear ops) "
        "without paying the quadratic pair-graph family",
    )
    ap.add_argument(
        "--no-invariants",
        action="store_true",
        help="skip the invariant families (probe runs: the invariants "
        "re-run both gates and the pair graph, which a --queries probe "
        "deliberately avoids)",
    )
    ap.add_argument(
        "--contract-ab",
        action="store_true",
        help="run ONLY the exact-dup pre-contraction A/B per scale "
        "(contracted vs uncontracted components: walls, shuffle, parity)",
    )
    args = ap.parse_args()
    scales = [int(s) for s in args.scales.split(",")]

    import data_pipeline_spark.queries_llm  # noqa: F401 — registers catalog
    import data_pipeline_spark.queries_tpch  # noqa: F401
    from data_pipeline_spark.queries import QUERIES
    from data_pipeline_spark.queries_llm import _persisted_gate_index
    from data_pipeline_spark.session import get_spark

    # the engine session keeps the UI off; the rehearsal needs the REST
    # status API for shuffle/spill/peak-memory attribution, so enable it
    # here (and retain enough stages for watermark attribution)
    spark = get_spark(
        "scale-rehearsal",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.retainedStages": "10000",
            "spark.ui.retainedJobs": "10000",
        },
    )
    # merge into an existing artifact so a single-scale run (e.g.
    # --scales 100) extends the table instead of dropping the other legs
    try:
        with open(args.out) as fh:
            report = json.load(fh)
        report.setdefault("scales", {})
    except FileNotFoundError:
        report = {"base": BASE, "scales": {}}

    for factor in scales:
        print(f"== scale {factor}x", flush=True)
        t0 = time.perf_counter()
        sf_dir = build_scaled(spark, factor)
        build_s = round(time.perf_counter() - t0, 2)
        n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
        n_emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
        print(f"  corpus: {n_docs} docs, {n_emb} embeddings "
              f"(build {build_s}s)", flush=True)

        if args.contract_ab:
            report["scales"].setdefault(str(factor), {})["contract_ab"] = (
                contract_ab(spark, sf_dir)
            )
            continue

        # pre-build the gate index sidecar and the WARC archive fixture
        # so the gate/source timings measure steady state, not one-time
        # fixture builds (timed apart)
        before = _stage_ids(spark)
        t0 = time.perf_counter()
        _persisted_gate_index(spark, sf_dir).count()
        idx = _stage_metrics(spark, before)
        idx["wall_s"] = round(time.perf_counter() - t0, 2)
        from data_pipeline_spark.queries_llm import _warc_archive_dir

        t0 = time.perf_counter()
        _warc_archive_dir(spark, sf_dir)
        entry_warc_build_s = round(time.perf_counter() - t0, 2)

        from data_pipeline_spark.queries_llm import _persisted_semantic_index

        t0 = time.perf_counter()
        _persisted_semantic_index(spark, sf_dir)[1].count()
        semantic_index_build_s = round(time.perf_counter() - t0, 2)

        entry: dict = {
            "dir": sf_dir,
            "n_docs": n_docs,
            "n_embeddings": n_emb,
            "corpus_build_s": build_s,
            "gate_index_build": idx,
            "warc_archive_build_s": entry_warc_build_s,
            "semantic_index_build_s": semantic_index_build_s,
            "queries": {},
        }
        picked = (
            [q for q in args.queries.split(",") if q] if args.queries
            else HEAVY
        )
        for name in picked:
            q = QUERIES[name].spark
            entry["queries"][name] = timed_run(
                spark, lambda q=q: len(q(spark, sf_dir).collect()), name
            )

        if args.no_invariants:
            entry["invariants"] = "skipped (--no-invariants probe run)"
        else:
            print("  invariants:", flush=True)
            entry["invariants"] = check_invariants(spark, sf_dir, factor)
            for k, v in entry["invariants"].items():
                print(f"    {k}: {v}", flush=True)

        app = spark.sparkContext.applicationId
        execs = _api(spark, f"applications/{app}/executors")
        peaks = [e.get("peakMemoryMetrics", {}) for e in execs]
        entry["executor_peak_heap_mb"] = round(
            max((p.get("JVMHeapMemory", 0) for p in peaks), default=0)
            / (1024 * 1024),
            1,
        )
        report["scales"][str(factor)] = entry

    with open(args.out, "w") as fh:
        json.dump(report, fh, indent=1)
    print(f"wrote {args.out}", flush=True)

    # growth summary: per query, wall and shuffle-write ratios vs scale 1
    if "1" in report["scales"] and len(report["scales"]) > 1:
        print(f"\n{'query':34s}", end="")
        for s in scales:
            print(f"  {s}x_wall {s}x_shW", end="")
        print(flush=True)
        for name in HEAVY:
            print(f"{name:34s}", end="")
            for s in scales:
                qq = report["scales"][str(s)]["queries"][name]
                print(f"  {qq['wall_s']:7.1f} {qq['shuffle_write_mb']:6.1f}",
                      end="")
            print(flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
