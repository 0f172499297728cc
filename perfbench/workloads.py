"""The benchmark's workloads.  Each is a closed loop with one client: the
next operation starts when the previous one has returned and been checked.

A workload builds its inputs from the seed (``gen``), sets the program up
and warms it in ``setup`` (untimed), then hands out operations.  An
operation has an untimed ``prep`` (building its input DataFrame), a timed
``run`` and an untimed ``check`` that returns an error string or None.
``finish`` runs the checks that need the whole run (final offsets, the
DuckDB oracle) and returns (operation id, error) pairs; id -1 blames the
run's last operation.

Only public entry points of ``data_pipeline_spark`` are called.
"""

from __future__ import annotations

import contextlib
import hashlib
import math
import os
from collections import Counter
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
import pandas as pd

from perfbench import gen

PARTITIONS = 4


@dataclass
class Op:
    label: str
    run: Callable[[], Any]
    check: Callable[[Any], str | None]
    records: int
    prep: Callable[[], None] = lambda: None
    id: int = -1


@dataclass
class Context:
    spark: Any
    work: str
    seed: int
    scale: float
    tracer: Any = None

    def sized(self, n: int, floor: int = 1) -> int:
        return max(floor, int(round(n * self.scale)))

    def span(self, name: str):
        return contextlib.nullcontext() if self.tracer is None else self.tracer.span(name)


def dir_bytes(path: str) -> int:
    """Bytes of the parquet data files under ``path``."""
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(path)
        for f in files
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


def _files_in(path: str) -> int:
    return sum(
        1
        for _r, _d, files in os.walk(path)
        for f in files
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


def _warm(op: Op, what: str) -> None:
    op.prep()
    err = op.check(op.run())
    if err:
        raise RuntimeError(f"warm-up {what} failed its check: {err}")


class Workload:
    name = ""
    # the distinct operations of one round (wall_s sums their medians)
    round_labels: list[str] = []
    # operations every run makes, however long they take
    min_ops = 1

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.spark = ctx.spark

    def setup(self) -> None:
        raise NotImplementedError

    def ops(self):
        raise NotImplementedError

    def finish(self) -> list[tuple[int, str]]:
        return []

    def bytes_per_record(self) -> float:
        raise NotImplementedError

    def wrap(self, tracer) -> None:
        """Install span wrappers around this workload's layers."""

    def layer_metrics(self) -> dict[str, float]:
        """Per-layer values the workload measures itself (traced run)."""
        return {}


# ---------------------------------------------------------------------------
# cdc_publish_tail
# ---------------------------------------------------------------------------

_DDL_V1 = "id LONG, seq LONG, user_id LONG, status STRING, amount DOUBLE, event_ts LONG"


def read_wire(topic_dir: str) -> pd.DataFrame:
    """(partition, offset, value) of every message on disk, read with
    pyarrow — independent of the consumer under test."""
    import pyarrow.dataset as pads

    ds = pads.dataset(topic_dir, format="parquet", partitioning="hive")
    return (
        ds.to_table(columns=["partition", "offset", "value"])
        .to_pandas()
        .sort_values(["partition", "offset"], kind="stable")
        .reset_index(drop=True)
    )


class CdcPublishTail(Workload):
    """publish -> tail from the committed offsets -> collect -> commit, one
    batch of flat, null-free creates per operation."""

    name = "cdc_publish_tail"
    round_labels = ["batch"]
    # batch latency still falls over the first minute of a process (JIT);
    # a fixed floor of timed batches keeps the median at the same depth
    # of that curve from run to run
    min_ops = 3
    group = "perfbench"
    BATCH_ROWS = 5_000
    WARMUP = 2
    EVOLVED_IDS = 10_000

    def setup(self) -> None:
        from data_pipeline_spark.consumer import Consumer
        from data_pipeline_spark.producer import Producer
        from data_pipeline_spark.registry import SchemaRegistry
        from data_pipeline_spark.sources.file_topic import OffsetLedger, TopicStore

        registry = SchemaRegistry()
        rs = registry.register_schema(
            gen.NAMESPACE, gen.SOURCE, gen.schema_json(1), primary_keys=("id",)
        )
        self.sid, self.topic = rs.schema_id, rs.topic
        self.topic_dir = os.path.join(self.ctx.work, "topics", self.topic)
        self.store = TopicStore(self.spark, os.path.join(self.ctx.work, "topics"))
        self.ledger = OffsetLedger(self.spark, os.path.join(self.ctx.work, "offsets"))
        self.producer = Producer(self.store, registry)
        self.consumer = Consumer(self.store, registry, group=self.group, ledger=self.ledger)
        self.rows = self.ctx.sized(self.BATCH_ROWS, 50)
        self._batch_no = 0
        self.highs = {p: 0 for p in range(PARTITIONS)}
        self.files_per_publish: list[int] = []
        for _ in range(self.WARMUP):
            _warm(self._make_op(), "batch")

    def _batch(self, b: int) -> pd.DataFrame:
        return gen.cdc_create_batch(self.ctx.seed, b, self.rows)

    def _make_op(self) -> Op:
        b = self._batch_no
        self._batch_no += 1
        pdf = self._batch(b)
        state: dict[str, Any] = {}

        def prep():
            state["df"] = self.spark.createDataFrame(pdf, _DDL_V1)
            state["files"] = _files_in(self.topic_dir)

        def run():
            stats = self.producer.publish(
                state["df"], self.sid, num_partitions=PARTITIONS, timestamp_col="event_ts"
            )
            msgs = self.consumer.messages(self.topic, from_committed=True)
            with self.ctx.span("consumer.tail_action"):
                rows = msgs.collect()
            self.consumer.commit(self.topic, msgs)
            return stats, rows

        def check(result) -> str | None:
            stats, rows = result
            self.files_per_publish.append(_files_in(self.topic_dir) - state["files"])
            return self.check_batch(pdf, stats, rows)

        return Op("batch", run, check, len(pdf), prep)

    def check_batch(self, pdf: pd.DataFrame, stats, rows) -> str | None:
        """The tailed payload multiset equals the published batch, and
        each partition's offsets run contiguous from the position the
        previous commit left (so that commit equalled the high watermark)."""
        if stats.message_count != len(pdf):
            return f"publish counted {stats.message_count}, sent {len(pdf)}"
        want = Counter(pdf.itertuples(index=False, name=None))
        got = Counter(tuple(r.payload) for r in rows)
        if got != want:
            return (
                f"tailed payloads differ: {sum((got - want).values())} unexpected, "
                f"{sum((want - got).values())} missing"
            )
        if any(r.message_type != "create" or r.timestamp != r.payload.event_ts for r in rows):
            return "envelope message_type/timestamp mismatch"
        by_part: dict[int, list[int]] = {}
        for r in rows:
            by_part.setdefault(r.partition, []).append(r.offset)
        for p in range(PARTITIONS):
            want_offs = list(range(self.highs.get(p, 0), stats.high_watermarks.get(p, 0)))
            if sorted(by_part.get(p, [])) != want_offs:
                return f"partition {p} offsets not contiguous from the committed position"
        self.highs = dict(stats.high_watermarks)
        return None

    def ops(self):
        while True:
            yield self._make_op()

    def finish(self) -> list[tuple[int, str]]:
        committed = self.ledger.committed(self.group, self.topic)
        highs = self.store.high_watermarks(self.topic, PARTITIONS)
        if {p: committed.get(p, 0) for p in highs} != highs:
            return [(-1, f"committed offsets {committed} != high watermarks {highs}")]
        return []

    def bytes_per_record(self) -> float:
        n = sum(self.store.high_watermarks(self.topic, PARTITIONS).values())
        return dir_bytes(self.topic_dir) / max(1, n)

    def wrap(self, tracer) -> None:
        from data_pipeline_spark.consumer import Consumer
        from data_pipeline_spark.producer import Producer
        from data_pipeline_spark.sources.file_topic import OffsetLedger, TopicStore

        tracer.wrap(Producer, "publish", "producer.publish")
        tracer.wrap(Producer, "prepare", "producer.prepare")
        tracer.wrap(TopicStore, "publish_counted", "file_topic.publish_counted")
        tracer.wrap(TopicStore, "high_watermarks", "file_topic.high_watermarks")
        tracer.wrap(TopicStore, "read", "file_topic.read")
        tracer.wrap(Consumer, "messages", "consumer.messages")
        tracer.wrap(OffsetLedger, "commit_messages", "consumer.commit")
        tracer.wrap(OffsetLedger, "committed", "consumer.committed")

    def layer_metrics(self) -> dict[str, float]:
        """Wire kernels timed in the driver, on this workload's own batches
        and stored wire bytes, and on a seeded two-version batch set with
        updates — the Avro resolution path the vectorized kernels refuse."""
        from perfbench import kernels

        flat = [
            kernels.Batch(self._batch(b), gen.schema_json(1), self.sid, "create")
            for b in range(min(self._batch_no, 4))
        ]
        wire = read_wire(self.topic_dir)
        blobs = [wire["value"].iloc[i : i + self.rows] for i in range(0, len(wire), self.rows)]
        out = kernels.measure(
            flat, blobs, {self.sid: gen.schema_json(1)}, gen.schema_json(1), self.ctx.seed
        )
        evolved = [
            kernels.Batch(p.rows, gen.schema_json(p.version), p.version, p.message_type, p.previous)
            for p in gen.evolved_topic(self.ctx.seed, self.ctx.sized(self.EVOLVED_IDS, 40))
        ]
        writers = {v: gen.schema_json(v) for v in (1, 2)}
        evo = kernels.measure(evolved, None, writers, gen.schema_json(2), self.ctx.seed)
        for key in (
            "wire_np.encode_fastpath_ratio", "wire_np.decode_fastpath_ratio",
            "avro_codec.encode_rows_per_s", "avro_codec.decode_rows_per_s",
        ):
            layer, metric = key.split(".")
            out[f"{layer}.evolved_{metric}"] = evo[key]
        out["file_topic.bytes_per_msg"] = self.bytes_per_record()
        out["file_topic.files_per_publish"] = float(np.median(self.files_per_publish))
        return out


# ---------------------------------------------------------------------------
# llm_dedup_ops
# ---------------------------------------------------------------------------

LLM_QUERIES = [
    "neardup_cluster_assignment_star",
    "pq_ann_topk",
    "ivfpq_ann_topk",
    "minhash_lsh_candidates",
    "embedding_cosine_topk",
]
_VEC_QUERIES = {"pq_ann_topk", "ivfpq_ann_topk", "embedding_cosine_topk"}
# recall@10 floors against the exact top-k (the DuckDB cosine oracle) for
# the two queries without an oracle; both read 1.0 on seeds 0-9 at the
# default sizes
RECALL_FLOOR = {"pq_ann_topk": 0.9, "ivfpq_ann_topk": 0.9}


def _norm_cell(v):
    if v is None:
        return ("\x00null",)
    if isinstance(v, float):
        return ("nan",) if math.isnan(v) else ("f", repr(v))
    if isinstance(v, (list, tuple)):
        return ("l", tuple(_norm_cell(x) for x in v))
    return (type(v).__name__, str(v))


def result_digest(rows, cols) -> str:
    """Order-insensitive digest: columns sorted by name, rows by value,
    floats compared bit for bit (the catalog's determinism contract)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)
    return hashlib.sha256(repr(([cols[i] for i in order], norm)).encode()).hexdigest()


def recall_at_k(approx_rows: list[dict], exact_rows: list[dict]) -> float:
    """Share of the exact (query_id, neighbor_id) pairs the approximate
    top-k found."""
    want = {(r["query_id"], r["neighbor_id"]) for r in exact_rows}
    got = {(r["query_id"], r["neighbor_id"]) for r in approx_rows}
    return len(want & got) / max(1, len(want))


class LlmDedupOps(Workload):
    """The LLM-data side: one round is a ``DedupGatedIngest.admit_batch``
    trigger over seeded documents with planted copies (the index grows
    through the run), then one warm call of each catalog operator over
    seeded ``documents`` / ``embeddings`` tables."""

    name = "llm_dedup_ops"
    round_labels = ["trigger", *LLM_QUERIES]
    min_ops = len(round_labels)
    BATCH_DOCS = 50
    MAX_TRIGGERS = 64
    N_DOCS = 600
    N_VECS = 1_000

    def setup(self) -> None:
        import data_pipeline_spark.queries_llm  # noqa: F401  (registers the ops)
        from data_pipeline_spark.queries import QUERIES
        from data_pipeline_spark.streaming.ingest import DedupGatedIngest

        self.queries = QUERIES
        self.data_dir = os.path.join(self.ctx.work, "tables")
        os.makedirs(self.data_dir, exist_ok=True)
        self.docs, self.emb = gen.llm_tables(
            self.ctx.seed, self.ctx.sized(self.N_DOCS, 60), self.ctx.sized(self.N_VECS, 60)
        )
        self.docs.to_parquet(os.path.join(self.data_dir, "documents.parquet"), index=False)
        self.emb.to_parquet(os.path.join(self.data_dir, "embeddings.parquet"), index=False)
        self.results: dict[int, tuple[str, str, list | None]] = {}

        self.corpus_dir = os.path.join(self.ctx.work, "corpus")
        self.ingest = DedupGatedIngest(
            self.spark, self.corpus_dir, os.path.join(self.ctx.work, "ingest_ledger")
        )
        self.stream = gen.dedup_stream(
            self.ctx.seed, self.MAX_TRIGGERS, self.ctx.sized(self.BATCH_DOCS, 8)
        )
        self.epoch = 0
        self.admitted_total = self.truth_total = 0
        _warm(self._trigger_op(), "trigger")
        for q in LLM_QUERIES:
            self._query_op(q).run()

    # -- ingest trigger ------------------------------------------------------
    def _epoch_ids(self, epoch: int) -> list[int]:
        import pyarrow.dataset as pads

        root = os.path.join(
            self.corpus_dir, f"ingest_writer={self.ingest.writer_id}", f"ingest_epoch={epoch}"
        )
        if not os.path.isdir(root):
            return []
        table = pads.dataset(root, format="parquet").to_table(columns=["doc_id"])
        return sorted(table["doc_id"].to_pylist())

    def _trigger_op(self) -> Op:
        e = self.epoch
        self.epoch += 1
        pdf = self.stream.batches[e]
        state: dict[str, Any] = {}

        def prep():
            state["df"] = self.spark.createDataFrame(pdf, "doc_id LONG, text STRING")

        def run():
            return self.ingest.admit_batch(state["df"], e)

        def check(n) -> str | None:
            want = self.stream.admitted[e]
            got = self._epoch_ids(e)
            self.admitted_total += len(got)
            self.truth_total += len(want)
            return check_admitted(e, n, got, want)

        return Op("trigger", run, check, len(pdf), prep)

    # -- catalog query -------------------------------------------------------
    def _query_op(self, q: str) -> Op:
        n = len(self.emb) if q in _VEC_QUERIES else len(self.docs)
        op = Op(q, None, None, n)

        def run():
            df = self.queries[q].spark(self.spark, self.data_dir)
            return df.columns, df.collect()

        def check(res) -> str | None:
            cols, rows = res
            # compared with the oracle once the run is over (finish)
            self.results[op.id] = (
                q,
                result_digest([tuple(r) for r in rows], cols),
                [dict(zip(cols, r)) for r in rows] if q in RECALL_FLOOR else None,
            )
            return None if rows else f"{q} returned no rows"

        op.run, op.check = run, check
        return op

    def ops(self):
        while self.epoch < self.MAX_TRIGGERS:
            yield self._trigger_op()
            for q in LLM_QUERIES:
                yield self._query_op(q)

    def finish(self) -> list[tuple[int, str]]:
        return check_query_results(self.results, self.oracle())

    def oracle(self) -> dict[str, tuple[str, list]]:
        """DuckDB runs each registered oracle over the same parquet files."""
        import duckdb

        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                path = os.path.join(self.data_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            out = {}
            for q in LLM_QUERIES:
                sql = self.queries[q].oracle
                if sql is None:
                    continue
                res = con.execute(sql)
                cols = [d[0] for d in res.description]
                rows = res.fetchall()
                out[q] = (result_digest(rows, cols), [dict(zip(cols, r)) for r in rows])
            return out
        finally:
            con.close()

    def bytes_per_record(self) -> float:
        """Corpus plus index bytes per admitted document."""
        return (dir_bytes(self.corpus_dir) + dir_bytes(self.ingest.index_dir)) / max(
            1, self.admitted_total
        )

    def wrap(self, tracer) -> None:
        from data_pipeline_spark.streaming import ingest

        tracer.wrap(ingest.DedupGatedIngest, "admit_batch", "ingest.admit_batch")
        tracer.wrap(ingest.DedupGatedIngest, "gate_batch", "ingest.gate_batch")
        # the sink calls these through its own module namespace
        for fn in ("indexed_dedup_gate", "doc_shingle_index", "ngram_jaccard_pairs"):
            tracer.wrap(ingest, fn, f"llmops.dedup.{fn}")

    def layer_metrics(self) -> dict[str, float]:
        import pyarrow.dataset as pads

        docs = os.path.join(self.ingest.index_dir, "docs")
        rows = pads.dataset(docs, format="parquet", partitioning="hive").count_rows()
        return {
            "ingest.admitted_ratio": self.admitted_total / max(1, self.truth_total),
            "ingest.index_rows": float(rows),
            "ingest.index_bytes_per_doc": dir_bytes(docs) / max(1, self.admitted_total),
        }


def check_admitted(epoch: int, n: int, got: list[int], want: list[int]) -> str | None:
    """A trigger admits exactly the generator's novel documents."""
    if n != len(want) or got != sorted(want):
        return f"epoch {epoch}: admitted {n} ({len(got)} on disk), expected {len(want)}"
    return None


def check_query_results(results: dict, oracle: dict) -> list[tuple[int, str]]:
    """Oracle-backed queries must hash-equal the oracle; the approximate
    ones must reach their recall floor against the exact top-k."""
    exact = oracle["embedding_cosine_topk"][1]
    bad = []
    for op_id, (q, digest, rows) in results.items():
        if q in RECALL_FLOOR:
            r = recall_at_k(rows, exact)
            if r < RECALL_FLOOR[q]:
                bad.append((op_id, f"{q} recall@10 {r:.3f} < {RECALL_FLOOR[q]}"))
        elif digest != oracle[q][0]:
            bad.append((op_id, f"{q} differs from the DuckDB oracle"))
    return bad


WORKLOADS = {w.name: w for w in (CdcPublishTail, LlmDedupOps)}
