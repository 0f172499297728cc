"""The benchmark's own tests.

    python -m pytest perfbench/tests -q

The checks and generators are tested without Spark; the end-to-end tests
run each workload at a tiny size, untraced and traced (a few minutes).
"""

from __future__ import annotations

import io
import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    LLM_QUERIES,
    CdcPublishTail,
    check_admitted,
    check_query_results,
    result_digest,
)

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _parquet_bytes(df: pd.DataFrame) -> bytes:
    buf = io.BytesIO()
    df.to_parquet(buf, index=False)
    return buf.getvalue()


def _all_inputs(seed: int) -> list[bytes]:
    out = [_parquet_bytes(gen.cdc_create_batch(seed, b, 300)) for b in range(3)]
    for pub in gen.evolved_topic(seed, 200):
        out.append(_parquet_bytes(pub.rows))
        if pub.previous is not None:
            out.append(_parquet_bytes(pub.previous))
    stream = gen.dedup_stream(seed, 4, 20)
    out += [_parquet_bytes(b) for b in stream.batches]
    out.append(json.dumps(stream.admitted).encode())
    out += [_parquet_bytes(t) for t in gen.llm_tables(seed, 50, 40)]
    return out


def test_same_seed_generates_byte_identical_inputs():
    assert _all_inputs(7) == _all_inputs(7)
    assert _all_inputs(7) != _all_inputs(8)


def test_dedup_ground_truth_admits_novel_documents_only():
    stream = gen.dedup_stream(3, 6, 40)
    texts: dict[str, int] = {}
    for batch, keep in zip(stream.batches, stream.admitted):
        kept = batch[batch["doc_id"].isin(keep)]
        # every admitted text is new; every rejected one repeats or edits
        # a document admitted before it
        assert not set(kept["text"]) & set(texts)
        texts.update(dict(zip(kept["text"], kept["doc_id"])))
        assert len(keep) < len(batch)


# -- corrupted outputs trip the checks ------------------------------------


class _Stats:
    def __init__(self, highs, n):
        self.high_watermarks, self.message_count = highs, n


def _tailed(pdf: pd.DataFrame, first: dict[int, int]):
    """What a correct tail returns for ``pdf``: rows spread over the
    partitions, offsets contiguous from ``first``."""
    from pyspark.sql import Row

    nxt = dict(first)
    rows = []
    for i, rec in enumerate(pdf.itertuples(index=False)):
        p = i % 4
        payload = Row(**rec._asdict())
        rows.append(Row(partition=p, offset=nxt[p], message_type="create",
                        timestamp=rec.event_ts, payload=payload))
        nxt[p] += 1
    return rows, nxt


def _cdc_checker():
    wl = CdcPublishTail.__new__(CdcPublishTail)
    wl.highs = {p: 0 for p in range(4)}
    return wl


def test_cdc_check_accepts_a_correct_batch_and_rejects_corruption():
    from pyspark.sql import Row

    pdf = gen.cdc_create_batch(1, 0, 40)
    rows, highs = _tailed(pdf, {p: 0 for p in range(4)})
    assert _cdc_checker().check_batch(pdf, _Stats(highs, 40), rows) is None

    bad_value = list(rows)
    r = bad_value[5]
    bad_value[5] = Row(partition=r.partition, offset=r.offset, message_type="create",
                       timestamp=r.timestamp,
                       payload=Row(**{**r.payload.asDict(), "amount": r.payload.amount + 1}))
    assert _cdc_checker().check_batch(pdf, _Stats(highs, 40), bad_value)

    assert _cdc_checker().check_batch(pdf, _Stats(highs, 40), rows[:-1])

    gap = list(rows)
    r = gap[0]
    gap[0] = Row(partition=r.partition, offset=r.offset + 100, message_type="create",
                 timestamp=r.timestamp, payload=r.payload)
    assert "contiguous" in _cdc_checker().check_batch(pdf, _Stats(highs, 40), gap)


def test_admission_check_rejects_wrong_ids():
    assert check_admitted(0, 3, [1, 2, 3], [3, 1, 2]) is None
    assert check_admitted(0, 3, [1, 2, 4], [1, 2, 3])
    assert check_admitted(0, 2, [1, 2, 3], [1, 2, 3])


def test_query_check_rejects_oracle_mismatch_and_low_recall():
    exact = [{"query_id": q, "neighbor_id": n, "rank": n, "cos_sim": 0.5}
             for q in range(2) for n in range(10)]
    cols = ["query_id", "neighbor_id", "rank", "cos_sim"]
    good = result_digest([tuple(r.values()) for r in exact], cols)
    oracle = {q: (good, exact) for q in LLM_QUERIES}
    poor = [{**r, "neighbor_id": r["neighbor_id"] + 50} for r in exact]
    results = {
        0: ("embedding_cosine_topk", good, None),
        1: ("pq_ann_topk", "-", exact),
    }
    assert check_query_results(results, oracle) == []
    results[2] = ("minhash_lsh_candidates", "corrupted", None)
    results[3] = ("ivfpq_ann_topk", "-", poor)
    assert {op for op, _msg in check_query_results(results, oracle)} == {2, 3}


# -- end to end --------------------------------------------------------------


def _run(args, cwd=ROOT, timeout=400):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, timeout=timeout,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_is_printed_with_its_unit(workload, trace):
    done = _run(["--workload", workload, "--seed", "5", "--seconds", "0",
                 "--trace", str(trace), "--scale", "0.1"])
    assert done.returncode == 0
    result = json.loads(done.stdout.decode().strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in want
    }
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    done = _run(["--workload", "cdc_publish_tail", "--seed", "1", "--seconds", "1",
                 "--trace", "0"], cwd=tmp_path, timeout=120)
    assert done.returncode != 0
    assert done.stdout.decode().strip() == ""
