"""Per-layer metrics of a traced run, from its spans, its Spark event log,
the workload's own layer measurements and a single-core baseline run.

Every operation of the timed loop is traced.  Span timings are medians
per call.  Counts (Spark actions, py4j calls, calls per trigger) come
from the first operation that makes the call, which sits at the same
place in every run of a workload.  ``*spark_jobs*`` metrics count
actions (see ``trace``); ``spark.jobs`` counts raw jobs, adaptive stage
jobs included.  Metrics of layers a workload does not enter read 0.
"""

from __future__ import annotations

import json
import os
import signal
import statistics
import subprocess
import sys
import time

from perfbench import trace
from perfbench.workloads import LLM_QUERIES


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def per_layer(wl, samples, tracer, work, args, get_spark_s, first_job_s, layer, peak_rss):
    from perfbench.run import DEADLINE_S, ROOT, T_START, round_wall

    spans = tracer.spans
    first_op = samples[0].id
    jobs, stages = trace.parse_event_log(os.path.join(work, "evlog"))
    trace.count_actions(spans, jobs)

    def calls(name: str):
        return [s for s in spans if s.name == name]

    def secs(name: str) -> float:
        return _median(s.end - s.start for s in calls(name))

    def first_jobs(name: str) -> float:
        c = calls(name)
        return float(c[0].jobs) if c else 0.0

    def in_first_op(name: str):
        return [s for s in calls(name) if s.op == first_op]

    out: dict[str, float] = {
        "session.get_spark_s": get_spark_s,
        "session.first_job_s": first_job_s,
        "peak_rss_mb": peak_rss,
    }
    for name in (
        "producer.publish", "producer.prepare",
        "file_topic.publish_counted", "file_topic.high_watermarks", "file_topic.read",
        "consumer.messages", "consumer.tail_action", "consumer.commit", "consumer.committed",
        "ingest.admit_batch", "ingest.gate_batch",
    ):
        out[f"{name}_s"] = secs(name)
    out["producer.spark_jobs_per_publish"] = first_jobs("producer.publish")
    out["ingest.spark_jobs_per_trigger"] = first_jobs("ingest.admit_batch")
    out["consumer.spark_jobs_per_tail"] = float(
        sum(s.jobs for n in ("consumer.messages", "consumer.tail_action") for s in in_first_op(n))
    )
    for fn in ("indexed_dedup_gate", "doc_shingle_index", "ngram_jaccard_pairs"):
        name = f"llmops.dedup.{fn}"
        out[f"{name}_s"] = secs(name)
        out[f"{name}_calls"] = float(len(in_first_op(name)))
    out.update(layer)

    # -- Spark event log: stage metrics, jobs and driver gap per operation --
    by_op = trace.stage_metrics_by_op(jobs, stages)
    top = {s.op: s for s in spans if s.parent is None}
    per_op = []
    for s in samples:
        m = by_op.get(s.id, {"intervals": [], "jobs": 0, **dict.fromkeys(trace.STAGE_KEYS, 0.0)})
        per_op.append((s, m))
    for key in trace.STAGE_KEYS:
        out[f"spark.{key}"] = _median(m[key] for _s, m in per_op)
    out["spark.jobs"] = _median(m["jobs"] for _s, m in per_op)
    out["spark.driver_gap_s"] = _median(
        trace.uncovered(s.start, s.end, m["intervals"]) for s, m in per_op
    )
    out["py4j.calls"] = _median(s.py4j for s in top.values())

    if wl.name == "llm_dedup_ops":
        for q in LLM_QUERIES:
            mine = [(s, m) for s, m in per_op if s.label == q]
            key = f"queries_llm.{q}"
            out[f"{key}.wall_s"] = _median(s.wall for s, _m in mine)
            first = [top[s.id] for s, _m in mine if s.id in top][:1]
            out[f"{key}.spark_jobs"] = float(first[0].jobs) if first else 0.0
            out[f"{key}.py4j_calls"] = float(first[0].py4j) if first else 0.0
            out[f"{key}.task_cpu_s"] = _median(m["task_cpu_s"] for _s, m in mine)
            out[f"{key}.shuffle_bytes"] = _median(
                m["shuffle_read_bytes"] + m["shuffle_write_bytes"] for _s, m in mine
            )

    # tracer bookkeeping per round; the wall without it stands for the
    # untraced wall of the same operations
    rounds = len(samples) / len(wl.round_labels)
    out["trace.overhead_s"] = tracer.self_s / rounds
    untraced_wall = round_wall(samples, wl.round_labels) - out["trace.overhead_s"]

    # -- single-core baseline, in its own process ---------------------------
    budget = DEADLINE_S - (time.time() - T_START)
    one = single_core_wall(ROOT, args, budget)
    out["spark.speedup_vs_1core"] = one / untraced_wall if one and untraced_wall else 0.0
    return out


def single_core_wall(root: str, args, budget: float) -> float | None:
    """``wall_s`` of an untraced run of the same workload and seed on
    ``local[1]``, in its own process group; None if it fails or would
    overrun ``budget`` (the group is then killed and waited for)."""
    if budget < 30:
        print("single-core baseline skipped: no time left", file=sys.stderr)
        return None
    cmd = [
        sys.executable, os.path.join(root, "perfbench", "run.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", "0", "--scale", str(args.scale),
    ]
    env = {**os.environ, "SPARK_GRAFT_CPUS": "1"}
    proc = subprocess.Popen(
        cmd, cwd=root, env=env, stdout=subprocess.PIPE, start_new_session=True
    )
    try:
        out, _ = proc.communicate(timeout=budget)
    except subprocess.TimeoutExpired:
        print("single-core baseline timed out", file=sys.stderr)
        _kill_group(proc)
        return None
    lines = out.decode().strip().splitlines()
    if proc.returncode != 0 or not lines:
        print(f"single-core baseline failed ({proc.returncode})", file=sys.stderr)
        return None
    return json.loads(lines[-1])["metrics"]["wall_s"]["value"]


def _kill_group(proc: subprocess.Popen) -> None:
    """Kill the child's process group (its JVM included) and wait until
    no member is left."""
    os.killpg(proc.pid, signal.SIGKILL)
    proc.wait()
    deadline = time.time() + 10
    while time.time() < deadline and _group_alive(proc.pid):
        time.sleep(0.1)


def _group_alive(pgid: int) -> bool:
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                return True
    return False
