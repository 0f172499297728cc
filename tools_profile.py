#!/usr/bin/env python
"""Per-query layer profile of catalog queries, in one Spark session.

Usage: python tools_profile.py [query ...]   (default: bench.BENCH_QUERIES)

Timing follows bench.py: at ``SPARK_GRAFT_SF_DIR``, each query gets one
untimed warm-up, then ``SPARK_GRAFT_BENCH_REPS`` (default 2) timed reps,
and the rep with the lowest wall is kept.  Each rep is one traced
operation (``perfbench.trace.Tracer``) with three spans: ``build`` (the
Python plan), ``optimize`` (Catalyst analysis and optimization) and
``execute`` (``collect``).  Spark's event log, written to a temporary
directory that is removed afterwards, attributes every job to its span.

Per query it reports the wall and its three spans; the Spark actions,
those of them run while building or optimizing (``construction_actions``:
probes, checkpoints, convergence loops) and the raw job count; the stage
totals of ``trace.STAGE_KEYS``; the driver gap (the part of the wall no
job covers); the py4j calls; and the five slowest stages.  It prints a
table sorted by wall; the last stdout line is one JSON object, which also
records ``dataframe_debugging``: whether PySpark's call-site capture was
on, since it roughly doubles the py4j calls of every plan build.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
from pathlib import Path

from pyspark.errors.utils import is_debugging_enabled

sys.path.insert(0, str(Path(__file__).resolve().parent))

import bench  # noqa: E402  (registers the catalog; BENCH_QUERIES, SF_DIR)
from data_pipeline_spark.queries import QUERIES  # noqa: E402
from data_pipeline_spark.session import get_spark  # noqa: E402
from perfbench import trace  # noqa: E402

PHASES = ("build", "optimize", "execute")


def traced_rep(spark, tracer: trace.Tracer, op: int, name: str) -> None:
    tracer.begin_op(op)
    try:
        with tracer.span(name):
            with tracer.span("build"):
                df = QUERIES[name].spark(spark, bench.SF_DIR)
            with tracer.span("optimize"):
                df._jdf.queryExecution().optimizedPlan()
            with tracer.span("execute"):
                df.collect()
    finally:
        tracer.end_op()


def op_record(top, phases, m: dict, stages: dict[int, dict], stage_ids) -> dict:
    slowest = sorted(stage_ids, key=lambda s: -stages[s]["executor_run_s"])[:5]
    rec = {
        "wall_s": top.end - top.start,
        **{f"{p}_s": phases[p].end - phases[p].start for p in PHASES},
        "actions": top.jobs,
        "construction_actions": phases["build"].jobs + phases["optimize"].jobs,
        "jobs": m["jobs"],
        **{k: m[k] for k in trace.STAGE_KEYS},
        "driver_gap_s": trace.uncovered(top.start, top.end, m["intervals"]),
        "py4j_calls": top.py4j,
    }
    rec = {k: round(v, 6) for k, v in rec.items()}
    rec["slowest_stages"] = [
        {"stage": s, **{k: round(v, 6) for k, v in stages[s].items() if k != "stages"}}
        for s in slowest
    ]
    return rec


def profile(names: list[str], reps: int) -> tuple[dict[str, dict], bool]:
    with tempfile.TemporaryDirectory(prefix="spark_graft_evlog_") as evlog:
        spark = get_spark(
            "profile",
            extra_conf={
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + evlog,
                "spark.eventLog.compress": "false",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        debugging = is_debugging_enabled()  # read while the session is active
        tracer = trace.Tracer(spark.sparkContext)
        tracer.install_py4j_counter()
        op = 0
        try:
            for name in names:
                QUERIES[name].spark(spark, bench.SF_DIR).collect()  # warm-up
                for _ in range(reps):
                    traced_rep(spark, tracer, op, name)
                    op += 1
        finally:
            tracer.restore()
            spark.stop()  # closes the event log
        jobs, stages = trace.parse_event_log(evlog)

    spans = tracer.spans
    trace.count_actions(spans, jobs)
    by_op = trace.stage_metrics_by_op(jobs, stages)
    stage_ids: dict[int, set[int]] = {}
    for job in jobs.values():
        op = trace.op_of_group(job.group)
        if op is not None:
            stage_ids.setdefault(op, set()).update(s for s in job.stages if s in stages)
    empty = {"jobs": 0, "intervals": [], **dict.fromkeys(trace.STAGE_KEYS, 0.0)}
    out: dict[str, dict] = {}
    for i, top in enumerate(spans):
        if top.parent is not None:
            continue
        phases = {s.name: s for s in spans if s.parent == i}
        rec = op_record(
            top, phases, by_op.get(top.op, empty), stages, stage_ids.get(top.op, ())
        )
        if top.name not in out or rec["wall_s"] < out[top.name]["wall_s"]:
            out[top.name] = rec
    return out, debugging


def main() -> None:
    names = sys.argv[1:] or bench.BENCH_QUERIES
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        raise SystemExit(f"unknown queries: {', '.join(unknown)}")
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2"))
    out, debugging = profile(names, reps)

    cols = {"wall_s": "wall", "build_s": "build", "optimize_s": "opt",
            "execute_s": "exec", "actions": "act", "construction_actions": "cons",
            "jobs": "jobs", "stages": "stg", "tasks": "tasks",
            "task_cpu_s": "cpu_s", "driver_gap_s": "gap", "py4j_calls": "py4j"}
    print(f"{'query':36}" + "".join(f"{h:>8}" for h in cols.values()))
    for name, rec in sorted(out.items(), key=lambda kv: -kv[1]["wall_s"]):
        print(f"{name:36}" + "".join(
            f"{rec[c]:8.3f}" if c.endswith("_s") else f"{rec[c]:8.0f}" for c in cols
        ))
    print(json.dumps(
        {"sf_dir": bench.SF_DIR, "reps": reps,
         "dataframe_debugging": debugging, "queries": out},
        separators=(",", ":"),
    ), flush=True)


if __name__ == "__main__":
    main()
