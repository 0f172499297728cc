#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload from ``perfbench/workloads.py`` in this process on
``local[$SPARK_GRAFT_CPUS]`` (default: the CPUs this process may use):
generates the inputs from the seed, sets up and warms the program, then
runs operations in a closed loop for ``--seconds`` and checks each
output.  The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end metrics of ``BENCHMARK.json``, with
``--trace 1`` its per-layer metrics.

Everything the run writes stays under ``.perfbench/`` next to this
directory; a traced run also leaves its spans in ``.perfbench/traces/``.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.workloads import LLM_QUERIES, WORKLOADS, Context  # noqa: E402

SPEC = os.path.join(ROOT, "BENCHMARK.json")
# traced and untraced runs both stop within this many seconds of start
DEADLINE_S = 170.0


@dataclass
class Sample:
    id: int
    label: str
    wall: float
    records: int
    start: float
    end: float
    failed: bool


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # input-size multiplier; the benchmark's own tests run at a tiny size
    p.add_argument("--scale", type=float, default=1.0)
    return p.parse_args(argv)


# -- statistics -----------------------------------------------------------


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile of ``values`` (0 <= pct <= 100)."""
    v = sorted(values)
    if len(v) == 1:
        return v[0]
    pos = (len(v) - 1) * pct / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def tail_percentile(n: int) -> float:
    """Highest percentile with at least ten samples beyond it.  Runs of
    fewer than 20 operations support no percentile above the median; the
    tail then reads the median."""
    return max(50.0, 100.0 * (1.0 - 10.0 / n)) if n else 50.0


def round_wall(samples: list[Sample], labels: list[str]) -> float:
    """Wall time of one round: each distinct operation at its median."""
    total = 0.0
    for label in labels:
        walls = [s.wall for s in samples if s.label == label]
        if walls:
            total += statistics.median(walls)
    return total


def end_to_end(samples, labels, setup_s, bytes_per_record) -> dict:
    walls = [s.wall for s in samples]
    pct = tail_percentile(len(walls))
    print(f"latency tail: p{pct:.1f} of {len(walls)} operations", file=sys.stderr)
    return {
        "setup_s": setup_s,
        "wall_s": round_wall(samples, labels),
        "records_per_s": sum(s.records for s in samples) / sum(walls),
        "latency_p50_s": statistics.median(walls),
        "latency_tail_s": percentile(walls, pct),
        "bytes_per_record": bytes_per_record,
    }


# -- process tree ------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_peak_rss_mb() -> float:
    """Sum of peak RSS (VmHWM) over this process and its descendants: the
    driver's Python, the JVM and the Python workers."""
    kids = _children()
    todo, total_kb = [os.getpid()], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


# -- the run -----------------------------------------------------------------


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no JVM perf-data file in the system /tmp
        "spark.driver.extraJavaOptions": (
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
        ),
        # a small fixed heap keeps the process tree small on a shared host,
        # and measured steadier run to run than the engine's 8g default
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "evlog"), exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "evlog"),
                "spark.eventLog.compress": "false",
            }
        )
    return conf


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_loop(wl, seconds: float, tracer) -> list[Sample]:
    """Closed loop: the workload's minimum of operations, then more until
    ``seconds`` have passed.  In a traced run every operation is traced."""
    samples: list[Sample] = []
    t_begin = time.time()
    for k, op in enumerate(wl.ops()):
        if k >= wl.min_ops and (
            time.time() - t_begin >= seconds or time.time() - T_START > DEADLINE_S / 2
        ):
            break
        op.id = k
        op.prep()
        failed = False
        t0 = time.time()
        try:
            if tracer is not None:
                tracer.begin_op(k)
                name = f"queries_llm.{op.label}" if op.label in LLM_QUERIES else f"op.{op.label}"
                with tracer.span(name):
                    res = op.run()
            else:
                res = op.run()
        except Exception:  # a failed operation is counted, and the loop goes on
            traceback.print_exc()
            failed, res = True, None
        finally:
            if tracer is not None:
                tracer.end_op()
        t1 = time.time()
        if not failed:
            err = op.check(res)
            if err:
                print(f"op {k} ({op.label}) failed its check: {err}", file=sys.stderr)
                failed = True
        samples.append(Sample(k, op.label, t1 - t0, op.records, t0, t1, failed))
        print(f"op {k} {op.label}: {t1 - t0:.3f} s", file=sys.stderr)
    return samples


def main(argv=None) -> int:
    args = parse_args(argv)
    with open(SPEC) as f:
        spec = json.load(f)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))

    work = os.path.join(
        ROOT, ".perfbench", "work", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]

    # everything but the result line goes to stderr, the JVM's output too
    result_fd = os.dup(1)
    os.dup2(2, 1)
    try:
        result = run(args, spec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with os.fdopen(result_fd, "w") as out:
        out.write(json.dumps(result) + "\n")
    return 0


def run(args, spec: dict, work: str) -> dict:
    from data_pipeline_spark.session import get_spark

    trace = bool(args.trace)
    t = time.time()
    spark = get_spark(f"perfbench-{args.workload}", extra_conf=spark_conf(work, trace))
    get_spark_s = time.time() - t
    spark.sparkContext.setLogLevel("ERROR")
    t = time.time()
    spark.range(1).count()
    first_job_s = time.time() - t

    tracer = None
    if trace:
        from perfbench.trace import Tracer

        tracer = Tracer(spark.sparkContext)
        tracer.install_py4j_counter()
    ctx = Context(spark, work, args.seed, args.scale, tracer)
    wl = WORKLOADS[args.workload](ctx)
    try:
        if tracer is not None:
            wl.wrap(tracer)
        wl.setup()
        setup_s = time.time() - T_START

        samples = run_loop(wl, args.seconds, tracer)
        peak_rss = tree_peak_rss_mb() if trace else 0.0
        for op_id, msg in wl.finish():
            print(f"run check failed: {msg}", file=sys.stderr)
            for s in samples:
                if s.id == op_id or op_id < 0 and s is samples[-1]:
                    s.failed = True
        bpr = wl.bytes_per_record()
        layer = wl.layer_metrics() if trace else {}
    finally:
        if tracer is not None:
            tracer.restore()
        stop_spark(spark)

    failed = sum(s.failed for s in samples)
    if not trace:
        e2e = end_to_end(samples, wl.round_labels, setup_s, bpr)
        metrics = {
            m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
            for m in spec["end_to_end"]
        }
    else:
        from perfbench import layers

        values = layers.per_layer(
            wl, samples, tracer, work, args, get_spark_s, first_job_s, layer, peak_rss
        )
        values["error_rate"] = failed / len(samples)
        os.makedirs(os.path.join(ROOT, ".perfbench", "traces"), exist_ok=True)
        tracer.write(
            os.path.join(ROOT, ".perfbench", "traces", f"{args.workload}-{args.seed}.json")
        )
        metrics = {
            m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in spec["per_layer"]
        }
    return {
        "correct": failed == 0,
        "attempted": len(samples),
        "failed": failed,
        "metrics": metrics,
    }


if __name__ == "__main__":
    sys.exit(main())
