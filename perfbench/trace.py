"""Tracing for the ``--trace 1`` run, kept entirely outside the program.

- Spans: ``Tracer.wrap`` replaces a public function or method with a
  wrapper that records (name, start, end, parent, op id) in memory; the
  spans are written once, when the run ends.
- Job groups: every traced operation, and every span inside it, runs under
  its own Spark job group.  Jobs are attributed to spans from the event
  log after the run, as actions: one per SQL execution (plus any job run
  outside one).  Adaptive execution splits one action into a varying
  number of stage jobs as it re-plans at run time, so raw job counts
  (``spark.jobs``) can differ between runs where action counts cannot.
- py4j calls: counted at the client (``GatewayClient.send_command``),
  excluding the tracer's own calls.
- Stage metrics: parsed from the Spark event log, which the run enables
  through ``get_spark(extra_conf=...)``.

Wrappers stay installed for the whole traced run, but record only while
``Tracer.active`` is set (inside a timed operation).  ``Tracer.self_s``
accumulates the time the tracer spends on its own bookkeeping inside
operations: the tracing overhead.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    jobs: int = 0
    py4j: int = 0
    group: str = ""

    def as_dict(self, idx: int) -> dict:
        return {
            "id": idx,
            "name": self.name,
            "start": self.start,
            "end": self.end,
            "parent": self.parent,
            "op": self.op,
            "jobs": self.jobs,
            "py4j_calls": self.py4j,
        }


@dataclass
class Tracer:
    """In-memory span recorder bound to one SparkContext."""

    sc: object
    spans: list[Span] = field(default_factory=list)
    active: bool = False
    op: int | None = None
    _stack: list[int] = field(default_factory=list)
    _py4j: int = 0
    _internal: int = 0
    self_s: float = 0.0
    _patches: list[tuple[object, str, object]] = field(default_factory=list)

    # -- py4j -------------------------------------------------------------
    def install_py4j_counter(self) -> None:
        from py4j.java_gateway import GatewayClient

        orig = GatewayClient.send_command
        tracer = self

        @functools.wraps(orig)
        def send_command(client, *a, **kw):
            if tracer.active and not tracer._internal:
                tracer._py4j += 1
            return orig(client, *a, **kw)

        GatewayClient.send_command = send_command
        self._patches.append((GatewayClient, "send_command", orig))

    # -- job groups -------------------------------------------------------
    def _set_group(self, group: str | None) -> None:
        """Set the thread's job group; the py4j call is not counted."""
        self._internal += 1
        try:
            self.sc.setLocalProperty("spark.jobGroup.id", group)
        finally:
            self._internal -= 1

    # -- spans ------------------------------------------------------------
    def _open(self, name: str) -> int:
        t0 = time.perf_counter()
        idx = len(self.spans)
        group = f"pb:{self.op}:{idx}:{name}"
        self.spans.append(
            Span(
                name,
                time.time(),
                parent=self._stack[-1] if self._stack else None,
                op=self.op,
                py4j=self._py4j,
                group=group,
            )
        )
        self._stack.append(idx)
        self._set_group(group)
        self.self_s += time.perf_counter() - t0
        return idx

    def _close(self, idx: int) -> None:
        t0 = time.perf_counter()
        s = self.spans[idx]
        s.end = time.time()
        s.py4j = self._py4j - s.py4j
        self._stack.pop()
        self._set_group(self.spans[self._stack[-1]].group if self._stack else None)
        self.self_s += time.perf_counter() - t0

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        idx = self._open(name)
        try:
            yield
        finally:
            self._close(idx)

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (a class method or module function) with
        a span-recording wrapper; ``restore`` puts the original back."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            with tracer.span(name):
                return orig(*a, **kw)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- operations -------------------------------------------------------
    def begin_op(self, op_id: int) -> None:
        self.op = op_id
        self.active = True

    def end_op(self) -> None:
        self.active = False
        self.op = None

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.as_dict(i) for i, s in enumerate(self.spans)], f)


# -- event log ---------------------------------------------------------------

_ACC = {
    "internal.metrics.executorCpuTime": ("task_cpu_s", 1e-9),
    "internal.metrics.executorRunTime": ("executor_run_s", 1e-3),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1),
    "internal.metrics.memoryBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
}
STAGE_KEYS = (
    "stages",
    "tasks",
    "task_cpu_s",
    "executor_run_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


@dataclass
class JobRecord:
    group: str
    start_ms: int
    action: str
    end_ms: int = 0
    stages: list[int] = field(default_factory=list)


def parse_event_log(log_dir: str) -> tuple[dict[int, JobRecord], dict[int, dict]]:
    """(jobs by id, completed-stage metrics by stage id) from the single
    application log under ``log_dir`` (plain or rolling layout)."""
    jobs: dict[int, JobRecord] = {}
    stages: dict[int, dict] = {}
    paths = sorted(
        os.path.join(root, f)
        for root, _dirs, files in os.walk(log_dir)
        for f in files
        if not f.startswith(("appstatus", "."))
    )
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    execution = props.get("spark.sql.execution.id")
                    jobs[ev["Job ID"]] = JobRecord(
                        props.get("spark.jobGroup.id") or "",
                        ev["Submission Time"],
                        f"x{execution}" if execution else f"j{ev['Job ID']}",
                        stages=list(ev.get("Stage IDs", [])),
                    )
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    m = dict.fromkeys(STAGE_KEYS, 0.0)
                    m["stages"] = 1
                    m["tasks"] = info.get("Number of Tasks", 0)
                    for acc in info.get("Accumulables", []):
                        hit = _ACC.get(acc.get("Name"))
                        if hit is not None:
                            m[hit[0]] += float(acc.get("Value", 0)) * hit[1]
                    stages[info["Stage ID"]] = m
    return jobs, stages


def count_actions(spans: list[Span], jobs: dict[int, JobRecord]) -> None:
    """Set each span's ``jobs`` to the number of actions run inside it,
    its child spans included."""
    index = {s.group: i for i, s in enumerate(spans)}
    actions: list[set[str]] = [set() for _ in spans]
    for job in jobs.values():
        if job.group in index:
            actions[index[job.group]].add(job.action)
    # children open after their parent, so a reverse sweep folds them in
    for i in range(len(spans) - 1, -1, -1):
        spans[i].jobs = len(actions[i])
        if spans[i].parent is not None:
            actions[spans[i].parent] |= actions[i]


def op_of_group(group: str) -> int | None:
    """Operation id encoded in a tracer job group, or None."""
    if not group.startswith("pb:"):
        return None
    try:
        return int(group.split(":")[1])
    except (IndexError, ValueError):
        return None


def stage_metrics_by_op(
    jobs: dict[int, JobRecord], stages: dict[int, dict]
) -> dict[int, dict]:
    """Sum the stage metrics of each traced operation's jobs, plus its
    job count and job intervals (for the driver-gap split)."""
    out: dict[int, dict] = {}
    seen: set[int] = set()
    for _jid, job in sorted(jobs.items()):
        op = op_of_group(job.group)
        if op is None:
            continue
        agg = out.setdefault(
            op, {**dict.fromkeys(STAGE_KEYS, 0.0), "jobs": 0, "intervals": []}
        )
        agg["jobs"] += 1
        agg["intervals"].append((job.start_ms / 1e3, job.end_ms / 1e3))
        for sid in job.stages:
            if sid in stages and sid not in seen:
                seen.add(sid)
                for k in STAGE_KEYS:
                    agg[k] += stages[sid][k]
    return out


def uncovered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Part of [start, end] covered by no interval: the driver-side time
    of an operation that no Spark job accounts for."""
    covered = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return max(0.0, (end - start) - covered)
