"""Physical-plan audits: assert the plan you designed is the plan you got.

At 100 TB a silently-degraded plan (lost pushdown, shuffled dimension join,
Python in the row path) is the difference between minutes and days.  These
helpers inspect `.explain("formatted")` output so tests — and CI at deploy
scale — can pin the physical strategy, not just the results:

- `scan_info`: PushedFilters / ReadSchema per parquet scan (column pruning
  and predicate pushdown actually reached the source);
- `join_strategies`: BroadcastHashJoin vs SortMergeJoin vs BNL per join;
- `has_whole_stage_codegen`: the hot path stays in generated JVM code;
- `assert_*` wrappers for use in tests.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


@dataclass
class ScanInfo:
    location: str
    pushed_filters: str
    read_schema: str


def scan_info(df: DataFrame) -> list[ScanInfo]:
    plan = formatted_plan(df)
    scans = []
    for block in re.split(r"\n\(\d+\) ", plan):
        if not block.startswith("Scan parquet"):
            continue
        loc = re.search(r"Location: \S+ \[([^\]]*)\]", block)
        pushed = re.search(r"PushedFilters: \[([^\]]*)\]", block)
        schema = re.search(r"ReadSchema: (\S+)", block)
        scans.append(
            ScanInfo(
                location=loc.group(1) if loc else "",
                pushed_filters=pushed.group(1) if pushed else "",
                read_schema=schema.group(1) if schema else "",
            )
        )
    return scans


def join_strategies(df: DataFrame) -> list[str]:
    plan = formatted_plan(df)
    return re.findall(
        r"\b(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
        r"BroadcastNestedLoopJoin|CartesianProduct)\b",
        plan,
    )


def broadcast_build_subtrees(df: DataFrame) -> list[list[str]]:
    """The operator lines inside each BroadcastExchange subtree of the plan
    tree — i.e. what each broadcast actually builds over.  Lets tests
    distinguish a driver-bounded broadcast (LocalTableScan of a relation
    bounded by construction, e.g. the union-find labels of a graph at or
    below dedup.UNION_FIND_MAX_EDGES) from a corpus-sized one (subtree
    contains a parquet scan or a shuffle), which is the r10 rehearsal's
    bug class."""
    tree = formatted_plan(df).split("\n\n")[0].splitlines()

    def marker_pos(line: str) -> int:
        m = re.search(r"\+-|:-", line)
        return m.start() if m else -1

    subtrees: list[list[str]] = []
    for i, line in enumerate(tree):
        if "BroadcastExchange" not in line:
            continue
        pos = marker_pos(line)
        body: list[str] = []
        for child in tree[i + 1 :]:
            if marker_pos(child) <= pos:
                break
            body.append(child.strip())
        subtrees.append(body)
    return subtrees


def has_whole_stage_codegen(df: DataFrame) -> bool:
    """Execute this plan so AQE finalizes it, then check for codegen spans.
    (A sink write would spawn a fresh QueryExecution; collect() finalizes
    the one attached to ``df``.)"""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # codegen stages print as `*(n) Operator` in the simple plan string
    return bool(re.search(r"\*\(\d+\)", plan)) or "WholeStageCodegen" in plan


def assert_pushdown(df: DataFrame, table_substr: str, filter_substr: str) -> None:
    """Assert a filter reached the parquet scan of the given table."""
    for scan in scan_info(df):
        if table_substr in scan.location and filter_substr in scan.pushed_filters:
            return
    raise AssertionError(
        f"no scan of {table_substr!r} with pushed filter {filter_substr!r}; "
        f"scans: {scan_info(df)}"
    )


def assert_pruned_schema(df: DataFrame, table_substr: str, max_fields: int) -> None:
    """Assert column pruning: the scan reads at most ``max_fields`` columns."""
    for scan in scan_info(df):
        if table_substr in scan.location:
            n = scan.read_schema.count(":")
            if n <= max_fields:
                return
            raise AssertionError(
                f"scan of {table_substr!r} reads {n} fields (> {max_fields}): "
                f"{scan.read_schema}"
            )
    raise AssertionError(f"no scan of {table_substr!r} found")


def assert_no_cartesian(df: DataFrame) -> None:
    strategies = join_strategies(df)
    bad = [s for s in strategies if s in ("BroadcastNestedLoopJoin", "CartesianProduct")]
    if bad:
        raise AssertionError(f"cartesian-style join in plan: {strategies}")


def assert_broadcast_join(df: DataFrame) -> None:
    if "BroadcastHashJoin" not in join_strategies(df):
        raise AssertionError(f"expected a broadcast join, got: {join_strategies(df)}")
