#!/usr/bin/env python
"""Dump .explain("formatted") for every bench query to plans/<round>/.

Usage: python tools_gen_plans.py <round> before|after [name ...]
       (e.g. python tools_gen_plans.py r13 after)

Writes plans/<round>/<query>_<tag>.txt at the bench scale factor
($SPARK_GRAFT_SF_DIR, default /root/testdata/sf0.1) and prints a one-line
plan-shape summary per query (Exchange count, join strategies, Python-eval
nodes, pushed-filter presence) so plan regressions/diffs are greppable.
"""

from __future__ import annotations

import os
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import data_pipeline_spark.queries_llm  # noqa: E402,F401
import data_pipeline_spark.queries_pipeline  # noqa: E402,F401
import data_pipeline_spark.queries_tpch  # noqa: E402,F401
from data_pipeline_spark.plans.audit import formatted_plan  # noqa: E402
from data_pipeline_spark.queries import QUERIES  # noqa: E402
from data_pipeline_spark.session import get_spark  # noqa: E402

from bench import BENCH_QUERIES  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def summarize(plan: str) -> str:
    n_ex = len(re.findall(r"\bExchange\b", plan))
    joins = sorted(
        set(
            re.findall(
                r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
                r"BroadcastNestedLoopJoin|CartesianProduct)",
                plan,
            )
        )
    )
    py = sorted(
        set(
            re.findall(
                r"(BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow|"
                r"FlatMapGroupsInPandas)",
                plan,
            )
        )
    )
    pushed = "PushedFilters: [" in plan and not re.search(
        r"PushedFilters: \[\]", plan
    )
    return (
        f"ex={n_ex} joins={','.join(joins) or '-'} "
        f"py={','.join(py) or '-'} pushed={'y' if pushed else 'n'}"
    )


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    rnd = sys.argv[1]
    tag = sys.argv[2] if len(sys.argv) > 2 else "before"
    names = sys.argv[3:] or [n for n in BENCH_QUERIES if n in QUERIES]
    outdir = Path(__file__).resolve().parent / "plans" / rnd
    outdir.mkdir(parents=True, exist_ok=True)
    spark = get_spark(f"plans_{rnd}")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        try:
            df = QUERIES[name].spark(spark, SF_DIR)
            plan = formatted_plan(df)
        except Exception as e:  # noqa: BLE001 - survey must not abort
            plan = f"ERROR generating plan: {e!r}"
        (outdir / f"{name}_{tag}.txt").write_text(plan + "\n")
        print(f"{name:40s} {summarize(plan)}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
