"""Seeded end-to-end and per-layer benchmark of data_pipeline_spark.

Run ``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root; the last stdout line is the JSON
result.  Workloads, metrics and bounds are declared in ``BENCHMARK.json``.
"""
