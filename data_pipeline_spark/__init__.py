"""data_pipeline_spark — a PySpark-native rebuild of the capabilities of
Yelp/data_pipeline (reference at /root/reference, studied for behavior only).

The reference is the client library of a Kafka-based CDC message pipeline
(Avro envelopes on topics, an external schema registry, publish/tail/refresh
tools).  This package re-expresses that surface Spark-first:

- ``session``      — tuned SparkSession factory (AQE, Arrow, UTC).
- ``io``           — parquet table loaders for the test corpus.
- ``envelope``     — the versioned wire envelope as a StructType, packed and
                     unpacked by Arrow-batched pandas UDFs over a pure-
                     Python Avro binary codec (``avro_codec``, with the
                     vectorized ``wire_np`` kernels on the common path).
- ``registry``     — the Schematizer analogue: namespaces/sources/topics/
                     schemas as small catalog tables + an in-engine API.
- ``sources``      — file-backed topic transport (Kafka drop-in layout:
                     partition / offset / key / value), JDBC-style pk-range
                     refresh scans, binlog text source.
- ``operators``    — the relational operator inventory from SURVEY.md §2:
                     joins (broadcast / latest-per-key / range / anti),
                     aggregates (tumbling windows, monitoring counts),
                     dedup/compaction, top-k and ordered batching.
- ``functions``    — scalar surface: payload diff, ISO-time display, PII
                     redaction, namespace codec, JSON serialization.
- ``streaming``    — Structured Streaming paths: monitor windows with
                     late-window flush, heartbeats, position tracking.
- ``llmops``       — LLM-data-pipeline operators (north star): exact and
                     fuzzy dedup (MinHash-LSH, SimHash, n-gram Jaccard,
                     embedding cosine), similarity search, text analysis,
                     multimodal column plumbing.

Everything is DataFrame-declarative so Catalyst keeps predicate pushdown,
column pruning and whole-stage codegen; Python UDFs appear only at the Avro
wire boundary (Arrow-batched) and in clearly-marked multimodal stubs.
"""

__version__ = "0.1.0"

import os as _os

# Executor Python workers re-import this package by name when unpickling UDF
# closures (envelope codec, multimodal).  Exporting the package parent on
# PYTHONPATH before the first worker launches makes that import work no
# matter which directory the driver process started in.
_pkg_parent = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
_pp = _os.environ.get("PYTHONPATH", "")
if _pkg_parent not in _pp.split(_os.pathsep):
    _os.environ["PYTHONPATH"] = (
        _pkg_parent + (_os.pathsep + _pp if _pp else "")
    )
del _os, _pkg_parent, _pp
