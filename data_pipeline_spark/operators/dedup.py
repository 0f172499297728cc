"""Dedup / compaction / set operators (SURVEY.md §2.7).

Reference behaviors: exactly-once publish dedup by uuid
(_producer_retry.py:120-190), Kafka log compaction — latest message per
primary key (tools/compaction_setter.py:79-116), topic-set difference/union
on dynamic refresh (base_consumer.py:891-947), offset-commit dedup
(base_consumer.py:646-657).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_pipeline_spark.operators.joins import latest_per_key


def compaction_view(df: DataFrame, keys: Sequence[str], offset_col: str) -> DataFrame:
    """Log-compaction as a view: latest row per primary key by offset
    (compaction_setter.py:79-116 sets ``cleanup.policy=compact``; the engine
    equivalent is a latest-per-key materialization, SURVEY §2.7 D3)."""
    return latest_per_key(df, keys, [F.col(offset_col).desc()])


def set_difference(a: DataFrame, b: DataFrame) -> DataFrame:
    """`a EXCEPT b` — new_topics = refreshed − current (consumer.py:274-293)."""
    return a.subtract(b)
