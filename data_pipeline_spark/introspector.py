"""Catalog introspection (tools/introspector/main.py:28-49 list/info
commands): list namespaces / sources / topics, describe a topic — all as
DataFrames over the registry views plus live transport state (watermarks,
message counts) from the TopicStore."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_spark.registry import SchemaRegistry
from data_pipeline_spark.sources.file_topic import TopicStore


class Introspector:
    def __init__(
        self, spark: SparkSession, registry: SchemaRegistry, store: TopicStore | None = None
    ):
        self.spark = spark
        self.registry = registry
        self.store = store

    def _schemas(self) -> DataFrame:
        return self.registry.schemas_df(self.spark)

    def list_namespaces(self) -> DataFrame:
        return self._schemas().select("namespace").distinct().orderBy("namespace")

    def list_sources(self, namespace: str | None = None) -> DataFrame:
        df = self._schemas()
        if namespace:
            df = df.filter(F.col("namespace") == namespace)
        out = (
            df.groupBy("namespace", "source")
            .agg(
                F.count(F.lit(1)).alias("n_schemas"),
                F.max("created_at").alias("last_registered_at"),
            )
            .orderBy("namespace", "source")
        )
        # surface schema_ref-applied table metadata as catalog columns
        # (driver-side dict -> tiny broadcast dimension)
        meta_rows = [
            (ns, src, m.get("category"), m.get("owner_email"))
            for (ns, src), m in self.registry._source_meta.items()
        ]
        if meta_rows:
            meta = self.spark.createDataFrame(
                meta_rows,
                "namespace STRING, source STRING, category STRING, "
                "owner_email STRING",
            )
            out = out.join(F.broadcast(meta), ["namespace", "source"], "left")
        else:
            out = out.withColumn("category", F.lit(None).cast("string")) \
                     .withColumn("owner_email", F.lit(None).cast("string"))
        return out

    def list_topics(self, namespace: str | None = None) -> DataFrame:
        df = self._schemas()
        if namespace:
            df = df.filter(F.col("namespace") == namespace)
        return (
            df.groupBy("topic")
            .agg(
                F.max("schema_id").alias("latest_schema_id"),
                F.count(F.lit(1)).alias("n_schemas"),
                F.max("contains_pii").alias("contains_pii"),
            )
            .orderBy("topic")
        )

    def topic_info(self, topic: str, check_gap: bool = False) -> dict:
        latest = self.registry.latest_schema_for_topic(topic)
        if latest is None:
            raise KeyError(f"unknown topic {topic!r}")
        info = {
            "topic": topic,
            "namespace": latest.namespace,
            "source": latest.source,
            "latest_schema_id": latest.schema_id,
            "primary_keys": list(latest.primary_keys),
            "contains_pii": latest.contains_pii,
            "schema_json": latest.schema_json,
            # table-level documentation attached via schema_ref bulk specs
            # (schema_ref.apply_schema_ref) or set_source_metadata
            "source_meta": self.registry.get_source_metadata(
                latest.namespace, latest.source
            ),
            # per-field schema elements with docs/notes
            # (models/avro_schema_element.py:41)
            "elements": [
                {
                    "name": e.element_name,
                    "type": e.element_type,
                    "doc": e.doc,
                    "note": e.note,
                }
                for e in self.registry.get_schema_elements_by_schema_id(
                    latest.schema_id
                )
                if e.element_name is not None
            ],
        }
        if self.store is not None and self.store.exists(topic):
            highs = self.store.high_watermarks(topic)
            info["high_watermarks"] = highs
            # O(1) sidecar read: watermark positions are RESERVATIONS — an
            # upper bound on rows, exact unless a publisher crashed after
            # its reservation (a gap until the next publish lands the
            # staged files)
            info["reserved_count"] = sum(highs.values())
            info["message_count"] = info["reserved_count"]
            # callers that need exactness must pass check_gap=True; the
            # basis key makes the default's upper-bound semantics explicit
            # in the result itself rather than only in this comment
            info["message_count_basis"] = "reservations"
            if check_gap:
                # exact audit: O(topic size) scan — opt-in, because
                # introspect-all-topics tooling at 100 TB must stay on the
                # sidecar path.  A persistent nonzero gap is normal crash
                # debris; a growing one is a stuck producer.
                info["message_count"] = self.store.read(topic).count()
                info["message_count_basis"] = "scan"
                info["reserved_gap"] = (
                    info["reserved_count"] - info["message_count"]
                )
        return info
