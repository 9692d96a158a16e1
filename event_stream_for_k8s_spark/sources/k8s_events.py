"""Kubernetes Event source boundary: the one Event schema, parse and
projection every consumer uses.

The reference watches core/v1 Events cluster-wide (tasks.rs:150-182).
Per SURVEY.md §2 A1, k8s event COLLECTION stays out-of-band (an
off-cluster collector or ``K8sWatchSpooler`` writes NDJSON); the
engine's boundary is "a stream of Event JSON lines", parsed here once,
on the JVM, by ``from_json`` against ``K8S_EVENT_SCHEMA`` —
list-then-watch re-delivery on restart is absorbed by the dedup stage
exactly as the reference's sled state does.

The schema is the field set the reference touches and emits
(types.rs:10-58, tasks.rs:109-121), in emit order; everything
nullable, like the k8s OpenAPI model. Timestamps stay strings so the
emitted Event echoes what the apiserver sent; ``event_time`` casts
them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from event_stream_for_k8s_spark.operators.dedup import dedup_key


def _s(name: str, t=None) -> StructField:
    return StructField(name, t or StringType(), nullable=True)


def _struct(name: str, *fields: str) -> StructField:
    return _s(name, StructType([_s(f) for f in fields]))


K8S_EVENT_SCHEMA = StructType(
    [
        _struct(
            "metadata", "uid", "resourceVersion", "namespace",
            "creationTimestamp",
        ),
        _struct("involvedObject", "kind", "name", "namespace"),
        _s("type"),
        _s("reason"),
        _s("message"),
        _s("count", IntegerType()),
        _struct("source", "component"),
        _s("firstTimestamp"),
        _s("lastTimestamp"),
    ]
)


def parse_events(lines: DataFrame) -> DataFrame:
    """Event JSON lines (a ``value`` string column) -> one row per
    Event with its fields as top-level columns. A malformed line fails
    the query (FAILFAST) rather than becoming a null Event keyed
    ``:``."""
    ev = F.from_json("value", K8S_EVENT_SCHEMA, {"mode": "FAILFAST"})
    return lines.select(ev.alias("e")).select("e.*")


def read_events_jsonl(
    spark: SparkSession, path: str, streaming: bool = True
) -> DataFrame:
    reader = spark.readStream if streaming else spark.read
    # blank lines are skipped, as the k8s-events source skips them
    return parse_events(reader.text(path).where(F.trim("value") != ""))


def event_time(now_fallback: Column | None = None) -> Column:
    """A4 timestamp precedence (types.rs:40-51): last -> first ->
    creation -> now(). Checked queries pass a literal fallback instead
    of current_timestamp() for determinism."""
    return F.coalesce(
        F.col("lastTimestamp").cast("timestamp"),
        F.col("firstTimestamp").cast("timestamp"),
        F.col("metadata.creationTimestamp").cast("timestamp"),
        now_fallback if now_fallback is not None else F.current_timestamp(),
    )


def event_key() -> Column:
    """A5 dedup key: uid:resourceVersion, missing parts -> ''."""
    return dedup_key([F.col("metadata.uid"), F.col("metadata.resourceVersion")])


def event_struct() -> Column:
    """The emitted ``kubernetes_event`` (types.rs:10-18). ``metadata``
    and ``involvedObject`` are required in the k8s Event, so they are
    always emitted, as ``{}`` when absent; ``source`` only when its
    ``component`` is set. to_json drops the other null fields, like
    serde's Option-skipping."""

    def required(name: str) -> Column:
        fields = K8S_EVENT_SCHEMA[name].dataType.fieldNames()
        return F.struct(*(F.col(f"{name}.{f}").alias(f) for f in fields))

    return F.struct(
        required("metadata").alias("metadata"),
        required("involvedObject").alias("involvedObject"),
        "type",
        "reason",
        "message",
        "count",
        F.when(F.col("source.component").isNotNull(), F.col("source")).alias(
            "source"
        ),
        "firstTimestamp",
        "lastTimestamp",
    )

