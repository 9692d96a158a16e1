"""Kafka transport for the k8s event stream (SURVEY.md §2 A1/A7).

The reference's boundary is "a stream of Event JSON" (k8s watch in,
NDJSON out, ``src/tasks.rs:150-182`` / ``:105``). At production scale
the transport between the out-of-band collector and Spark is Kafka;
this module wires that path with the reference's admission constants:

- ``maxOffsetsPerTrigger = 1024`` mirrors the bounded mpsc channel +
  ``recv_many(.., 1024)`` micro-batch (``src/main.rs:61``,
  ``src/tasks.rs:76``): bounded per-trigger admission is the
  backpressure story at 100 TB/day (no unbounded batch 0 after a
  checkpoint gap);
- ``minPartitions`` decouples Spark read-parallelism from the topic's
  partition count, the knob that keeps 1000 executors busy on a
  32-partition topic.

Neither a broker nor the ``spark-sql-kafka-0-10`` connector jars ship
in this image, so every builder is import/availability-guarded:
``kafka_available()`` probes for the connector class, and
``event_stream()`` transparently falls back to the file transport
(``spark.readStream.json``) with identical downstream schema — the
pipeline code is transport-agnostic either way.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from event_stream_for_k8s_spark.sources.roundtrip import (
    EVENTS_MICROS_SCHEMA,
    restore_ts,
)

REFERENCE_BATCH_CAP = 1024  # src/main.rs:61, src/tasks.rs:76

log = logging.getLogger(__name__)

# The loud-failure contract for a forced kafka transport without the
# connector on the classpath (tests match on this prefix): production
# deployments must never silently switch transports.
KAFKA_UNAVAILABLE_MSG = (
    "kafka transport requested but the spark-sql-kafka-0-10 connector "
    "is not on the classpath; add the connector jars "
    "(--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<ver>) or "
    "pass transport='files' explicitly to use the NDJSON file transport"
)


def kafka_available(spark: SparkSession) -> bool:
    """True iff the Kafka connector's provider class is on the
    classpath (it is not bundled with a plain pyspark install)."""
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
        return True
    except Exception:  # noqa: BLE001 - Py4J raises its own hierarchy
        return False


def kafka_reader_options(
    brokers: str,
    topic: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int = REFERENCE_BATCH_CAP,
    min_partitions: int | None = None,
) -> dict[str, str]:
    """The read-side option contract, as a pure dict so it is testable
    without a broker or the connector jars (this image has neither and
    no network to vendor them — see ROADMAP 'Environment-blocked').
    ``maxOffsetsPerTrigger`` defaults to the reference's 1024 batch
    cap; ``failOnDataLoss=false`` is the at-least-once A7 stance."""
    opts = {
        "kafka.bootstrap.servers": brokers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
        "maxOffsetsPerTrigger": str(max_offsets_per_trigger),
        "failOnDataLoss": "false",  # at-least-once, like A7
    }
    if min_partitions is not None:
        opts["minPartitions"] = str(min_partitions)
    return opts


def read_kafka_events(
    spark: SparkSession,
    brokers: str,
    topic: str,
    **opts,
) -> DataFrame:
    """Streaming read of NDJSON event payloads from a Kafka topic,
    parsed to ``EVENTS_MICROS_SCHEMA`` rows. Requires the connector
    (``kafka_available``); raises Spark's data-source-not-found
    AnalysisException otherwise."""
    reader = spark.readStream.format("kafka").options(
        **kafka_reader_options(brokers, topic, **opts)
    )
    raw = reader.load()
    parsed = raw.select(
        F.from_json(
            F.col("value").cast("string"), EVENTS_MICROS_SCHEMA
        ).alias("e")
    ).select("e.*")
    return restore_ts(parsed)


def event_stream(
    spark: SparkSession,
    *,
    transport: str = "auto",
    brokers: str | None = None,
    topic: str | None = None,
    path: str | None = None,
    **kafka_opts,
) -> DataFrame:
    """Transport-agnostic event stream: ``kafka`` when the connector
    is present (or forced), else the file transport over ``path``.
    Downstream schema is identical, so pipelines don't branch.

    Failure contract: ``transport="kafka"`` (forced, the production
    mode) with no connector raises ``RuntimeError`` with
    ``KAFKA_UNAVAILABLE_MSG`` — it never silently switches transports.
    Only ``transport="auto"`` falls back, and it logs a warning when
    brokers were configured but the connector is absent."""
    if transport == "auto":
        if brokers is not None and kafka_available(spark):
            transport = "kafka"
        else:
            if brokers is not None:
                log.warning(
                    "event_stream(auto): brokers configured but the "
                    "kafka connector is absent — falling back to the "
                    "file transport over %s",
                    path,
                )
            transport = "files"
    if transport == "kafka":
        if brokers is None or topic is None:
            raise ValueError("kafka transport needs brokers and topic")
        if not kafka_available(spark):
            raise RuntimeError(KAFKA_UNAVAILABLE_MSG)
        return read_kafka_events(spark, brokers, topic, **kafka_opts)
    if transport == "files":
        if path is None:
            raise ValueError("file transport needs path")
        return restore_ts(
            spark.readStream.schema(EVENTS_MICROS_SCHEMA).json(path)
        )
    raise ValueError(f"unknown transport: {transport}")
