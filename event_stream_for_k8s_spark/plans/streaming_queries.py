"""Streaming operators — SURVEY.md §2 B.9.

Each query materializes a deterministic NDJSON input, runs a real
Structured Streaming query to completion (AvailableNow), and returns
the resulting batch DataFrame. Multi-batch scenarios use
``maxFilesPerTrigger=1`` with mtime-ordered files so micro-batch
boundaries (and therefore watermark advancement) are reproducible —
that determinism is what lets even watermark semantics oracle-check.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.readwriter import DataStreamWriter

from event_stream_for_k8s_spark.plans.registry import query
from event_stream_for_k8s_spark.sources.roundtrip import (
    EVENTS_MICROS_SCHEMA,
    cache_dir,
    events_as_micros,
    load,
    materialize,
    restore_ts,
)
from event_stream_for_k8s_spark.streaming.dedup_pipeline import (
    batch_metrics,
    dedup_within_ttl,
)

SIX_H_US = 6 * 3600 * 1_000_000


def _events_src(spark: SparkSession, sf_dir: str, doubled: bool = False) -> str:
    """events as one NDJSON file; ``doubled`` delivers every row twice
    (the redelivery stream the dedup and metrics queries consume)."""
    def build(out: str) -> None:
        df = events_as_micros(spark, sf_dir)
        if doubled:
            df = df.unionAll(events_as_micros(spark, sf_dir))
        df.coalesce(1).write.mode("overwrite").json(out)

    kind = "events_doubled_json" if doubled else "events_stream1_json"
    return materialize(spark, sf_dir, kind, build)


def _events_stream(
    spark: SparkSession, sf_dir: str, doubled: bool = False
) -> DataFrame:
    """``_events_src`` as a stream on a fresh ``_streaming_session``."""
    src = _events_src(spark, sf_dir, doubled)
    return _stream(_streaming_session(spark), src)


def _write_batches(out: str, frames: list[DataFrame]) -> None:
    """Write frame ``i`` as the single file ``batch_<i>.json``, mtimes
    ascending a minute apart: a ``maxFilesPerTrigger=1`` stream then
    replays the frames in order, one micro-batch each."""
    os.makedirs(out, exist_ok=True)
    for i, df in enumerate(frames):
        stage = os.path.join(out, f"p{i}")
        df.coalesce(1).write.mode("overwrite").json(stage)
        (part,) = glob.glob(os.path.join(stage, "part-*.json"))
        dst = os.path.join(out, f"batch_{i}.json")
        shutil.move(part, dst)
        shutil.rmtree(stage)
        t = time.time() - 300 + i * 60
        os.utime(dst, (t, t))


def _max_ts_us(base: DataFrame) -> DataFrame:
    # one-row broadcast scalar, never collected to the driver; the
    # coalesce is the epoch fallback — max(ts) is NULL on an empty
    # table and the sentinel arithmetic must stay total (the sentinels
    # are synthetic watermark fuel either way) — tests/test_empty_inputs.py
    return base.agg(
        F.coalesce(F.max("ts_us"), F.lit(0).cast("long")).alias("_mx")
    )


def _sentinel(mx: DataFrame, i: int, hours: int, user_id: int) -> DataFrame:
    """One synthetic ``sentinel`` event ``hours`` past ``_max_ts_us``."""
    return mx.select(
        F.lit(10**9 + i).cast("long").alias("event_id"),
        (F.col("_mx") + F.lit(hours * 3600 * 1_000_000)).alias("ts_us"),
        F.lit(user_id).cast("long").alias("user_id"),
        F.lit("sentinel").alias("event_type"),
        F.lit(0.0).alias("value"),
        F.lit("{}").alias("props"),
    )


def _stream(spark: SparkSession, src: str, **options) -> DataFrame:
    reader = spark.readStream.schema(EVENTS_MICROS_SCHEMA).options(**options)
    return restore_ts(reader.json(src))


def _streaming_session(
    spark: SparkSession, state_partitions: int = 8
) -> SparkSession:
    """Cloned session (shared SparkContext, OWN SQLConf/temp views)
    for one streaming run.

    ``state_partitions`` pins ``spark.sql.shuffle.partitions`` on the
    CLONE only: a streaming query freezes its state-store partition
    count at first start, and every micro-batch then pays a
    per-partition-per-store snapshot/commit cost regardless of data
    volume. At test scale that fixed cost dominates (a stream-stream
    join at 32 partitions is ~4.5x slower than at 8 on identical
    data), so queries here run with a small state layout; on a real
    cluster the right value is sized to keyspace x volume. Cloning
    instead of mutate-and-restore on the shared session means a
    concurrent query on the same SparkSession can never observe the
    pinned value (VERDICT r03 "What's wrong" #1).

    Lifecycle note: the clone (and its memory-sink table holding the
    query RESULT) stays referenced until the caller releases the
    returned DataFrame — at fixture scale results are small and the
    harnesses collect immediately, so a few MB per streaming run is
    the steady state of a sweep; a service embedding these queries
    should reuse one clone per layout instead of one per call.

    ``SPARK_GRAFT_STATESTORE_PROVIDER`` (env) pins the state-store
    provider class on the clone — the 100 TB posture is config, not
    code: export the RocksDB provider and every registered streaming
    query runs its keyed state against RocksDB unchanged
    (tests/test_rocksdb_posture.py pins exactly that, oracle-checked).
    ``SPARK_GRAFT_STATE_PARTITIONS`` (env) overrides the test-scale
    state layout the same way — the sf10 soak measured the 8-partition
    pin as the dominant cost of a 10M-key dedup (each partition owns
    1.25M keys) and 64 as the right layout at that keyspace; see
    BASELINE.md round-12.
    """
    clone = spark.newSession()
    env_parts = os.environ.get("SPARK_GRAFT_STATE_PARTITIONS")
    if env_parts:
        clone.conf.set("spark.sql.shuffle.partitions", env_parts)
    elif state_partitions is not None:
        clone.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    provider = os.environ.get("SPARK_GRAFT_STATESTORE_PROVIDER")
    if provider:
        clone.conf.set(
            "spark.sql.streaming.stateStore.providerClass", provider
        )
    clone._esk_parent = spark  # for _restore_parent after the run
    return clone


def _restore_parent(session: SparkSession) -> None:
    """Re-activate the parent session after a clone-session run.

    Starting a streaming query on a clone leaves the clone as the JVM
    thread's ACTIVE session; later data-source lookups on this thread
    (e.g. a Python DataSource registered on the parent, like
    arrow-ipc) would then resolve against the clone's empty registry —
    observed on Spark 4.1 as DATA_SOURCE_NOT_FOUND. Pointing the
    active session back at the parent restores thread-neutral
    behavior for everything that runs after a streaming query.
    PySpark keeps its own copy of the active session, which
    ``getActiveSession()`` returns and ``createDataFrame`` on the clone
    overwrites; it is pointed back at the parent too.
    """
    parent = getattr(session, "_esk_parent", None)
    if parent is None:
        return
    SparkSession._activeSession = parent
    jvm = parent._jvm
    # py4j returns a silent JavaPackage for a missing class, so probe
    # by CALLING (Spark 4 moved the class to .classic); the second
    # path covers older layouts.
    for jcls in (
        jvm.org.apache.spark.sql.classic.SparkSession,
        jvm.org.apache.spark.sql.SparkSession,
    ):
        try:
            jcls.setActiveSession(parent._jsparkSession)
            return
        except Exception:
            continue


def _run(writer: DataStreamWriter, session: SparkSession) -> None:
    """Run ``writer``'s query to completion (AvailableNow) on the
    ``_streaming_session`` clone ``session``."""
    try:
        writer.trigger(availableNow=True).start().awaitTermination()
    finally:
        # ALWAYS re-activate the parent — a failed run would otherwise
        # leave the clone active and poison later data-source lookups
        _restore_parent(session)


def _run_to_memory(df: DataFrame, mode: str = "append") -> DataFrame:
    """Run to completion into a memory sink; return the sink table.

    The memory sink's temp view lives in ``df``'s OWN session (the
    `_streaming_session` clone), so the result must be read back from
    there — returning it keeps callers session-correct by construction.
    """
    name = f"mem_{uuid.uuid4().hex}"
    writer = df.writeStream.format("memory").queryName(name).outputMode(mode)
    _run(writer, df.sparkSession)
    return df.sparkSession.table(name)


def _run_foreach_batch(df: DataFrame, fn, **options) -> None:
    """Run ``df`` to completion through ``foreachBatch(fn)``."""
    _run(df.writeStream.foreachBatch(fn).options(**options), df.sparkSession)


@query(
    "stream_dedup_ttl",
    oracle="SELECT DISTINCT event_id, ts, user_id, event_type, value"
    " FROM events",
    section="B.9",
    notes="the flagship streaming pipeline: every key delivered twice, "
    "watermark-TTL dedup emits each exactly once. DISTINCT, not "
    "SELECT *: if the source table itself carries a redelivered "
    "duplicate row (a data property), the dedup collapses it too",
)
def stream_dedup_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _events_stream(spark, sf_dir, doubled=True).withColumn(
        "dedup_key", F.col("event_id").cast("string")
    )
    deduped = dedup_within_ttl(
        stream, key_col="dedup_key", time_col="ts", ttl_seconds=3600
    )
    return _run_to_memory(
        deduped.select("event_id", "ts", "user_id", "event_type", "value")
    )


@query(
    "stream_tumbling",
    oracle=f"""
SELECT make_timestamp((epoch_us(ts) // {SIX_H_US}) * {SIX_H_US}) AS wstart,
       event_type AS etype, count(*) AS n
FROM events GROUP BY 1, 2
""",
    section="B.9",
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = (
        _events_stream(spark, sf_dir)
        .groupBy(F.window("ts", "6 hours"), F.col("event_type").alias("etype"))
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("wstart"), "etype", "n")
    )
    return _run_to_memory(agg, mode="complete")


@query(
    "stream_sliding",
    oracle=f"""
WITH b AS (
  SELECT make_timestamp((epoch_us(ts) // {SIX_H_US}) * {SIX_H_US}) AS w0, *
  FROM events
), assigned AS (
  SELECT w0 AS wstart, event_type FROM b
  UNION ALL
  SELECT w0 - INTERVAL 6 HOUR AS wstart, event_type FROM b
)
SELECT wstart, event_type AS etype, count(*) AS n
FROM assigned GROUP BY 1, 2
""",
    section="B.9",
    notes="12h window sliding by 6h: every event lands in exactly two "
    "windows (the two 6h-aligned starts covering it)",
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = (
        _events_stream(spark, sf_dir)
        .groupBy(
            F.window("ts", "12 hours", "6 hours"),
            F.col("event_type").alias("etype"),
        )
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("wstart"), "etype", "n")
    )
    return _run_to_memory(agg, mode="complete")


@query(
    "stream_session",
    oracle="""
WITH ordered AS (
  SELECT user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
), marked AS (
  SELECT user_id, ts,
         CASE WHEN prev_ts IS NULL
                   OR ts - prev_ts > INTERVAL 30 MINUTE THEN 1 ELSE 0 END
           AS new_session
  FROM ordered
), islands AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT user_id, min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS n_events
FROM islands GROUP BY user_id, sid
""",
    section="B.9",
    notes="session_window(gap=30m); oracle is the gaps-and-islands "
    "formulation — session_end = last event + gap, Spark's definition",
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "1 second")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )
    return _run_to_memory(agg, mode="complete")


def _three_phase_src(spark: SparkSession, sf_dir: str, third: str) -> str:
    """Three mtime-ordered files = three micro-batches:
      batch 0: all events (on time);
      batch 1: one sentinel row at max_ts + 10h (advances the watermark
               — which Spark propagates with one extra batch of lag);
      batch 2: re-delivery of EVERY event — ``third='fresh'`` stamps
               them max_ts + 12h (same key, new event time: the
               reference's TTL re-delivery), ``third='late'`` keeps the
               original (late) event times.
    """
    def build(out: str) -> None:
        base = events_as_micros(spark, sf_dir)
        mxdf = _max_ts_us(base)
        redelivery = (
            base.crossJoin(F.broadcast(mxdf))
            .withColumn("ts_us", F.col("_mx") + F.lit(12 * 3600 * 1_000_000))
            .drop("_mx")
            if third == "fresh"
            else base
        )
        _write_batches(out, [base, _sentinel(mxdf, 0, 10, 0), redelivery])

    return materialize(spark, sf_dir, f"events_threephase_{third}", build)


@query(
    "stream_watermark",
    oracle="""
SELECT DISTINCT event_id, ts, event_type FROM events
UNION ALL
SELECT cast(1000000000 AS bigint) AS event_id,
       (SELECT max(ts) + INTERVAL 10 HOUR FROM events) AS ts,
       'sentinel' AS event_type
UNION ALL
SELECT DISTINCT event_id,
       (SELECT max(ts) + INTERVAL 12 HOUR FROM events) AS ts,
       event_type
FROM events
WHERE ts + INTERVAL 1 HOUR < (SELECT max(ts) - INTERVAL 1 HOUR FROM events)
""",
    section="B.9",
    notes="TTL re-emission (SURVEY.md §3.4.3): a key re-delivered with "
    "a fresh event time re-emits iff its dedup state expired — "
    "eviction fires when first_seen_ts + delay < watermark, and the "
    "watermark at batch N reflects data through batch N-2 (measured "
    "on this Spark; the oracle encodes exactly that contract)",
)
def stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _three_phase_src(spark, sf_dir, "fresh")
    stream = _stream(
        _streaming_session(spark), src, maxFilesPerTrigger=1
    ).withColumn("dedup_key", F.col("event_id").cast("string"))
    deduped = dedup_within_ttl(
        stream, key_col="dedup_key", time_col="ts", ttl_seconds=3600
    )
    return _run_to_memory(deduped.select("event_id", "ts", "event_type"))


@query(
    "stream_late_drop",
    oracle=f"""
WITH counts AS (
  SELECT make_timestamp((epoch_us(ts) // {SIX_H_US}) * {SIX_H_US}) AS wstart,
         count(*) AS n
  FROM events GROUP BY 1
)
SELECT wstart,
       cast(CASE WHEN wstart + INTERVAL 6 HOUR
                      > (SELECT max(ts) - INTERVAL 1 HOUR FROM events)
                 THEN n * 2 ELSE n END AS bigint) AS n
FROM counts
""",
    section="B.9",
    notes="append-mode windowed count over on-time + late re-delivery: "
    "late rows are dropped EXCEPT those within the 1h allowed lateness "
    "of the max event time (their window is still open), which is "
    "precisely the watermark contract; the sentinel's own window stays "
    "pending and is never emitted",
)
def stream_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _three_phase_src(spark, sf_dir, "late")
    agg = (
        _stream(_streaming_session(spark), src, maxFilesPerTrigger=1)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "6 hours"))
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("wstart"), "n")
    )
    return _run_to_memory(agg)


@query(
    "stream_stateful_custom",
    oracle="""
SELECT user_id, count(*) AS n_events,
       cast(sum(cast(round(value * 100) AS bigint)) AS double) / 100.0
         AS total_value
FROM events GROUP BY user_id
""",
    section="B.9",
    notes="arbitrary keyed state via applyInPandasWithState (the "
    "escape hatch for exact wall-clock-TTL parity, SURVEY.md §3.4.4)",
)
def stream_stateful_custom(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def count_state(key, pdfs, state: GroupState):
        import pandas as pd

        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            cents += int(pdf["value"].mul(100).round().astype("int64").sum())
        state.update((n, cents))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [cents / 100.0],
            }
        )

    out = (
        _events_stream(spark, sf_dir)
        .groupBy("user_id")
        .applyInPandasWithState(
            count_state,
            outputStructType="user_id bigint, n_events bigint, total_value double",
            stateStructType="n bigint, cents bigint",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return _run_to_memory(out, mode="update")


@query(
    "stream_foreach_metrics",
    oracle="""
SELECT cast(count(*) * 2 AS bigint) AS total,
       cast(count(DISTINCT (event_id, ts, user_id, event_type, value))
            AS bigint) AS misses,
       cast(count(*) * 2
            - count(DISTINCT (event_id, ts, user_id, event_type, value))
            AS bigint) AS hits
FROM events
""",
    section="B.9",
    notes="A9 invariant hits + misses == total over a doubled stream, "
    "computed inside foreachBatch (pre-dedup placement, "
    "tasks.rs:92-94). Misses count DISTINCT rows so an in-table "
    "redelivered duplicate scores as a hit, exactly like the engine",
)
def stream_foreach_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _events_stream(spark, sf_dir, doubled=True).withColumn(
        "dedup_key", F.col("event_id").cast("string")
    )
    collected: list[dict[str, int]] = []
    _run_foreach_batch(
        stream, lambda b, _: collected.append(batch_metrics(b, "dedup_key"))
    )
    total = sum(m["total"] for m in collected)
    misses = sum(m["misses"] for m in collected)
    return spark.createDataFrame(
        [(total, misses, total - misses)], "total bigint, misses bigint, hits bigint"
    )


@query(
    "stream_static_join",
    oracle="""
SELECT e.event_id, e.user_id, e.event_type, s.severity
FROM events e
JOIN (VALUES ('click', 0), ('view', 0), ('signup', 0),
             ('purchase', 1), ('error', 2)) AS s(event_type, severity)
  ON e.event_type = s.event_type
""",
    section="B.9",
    notes="stream-static enrichment join: the static side is planned "
    "as a broadcast against every micro-batch — no stream-side "
    "shuffle, no state; the pattern for dimension lookups at 100 TB/day",
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _events_stream(spark, sf_dir)
    dim = stream.sparkSession.createDataFrame(
        [("click", 0), ("view", 0), ("signup", 0), ("purchase", 1),
         ("error", 2)],
        "event_type string, severity int",
    )
    joined = (
        stream.join(F.broadcast(dim), "event_type")
        .select("event_id", "user_id", "event_type", "severity")
    )
    return _run_to_memory(joined)


@query(
    "stream_stream_join",
    oracle="""
SELECT a.event_id AS id_a, b.event_id AS id_b, a.user_id
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
 AND a.event_id < b.event_id
""",
    section="B.9",
    notes="stream-stream inner join (same-user event pairs within 1h): "
    "both sides watermarked and the join time-bounded, so each side's "
    "buffered state is evicted once the other side's watermark passes "
    "the bound — bounded state, the only way a 100 TB/day self-join "
    "survives",
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _events_src(spark, sf_dir)
    ss = _streaming_session(spark)
    left = (
        _stream(ss, src)
        .select(
            F.col("event_id").alias("id_a"),
            "user_id",
            F.col("ts").alias("ts_a"),
        )
        .withWatermark("ts_a", "2 hours")
    )
    right = (
        _stream(ss, src)
        .select(
            F.col("event_id").alias("id_b"),
            F.col("user_id").alias("user_b"),
            F.col("ts").alias("ts_b"),
        )
        .withWatermark("ts_b", "2 hours")
    )
    joined = left.join(
        right,
        (F.col("user_id") == F.col("user_b"))
        & (F.col("ts_b") >= F.col("ts_a"))
        & (F.col("ts_b") <= F.col("ts_a") + F.expr("INTERVAL 1 HOUR"))
        & (F.col("id_a") < F.col("id_b")),
    ).select("id_a", "id_b", "user_id")
    return _run_to_memory(joined)


def _sentinel_src(spark: SparkSession, sf_dir: str) -> str:
    """events split into three CHRONOLOGICAL files + three sentinel files
    at max_ts+10/11/12h, all mtime-ordered.

    The chronological split matters for cost, not correctness: one
    monolithic batch would hold the whole table in join state with no
    eviction (watermark only advances BETWEEN batches), so stream-
    stream joins over it degenerate to an all-in-memory nested probe.
    Time-ordered batches march the watermark during replay and state
    is evicted progressively — the shape a real stream has. No match
    is lost: files are time-disjoint and ascending, so a row's join
    window is provably closed before its partners could ever arrive
    late. The sentinels (the watermark at batch N reflects data
    through batch N-2 on this Spark, and AvailableNow appends a final
    empty flush batch) push the watermark past every REAL window at
    the end; their own windows stay open so they never emit."""
    def build(out: str) -> None:
        base = events_as_micros(spark, sf_dir)
        mxdf = _max_ts_us(base)
        nt = F.ntile(3).over(Window.orderBy("ts_us", "event_id"))
        sliced = base.withColumn("_slice", nt)
        frames = [
            sliced.filter(F.col("_slice") == i + 1).drop("_slice")
            for i in range(3)
        ]
        # distinct NEGATIVE user ids: sentinels can never join with
        # real events or each other, so they are pure watermark fuel
        frames += [
            _sentinel(mxdf, i, hours, -(i + 1))
            for i, hours in enumerate((10, 11, 12))
        ]
        _write_batches(out, frames)

    return materialize(spark, sf_dir, "events_sentinel3c", build)


def _sentinel_join(spark: SparkSession, sf_dir: str, how: str) -> DataFrame:
    """Every event (left: ``id_a``, ``user_id``, ``ts_a``) joined
    ``how`` to purchases (right: ``id_b``, ``user_b``, ``ts_b``) of
    the same user within the hour after, over the ``_sentinel_src``
    replay, both sides watermarked 1h.

    2 state partitions (set on the clone): a stream-stream join keeps
    FOUR state stores per partition and this replays 6 mtime-ordered
    files plus no-data flush batches, so the per-batch per-store
    commit cost dominates at test scale (measured sf0.1 warm: 7.7 s
    @ 8, 6.4 s @ 4, 5.8 s @ 2). On a cluster, size to keyspace x
    volume."""
    src = _sentinel_src(spark, sf_dir)
    ss = _streaming_session(spark, state_partitions=2)
    left = (
        _stream(ss, src, maxFilesPerTrigger=1)
        .select(
            F.col("event_id").alias("id_a"),
            "user_id",
            F.col("ts").alias("ts_a"),
        )
        .withWatermark("ts_a", "1 hour")
    )
    # The right-side reduction must NOT drop the sentinels: Catalyst
    # pushes single-side predicates (even ones inferred from the join
    # condition) below the watermark node into the scan, so a plain
    # purchase-only filter would freeze right's watermark (global
    # watermark = min(left, right)) and no outer-null row would ever
    # emit. Sentinels therefore PASS the filter — they are unmatchable
    # by construction (negative user ids) and their own join windows
    # never close, so they are watermark fuel and nothing else.
    right = (
        _stream(ss, src, maxFilesPerTrigger=1)
        .filter(F.col("event_type").isin("purchase", "sentinel"))
        .select(
            F.col("event_id").alias("id_b"),
            F.col("user_id").alias("user_b"),
            F.col("ts").alias("ts_b"),
        )
        .withWatermark("ts_b", "1 hour")
    )
    # No event-type conjunct in the join condition either: Catalyst
    # would infer it as a right-side-only predicate and push it into
    # the scan below the watermark, purchase-only again. The isin
    # filter above already reduces the right side, and sentinels are
    # unmatchable, so the join needs no type predicate at all.
    return left.join(
        right,
        (F.col("user_id") == F.col("user_b"))
        & (F.col("ts_b") >= F.col("ts_a"))
        & (F.col("ts_b") <= F.col("ts_a") + F.expr("INTERVAL 1 HOUR"))
        & (F.col("id_b") != F.col("id_a")),
        how,
    )


@query(
    "stream_outer_join",
    oracle="""
SELECT a.event_id AS id_a, b.event_id AS id_b, a.user_id
FROM events a LEFT JOIN events b
  ON b.user_id = a.user_id AND b.event_type = 'purchase'
 AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
 AND b.event_id <> a.event_id
""",
    section="B.9",
    notes="left-OUTER stream-stream join: matches emit as they arrive; "
    "an unmatched left row emits its null-padded row only once the "
    "right watermark proves no match can still come — sentinel batches "
    "advance the watermark past every real join window, so the result "
    "is the deterministic batch left join (sentinels' own windows stay "
    "open; they never emit)",
)
def stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_to_memory(
        _sentinel_join(spark, sf_dir, "left_outer").select(
            "id_a", "id_b", "user_id"
        )
    )


@query(
    "stream_topk",
    oracle="""
SELECT user_id,
       cast(sum(cast(round(value * 100) AS bigint)) AS double) / 100.0
         AS total_value,
       count(*) AS n_events
FROM events GROUP BY user_id
ORDER BY total_value DESC, user_id LIMIT 10
""",
    section="B.9",
    notes="streaming top-k: complete-mode aggregation + sort + limit "
    "-- the 'current leaderboard' every metrics consumer of the "
    "reference's counter stream (A8) eventually asks for. Spark "
    "permits ORDER BY + LIMIT only in complete mode (the result is "
    "recomputed per batch from running state); ties broken by "
    "user_id and sums scaled-int so the final batch hash-matches "
    "the batch oracle exactly",
)
def stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = (
        _events_stream(spark, sf_dir)
        .groupBy("user_id")
        .agg(
            (
                F.sum(F.round(F.col("value") * 100).cast("bigint"))
                .cast("double")
                / 100.0
            ).alias("total_value"),
            F.count("*").alias("n_events"),
        )
        .orderBy(F.col("total_value").desc(), "user_id")
        .limit(10)
    )
    return _run_to_memory(agg, mode="complete")


@query(
    "stream_full_outer_join",
    oracle="""
WITH b AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
)
SELECT a.event_id AS id_a, b.event_id AS id_b,
       coalesce(a.user_id, b.user_id) AS uid
FROM events a FULL JOIN b
  ON b.user_id = a.user_id AND b.ts >= a.ts
 AND b.ts <= a.ts + INTERVAL 1 HOUR AND b.event_id <> a.event_id
""",
    section="B.9",
    notes="FULL-outer stream-stream join: unmatched LEFT rows null-"
    "pad once the right watermark closes their window (as in "
    "stream_outer_join) and unmatched RIGHT purchases null-pad once "
    "the LEFT watermark passes their timestamp. Same sentinel "
    "transport; the one new wrinkle is that sentinel rows on the "
    "RIGHT do emit null-padded rows when the left watermark passes "
    "them, so sentinel-origin rows are removed by a POST-join sign "
    "filter (above the join, where a filter cannot freeze a "
    "watermark -- unlike the below-join pushdown pitfall documented "
    "on stream_outer_join)",
)
def stream_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    joined = (
        _sentinel_join(spark, sf_dir, "full_outer")
        .select("id_a", "id_b", F.coalesce("user_id", "user_b").alias("uid"))
        # sentinel-origin rows (negative synthetic user ids) are
        # watermark fuel, never results; this filter sits ABOVE the
        # join so it cannot be pushed below a watermark node
        .filter(F.col("uid") >= 0)
    )
    return _run_to_memory(joined)


@query(
    "stream_right_outer_join",
    oracle="""
WITH b AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
)
SELECT a.event_id AS id_a, b.event_id AS id_b,
       coalesce(a.user_id, b.user_id) AS uid
FROM events a RIGHT JOIN b
  ON b.user_id = a.user_id AND b.ts >= a.ts
 AND b.ts <= a.ts + INTERVAL 1 HOUR AND b.event_id <> a.event_id
""",
    section="B.9",
    notes="RIGHT-outer stream-stream join, completing the outer-join "
    "family (left: stream_outer_join, full: stream_full_outer_join): "
    "matched rows emit as they arrive; an unmatched right purchase "
    "null-pads once the LEFT watermark passes its join window. "
    "Sentinel rows on the right DO null-pad when that happens, so "
    "the same post-join sign filter as the full-outer variant drops "
    "them (above the join, where a filter cannot freeze a "
    "watermark); left-side sentinels never emit because only "
    "matched left rows appear in a right join",
)
def stream_right_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    joined = (
        _sentinel_join(spark, sf_dir, "right_outer")
        .select("id_a", "id_b", F.coalesce("user_id", "user_b").alias("uid"))
        .filter(F.col("uid") >= 0)
    )
    return _run_to_memory(joined)


def _cdc_src(spark: SparkSession, sf_dir: str) -> str:
    """events as four ``_write_batches`` files, sliced by a hash of
    ``event_id`` (total: a NULL id hashes too), so every build replays
    the same four micro-batches in the same order."""
    def build(out: str) -> None:
        base = events_as_micros(spark, sf_dir)
        slot = F.pmod(F.hash("event_id"), F.lit(4))
        _write_batches(out, [base.filter(slot == i) for i in range(4)])

    return materialize(spark, sf_dir, "events_stream4_batches", build)


@query(
    "stream_cdc_upsert",
    oracle="""
SELECT user_id, event_id AS last_event_id,
       event_type AS last_event_type, value AS last_value
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
""",
    section="B.9",
    notes="CDC latest-state materialization: the event stream is a "
    "changelog keyed by user_id and foreachBatch MERGEs each "
    "micro-batch into a persistent snapshot (read state, union the "
    "batch's per-key winners, re-take latest per key, atomic "
    "swap-in). Latest-by-(ts, event_id) is a commutative/associative "
    "max, so the final snapshot is independent of batch boundaries — "
    "asserted by running 4 single-file micro-batches "
    "(maxFilesPerTrigger=1). At 100 TB the foreachBatch body becomes "
    "a MERGE INTO on a table format (Delta/Iceberg) with the same "
    "per-key winner pre-aggregation; the full-rewrite swap here is "
    "the fixture-scale stand-in and the pre-aggregation is the part "
    "that carries over (shrinks the merge input to one row per key "
    "per batch)",
)
def stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _cdc_src(spark, sf_dir)
    state = os.path.join(cache_dir(sf_dir, "cdc_state"), "snapshot")
    tmp = state + "_tmp"
    shutil.rmtree(os.path.dirname(state), ignore_errors=True)

    cols = ("user_id", "ts", "event_id", "event_type", "value")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )

    def latest(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(*cols)
        )

    def merge(batch: DataFrame, batch_id: int) -> None:
        sp = batch.sparkSession
        cur = latest(batch.select(*cols))
        if os.path.exists(state):
            cur = latest(sp.read.parquet(state).unionByName(cur))
        cur.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(state, ignore_errors=True)
        os.replace(tmp, state)

    _run_foreach_batch(
        _stream(_streaming_session(spark), src, maxFilesPerTrigger=1),
        merge,
        checkpointLocation=os.path.join(cache_dir(sf_dir, "cdc_state"), "ck"),
    )
    return spark.read.parquet(state).select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


@query(
    "prom_k8s_exposition",
    oracle="""
WITH k8s AS (
  SELECT
    CASE WHEN event_id % 11 = 0 THEN NULL
         ELSE 'uid-' || cast(event_id % 300 AS varchar) END AS uid,
    CASE WHEN event_id % 13 = 0 THEN NULL
         ELSE cast(event_id % 7 AS varchar) END AS resource_version,
    CASE WHEN event_type = 'error' THEN 'Warning' ELSE 'Normal' END AS type,
    upper(event_type) AS reason,
    CASE WHEN user_id % 3 = 0 THEN 'Pod'
         WHEN user_id % 3 = 1 THEN 'Deployment' ELSE NULL END AS kind,
    'ns-' || cast(user_id % 5 AS varchar) AS namespace,
    CASE WHEN event_id % 4 = 0 THEN ts END AS last_ts,
    CASE WHEN event_id % 4 <= 1 THEN ts + INTERVAL 60 SECOND END AS first_ts,
    CASE WHEN event_id % 4 <= 2 THEN ts + INTERVAL 120 SECOND END AS created_ts,
    event_id, ts
  FROM events
), keyed AS (
  SELECT *,
    concat_ws(':', coalesce(uid, ''), coalesce(resource_version, '')) AS k
  FROM k8s
), deduped AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY k
      ORDER BY coalesce(last_ts, first_ts, created_ts,
                        timestamp '1970-01-01'), event_id) rn
    FROM keyed) WHERE rn = 1
), agg AS (
  SELECT coalesce(type, '-') AS l0, coalesce(reason, '-') AS l1,
         coalesce(kind, '-') AS l2, coalesce(namespace, '-') AS l3,
         count(*) AS n
  FROM deduped GROUP BY 1, 2, 3, 4
), kb AS (
  SELECT cast(sum(strlen(k) + 8) AS bigint) AS b,
         cast(count(*) AS bigint) AS m
  FROM deduped
), tot AS (SELECT cast(2 * count(*) AS bigint) AS t FROM events)
SELECT 'kube_event_stream_events_count{event_type="' || l0
       || '",event_reason="' || l1 || '",event_kind="' || l2
       || '",event_namespace="' || l3 || '"}' AS sample,
       cast(n AS bigint) AS value
FROM agg
UNION ALL SELECT 'kube_event_stream_cachedb_events_processed{type="total"}', t
          FROM tot
UNION ALL SELECT
  'kube_event_stream_cachedb_events_processed{type="cache_hits"}', t - m
  FROM tot, kb
UNION ALL SELECT
  'kube_event_stream_cachedb_events_processed{type="cache_misses"}', m
  FROM kb
UNION ALL SELECT 'kube_event_stream_cachedb_sync_bytes', b FROM kb
UNION ALL SELECT 'kube_event_stream_cachedb_size{type="items"}', m FROM kb
UNION ALL SELECT 'kube_event_stream_cachedb_size{type="bytes"}', b FROM kb
""",
    section="A13",
    notes="Prometheus exposition egress (reference src/tasks.rs:26-64 "
    "counter families, src/main.rs:63 endpoint): the doubled events "
    "stream is reshaped to the synthetic k8s form, a foreachBatch "
    "observer computes per-batch hit/miss/4-dim-label increments as "
    "Spark aggregates (only label-cardinality rows reach the "
    "driver-side registry), and the rendered text exposition is "
    "parsed back into (sample, value) rows — so the driver oracle "
    "checks the rendered wire format end-to-end: label ordering, '-' "
    "defaults, hits+misses=total, and the sled key+8-byte value size "
    "accounting. The doubled delivery makes cache_hits = misses "
    "exactly (every key seen twice)",
)
def prom_k8s_exposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_stream_for_k8s_spark.plans.reference import keyed_synthetic_k8s
    from event_stream_for_k8s_spark.streaming.prom_metrics import (
        K8sStreamMetrics,
    )

    stream = keyed_synthetic_k8s(_events_stream(spark, sf_dir, doubled=True))
    metrics = K8sStreamMetrics()
    _run_foreach_batch(
        stream, lambda b, _: metrics.observe_batch(b, "k", ("time", "event_id"))
    )
    rows = []
    for line in metrics.registry.render().splitlines():
        if line.startswith("#") or not line.strip():
            continue
        sample, value = line.rsplit(" ", 1)
        rows.append((sample, int(value)))
    return spark.createDataFrame(rows, "sample string, value bigint")


def _doc_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream of documents as a 4-batch ingest feed: three mtime-ordered,
    doc_id-ascending batches of the corpus with intra-corpus exact
    duplicates REMOVED (keep min doc_id per md5 — real ingest feeds
    arrive locally pre-deduped, the llm_dedup_incremental contract;
    it also makes survivorship deterministic: dropDuplicates keeps an
    ARBITRARY row within one micro-batch, so the fixture never asks
    it to choose), then a fourth batch re-delivering every seventh
    kept doc under a NEW doc_id (+1,000,000) with identical text —
    the cross-batch duplicates the streaming state must kill."""
    def build(out: str) -> None:
        d = load(spark, sf_dir, "documents").select("doc_id", "text")
        rn = F.row_number().over(
            Window.partitionBy(F.md5("text")).orderBy("doc_id")
        )
        kept = d.withColumn("_rn", rn).filter(F.col("_rn") == 1).drop("_rn")
        nt = F.ntile(3).over(Window.orderBy("doc_id"))
        sliced = kept.withColumn("_s", nt)
        frames = [
            sliced.filter(F.col("_s") == i + 1).drop("_s")
            for i in range(3)
        ]
        frames.append(
            kept.filter(F.col("doc_id") % 7 == 0).select(
                (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
            )
        )
        _write_batches(out, frames)

    src = materialize(spark, sf_dir, "documents_ingest4", build)
    return (
        _streaming_session(spark)
        .readStream.schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )


@query(
    "stream_doc_dedup",
    oracle="""
WITH keep AS (
  SELECT doc_id, text,
         row_number() OVER (PARTITION BY md5(text)
                            ORDER BY doc_id) AS rn
  FROM documents
)
SELECT doc_id, cast(length(text) AS bigint) AS n_chars
FROM keep WHERE rn = 1
""",
    section="C",
    notes="STREAMING incremental corpus dedup, the ingest-time twin "
    "of llm_dedup_exact / llm_dedup_incremental: documents arrive as "
    "mtime-ordered micro-batches and a stateful content-hash "
    "dropDuplicates admits each md5(text) exactly once across the "
    "whole feed — the fourth batch re-delivers every seventh doc "
    "under a fresh doc_id and the state kills ALL of them, which is "
    "what the oracle checks (a kept re-delivery would surface as a "
    "1,000,000+ doc_id row the batch SQL does not produce). Batches "
    "arrive doc_id-ascending and internally pre-deduped (fixture "
    "builder keeps min doc_id per hash — the deterministic-survivor "
    "contract; dropDuplicates picks arbitrarily WITHIN a batch, so "
    "the fixture never asks it to), making first-arrival == min "
    "doc_id and the result exactly the batch keep-one answer. State "
    "posture at 100 TB: exact dedup state is intrinsically the full "
    "hash set — keyed by a 16-byte digest, hash-partitioned across "
    "the RocksDB state store, no watermark to bound it (the batch "
    "anti-join llm_dedup_incremental is the compaction path when the "
    "key store outgrows streaming state)",
)
def stream_doc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _doc_stream(spark, sf_dir)
    deduped = (
        stream.withColumn("h", F.md5("text"))
        .dropDuplicates(["h"])
        .select(
            "doc_id", F.length("text").cast("bigint").alias("n_chars")
        )
    )
    return _run_to_memory(deduped)


def _stream_video_scenes_oracle() -> str:
    from event_stream_for_k8s_spark.plans.llm import (
        _norm_cte,
        _video_sig_sql,
    )

    return f"""
WITH kept AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           row_number() OVER (PARTITION BY md5(text)
                              ORDER BY doc_id) AS rn
    FROM documents) WHERE rn = 1
), feed AS (
  SELECT doc_id, text FROM kept
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text
  FROM kept WHERE doc_id % 7 = 0
), {_norm_cte("feed")}, {_video_sig_sql()}
SELECT phash, first_doc, first_frame, n_seen FROM (
  SELECT phash, doc_id AS first_doc,
         cast(frame_id AS int) AS first_frame,
         row_number() OVER (PARTITION BY phash
                            ORDER BY doc_id, frame_id) AS rn,
         cast(count(*) OVER (PARTITION BY phash) AS bigint) AS n_seen
  FROM sig) WHERE rn = 1
"""


@query(
    "stream_video_scenes",
    oracle=_stream_video_scenes_oracle(),
    section="B.9",
    notes="STREAMING scene-dedup ledger for VIDEO — 'have we seen "
    "this scene before, in any video': the ingest feed's docs are "
    "synthesized into real 3-frame Y4M streams and per-frame-hashed "
    "INSIDE each micro-batch (the r13 video signature pass running "
    "under the streaming engine), then a complete-mode aggregate "
    "keyed by the scene hash keeps (first occurrence, n_seen). The "
    "first occurrence is min(struct(doc_id, frame_id)) — a "
    "deterministic lexicographic min, never a survivor choice, so "
    "any batch split yields the same ledger; batch-4 re-deliveries "
    "surface as n_seen increments with the original pinned. State "
    "at 100 TB: one 8-byte scene key -> (long, int, long) in the "
    "RocksDB store; llm_mm_dedup_video is the batch compaction path",
)
def stream_video_scenes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_stream_for_k8s_spark.plans.llm import _video_sig_corpus

    stream = _doc_stream(spark, sf_dir)
    ledger = (
        _video_sig_corpus(stream)
        .groupBy("phash")
        .agg(
            F.min(F.struct("doc_id", "frame_id")).alias("first"),
            F.count("*").cast("long").alias("n_seen"),
        )
    )
    out = _run_to_memory(ledger, mode="complete")
    return out.select(
        "phash",
        F.col("first.doc_id").alias("first_doc"),
        F.col("first.frame_id").cast("int").alias("first_frame"),
        "n_seen",
    )


def _stream_mm_dedup_oracle() -> str:
    from event_stream_for_k8s_spark.plans.llm import _phash_sig_cte

    return f"""
WITH kept AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           row_number() OVER (PARTITION BY md5(text)
                              ORDER BY doc_id) AS rn
    FROM documents) WHERE rn = 1
), feed AS (
  SELECT doc_id, text FROM kept
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text
  FROM kept WHERE doc_id % 7 = 0
), {_phash_sig_cte("feed")}
SELECT phash, cast(min(doc_id) AS bigint) AS first_doc,
       cast(count(*) AS bigint) AS n_seen
FROM sig GROUP BY phash
"""


@query(
    "stream_mm_dedup",
    oracle=_stream_mm_dedup_oracle(),
    section="B.9",
    notes="STREAMING image-dedup ledger — the multimodal twin of "
    "stream_doc_dedup, and the proof the Arrow signature pass runs "
    "INSIDE a micro-batch pipeline: the same 4-batch ingest feed "
    "(batch 4 re-delivers every 7th doc with identical text, hence "
    "an identical image) is encoded to real PPM payloads and dHash'd "
    "by mapInPandas per micro-batch, then a stateful complete-mode "
    "aggregation keeps per-fingerprint (first_doc = min doc_id, "
    "n_seen). An AGGREGATE ledger, not a dropDuplicates survivor, so "
    "the result is deterministic under ANY batch split even when "
    "distinct texts share a 768-char body (same phash in one batch "
    "would make a survivor choice arbitrary — a min/count never is); "
    "re-deliveries surface as n_seen increments with first_doc "
    "pinned to the original. State at 100 TB: keyed by the 8-byte "
    "fingerprint in the RocksDB store, two longs per key — strictly "
    "smaller state than the md5 ledger; the batch twin "
    "(llm_mm_dedup_phash) is the compaction path",
)
def stream_mm_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_stream_for_k8s_spark.functions.multimodal import (
        dhash_media,
    )
    from event_stream_for_k8s_spark.plans.llm import _ppm16

    stream = _doc_stream(spark, sf_dir)
    ledger = (
        dhash_media(_ppm16(stream))
        .groupBy("phash")
        .agg(
            F.min("doc_id").cast("long").alias("first_doc"),
            F.count("*").cast("long").alias("n_seen"),
        )
    )
    return _run_to_memory(ledger, mode="complete")
