"""The reference's whole hot path as one streaming pipeline.

Reference dataflow (SURVEY.md §3.2, tasks.rs:95-130):
    watch -> micro-batch -> envelope/time -> key -> dedup-vs-state ->
    NDJSON stdout -> grouped metrics -> commit state; TTL eviction.

Spark mapping:
    file/kafka source -> (native micro-batching) -> select exprs ->
    withWatermark(ttl).dropDuplicatesWithinWatermark(key) ->
    foreachBatch{NDJSON emit + metrics agg} with checkpointed state.

Semantic deltas, both intended (SURVEY.md §3.4):
- duplicates WITHIN a micro-batch are also dropped (the reference only
  probes committed state — ours is strictly stronger);
- TTL is event-time via watermark, not wall-clock: a key re-delivered
  with event time older than the watermark re-emits, which reproduces
  the reference's TTL re-emission in event time.

100 TB posture: dedup state is hash-partitioned by key across
executors (the scale-out story the single-replica reference lacks,
README.md:9-16); for billions of live keys use the RocksDB state store
(spark.sql.streaming.stateStore.providerClass) + checkpoint on durable
storage.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedup_within_ttl(
    df: DataFrame,
    key_col: str = "dedup_key",
    time_col: str = "time",
    ttl_seconds: int = 3600,
) -> DataFrame:
    """A5+A6+A12: watermark-bounded keyed dedup (the flagship)."""
    return df.withWatermark(
        time_col, f"{ttl_seconds} seconds"
    ).dropDuplicatesWithinWatermark([key_col])


def batch_metrics(batch_df: DataFrame, key_col: str) -> dict[str, int]:
    """A9: per-batch totals — total drained, unique (misses), dups
    (hits); hits + misses == total, the reference's invariant
    (tasks.rs:132-140)."""
    # one action for both figures; counting the key wrapped in a
    # struct keeps a NULL key as one distinct value, as distinct() does
    total, misses = batch_df.agg(
        F.count(F.lit(1)), F.count_distinct(F.struct(key_col))
    ).first()
    return {"total": total, "misses": misses, "hits": total - misses}


def run_reference_pipeline(
    source: DataFrame,
    key_col: str,
    time_col: str,
    ttl_seconds: int,
    checkpoint: str,
    sink: Callable[[DataFrame, int], None],
    available_now: bool = True,
):
    """Wire source -> dedup -> foreachBatch(sink); returns the query.

    ``sink`` receives each post-dedup micro-batch — the emit point
    (A7/A8 placement: AFTER dedup, so metrics count unique events).
    Delivery is at-least-once: a crash between sink and checkpoint
    commit re-runs the batch, same as the reference's emit-then-commit
    order (tasks.rs:105 vs :129).
    """
    deduped = dedup_within_ttl(source, key_col, time_col, ttl_seconds)
    # A9/A13 observability: per-batch emitted-row count rides the
    # StreamingQueryProgress (observedMetrics) instead of a separate
    # metrics endpoint; state size gauges come from stateOperators in
    # the same progress object.
    deduped = deduped.observe(
        "dedup_pipeline", F.count(F.lit(1)).alias("emitted")
    )
    writer = (
        deduped.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
