"""Prometheus exposition egress (streaming/prom_metrics.py).

Covers the reference's metric surface (src/tasks.rs:26-64 families,
src/main.rs:63 endpoint): exact golden exposition text for the A8
4-dim counters, the hits+misses=total invariant (tasks.rs:143-146
debug assertion), '-' label defaults (tasks.rs:109-121), and the HTTP
scrape endpoint.
"""

from __future__ import annotations

import urllib.request

from event_stream_for_k8s_spark.streaming.prom_metrics import (
    CONTENT_TYPE,
    ExpositionServer,
    RECEIVED_OBSERVATION,
    K8sStreamMetrics,
    PromRegistry,
)

GOLDEN = """\
# HELP kube_event_stream_cachedb_events_processed Events seen
# TYPE kube_event_stream_cachedb_events_processed counter
kube_event_stream_cachedb_events_processed{type="cache_hits"} 2
kube_event_stream_cachedb_events_processed{type="cache_misses"} 3
kube_event_stream_cachedb_events_processed{type="total"} 5
# HELP kube_event_stream_cachedb_size On disk cache sizes, item count and total bytes.
# TYPE kube_event_stream_cachedb_size gauge
kube_event_stream_cachedb_size{type="bytes"} 31
kube_event_stream_cachedb_size{type="items"} 3
# HELP kube_event_stream_cachedb_sync_bytes Bytes synced to cache
# TYPE kube_event_stream_cachedb_sync_bytes counter
kube_event_stream_cachedb_sync_bytes 31
# HELP kube_event_stream_events_count Events types seen.
# TYPE kube_event_stream_events_count counter
kube_event_stream_events_count{event_type="-",event_reason="-",event_kind="-",event_namespace="-"} 1
kube_event_stream_events_count{event_type="Warning",event_reason="BACKOFF",event_kind="Pod",event_namespace="ns-1"} 2
"""


def _batch(spark):
    # 5 rows, 3 distinct keys; key "a:1" delivered 3x (2 hits), one
    # all-NULL-label row exercising the reference's '-' defaults
    rows = [
        # (k, time_order, type, reason, kind, namespace)
        ("a:1", 1, "Warning", "BACKOFF", "Pod", "ns-1"),
        ("a:1", 2, "Warning", "BACKOFF", "Pod", "ns-1"),
        ("a:1", 3, "Warning", "BACKOFF", "Pod", "ns-1"),
        ("b:2", 1, "Warning", "BACKOFF", "Pod", "ns-1"),
        (":", 1, None, None, None, None),
    ]
    return spark.createDataFrame(
        rows,
        "k string, t int, type string, reason string, kind string,"
        " namespace string",
    )


def test_golden_exposition(spark):
    m = K8sStreamMetrics()
    m.observe_batch(_batch(spark), key_col="k", order_cols=("t",))
    # bytes: 3 missed keys "a:1","b:2",":" = 3+3+1 key bytes plus the
    # 8-byte u64 seen-timestamp sled stores per key = 31 total
    assert m.registry.render() == GOLDEN


def test_hits_misses_total_invariant(spark):
    m = K8sStreamMetrics()
    m.observe_batch(_batch(spark), key_col="k", order_cols=("t",))
    fam = m.processed.samples
    assert (
        fam[("cache_hits",)] + fam[("cache_misses",)] == fam[("total",)] == 5
    )
    assert fam[("cache_misses",)] == 3


def test_multi_batch_accumulation(spark):
    m = K8sStreamMetrics()
    b = _batch(spark)
    m.observe_batch(b, key_col="k", order_cols=("t",))
    m.observe_batch(b, key_col="k", order_cols=("t",))
    fam = m.processed.samples
    assert fam[("total",)] == 10 and fam[("cache_misses",)] == 6
    # gauge reflects cumulative items; counter families accumulate
    assert m.size.samples[("items",)] == 6
    assert (
        m.events.samples[("Warning", "BACKOFF", "Pod", "ns-1")] == 4
    )


def test_http_endpoint(spark):
    m = K8sStreamMetrics()
    m.observe_batch(_batch(spark), key_col="k", order_cols=("t",))
    srv = ExpositionServer(m.registry, port=0).start()
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{srv.port}/metrics"
        ) as resp:
            assert resp.status == 200
            assert resp.headers["Content-Type"] == CONTENT_TYPE
            body = resp.read().decode("utf-8")
        assert body == m.registry.render()
        assert "kube_event_stream_events_count" in body
    finally:
        srv.stop()


def test_label_escaping():
    reg = PromRegistry()
    c = reg.counter("x_total", "help", ("lbl",))
    c.labels('we"ird\nv\\al').inc(1)
    rendered = reg.render()
    assert 'lbl="we\\"ird\\nv\\\\al"' in rendered


def test_pipeline_to_exposition_end_to_end(spark, tmp_path):
    """Full A1->A7+A13 wiring: doubled k8s-shaped stream ->
    watermark-TTL dedup (run_reference_pipeline) -> metrics observer
    as the foreachBatch sink -> live HTTP scrape. Post-dedup
    placement means every observed row is a miss (hits stay 0) and
    the 4-dim counter totals equal the deduped row count."""
    from pyspark.sql import functions as F

    from event_stream_for_k8s_spark.catalog import load
    from event_stream_for_k8s_spark.plans.reference import (
        keyed_synthetic_k8s,
    )
    from event_stream_for_k8s_spark.sources.roundtrip import (
        EVENTS_MICROS_SCHEMA,
        events_as_micros,
        restore_ts,
    )
    from event_stream_for_k8s_spark.streaming.dedup_pipeline import (
        run_reference_pipeline,
    )

    sf = "/root/testdata/sf0.001"
    src = str(tmp_path / "src")
    # exclude the all-NULL-timestamp derivation branch (event_id%4==3
    # -> time pinned at 1970): those rows are 54-years-late vs the
    # stream's watermark and the dedup stage rightly drops them —
    # stream_watermark covers that contract; this test wires egress
    base = events_as_micros(spark, sf).filter(
        "event_id < 200 AND event_id % 4 != 3"
    )
    base.unionAll(base).coalesce(1).write.mode("overwrite").json(src)

    stream = keyed_synthetic_k8s(
        restore_ts(spark.readStream.schema(EVENTS_MICROS_SCHEMA).json(src))
    )
    m = K8sStreamMetrics()
    srv = ExpositionServer(m.registry, port=0).start()
    try:
        q = run_reference_pipeline(
            stream,
            key_col="k",
            time_col="time",
            ttl_seconds=3600,
            checkpoint=str(tmp_path / "ck"),
            sink=m.foreach_batch(
                key_col="k",
                order_cols=("time", "event_id"),
                type_col="type",
                reason_col="reason",
                kind_col="kind",
                namespace_col="namespace",
            ),
        )
        q.awaitTermination()
        expected = (
            keyed_synthetic_k8s(
                load(spark, sf, "events").filter(
                    "event_id < 200 AND event_id % 4 != 3"
                )
            )
            .select("k")
            .distinct()
            .count()
        )
        fam = m.processed.samples
        assert fam[("total",)] == fam[("cache_misses",)] == expected
        assert fam[("cache_hits",)] == 0
        assert sum(m.events.samples.values()) == expected
        with urllib.request.urlopen(
            f"http://127.0.0.1:{srv.port}/metrics"
        ) as resp:
            body = resp.read().decode()
        assert f'type="total"}} {expected}' in body
    finally:
        srv.stop()


def test_sync_received_watermark_compaction(caplog):
    """Deferred totals reconcile against one batch-id floor: ordered
    ids apply once, replayed progress at or below the floor is a
    no-op, and a staged batch whose progress left the recentProgress
    ring unread is applied on the next sync with received = its
    misses (and a warning), so no staged entry outlives the floor and
    hits + misses == total holds."""
    import logging

    m = K8sStreamMetrics()

    def stage(batch_id, misses):
        m.apply_batch([("Warning", "BackOff", "Pod", "ns", misses)],
                      nbytes=10 * misses, total=misses,
                      defer_totals_batch_id=batch_id)

    stage(0, 1)
    stage(1, 2)
    stage(5, 1)
    for b in (0, 1, 2, 3, 4):  # ordered arrivals each apply once
        m.sync_received(b, 10)
    s = m.processed.samples
    assert s[("total",)] == 50
    assert s[("cache_misses",)] == 3
    assert s[("cache_hits",)] == 47
    m.sync_received(3, 99)  # replay below the floor: no double count
    m.sync_received(4, 99)  # replay at the floor: no double count
    assert s[("total",)] == 50
    # batch 5's progress was never read; batch 6 closes it
    with caplog.at_level(logging.WARNING):
        m.sync_received(6, 10)
    assert "[5]" in caplog.text
    assert s[("total",)] == 61  # 50 + batch 5's 1 miss + 10
    assert s[("cache_misses",)] == 4
    assert s[("cache_hits",)] == 57
    assert s[("cache_hits",)] + s[("cache_misses",)] == s[("total",)]
    assert sum(m.events.samples.values()) == 4
    assert m.sync_bytes.samples[()] == 40
    m.sync_received(5, 10)  # its late progress is below the floor
    assert s[("total",)] == 61


class _FakeQuery:
    """A stand-in for a StreamingQuery: progress records are dicts;
    ``ring_reads`` counts the reads of the ``recentProgress`` ring."""

    def __init__(self, *progress):
        self.progress = list(progress)
        self.ring_reads = 0

    @property
    def lastProgress(self):
        return self.progress[-1] if self.progress else None

    @property
    def recentProgress(self):
        self.ring_reads += 1
        return list(self.progress)


# the idle-trigger progress Spark posts during a lull: the NEXT batch's
# id, no received-count observation
IDLE_2 = {"batchId": 2}
BATCH_2 = {"batchId": 2, "observedMetrics": {RECEIVED_OBSERVATION: {"n": 5}}}


def test_idle_progress_does_not_close_the_next_batch():
    """Idle-trigger progress is not a batch: a poll during the lull
    changes nothing, and the batch that then runs under that id counts
    all 5 received events (3 staged misses, 2 hits)."""
    m = K8sStreamMetrics()
    m.sync_from_query(_FakeQuery(IDLE_2))
    assert m.processed.samples == {}
    m.apply_batch([("Warning", "BackOff", "Pod", "ns", 3)], nbytes=30,
                  total=3, defer_totals_batch_id=2)
    m.sync_from_query(_FakeQuery(IDLE_2, BATCH_2))
    fam = m.processed.samples
    assert fam[("total",)] == 5
    assert fam[("cache_hits",)] == 2
    assert fam[("cache_misses",)] == 3
    assert sum(m.events.samples.values()) == 3


def test_sync_reads_the_ring_only_on_a_gap():
    """Consecutive batches are reconciled from ``lastProgress`` alone;
    the ``recentProgress`` ring is read once, when the last progress
    skips past a batch the floor has not reached, and that batch's
    received count is applied from it."""

    def batch(i, n):
        return {"batchId": i,
                "observedMetrics": {RECEIVED_OBSERVATION: {"n": n}}}

    m = K8sStreamMetrics()
    q = _FakeQuery()
    m.sync_from_query(q)  # no progress yet
    for i in range(3):
        q.progress.append(batch(i, 2))
        m.sync_from_query(q)
        m.sync_from_query(q)  # a repeated poll changes nothing
    q.progress.append({"batchId": 3})  # idle-trigger progress
    m.sync_from_query(q)
    assert q.ring_reads == 0
    assert m.processed.samples[("total",)] == 6
    q.progress += [batch(3, 4), batch(4, 5)]  # batch 3 went unpolled
    m.sync_from_query(q)
    assert q.ring_reads == 1
    assert m.processed.samples[("total",)] == 15
    m.sync_from_query(q)
    assert q.ring_reads == 1


def test_deferred_observe_retry_is_fully_idempotent(spark):
    """A foreachBatch RETRY re-observes the same batch_id. With
    deferred totals, EVERY counter family must apply exactly once
    (ADVICE r05: previously events/sync_bytes/_items re-incremented
    per retry while total reconciled once, so sum(events) could
    exceed cache_misses)."""
    m = K8sStreamMetrics()
    b = _batch(spark)
    kw = dict(key_col="k", order_cols=("t",), defer_totals_batch_id=7)
    m.observe_batch(b, **kw)
    m.observe_batch(b, **kw)  # the retry: overwrites the staged entry
    # nothing visible until the progress event reconciles the batch
    assert sum(m.events.samples.values()) == 0
    assert m.processed.samples == {}
    m.sync_received(7, 5)
    fam = m.processed.samples
    assert fam[("total",)] == 5
    assert fam[("cache_misses",)] == 3
    assert fam[("cache_hits",)] == 2
    # per-label events == misses (the implied invariant), applied once
    assert sum(m.events.samples.values()) == 3
    assert m.sync_bytes.samples[()] == 31
    # a replayed progress event after reconciliation is also a no-op
    m.sync_received(7, 5)
    assert sum(m.events.samples.values()) == 3

    # the same observe + retry under id 2, polled through idle-trigger
    # progress for that id before and after the batch ran
    m2 = K8sStreamMetrics()
    m2.sync_from_query(_FakeQuery(IDLE_2))
    kw["defer_totals_batch_id"] = 2
    m2.observe_batch(b, **kw)
    m2.sync_from_query(_FakeQuery(IDLE_2))
    m2.observe_batch(b, **kw)
    assert m2.processed.samples == {}
    for _ in range(2):  # a second poll of the same progress is a no-op
        m2.sync_from_query(_FakeQuery(IDLE_2, BATCH_2, IDLE_2))
        assert m2.processed.samples == fam
        assert sum(m2.events.samples.values()) == 3
        assert m2.sync_bytes.samples[()] == 31


def test_server_stop_is_prompt():
    """``stop()`` returns within one short poll of the serve loop, not
    the stdlib's 0.5 s default, for the scrape endpoint and the stub
    Kafka broker alike."""
    import time

    from event_stream_for_k8s_spark.sources.kafka_wire import (
        StubKafkaBroker,
    )

    for srv in (ExpositionServer(PromRegistry()), StubKafkaBroker({})):
        srv.start()
        time.sleep(0.1)  # let serve_forever enter its poll
        t0 = time.perf_counter()
        srv.stop()
        assert time.perf_counter() - t0 < 0.2, type(srv).__name__
