"""Streaming semantics tests — SURVEY.md §3.4 invariants on the k8s
fixture (FIXTURES.md) plus checkpoint-restart state recovery."""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F

from event_stream_for_k8s_spark.sources.k8s_events import (
    event_key,
    event_time,
    parse_events,
    read_events_jsonl,
)
from event_stream_for_k8s_spark.streaming.dedup_pipeline import (
    batch_metrics,
    run_reference_pipeline,
)
from event_stream_for_k8s_spark.streaming.prom_metrics import (
    RECEIVED_OBSERVATION,
    K8sStreamMetrics,
)

T0 = "2024-01-01T10:00:00.000Z"
T1 = "2024-01-01T11:00:00.000Z"
T2 = "2024-01-01T12:00:00.000Z"


def _k8s_fixture_rows() -> list[dict]:
    """FIXTURES.md §3.4 branch coverage: (a) all four timestamp-
    precedence cases; (b) missing uid/rv key collision; (d) duplicate
    key within one micro-batch."""
    meta = lambda uid, rv: {"uid": uid, "resourceVersion": rv, "creationTimestamp": T0}  # noqa: E731
    obj = {"kind": "Pod", "namespace": "default", "name": "p1"}
    return [
        # (a) timestamp precedence
        {"metadata": meta("u1", "1"), "type": "Warning", "reason": "BackOff",
         "involvedObject": obj, "lastTimestamp": T2, "firstTimestamp": T1},
        {"metadata": meta("u2", "1"), "type": "Normal", "reason": "Pulled",
         "involvedObject": obj, "firstTimestamp": T1},
        {"metadata": meta("u3", "1"), "type": "Normal", "reason": "Created",
         "involvedObject": obj},
        {"metadata": {"uid": "u4", "resourceVersion": "1"}, "type": "Normal",
         "reason": "Started", "involvedObject": obj},
        # (b) missing uid AND rv -> both collide on key ':'
        {"metadata": {"creationTimestamp": T0}, "type": "Warning",
         "reason": "NoKey1", "involvedObject": obj},
        {"metadata": {"creationTimestamp": T1}, "type": "Warning",
         "reason": "NoKey2", "involvedObject": obj},
        # (d) duplicate key within one batch
        {"metadata": meta("u5", "7"), "type": "Normal", "reason": "Dup",
         "involvedObject": obj, "lastTimestamp": T1},
        {"metadata": meta("u5", "7"), "type": "Normal", "reason": "Dup",
         "involvedObject": obj, "lastTimestamp": T1},
    ]


@pytest.fixture(scope="module")
def k8s_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("k8s_events")
    with open(d / "events.json", "w") as f:
        for row in _k8s_fixture_rows():
            f.write(json.dumps(row) + "\n")
        f.write("\n")  # a blank line is skipped, not read as an Event
    return str(d)


def test_timestamp_precedence(spark, k8s_dir):
    df = read_events_jsonl(spark, k8s_dir, streaming=False)
    fallback = F.lit("1970-01-01").cast("timestamp")
    got = {
        r["reason"]: r["t"].isoformat()
        for r in df.select("reason", event_time(fallback).alias("t")).collect()
    }
    assert got["BackOff"].startswith("2024-01-01T12")  # lastTimestamp wins
    assert got["Pulled"].startswith("2024-01-01T11")  # firstTimestamp next
    assert got["Created"].startswith("2024-01-01T10")  # creationTimestamp
    assert got["Started"].startswith("1970-01-01")  # fallback (now() stand-in)


def test_missing_key_collision_and_batch_dup(spark, k8s_dir):
    df = read_events_jsonl(spark, k8s_dir, streaming=False)
    keyed = df.withColumn("k", event_key())
    # two keyless events collide on ':' (types.rs:28,33 semantics)
    assert keyed.filter(F.col("k") == ":").count() == 2
    deduped = keyed.dropDuplicates(["k"])
    # 8 rows -> 6 keys (':' collision merges 2, u5:7 batch-dup merges 2)
    assert deduped.count() == 6


def test_envelope_shape(spark, k8s_dir, tmp_path):
    """A7: every line ``run_daemon`` emits is one JSON object holding
    exactly ``time`` and ``kubernetes_event`` (types.rs:10-18)."""
    from tests.test_daemon import _drain

    with open(os.path.join(k8s_dir, "events.json")) as f:
        raw = f.read().splitlines()
    lines: list[str] = []
    _drain(spark, tmp_path, raw, emit=lines.append)
    assert len(lines) == 6  # 8 rows, 6 keys
    for line in lines:
        parsed = json.loads(line)
        assert set(parsed) == {"time", "kubernetes_event"}


def test_metrics_invariant(spark, k8s_dir):
    df = read_events_jsonl(spark, k8s_dir, streaming=False).withColumn(
        "k", event_key()
    )
    m = batch_metrics(df, "k")
    assert m["hits"] + m["misses"] == m["total"] == 8
    assert m["misses"] == 6
    # a NULL key counts as one distinct value, and both figures come
    # from ONE action
    keys = spark.createDataFrame(
        [("a",), ("a",), ("b",), (None,), (None,)], "k string"
    )
    sql = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def last_execution_id() -> int:
        bus.waitUntilEmpty(10_000)
        ids = sql.executionsList()
        return ids.apply(ids.size() - 1).executionId() if ids.size() else -1

    first = last_execution_id()
    m = batch_metrics(keys, "k")
    assert last_execution_id() == first + 1
    assert m == {"total": 5, "misses": 3, "hits": 2}


def test_checkpoint_restart_dedups_across_runs(spark, k8s_dir, tmp_path):
    """A15/A16 analog: state survives restart — re-delivered events
    after a restart are suppressed by recovered checkpoint state."""
    ckpt = str(tmp_path / "ckpt")
    out: list[int] = []

    def sink(batch_df, batch_id):
        out.append(batch_df.count())

    # fallback must be > initial watermark (epoch 0) or the row is "late"
    fb = F.lit("2024-01-02").cast("timestamp")
    stream = read_events_jsonl(spark, k8s_dir, streaming=True).select(
        event_key().alias("dedup_key"),
        event_time(fb).alias("time"),
        "reason",
    )
    q = run_reference_pipeline(
        stream, "dedup_key", "time", 3600, ckpt, sink, available_now=True
    )
    q.awaitTermination()
    first_total = sum(out)
    assert first_total == 6  # in-batch dedup (stronger than reference, §3.4.2)

    # "restart": same checkpoint, same data re-listed (the k8s
    # list-then-watch startup re-delivery, tasks.rs:159-163)
    out.clear()
    stream2 = read_events_jsonl(spark, k8s_dir, streaming=True).select(
        event_key().alias("dedup_key"),
        event_time(fb).alias("time"),
        "reason",
    )
    q2 = run_reference_pipeline(
        stream2, "dedup_key", "time", 3600, ckpt, sink, available_now=True
    )
    q2.awaitTermination()
    assert sum(out) == 0  # nothing re-emitted: file-source offsets + state recovered


def test_dedup_idempotent(spark):
    from event_stream_for_k8s_spark.catalog import load

    ev = load(spark, "/root/testdata/sf0.001", "events")
    once = ev.dropDuplicates(["event_id"])
    twice = once.dropDuplicates(["event_id"])
    assert once.count() == twice.count()


def test_observed_metrics_and_state_gauges(spark, k8s_dir, tmp_path):
    """A9 counter + A13 state gauges surfaced via StreamingQueryProgress."""
    fb = F.lit("2024-01-02").cast("timestamp")
    stream = read_events_jsonl(spark, k8s_dir, streaming=True).select(
        event_key().alias("dedup_key"), event_time(fb).alias("time")
    )
    # the sink MUST consume the batch (an unconsumed foreachBatch df
    # skips the stateful operator -> state-store commit validation fails)
    q = run_reference_pipeline(
        stream, "dedup_key", "time", 3600, str(tmp_path / "ck"),
        lambda df, i: df.count(),
    )
    q.awaitTermination()
    # availableNow ends on an empty flush batch — aggregate progresses
    emitted = 0
    for prog in q.recentProgress:
        obs = prog.get("observedMetrics", {}).get("dedup_pipeline")
        if obs is not None:
            emitted += obs["emitted"]  # a Row, not a dict
    assert emitted == 6
    # exact live-key count depends on whether the final flush batch
    # already evicted TTL-expired keys — assert the gauge exists and is
    # in the sane range instead of pinning flush timing
    assert 1 <= q.lastProgress["stateOperators"][0]["numRowsTotal"] <= 6


def test_k8s_datasource_offsets_and_batching(spark, k8s_dir, tmp_path):
    """Custom Python Data Source (A1 stretch): offset-tracked batches —
    offsets advance under maxeventsperbatch, and the full file is
    eventually delivered exactly once."""
    import time as _t

    from event_stream_for_k8s_spark.sources.k8s_datasource import register

    register(spark)
    path = os.path.join(k8s_dir, "events.json")
    stream = parse_events(
        spark.readStream.format("k8s-events")
        .option("path", path)
        .option("maxeventsperbatch", 3)
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("k8s_ds_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        deadline = _t.time() + 60
        while spark.table("k8s_ds_test").count() < 8 and _t.time() < deadline:
            _t.sleep(0.3)
    finally:
        q.stop()
        q.awaitTermination()
    got = spark.table("k8s_ds_test")
    assert got.count() == 8  # all fixture rows, no dup, no loss
    assert got.filter(F.col("metadata.uid") == "u5").count() == 2


def _batch_values(it) -> list[str]:
    """The ``value`` strings of a reader's Arrow batches."""
    return [v for b in it for v in b.column("value").to_pylist()]


def test_k8s_datasource_capped_batch_exactness(spark, tmp_path, monkeypatch):
    """A tiny ``maxbytesperbatch`` over lines of varied length, some
    longer than the cap: after a run's uncapped first read, every
    batch ends on a line boundary, holds at most the cap's bytes
    unless it is one over-long line, and every line is delivered
    exactly once, by the reader and through the engine. A read over
    one Arrow batch's byte budget is served as several batches."""
    from event_stream_for_k8s_spark.sources import k8s_datasource
    from event_stream_for_k8s_spark.sources.k8s_datasource import (
        K8sEventsSimpleStreamReader,
        register,
    )

    path = str(tmp_path / "events.json")
    n, cap = 10, 256

    def write(lo, hi):
        with open(path, "a") as f:
            for i in range(lo, hi):
                # line lengths vary (~110-290 bytes) so cut points land
                # everywhere, and some lines exceed the cap
                f.write(
                    json.dumps(
                        {
                            "metadata": {"uid": f"u{i}", "resourceVersion": "1"},
                            "type": "Normal",
                            "reason": "R" + "x" * (i * 37 % 181),
                            "involvedObject": {"kind": "Pod", "namespace": "d"},
                        }
                    )
                    + "\n"
                )

    write(0, 1)
    r = K8sEventsSimpleStreamReader({"path": path, "maxbytesperbatch": cap})
    it, start = r.read(r.initialOffset())
    got = _batch_values(it)
    write(1, n)
    body = open(path, "rb").read()
    assert max(map(len, body.splitlines(True))) > cap
    while True:
        it, end = r.read(start)
        if end == start:
            break
        chunk = body[start["pos"]:end["pos"]]
        assert chunk.endswith(b"\n")
        assert len(chunk) <= cap or chunk.count(b"\n") == 1
        got += _batch_values(it)
        start = end
    assert start == {"pos": len(body)}
    assert got == body.decode().splitlines()
    monkeypatch.setattr(k8s_datasource, "_BATCH_BYTES", cap)
    it, end = K8sEventsSimpleStreamReader({"path": path}).read({"pos": 0})
    batches = list(it)
    assert end == {"pos": len(body)} and len(batches) > 1
    assert _batch_values(batches) == got

    register(spark)
    os.rename(path, path + ".all")
    write(0, 1)
    stream = parse_events(
        spark.readStream.format("k8s-events")
        .option("path", path)
        .option("maxbytesperbatch", cap)
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("k8s_capped_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        write(1, n)
        q.processAllAvailable()
        batches = [p for p in q.recentProgress if p["numInputRows"]]
    finally:
        q.stop()
    uids = [
        r["uid"]
        for r in spark.table("k8s_capped_test").select("metadata.uid").collect()
    ]
    assert sorted(uids, key=lambda u: int(u[1:])) == [f"u{i}" for i in range(n)]
    assert len(batches) > n // 2  # the cap split the file


def test_k8s_http_watch_spooler(spark, tmp_path):
    """Real list-then-watch HTTP transport (A1, tasks.rs:150-182)
    against a localhost server speaking the k8s API conventions:
    LIST -> EventList with resourceVersion, WATCH ?resourceVersion=rv
    -> NDJSON {type, object} stream. The spool feeds the SAME
    partitioned k8s-events source a file-tailing collector uses."""
    import threading
    from http.server import BaseHTTPRequestHandler, HTTPServer

    from event_stream_for_k8s_spark.sources.k8s_watch_http import (
        K8sWatchSpooler,
    )

    def ev(uid, rv, reason):
        return {
            "metadata": {"uid": uid, "resourceVersion": str(rv)},
            "type": "Normal",
            "reason": reason,
            "involvedObject": {"kind": "Pod", "namespace": "d"},
        }

    watch_rvs = []

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet
            pass

        def do_GET(self):
            assert self.path.startswith("/api/v1/events?")
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.end_headers()
            if "watch=true" in self.path:
                rv = self.path.split("resourceVersion=")[1].split("&")[0]
                watch_rvs.append(rv)
                for i, kind in ((3, "ADDED"), (4, "ADDED"), (5, "MODIFIED")):
                    self.wfile.write(
                        (
                            json.dumps(
                                {"type": kind, "object": ev(f"u{i}", i, "W")}
                            )
                            + "\n"
                        ).encode()
                    )
                self.wfile.write(
                    (
                        json.dumps(
                            {
                                "type": "BOOKMARK",
                                "object": {"metadata": {"resourceVersion": "5"}},
                            }
                        )
                        + "\n"
                    ).encode()
                )
            else:
                self.wfile.write(
                    json.dumps(
                        {
                            "kind": "EventList",
                            "metadata": {"resourceVersion": "2"},
                            "items": [ev("u1", 1, "L"), ev("u2", 2, "L")],
                        }
                    ).encode()
                )

    srv = HTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        spool = str(tmp_path / "spool.jsonl")
        sp = K8sWatchSpooler(f"http://127.0.0.1:{srv.server_port}", spool)
        n = sp.run()
        assert n == 5  # 2 listed + 3 watched (bookmark not spooled)
        assert watch_rvs == ["2"]  # watch resumed from the LIST's rv
        assert sp.resource_version == "5"  # advanced through the stream

        # the spool feeds the standard partitioned source unchanged
        from event_stream_for_k8s_spark.sources.k8s_datasource import (
            register,
        )

        register(spark)
        q = (
            parse_events(
                spark.readStream.format("k8s-events")
                .option("path", spool)
                .load()
            )
            .writeStream.format("memory")
            .queryName("k8s_http_test")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        uids = sorted(
            r["uid"]
            for r in spark.table("k8s_http_test")
            .select("metadata.uid")
            .collect()
        )
        assert uids == ["u1", "u2", "u3", "u4", "u5"]
    finally:
        srv.shutdown()


def _write_uid_file(d: str, name: str, uids: list[str]) -> None:
    """One jsonl file of minimal keyed k8s events (uid:1 keys)."""
    obj = {"kind": "Pod", "namespace": "default", "name": "p1"}
    with open(os.path.join(d, name), "w") as f:
        for uid in uids:
            f.write(json.dumps({
                "metadata": {"uid": uid, "resourceVersion": "1",
                             "creationTimestamp": T0},
                "type": "Normal", "reason": "R",
                "involvedObject": obj, "lastTimestamp": T1,
            }) + "\n")


def test_midbatch_crash_replay_at_least_once(spark, tmp_path):
    """§3.4 restart differential (VERDICT r08 #3a): the reference
    emits NDJSON BEFORE committing dedup state (tasks.rs:105 emit vs
    :129-130 commit), so a crash between the two re-emits that
    batch's events and loses NONE — at-least-once. Spark twin:
    foreachBatch runs the sink before the checkpoint commit; inject a
    crash AFTER the sink recorded batch 1's emissions, restart on the
    same checkpoint, and assert (a) every unique key was emitted at
    least once, (b) the only multiply-emitted keys are the crashed
    batch's, each exactly twice (duplicates re-emitted, not lost and
    not amplified), (c) the replay runs under the SAME batch_id with
    the SAME rows (deterministic offsets from the WAL)."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    ckpt = str(tmp_path / "ckpt")
    emitted: list[tuple[int, str]] = []  # (batch_id, dedup_key)
    crash = {"armed": False, "fired": False}

    def sink(batch_df, batch_id):
        rows = [(batch_id, r["dedup_key"])
                for r in batch_df.select("dedup_key").collect()]
        emitted.extend(rows)  # the "emit": happens BEFORE the raise
        if crash["armed"] and not crash["fired"]:
            crash["fired"] = True
            raise RuntimeError("injected crash after emit, before commit")

    def run():
        fb = F.lit("2024-01-02").cast("timestamp")
        stream = read_events_jsonl(spark, src, streaming=True).select(
            event_key().alias("dedup_key"), event_time(fb).alias("time")
        )
        q = run_reference_pipeline(
            stream, "dedup_key", "time", 3600, ckpt, sink,
            available_now=True,
        )
        q.awaitTermination()

    # batch 0: commits cleanly
    _write_uid_file(src, "f0.json", ["a", "b", "c"])
    run()
    assert [k for _, k in emitted] == sorted(["a:1", "b:1", "c:1"]) or {
        k for _, k in emitted
    } == {"a:1", "b:1", "c:1"}
    # batch 1: emits, then dies before the checkpoint commit
    _write_uid_file(src, "f1.json", ["d", "e"])
    crash["armed"] = True
    with pytest.raises(Exception, match="injected crash"):
        run()
    crash["armed"] = False
    # restart on the same checkpoint: batch 1 replays
    run()

    from collections import Counter

    counts = Counter(k for _, k in emitted)
    # (a) nothing lost
    assert set(counts) == {"a:1", "b:1", "c:1", "d:1", "e:1"}
    # (b) only the crashed batch re-emitted, exactly once more
    assert {k: n for k, n in counts.items() if n > 1} == {
        "d:1": 2, "e:1": 2,
    }
    # (c) same batch_id, same rows on replay (the WAL reconstructs
    # the uncommitted batch; the literal id is an implementation
    # detail — availableNow inserts watermark-commit batches)
    b1 = [(bid, k) for bid, k in emitted if k in ("d:1", "e:1")]
    assert len({bid for bid, _ in b1}) == 1
    assert sorted(k for _, k in b1[:2]) == sorted(k for _, k in b1[2:])


def test_prom_counters_monotone_under_replay(spark, tmp_path):
    """§3.4 restart differential (VERDICT r08 #3b): prometheus
    counters are MONOTONE across a foreachBatch replay, and the
    replay does not double-count — the daemon's deferred staging
    (observe_batch(defer_totals_batch_id=...) + sync_from_query)
    overwrites the crashed batch's staged entry instead of
    re-incrementing. One K8sStreamMetrics instance spans the crash
    (the daemon process outlives a query restart); snapshots of every
    counter sample are taken after every observe and every sync and
    must never decrease; final totals equal the no-crash run's."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    ckpt = str(tmp_path / "ckpt")
    m = K8sStreamMetrics()
    snaps: list[dict] = []

    def snapshot():
        with m._lock:
            snaps.append({
                ("processed",) + k: v
                for k, v in m.processed.samples.items()
            } | {
                ("events",) + k: v for k, v in m.events.samples.items()
            } | {
                ("sync_bytes",) + k: v
                for k, v in m.sync_bytes.samples.items()
            })

    crash = {"armed": False, "fired": False}

    def sink(batch_df, batch_id):
        m.observe_batch(
            batch_df, key_col="dedup_key", order_cols=("time",),
            defer_totals_batch_id=batch_id,
        )
        snapshot()
        if crash["armed"] and not crash["fired"]:
            crash["fired"] = True
            raise RuntimeError("injected crash after observe")

    def run():
        fb = F.lit("2024-01-02").cast("timestamp")
        stream = (
            read_events_jsonl(spark, src, streaming=True)
            .select(
                event_key().alias("dedup_key"),
                event_time(fb).alias("time"),
                "type", "reason",
                F.col("involvedObject.kind").alias("kind"),
                F.col("involvedObject.namespace").alias("namespace"),
            )
            .observe(RECEIVED_OBSERVATION, F.count(F.lit(1)).alias("n"))
        )
        deduped = (
            stream.withWatermark("time", "3600 seconds")
            .dropDuplicatesWithinWatermark(["dedup_key"])
        )
        q = (
            deduped.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
        finally:
            m.sync_from_query(q)
            snapshot()

    _write_uid_file(src, "f0.json", ["a", "b", "c"])
    run()
    _write_uid_file(src, "f1.json", ["d", "e"])
    crash["armed"] = True
    with pytest.raises(Exception, match="injected crash"):
        run()
    crash["armed"] = False
    run()  # replay of batch 1 on the recovered checkpoint

    # monotonicity: every counter sample non-decreasing at every
    # snapshot (a scrape can land anywhere in this sequence)
    for prev, cur in zip(snaps, snaps[1:]):
        for key, v in prev.items():
            assert cur.get(key, 0) >= v, (key, prev, cur)
    # no double-count: totals equal the crash-free expectation —
    # 5 unique keys, 5 received rows, zero hits
    fam = m.processed.samples
    assert fam[("total",)] == 5
    assert fam[("cache_misses",)] == 5
    assert fam[("cache_hits",)] == 0
    assert sum(m.events.samples.values()) == 5


def test_dedup_pipeline_on_rocksdb_state_store(spark, k8s_dir, tmp_path):
    """The 100 TB dedup-state configuration: RocksDB state store
    instead of the default in-memory HDFS-backed provider."""
    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        fb = F.lit("2024-01-02").cast("timestamp")
        stream = read_events_jsonl(spark, k8s_dir, streaming=True).select(
            event_key().alias("dedup_key"), event_time(fb).alias("time")
        )
        out: list[int] = []
        q = run_reference_pipeline(
            stream, "dedup_key", "time", 3600, str(tmp_path / "ck"),
            lambda df, i: out.append(df.count()),
        )
        q.awaitTermination()
        assert sum(out) == 6  # same result as the default provider
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )


def test_wallclock_ttl_dedup_reemits_after_expiry(spark, k8s_dir, tmp_path):
    """§3.4.4 exact parity: wall-clock TTL via processing-time timers —
    suppressed inside the TTL, re-emitted after it expires."""
    import shutil
    import time as _t

    from event_stream_for_k8s_spark.streaming.wallclock_ttl import (
        dedup_wallclock_ttl,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    shutil.copy(os.path.join(k8s_dir, "events.json"), os.path.join(src, "f1.json"))
    ckpt = str(tmp_path / "ck")
    emitted: list[int] = []

    def run_once():
        stream = read_events_jsonl(spark, src, streaming=True).select(
            event_key().alias("dedup_key"), "reason"
        )
        out = dedup_wallclock_ttl(stream, ttl_seconds=10)
        q = (
            out.writeStream.foreachBatch(
                lambda df, i: emitted.append(df.count())
            )
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    assert sum(emitted) == 6  # first sight of each key emits

    # re-delivery INSIDE the TTL: fully suppressed
    emitted.clear()
    shutil.copy(os.path.join(k8s_dir, "events.json"), os.path.join(src, "f2.json"))
    run_once()
    assert sum(emitted) == 0

    # re-delivery AFTER the wall-clock TTL: lazy expiry on probe,
    # every key re-emits (reference tasks.rs:196-199 semantics).
    # TTL/sleep sized with headroom so a loaded CI box can't straddle
    # the boundary between the first run and the in-TTL re-delivery
    emitted.clear()
    _t.sleep(11)
    shutil.copy(os.path.join(k8s_dir, "events.json"), os.path.join(src, "f3.json"))
    run_once()
    assert sum(emitted) == 6


def test_k8s_datasource_torn_tail_with_line_cap(tmp_path):
    """With maxeventsperbatch set, ``read(start)`` must never end a
    batch inside a torn (non-newline-terminated) line — the common
    state while a collector is actively appending. A capped boundary
    that lands past the last newline would serve the torn line's head
    and replay its tail as corrupt JSON (ADVICE r02, high)."""
    from event_stream_for_k8s_spark.sources.k8s_datasource import (
        K8sEventsSimpleStreamReader,
    )

    path = str(tmp_path / "torn.json")
    complete = b'{"reason":"a"}\n{"reason":"b"}\n{"reason":"c"}\n'
    with open(path, "wb") as f:
        f.write(complete + b'{"reason":"torn')  # appender mid-write
    r = K8sEventsSimpleStreamReader({"path": path, "maxeventsperbatch": "10"})
    # cap (10) exceeds available newlines (3): the end must be the
    # last complete line end, not the raw file size
    it, end = r.read(r.initialOffset())
    assert end == {"pos": len(complete)}
    assert _batch_values(it) == ['{"reason":"a"}', '{"reason":"b"}',
                                 '{"reason":"c"}']
    # the torn tail alone advances nothing
    it, same = r.read(end)
    assert same == end and _batch_values(it) == []
    # the appender finishes the line -> the next read claims it
    with open(path, "ab") as f:
        f.write(b'"}\n')
    it, end = r.read(end)
    assert end == {"pos": os.path.getsize(path)}
    assert _batch_values(it) == ['{"reason":"torn"}']
    # a range with NO newline at all advances nothing
    path2 = str(tmp_path / "torn2.json")
    with open(path2, "wb") as f:
        f.write(b'{"reason":"never-finished')
    r2 = K8sEventsSimpleStreamReader({"path": path2, "maxeventsperbatch": "5"})
    it, end = r2.read({"pos": 0})
    assert end == {"pos": 0} and _batch_values(it) == []


def test_k8s_datasource_restart_never_regresses_offset(tmp_path):
    """After a checkpoint restart Spark hands the reader its restored
    offset as ``start`` (ADVICE r02, medium: an end computed from byte
    0 could land below it and replay committed bytes). From a
    mid-file start the run's first read takes every complete line
    after it, the capped reads that follow never end below ``start``,
    never split a line and serve exactly the lines after it, and a
    start past a truncated file's end advances nothing.
    ``test_k8s_datasource_engine_restart_reads_past_committed`` drives
    the same restart through the engine."""
    from event_stream_for_k8s_spark.sources.k8s_datasource import (
        K8sEventsSimpleStreamReader,
    )

    path = str(tmp_path / "events.json")
    lines = [b'{"reason":"e%d"}\n' % i for i in range(20)]
    with open(path, "wb") as f:
        f.writelines(lines[:16])
    committed = sum(len(ln) for ln in lines[:12])  # mid-file checkpoint

    # fresh reader simulating restart: NO initialOffset call
    r = K8sEventsSimpleStreamReader(
        {"path": path, "maxeventsperbatch": "3", "maxbytesperbatch": "64"}
    )
    it, start = r.read({"pos": committed})
    assert start == {"pos": sum(len(ln) for ln in lines[:16])}
    got = _batch_values(it)
    assert got == [ln[:-1].decode() for ln in lines[12:16]]
    with open(path, "ab") as f:  # then a torn tail after more lines
        f.writelines(lines[16:])
        f.write(b'{"reason":"to')
    body = open(path, "rb").read()
    while True:
        it, end = r.read(start)
        assert end["pos"] >= start["pos"]
        assert body[end["pos"] - 1:end["pos"]] == b"\n"
        assert body[start["pos"]:end["pos"]].count(b"\n") <= 3
        if end == start:
            break
        got += _batch_values(it)
        start = end
    assert start == {"pos": sum(len(ln) for ln in lines)}
    assert got == [ln[:-1].decode() for ln in lines[12:]]
    # a start past the end of a truncated file advances nothing
    with open(path, "wb") as f:
        f.writelines(lines[:2])
    it, end = r.read({"pos": committed})
    assert end == {"pos": committed} and _batch_values(it) == []


def _collect_stream(spark, path, ck, seen, **options):
    """One availableNow run of the raw ``k8s-events`` source over
    ``path``, appending each batch's (batch id, sorted values)."""
    from event_stream_for_k8s_spark.sources.k8s_datasource import register

    register(spark)
    q = (
        spark.readStream.format("k8s-events").option("path", path)
        .options(**options).load()
        .writeStream.foreachBatch(
            lambda df, i: seen.append(
                (i, sorted(r[0] for r in df.collect()))
            )
        )
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_k8s_datasource_replays_uncommitted_batch(spark, tmp_path):
    """A batch in the offset log but not committed is replayed after a
    restart (its prefetched lines died with the old driver-side
    reader): deleting the last ``commits/N`` re-emits exactly that
    batch's lines, and the next batch starts after them."""
    path, ck = str(tmp_path / "spool.jsonl"), str(tmp_path / "ck")
    seen: list = []

    def append(*values):
        with open(path, "a") as f:
            f.writelines(v + "\n" for v in values)

    append('{"a":1}', '{"a":2}')
    _collect_stream(spark, path, ck, seen)
    append('{"b":1}', "  ", '{"b":2}', '{"b":3}')
    _collect_stream(spark, path, ck, seen)
    assert seen == [(0, ['{"a":1}', '{"a":2}']),
                    (1, ['{"b":1}', '{"b":2}', '{"b":3}'])]
    for name in ("1", ".1.crc"):
        os.remove(os.path.join(ck, "commits", name))
    seen.clear()
    _collect_stream(spark, path, ck, seen)
    assert seen == [(1, ['{"b":1}', '{"b":2}', '{"b":3}'])]
    append('{"c":1}')
    seen.clear()
    _collect_stream(spark, path, ck, seen)
    assert seen == [(2, ['{"c":1}'])]


def _batch_ends(ck) -> list[int]:
    """The source's end offset of each batch in a checkpoint's offset
    log, by batch id."""
    log = os.path.join(ck, "offsets")
    ids = sorted(int(n) for n in os.listdir(log) if n.isdigit())
    return [
        json.loads(open(os.path.join(log, str(i))).read().splitlines()[-1])[
            "pos"
        ]
        for i in ids
    ]


def test_k8s_datasource_engine_restart_reads_past_committed(spark, tmp_path):
    """A capped query restarted on its checkpoint after its last batch
    was committed: the restarted run delivers exactly the lines added
    since, no batch's end falls below the one before it, and the
    committed bytes are never read again (they are overwritten with
    invalid UTF-8, which would fail the query). Batches after a run's
    first hold at most ``maxeventsperbatch`` lines."""
    from event_stream_for_k8s_spark.sources.k8s_datasource import register

    register(spark)
    path, ck = str(tmp_path / "spool.jsonl"), str(tmp_path / "ck")
    seen: list = []

    def append(lo, hi):
        with open(path, "a") as f:
            f.writelines('{"e":%d}\n' % i for i in range(lo, hi))

    def start():
        return (
            spark.readStream.format("k8s-events").option("path", path)
            .option("maxeventsperbatch", 2).load()
            .writeStream.foreachBatch(
                lambda df, i: seen.append(
                    (i, sorted(r[0] for r in df.collect()))
                )
            )
            .option("checkpointLocation", ck)
            .start()
        )

    def values(lo, hi):
        return sorted('{"e":%d}' % i for i in range(lo, hi))

    append(0, 1)
    q = start()
    try:
        q.processAllAvailable()
        append(1, 6)
        q.processAllAvailable()
    finally:
        q.stop()
    first_run = [v for _, b in seen for v in b]
    assert sorted(first_run) == values(0, 6)
    assert all(len(b) <= 2 for _, b in seen[1:])
    committed = os.path.getsize(path)
    with open(path, "r+b") as f:  # same length, line ends kept
        old = f.read().splitlines(True)
        f.seek(0)
        f.write(b"".join(b"\xff" * (len(ln) - 1) + b"\n" for ln in old))
    assert os.path.getsize(path) == committed
    seen.clear()
    append(6, 10)
    q = start()
    try:
        q.processAllAvailable()
        append(10, 13)
        q.processAllAvailable()
    finally:
        q.stop()
    assert sorted(v for _, b in seen for v in b) == values(6, 13)
    assert seen[0][1] == values(6, 10)  # the run's first batch is uncapped
    assert all(len(b) <= 2 for _, b in seen[1:])
    ends = _batch_ends(ck)
    assert ends == sorted(ends) and ends[-1] == os.path.getsize(path)


def test_k8s_datasource_capped_available_now_drains(spark, tmp_path):
    """Spark runs ``Trigger.AvailableNow`` over a Python source as one
    batch per run, so the run's first batch ignores the caps: a capped
    availableNow run serves every line available when it starts, on a
    fresh checkpoint and on a restart, instead of stopping after the
    cap."""
    path, ck = str(tmp_path / "spool.jsonl"), str(tmp_path / "ck")
    seen: list = []

    def append(lo, hi):
        with open(path, "a") as f:
            f.writelines('{"e":%d}\n' % i for i in range(lo, hi))

    for lo in (0, 10):
        append(lo, lo + 10)
        _collect_stream(spark, path, ck, seen, maxeventsperbatch=3)
    assert seen == [
        (0, sorted('{"e":%d}' % i for i in range(10))),
        (1, sorted('{"e":%d}' % i for i in range(10, 20))),
    ]


def test_k8s_datasource_invalid_utf8_fails_the_query(spark, tmp_path):
    """A spool line that is not UTF-8 fails the query; it is never
    served as a replacement-character string."""
    from pyspark.errors import StreamingQueryException

    path = str(tmp_path / "spool.jsonl")
    with open(path, "wb") as f:
        f.write(b'{"a":1}\n{"a":"\xff\xfe"}\n')
    with pytest.raises(StreamingQueryException, match="UTF8|UTF-8|utf-8"):
        _collect_stream(spark, path, str(tmp_path / "ck"), [])


def test_k8s_datasource_serves_a_simple_reader():
    """The source serves a ``SimpleDataSourceStreamReader``, so Spark
    reads each batch in its driver-side source runner and the batch's
    tasks run no Python."""
    from pyspark.sql.datasource import SimpleDataSourceStreamReader
    from pyspark.sql.datasource_internal import (
        _SimpleStreamReaderWrapper,
        _streamReader,
    )
    from pyspark.sql.types import StructType

    from event_stream_for_k8s_spark.sources.k8s_datasource import (
        K8sEventsDataSource,
    )

    ds = K8sEventsDataSource({"path": "spool.jsonl"})
    reader = _streamReader(ds, StructType.fromDDL(ds.schema()))
    assert isinstance(reader, _SimpleStreamReaderWrapper)
    assert isinstance(reader.simple_reader, SimpleDataSourceStreamReader)


def test_k8s_watch_reconnect_410_no_loss(spark, tmp_path):
    """run_with_reconnect survives 3 forced disruptions — an abrupt
    mid-stream connection drop (torn NDJSON tail), a 410-Gone ERROR
    event (full re-list), and a clean idle EOF — with exponential
    backoff (tasks.rs:165-167 parity) and NO event loss: every event
    the server ever emitted is in the spool, re-deliveries are
    confined to already-spooled events, and the downstream dedup
    stage emits each key exactly once."""
    import json as _json
    import threading
    from http.server import BaseHTTPRequestHandler, HTTPServer

    from event_stream_for_k8s_spark.sources.k8s_watch_http import (
        K8sWatchSpooler,
    )

    def ev(uid, rv):
        return {
            "metadata": {"uid": uid, "resourceVersion": str(rv)},
            "type": "Normal",
            "reason": "W",
            "involvedObject": {"kind": "Pod", "namespace": "d"},
        }

    def wline(kind, obj):
        return (_json.dumps({"type": kind, "object": obj}) + "\n").encode()

    watch_rvs: list[str] = []
    list_calls: list[int] = []

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.end_headers()
            if "watch=true" in self.path:
                rv = self.path.split("resourceVersion=")[1].split("&")[0]
                watch_rvs.append(rv)
                call = len(watch_rvs)
                if call == 1:
                    # u3 complete, then an abruptly torn line ->
                    # client must flush u3, commit rv=3, reconnect
                    self.wfile.write(wline("ADDED", ev("u3", 3)))
                    self.wfile.write(b'{"type":"ADDED","obj')
                elif call == 2:
                    # resourceVersion expired: watch-level 410
                    self.wfile.write(
                        wline("ERROR", {"code": 410, "reason": "Gone"})
                    )
                elif call == 3:
                    self.wfile.write(wline("ADDED", ev("u5", 7)))
                # call >= 4: clean empty EOF (idle watch)
            else:
                list_calls.append(1)
                if len(list_calls) == 1:
                    items, rv = [ev("u1", 1), ev("u2", 2)], "2"
                else:
                    # post-410 re-list: overlap (u2, u3) + fresh u4
                    items, rv = [ev("u2", 2), ev("u3", 3), ev("u4", 6)], "6"
                self.wfile.write(
                    _json.dumps(
                        {
                            "kind": "EventList",
                            "metadata": {"resourceVersion": rv},
                            "items": items,
                        }
                    ).encode()
                )

    srv = HTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    sleeps: list[float] = []
    try:
        spool = str(tmp_path / "spool.jsonl")
        sp = K8sWatchSpooler(f"http://127.0.0.1:{srv.server_port}", spool)
        total = sp.run_with_reconnect(
            max_rounds=5, backoff_initial=0.5, sleep=sleeps.append
        )
        # 2 listed + u3 + (re-list: u2,u3,u4) + u5; nothing from the
        # idle round
        assert total == 7
        # round 1 watch resumed from the LIST rv; round 2 from the rv
        # COMMITTED at the torn-tail flush (3, proving u3 was spooled
        # before the offset moved); round 3 from the re-list rv
        assert watch_rvs[:3] == ["2", "3", "6"] and len(list_calls) == 2
        # torn-line drop and the idle EOF both backed off; the second
        # backoff doubles only after consecutive no-progress rounds
        assert sleeps and sleeps[0] == 0.5

        spooled = [
            _json.loads(line)
            for line in open(spool, encoding="utf-8")
        ]
        keys = [
            f'{e["metadata"]["uid"]}:{e["metadata"]["resourceVersion"]}'
            for e in spooled
        ]
        # no loss: every event the server emitted reached the spool
        assert {k.split(":")[0] for k in keys} == {
            "u1", "u2", "u3", "u4", "u5"
        }
        # overlap exists (the 410 re-list redelivered u2,u3) ...
        assert len(keys) == 7 > len(set(keys)) == 5
        # ... and dedup downstream emits each key exactly once
        deduped = (
            spark.read.json(spool)
            .select(
                F.concat_ws(
                    ":",
                    F.col("metadata.uid"),
                    F.col("metadata.resourceVersion"),
                ).alias("k")
            )
            .dropDuplicates(["k"])
        )
        assert deduped.count() == 5
    finally:
        srv.shutdown()
        srv.server_close()


def test_k8s_watch_http_410_status_relists(tmp_path):
    """A watch request answered with HTTP status 410 (not a watch
    ERROR event) must also clear the offset and re-LIST — kube
    apiservers use both forms for expired resourceVersions."""
    import json as _json
    import threading
    from http.server import BaseHTTPRequestHandler, HTTPServer

    from event_stream_for_k8s_spark.sources.k8s_watch_http import (
        K8sWatchSpooler,
    )

    watch_calls: list[str] = []
    list_rvs = iter(["2", "9"])

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):
            if "watch=true" in self.path:
                watch_calls.append(self.path)
                if len(watch_calls) == 1:
                    self.send_error(410, "Gone")
                    return
                self.send_response(200)
                self.end_headers()
                self.wfile.write(
                    (
                        _json.dumps(
                            {
                                "type": "ADDED",
                                "object": {
                                    "metadata": {
                                        "uid": "u9",
                                        "resourceVersion": "10",
                                    }
                                },
                            }
                        )
                        + "\n"
                    ).encode()
                )
            else:
                self.send_response(200)
                self.end_headers()
                self.wfile.write(
                    _json.dumps(
                        {
                            "kind": "EventList",
                            "metadata": {"resourceVersion": next(list_rvs)},
                            "items": [
                                {
                                    "metadata": {
                                        "uid": "u1",
                                        "resourceVersion": "1",
                                    }
                                }
                            ],
                        }
                    ).encode()
                )

    srv = HTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    sleeps: list[float] = []
    try:
        spool = str(tmp_path / "spool.jsonl")
        sp = K8sWatchSpooler(f"http://127.0.0.1:{srv.server_port}", spool)
        total = sp.run_with_reconnect(max_rounds=2, sleep=sleeps.append)
        # round 1: LIST(rv=2) + watch -> HTTP 410; round 2: re-LIST
        # (rv=9) + watch delivering u9
        assert total == 3  # u1, u1 again from the re-list, u9
        assert len(watch_calls) == 2
        assert "resourceVersion=2" in watch_calls[0]
        assert "resourceVersion=9" in watch_calls[1]
        assert sp.resource_version == "10"
    finally:
        srv.shutdown()
        srv.server_close()


def test_k8s_watch_list_follows_continue_pages(tmp_path):
    """The initial LIST follows ``metadata.continue`` through every
    page (a cluster with more Events than one page's ``limit``), and
    the WATCH starts from the list's resourceVersion. A 410 on an
    expired continue token re-lists from the first page."""
    import threading
    from http.server import BaseHTTPRequestHandler, HTTPServer
    from urllib.parse import parse_qs, urlsplit

    from event_stream_for_k8s_spark.sources.k8s_watch_http import (
        K8sWatchSpooler,
    )

    token = "page/2=="  # continue tokens are opaque base64
    pages = {
        None: {"metadata": {"resourceVersion": "7", "continue": token},
               "items": [{"metadata": {"uid": f"u{i}"}} for i in (1, 2)]},
        token: {"metadata": {"resourceVersion": "7"},
                "items": [{"metadata": {"uid": f"u{i}"}} for i in (3, 4, 5)]},
    }
    watch_rvs: list[str] = []
    expire_next_token = [False]

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):
            q = parse_qs(urlsplit(self.path).query)
            if "watch" in q:
                watch_rvs.append(q["resourceVersion"][0])
                self.send_response(200)
                self.end_headers()
                return
            cont = q.get("continue", [None])[0]
            if cont and expire_next_token[0]:
                expire_next_token[0] = False
                self.send_error(410, "Gone")
                return
            self.send_response(200)
            self.end_headers()
            self.wfile.write(json.dumps(pages[cont]).encode())

    srv = HTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()

    def spooled(path):
        with open(path) as f:
            return [json.loads(ln)["metadata"]["uid"] for ln in f]

    try:
        spool = str(tmp_path / "spool.jsonl")
        sp = K8sWatchSpooler(f"http://127.0.0.1:{srv.server_port}", spool)
        assert sp.run() == 5  # 2 + 3 listed, nothing watched
        assert spooled(spool) == ["u1", "u2", "u3", "u4", "u5"]
        assert watch_rvs == ["7"]

        # the token expires between pages: page 1 is spooled, then the
        # 410 re-lists from scratch (dedup drops the re-delivered page)
        expire_next_token[0] = True
        spool2 = str(tmp_path / "spool2.jsonl")
        sp2 = K8sWatchSpooler(f"http://127.0.0.1:{srv.server_port}", spool2)
        sp2.run_with_reconnect(max_rounds=2, sleep=lambda s: None)
        assert spooled(spool2) == ["u1", "u2", "u1", "u2", "u3", "u4", "u5"]
        assert sp2.resource_version == "7"
        assert watch_rvs == ["7", "7"]

        # the one-shot pull re-lists the same way
        expire_next_token[0] = True
        spool3 = str(tmp_path / "spool3.jsonl")
        sp3 = K8sWatchSpooler(f"http://127.0.0.1:{srv.server_port}", spool3)
        assert sp3.run() == 7
        assert spooled(spool3) == spooled(spool2)
        assert sp3.resource_version == "7"
    finally:
        srv.shutdown()
        srv.server_close()


def test_k8s_watch_http_fatal_codes_bounded_retry(tmp_path):
    """401/403/404 are retried a BOUNDED number of times with backoff
    (a 403 during token rotation / RBAC propagation is transient —
    ADVICE r05), then raised as permanent. Two scenarios against the
    same handler shape: (a) a persistent 403 raises after exactly
    FATAL_HTTP_RETRIES retries; (b) a 403 that clears after two
    occurrences recovers and spools."""
    import threading
    import urllib.error
    from http.server import BaseHTTPRequestHandler, HTTPServer

    import pytest as _pytest

    from event_stream_for_k8s_spark.sources.k8s_watch_http import (
        FATAL_HTTP_RETRIES,
        K8sWatchSpooler,
    )

    calls = {"n": 0}
    deny_first = {"n": 10**9}  # persistent denial by default

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):
            calls["n"] += 1
            if calls["n"] <= deny_first["n"]:
                self.send_error(403, "Forbidden")
                return
            import json as _json

            self.send_response(200)
            self.end_headers()
            if "watch=true" in self.path:
                return  # clean empty EOF
            self.wfile.write(
                _json.dumps(
                    {
                        "kind": "EventList",
                        "metadata": {"resourceVersion": "5"},
                        "items": [
                            {
                                "metadata": {
                                    "uid": "u1",
                                    "resourceVersion": "1",
                                }
                            }
                        ],
                    }
                ).encode()
            )

    srv = HTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        # (a) persistent 403: bounded retries, then the error surfaces
        sleeps: list[float] = []
        sp = K8sWatchSpooler(
            f"http://127.0.0.1:{srv.server_port}",
            str(tmp_path / "a.jsonl"),
        )
        with _pytest.raises(urllib.error.HTTPError):
            sp.run_with_reconnect(sleep=sleeps.append)
        assert calls["n"] == FATAL_HTTP_RETRIES + 1  # retries + final
        assert len(sleeps) == FATAL_HTTP_RETRIES  # backoff per retry
        assert sp.events_spooled == 0

        # (b) transient 403 (clears after 2): the loop rides it out
        calls["n"], deny_first["n"] = 0, 2
        sp2 = K8sWatchSpooler(
            f"http://127.0.0.1:{srv.server_port}",
            str(tmp_path / "b.jsonl"),
        )
        total = sp2.run_with_reconnect(
            max_rounds=3, sleep=lambda _s: None
        )
        assert total == 1  # the listed u1 arrived post-rotation
    finally:
        srv.shutdown()
        srv.server_close()


def _watch_server(write_body):
    """Localhost apiserver whose every response body is written by
    ``write_body(wfile)``; returns the started server."""
    import threading
    from http.server import BaseHTTPRequestHandler, HTTPServer

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):
            self.send_response(200)
            self.end_headers()
            write_body(self.wfile)

    srv = HTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv


def _watch_line(i: int, end: str = "\n") -> bytes:
    """WATCH message ADDED u{i} at resourceVersion i."""
    obj = {"metadata": {"uid": f"u{i}", "resourceVersion": str(i)},
           "type": "Normal", "reason": "W",
           "involvedObject": {"kind": "Pod", "namespace": "d"}}
    return (json.dumps({"type": "ADDED", "object": obj}) + end).encode()


def _spooled_uids(path: str) -> list[str]:
    with open(path, encoding="utf-8") as f:
        return [json.loads(line)["metadata"]["uid"] for line in f]


def test_k8s_watch_spools_each_read_while_stream_open(tmp_path):
    """An idle WATCH stream spools an event the moment it arrives: the
    server sends 3 events and then holds the connection open, and all
    3 lines are in the spool, with the third one's resourceVersion
    committed, while the watch is still running."""
    import threading
    import time

    from event_stream_for_k8s_spark.sources.k8s_watch_http import (
        K8sWatchSpooler,
    )

    release = threading.Event()

    def body(wfile):
        for i in (1, 2, 3):
            wfile.write(_watch_line(i))
        release.wait(30)

    srv = _watch_server(body)
    spool = str(tmp_path / "spool.jsonl")
    sp = K8sWatchSpooler(f"http://127.0.0.1:{srv.server_port}", spool)
    t = threading.Thread(target=sp.watch, daemon=True)
    t.start()
    try:
        deadline = time.time() + 10
        while time.time() < deadline and sp.resource_version != "3":
            time.sleep(0.05)
        assert t.is_alive()  # the connection is still open
        assert sp.resource_version == "3"
        assert _spooled_uids(spool) == ["u1", "u2", "u3"]
    finally:
        release.set()
        t.join(15)
        srv.shutdown()
        srv.server_close()
    assert not t.is_alive()  # the watch ended at the server's EOF


def test_k8s_watch_spools_unterminated_final_line(tmp_path):
    """A whole final event with no trailing newline at a clean EOF is
    spooled and its offset committed (a TORN one raises instead — see
    test_k8s_watch_reconnect_410_no_loss)."""
    from event_stream_for_k8s_spark.sources.k8s_watch_http import (
        K8sWatchSpooler,
    )

    srv = _watch_server(
        lambda w: w.write(_watch_line(1) + _watch_line(2, end=""))
    )
    try:
        spool = str(tmp_path / "spool.jsonl")
        sp = K8sWatchSpooler(f"http://127.0.0.1:{srv.server_port}", spool)
        assert sp.watch() == 2
        assert sp.resource_version == "2"
        assert _spooled_uids(spool) == ["u1", "u2"]
    finally:
        srv.shutdown()
        srv.server_close()


def test_k8s_watch_max_events_mid_read(tmp_path):
    """``max_events`` falling inside one read spools exactly that many
    events and commits the last spooled event's resourceVersion, not
    the read's."""
    from event_stream_for_k8s_spark.sources.k8s_watch_http import (
        K8sWatchSpooler,
    )

    srv = _watch_server(
        lambda w: w.write(b"".join(_watch_line(i) for i in range(1, 6)))
    )
    try:
        spool = str(tmp_path / "spool.jsonl")
        sp = K8sWatchSpooler(f"http://127.0.0.1:{srv.server_port}", spool)
        assert sp.watch(max_events=3) == 3
        assert sp.resource_version == "3"
        assert _spooled_uids(spool) == ["u1", "u2", "u3"]
        assert sp.events_spooled == 3
    finally:
        srv.shutdown()
        srv.server_close()


def test_concurrent_streaming_queries_isolated_conf(spark):
    """The round-4 clone-session harness exists precisely so two
    streaming queries with DIFFERENT state-partition layouts can run
    CONCURRENTLY on the same parent session (the old mutate-and-
    restore of spark.sql.shuffle.partitions was racy — VERDICT r03).
    Run a windowed agg (8 state partitions) and a stream-stream outer
    join (2 state partitions) in parallel threads and verify both
    results against their oracles."""
    import threading

    from event_stream_for_k8s_spark.plans import REGISTRY
    from event_stream_for_k8s_spark.testing.oracle import (
        canon_rows,
        connect_oracle,
    )
    from tests.conftest import SF_SMOKE

    sf = SF_SMOKE
    results: dict[str, object] = {}

    def run(name: str) -> None:
        try:
            results[name] = REGISTRY[name].spark(spark, sf).toPandas()
        except Exception as e:  # surface in the main thread
            results[name] = e

    threads = [
        threading.Thread(target=run, args=(n,))
        for n in ("stream_tumbling", "stream_outer_join")
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    con = connect_oracle(sf)
    for name in ("stream_tumbling", "stream_outer_join"):
        res = results[name]
        assert not isinstance(res, Exception), f"{name}: {res}"
        _, got = canon_rows(res)
        _, want = canon_rows(con.execute(REGISTRY[name].oracle).df())
        assert got == want, f"{name} diverged under concurrency"


def test_dedup_on_rocksdb_state_store(spark, tmp_path):
    """The 100 TB state-store claim, executed: the SAME dedup pipeline
    runs unchanged on the RocksDB state store provider (the
    billions-of-keys backend SCALING.md/README point to), and its
    state survives a checkpoint restart — a redelivered key stays
    deduped, a new key emits exactly once."""
    import json as _json
    import os

    from event_stream_for_k8s_spark.streaming.dedup_pipeline import (
        dedup_within_ttl,
    )

    clone = spark.newSession()
    clone.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    clone.conf.set("spark.sql.shuffle.partitions", "4")
    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    os.makedirs(src)

    def run_once():
        out = []
        df = clone.readStream.schema("k string, time timestamp").json(src)
        q = (
            dedup_within_ttl(df, key_col="k", time_col="time",
                             ttl_seconds=3600)
            .writeStream.foreachBatch(
                lambda b, i: out.extend(r["k"] for r in b.collect())
            )
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted(out), q

    with open(os.path.join(src, "a.json"), "w") as f:
        for k, t in (("a", "2024-01-01T00:00:00"),
                     ("a", "2024-01-01T00:00:01"),
                     ("b", "2024-01-01T00:00:02")):
            f.write(_json.dumps({"k": k, "time": t}) + "\n")
    first, q1 = run_once()
    assert first == ["a", "b"]
    # provider actually engaged (not a silent fallback)
    progress = __import__("json").loads(q1.recentProgress[-1].json)
    assert progress["stateOperators"][0]["numRowsTotal"] >= 2

    with open(os.path.join(src, "b.json"), "w") as f:
        f.write(_json.dumps({"k": "a", "time": "2024-01-01T00:10:00"}) + "\n")
        f.write(_json.dumps({"k": "c", "time": "2024-01-01T00:10:01"}) + "\n")
    second, _ = run_once()
    assert second == ["c"]  # 'a' deduped by RocksDB-resident state


def test_stream_doc_dedup_kills_cross_batch_redelivery(spark):
    """stream_doc_dedup: the fourth ingest batch re-delivers every
    seventh kept doc under a fresh doc_id (+1,000,000) — the stateful
    content-hash dedup must drop ALL of them (no 1M+ id survives),
    admit every distinct corpus hash exactly once, and replay
    deterministically (same kept set on a second full run)."""
    from event_stream_for_k8s_spark.plans import REGISTRY

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["stream_doc_dedup"].spark(spark, sf).collect()
    kept = {r["doc_id"] for r in rows}
    assert kept and all(i < 1_000_000 for i in kept)
    n_hashes = (
        spark.read.parquet(f"{sf}/documents.parquet")
        .selectExpr("count(distinct md5(text))")
        .first()[0]
    )
    assert len(rows) == len(kept) == n_hashes
    again = {
        r["doc_id"]
        for r in REGISTRY["stream_doc_dedup"].spark(spark, sf).collect()
    }
    assert again == kept


def test_stream_mm_dedup_ledger_semantics(spark):
    """The streaming image-dedup ledger pins first_doc to the
    ORIGINAL delivery and counts the batch-4 re-deliveries: every
    re-delivered doc (doc_id+1M, identical text => identical image)
    must land in a group whose first_doc is its original and whose
    n_seen >= 2."""
    from event_stream_for_k8s_spark.plans import REGISTRY

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["stream_mm_dedup"].spark(spark, sf).collect()
    assert rows
    assert all(r["first_doc"] < 1_000_000 for r in rows)
    redelivered = [r for r in rows if r["n_seen"] >= 2]
    assert redelivered, "batch-4 re-deliveries must increment n_seen"
    total = sum(r["n_seen"] for r in rows)
    firsts = len(rows)
    # every delivery is accounted for exactly once in the ledger
    assert total > firsts


def test_foreach_batch_runner_fails_loudly_and_restores_parent(
    spark, tmp_path
):
    """The registry's foreachBatch runner: a sink body that raises
    surfaces as the query's exception, and the parent session is the
    thread's active session again afterwards (a clone left active
    would resolve later data-source lookups against its own, empty
    registry). ``createDataFrame`` on the clone, as a static-join
    dimension, is what makes the clone active in the first place."""
    from pyspark.errors import StreamingQueryException
    from pyspark.sql import SparkSession

    from event_stream_for_k8s_spark.plans.streaming_queries import (
        _run_foreach_batch,
        _streaming_session,
    )

    src = tmp_path / "src"
    src.mkdir()
    (src / "a.json").write_text('{"k": "a"}\n')
    clone = _streaming_session(spark)
    dim = clone.createDataFrame([("a", 1)], "k string, v int")
    stream = clone.readStream.schema("k string").json(str(src)).join(dim, "k")

    def failing_sink(batch, batch_id):
        raise RuntimeError("sink body failed")

    with pytest.raises(StreamingQueryException, match="sink body failed"):
        _run_foreach_batch(stream, failing_sink)
    active = SparkSession.getActiveSession()
    assert active is not None
    assert active._jsparkSession.equals(spark._jsparkSession)


def test_write_batches_replays_frames_in_order(spark, tmp_path):
    """``_write_batches`` writes exactly ``batch_0..batch_N.json`` with
    strictly ascending mtimes and no ``p*`` staging directories left
    behind, so a ``maxFilesPerTrigger=1`` stream replays the frames in
    order, one micro-batch each. The watermark, late-drop and outer-
    join fixtures depend on that order. An empty frame still gets
    its file (the empty-table sentinel feeds)."""
    from event_stream_for_k8s_spark.plans.streaming_queries import (
        _write_batches,
    )

    starts = (30, 0, 20, None, 10)
    frames = [
        spark.range(0) if s is None else spark.range(s, s + 3)
        for s in starts
    ]
    out = str(tmp_path / "feed")
    _write_batches(out, frames)
    names = [f"batch_{i}.json" for i in range(len(frames))]
    assert sorted(os.listdir(out)) == names
    mtimes = [os.stat(os.path.join(out, n)).st_mtime_ns for n in names]
    assert all(a < b for a, b in zip(mtimes, mtimes[1:]))

    seen: list[list[int]] = []
    q = (
        spark.readStream.schema("id long")
        .option("maxFilesPerTrigger", 1)
        .json(out)
        .writeStream.foreachBatch(
            lambda b, _: seen.append(sorted(r.id for r in b.collect()))
        )
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "replay did not finish"
    want = [[] if s is None else [s, s + 1, s + 2] for s in starts]
    assert seen[: len(want)] == want
    assert all(not rows for rows in seen[len(want):])


def test_cdc_fixture_replays_the_same_batches_on_every_build(
    spark, sf_dir, tmp_path, monkeypatch
):
    """``stream_cdc_upsert``'s feed is four ``_write_batches`` files, so
    two fresh builds hold the same rows in the same ``batch_0..3.json``
    and replay them in the same mtime order, and the four slices
    together hold every event once."""
    from pathlib import Path

    from event_stream_for_k8s_spark.plans.streaming_queries import _cdc_src
    from event_stream_for_k8s_spark.sources import roundtrip

    names = [f"batch_{i}.json" for i in range(4)]
    builds = []
    for fresh in ("a", "b"):
        monkeypatch.setattr(roundtrip, "CACHE_ROOT", str(tmp_path / fresh))
        out = _cdc_src(spark, sf_dir)
        files = sorted(f for f in os.listdir(out) if f.endswith(".json"))
        assert files == names
        mtimes = [os.stat(os.path.join(out, n)).st_mtime_ns for n in names]
        assert all(a < b for a, b in zip(mtimes, mtimes[1:]))
        builds.append([Path(out, n).read_bytes() for n in names])
    assert builds[0] == builds[1]
    lines = [ln for blob in builds[0] for ln in blob.splitlines()]
    assert len(lines) == roundtrip.events_as_micros(spark, sf_dir).count()
