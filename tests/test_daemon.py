"""Daemon assembly (event_stream_for_k8s_spark/daemon.py) — the full
main.rs twin: live watch transport -> spool -> k8s-events source ->
watermark dedup -> NDJSON emit + Prometheus scrape, bounded run."""

from __future__ import annotations

import json
import threading
import urllib.request
from http.server import BaseHTTPRequestHandler, HTTPServer

from event_stream_for_k8s_spark.daemon import DaemonConfig, run_daemon


def m_samples(metrics):
    return dict(metrics.processed.samples)


def _event(uid, rv, reason, ns):
    return {
        "metadata": {
            "uid": uid,
            "resourceVersion": str(rv),
            "namespace": ns,
            "creationTimestamp": "2024-03-01T10:00:00Z",
        },
        "type": "Warning",
        "reason": reason,
        "involvedObject": {"kind": "Pod", "namespace": ns, "name": "p"},
        "lastTimestamp": "2024-03-01T10:00:05Z",
        "count": 1,
        "source": {"component": "kubelet"},
    }


def _fake_apiserver():
    """A local HTTP apiserver: LIST returns u1,u2; WATCH redelivers u2
    (same uid:rv -> dedup must drop it) and adds u3, then ends."""
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):
            self.send_response(200)
            self.end_headers()
            if "watch=true" in self.path:
                for ev in (_event("u2", 2, "BackOff", "ns-a"),
                           _event("u3", 3, "Failed", "ns-b")):
                    self.wfile.write(
                        (json.dumps({"type": "ADDED", "object": ev})
                         + "\n").encode()
                    )
            else:
                self.wfile.write(
                    json.dumps(
                        {
                            "kind": "EventList",
                            "metadata": {"resourceVersion": "2"},
                            "items": [
                                _event("u1", 1, "BackOff", "ns-a"),
                                _event("u2", 2, "BackOff", "ns-a"),
                            ],
                        }
                    ).encode()
                )

    srv = HTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv


def test_daemon_end_to_end(spark, tmp_path):
    srv = _fake_apiserver()
    cfg = DaemonConfig(
        env={
            "CACHE_TTL": "3600",
            "CACHE_DB": str(tmp_path / "ck"),
            "KES_SPOOL": str(tmp_path / "spool"),
            "KES_API_URL": f"http://127.0.0.1:{srv.server_port}",
            "METRICS_PORT": "0",
        }
    )
    lines: list[str] = []
    try:
        query, metrics, mserver = run_daemon(
            spark,
            cfg,
            emit=lines.append,
            available_now=True,
            spool_max_events=4,
        )
        query.awaitTermination()
        try:
            # 4 spooled (u1, u2, u2-again, u3) -> 3 unique after dedup
            objs = [json.loads(ln) for ln in lines]
            assert len(objs) == 3
            # envelope shape: A4 time + the NESTED k8s Event object
            # (types.rs:10-18: metadata.uid / involvedObject.kind),
            # so reference NDJSON consumers parse ours unchanged
            assert all("time" in o and "kubernetes_event" in o
                       for o in objs)
            assert {o["kubernetes_event"]["metadata"]["uid"]
                    for o in objs} == {"u1", "u2", "u3"}
            assert all(
                o["kubernetes_event"]["involvedObject"]["kind"] == "Pod"
                for o in objs
            )
            # consumers keying on involvedObject.name, count or
            # source.component (ADVICE r05) see them intact and TYPED
            # (count back to int through the all-string projection)
            assert all(
                o["kubernetes_event"]["involvedObject"]["name"] == "p"
                and o["kubernetes_event"]["count"] == 1
                and o["kubernetes_event"]["source"]["component"]
                == "kubelet"
                for o in objs
            )
            # metadata.namespace comes from the Event's OWN metadata,
            # not from involvedObject (they coincide in this fixture,
            # but each is sourced from its own JSON path)
            assert all(
                o["kubernetes_event"]["metadata"]["namespace"]
                == o["kubernetes_event"]["involvedObject"]["namespace"]
                for o in objs
            )
            # reference writer semantics (tasks.rs:132-140): total
            # counts every RECEIVED event (4, duplicates included);
            # the u2 redelivery the dedup state absorbed is a hit
            metrics.sync_from_query(query)
            fam = metrics.processed.samples
            assert fam[("cache_misses",)] == 3
            assert fam[("total",)] == 4
            assert fam[("cache_hits",)] == 1
            # cachedb_size{items} mirrors the LIVE dedup state store
            # (the cache db): 3 unique keys resident, none evicted yet
            assert metrics.size.samples[("items",)] == 3
            assert metrics.size.samples[("bytes",)] > 0
            # the dedup plan runs once per batch: one state store
            # instance per shuffle partition, so numRowsTotal above
            # counts each resident key once
            ops = [o for p in query.recentProgress for o in p.stateOperators]
            assert ops and all(
                o.numStateStoreInstances == o.numShufflePartitions
                for o in ops
            )
            # 4-dim counters with real label values
            assert metrics.events.samples[
                ("Warning", "BackOff", "Pod", "ns-a")
            ] == 2
            assert metrics.events.samples[
                ("Warning", "Failed", "Pod", "ns-b")
            ] == 1
            # live scrape
            with urllib.request.urlopen(
                f"http://127.0.0.1:{mserver.port}/metrics"
            ) as resp:
                body = resp.read().decode()
            assert 'event_namespace="ns-b"} 1' in body
        finally:
            mserver.stop()
    finally:
        srv.shutdown()
        srv.server_close()


def test_daemon_continuous_sigterm_graceful(spark, tmp_path):
    """Continuous (non-availableNow) mode: the daemon processes what
    the collector appends, a SIGTERM triggers the installed handler,
    the in-flight batch commits, and the query ends without error —
    main.rs:70-80 parity."""
    import os
    import signal as _signal
    import time

    prev_term = _signal.getsignal(_signal.SIGTERM)
    cfg = DaemonConfig(
        env={
            "CACHE_TTL": "3600",
            "CACHE_DB": str(tmp_path / "ck"),
            "KES_SPOOL": str(tmp_path / "spool"),
            "METRICS_PORT": "0",
        }
    )
    # file-tail mode: pre-append two events, like a collector would
    os.makedirs(cfg.spool_dir, exist_ok=True)
    with open(os.path.join(cfg.spool_dir, "watch.jsonl"), "w") as f:
        for uid in ("a", "b"):
            f.write(json.dumps(_event(uid, 1, "BackOff", "ns")) + "\n")

    lines: list[str] = []
    query, metrics, mserver = run_daemon(
        spark, cfg, emit=lines.append, available_now=False
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline and len(lines) < 2:
            time.sleep(0.5)
        assert len(lines) == 2
        # the background sync loop reconciles received counts from
        # query progress while the daemon runs (reference total/hit
        # semantics without caller involvement)
        deadline = time.time() + 30
        while (
            time.time() < deadline
            and m_samples(metrics).get(("total",), 0) < 2
        ):
            time.sleep(0.5)
        s = m_samples(metrics)
        assert s[("total",)] == 2
        assert s[("cache_misses",)] == 2
        assert s[("cache_hits",)] == 0
        os.kill(os.getpid(), _signal.SIGTERM)
        deadline = time.time() + 30
        while time.time() < deadline and query.isActive:
            time.sleep(0.5)
        assert not query.isActive
        assert query.exception() is None  # graceful, not crashed
    finally:
        mserver.stop()
        if query.isActive:
            query.stop()
        _signal.signal(_signal.SIGTERM, prev_term)


def test_daemon_idle_gap_keeps_batch_totals(spark, tmp_path):
    """A lull longer than ``noDataProgressEventInterval`` makes Spark
    post idle-trigger progress carrying the NEXT batch's id and no
    received-count observation. It is not a batch: after the lull the
    batch that runs under that id still counts every received event,
    so total == lines appended and hits + misses == total."""
    import os
    import time

    key = "spark.sql.streaming.noDataProgressEventInterval"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "200ms")
    cfg = DaemonConfig(
        env={
            "CACHE_TTL": "3600",
            "CACHE_DB": str(tmp_path / "ck"),
            "KES_SPOOL": str(tmp_path / "spool"),
            "METRICS_PORT": "0",
        }
    )
    spool = os.path.join(cfg.spool_dir, "watch.jsonl")
    os.makedirs(cfg.spool_dir)
    open(spool, "w").close()
    # 10 unique events; each half redelivers two of them
    ev = [_event(f"u{i}", i, ("BackOff", "Failed")[i % 2], f"ns-{i % 3}")
          for i in range(10)]
    halves = (ev[:6] + ev[:2], ev[6:] + ev[5:7])
    lines: list[str] = []
    try:
        query, metrics, mserver = run_daemon(
            spark, cfg, emit=lines.append, available_now=False,
            install_signal_handlers=False,
        )
        try:
            for i, half in enumerate(halves):
                if i:
                    time.sleep(2)  # ten idle-trigger intervals
                with open(spool, "a") as f:
                    for e in half:
                        f.write(json.dumps(e) + "\n")
                query.processAllAvailable()
        finally:
            query.stop()
            mserver.stop()
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert any(
        "observedMetrics" not in p or not p["observedMetrics"]
        for p in query.recentProgress
    )  # the lull did post idle progress
    assert len(lines) == len(ev)
    metrics.sync_from_query(query)
    s = m_samples(metrics)
    assert s[("total",)] == sum(map(len, halves))
    assert s[("cache_hits",)] + s[("cache_misses",)] == s[("total",)]
    assert sum(metrics.events.samples.values()) == s[("cache_misses",)]
    assert s[("cache_misses",)] == len(ev)


def test_daemon_restart_resumes_from_checkpoint(spark, tmp_path):
    """A15 parity at the daemon level: a restart over the same
    CACHE_DB (checkpoint) and spool re-emits NOTHING — the file
    source's offsets and the dedup state both survive the restart,
    like the reference's sled db. New spool lines after the restart
    emit exactly once."""
    import json as _json
    import os

    cfg_env = {
        "CACHE_TTL": "3600",
        "CACHE_DB": str(tmp_path / "ck"),
        "KES_SPOOL": str(tmp_path / "spool"),
        "METRICS_PORT": "0",
    }
    spool = os.path.join(cfg_env["KES_SPOOL"], "watch.jsonl")
    os.makedirs(cfg_env["KES_SPOOL"], exist_ok=True)
    with open(spool, "w") as f:
        for uid in ("a", "b"):
            f.write(_json.dumps(_event(uid, 1, "BackOff", "ns")) + "\n")

    def bounded_run():
        lines: list[str] = []
        q, m, srv = run_daemon(
            spark,
            DaemonConfig(env=cfg_env),
            emit=lines.append,
            available_now=True,
        )
        q.awaitTermination()
        srv.stop()
        return lines

    first = bounded_run()
    assert len(first) == 2
    # restart, same checkpoint + unchanged spool: nothing re-emits
    second = bounded_run()
    assert second == []
    # append one NEW event and one REDELIVERY of a committed key:
    # only the new key emits (offsets resume past old bytes; the
    # dedup state still holds 'a')
    with open(spool, "a") as f:
        f.write(_json.dumps(_event("a", 1, "BackOff", "ns")) + "\n")
        f.write(_json.dumps(_event("c", 3, "Failed", "ns")) + "\n")
    third = bounded_run()
    assert len(third) == 1
    ev = _json.loads(third[0])["kubernetes_event"]
    assert ev["metadata"]["uid"] == "c"


def test_daemon_stops_when_watch_dies_fatally(spark, tmp_path):
    """main.rs:75 parity (select_all): any task ending stops the
    daemon. A fatal 401 from the apiserver kills the watch loop, which
    must stop the streaming query rather than leave a daemon that
    looks healthy while spooling nothing (ADVICE r04)."""
    import time

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):
            self.send_response(401)
            self.end_headers()

    srv = HTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    cfg = DaemonConfig(
        env={
            "CACHE_TTL": "3600",
            "CACHE_DB": str(tmp_path / "ck"),
            "KES_SPOOL": str(tmp_path / "spool"),
            "KES_API_URL": f"http://127.0.0.1:{srv.server_port}",
            "METRICS_PORT": "0",
        }
    )
    try:
        query, metrics, mserver = run_daemon(
            spark,
            cfg,
            emit=lambda s: None,
            available_now=False,
            install_signal_handlers=False,
        )
        try:
            deadline = time.time() + 60
            while time.time() < deadline and query.isActive:
                time.sleep(0.5)
            assert not query.isActive  # daemon shut down, not zombied
        finally:
            mserver.stop()
            if query.isActive:
                query.stop()
    finally:
        srv.shutdown()
        srv.server_close()


def test_daemon_bounded_watch_drains_then_stops(spark, tmp_path):
    """Continuous mode with a ``spool_max_events`` bound: once the
    watch has spooled that many events, the daemon drains them through
    the stream and stops itself, without error. Every unique event is
    emitted once, and total/cache_hits count the redelivery."""
    import time

    srv = _fake_apiserver()
    cfg = DaemonConfig(
        env={
            "CACHE_TTL": "3600",
            "CACHE_DB": str(tmp_path / "ck"),
            "KES_SPOOL": str(tmp_path / "spool"),
            "KES_API_URL": f"http://127.0.0.1:{srv.server_port}",
            "METRICS_PORT": "0",
        }
    )
    lines: list[str] = []
    try:
        query, metrics, mserver = run_daemon(
            spark, cfg, emit=lines.append, available_now=False,
            install_signal_handlers=False, spool_max_events=4,
        )
        try:
            deadline = time.time() + 60
            while time.time() < deadline and query.isActive:
                time.sleep(0.5)
            assert not query.isActive
            assert query.exception() is None
        finally:
            mserver.stop()
            if query.isActive:
                query.stop()
    finally:
        srv.shutdown()
        srv.server_close()
    uids = sorted(json.loads(ln)["kubernetes_event"]["metadata"]["uid"]
                  for ln in lines)
    assert uids == ["u1", "u2", "u3"]
    metrics.sync_from_query(query)
    s = m_samples(metrics)
    assert s[("total",)] == 4
    assert s[("cache_hits",)] == 1
    assert s[("cache_misses",)] == 3


def test_daemon_failed_start_stops_metrics_server(spark, tmp_path):
    """When the query cannot start (its checkpoint directory lies under
    a regular file), ``run_daemon`` raises and leaves no exposition
    server listening on the metrics port."""
    import socket

    import pytest as _pytest

    (tmp_path / "file").write_text("")
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        port = s.getsockname()[1]
    cfg = DaemonConfig(
        env={
            "CACHE_DB": str(tmp_path / "file" / "ck"),
            "KES_SPOOL": str(tmp_path / "spool"),
            "METRICS_PORT": str(port),
            "METRICS_HOST": "127.0.0.1",
        }
    )
    with _pytest.raises(Exception):
        run_daemon(spark, cfg, emit=None, available_now=False,
                   install_signal_handlers=False)
    with _pytest.raises(ConnectionRefusedError):
        socket.create_connection(("127.0.0.1", port), timeout=5).close()


def _drain(spark, root, events, emit):
    """Bounded file-tail drain of ``events`` (dicts, or raw line
    strings) through ``run_daemon`` from an empty checkpoint; returns
    (query, metrics)."""
    import os

    cfg = DaemonConfig(
        env={
            "CACHE_TTL": "3600",
            "CACHE_DB": str(root / "ck"),
            "KES_SPOOL": str(root / "spool"),
            "METRICS_PORT": "0",
        }
    )
    os.makedirs(cfg.spool_dir)
    with open(os.path.join(cfg.spool_dir, "watch.jsonl"), "w") as f:
        for ev in events:  # a str is written as the raw line
            f.write((ev if isinstance(ev, str) else json.dumps(ev)) + "\n")
    query, metrics, mserver = run_daemon(
        spark, cfg, emit=emit, available_now=True,
        install_signal_handlers=False,
    )
    try:
        query.awaitTermination()
    finally:
        mserver.stop()
    return query, metrics


def _golden_events():
    """Edge-case Events, each with a timestamp so ``time`` is fixed."""
    meta = {"uid": "g1", "resourceVersion": "11", "namespace": "ns-a",
            "creationTimestamp": "2024-03-01T10:00:00Z"}
    obj = {"kind": "Pod", "namespace": "ns-a", "name": "web-0"}
    return [
        # every field set
        {"metadata": meta, "involvedObject": obj, "type": "Warning",
         "reason": "BackOff", "message": "restarting", "count": 3,
         "source": {"component": "kubelet"},
         "firstTimestamp": "2024-03-01T10:00:01Z",
         "lastTimestamp": "2024-03-01T10:00:05Z"},
        # empty source; only firstTimestamp (A4 second rung)
        {"metadata": {**meta, "uid": "g2"}, "involvedObject": obj,
         "type": "Normal", "reason": "Pulled", "source": {},
         "firstTimestamp": "2024-03-01T10:01:00Z"},
        # source without component; only creationTimestamp (third rung)
        {"metadata": {**meta, "uid": "g3"}, "involvedObject": obj,
         "type": "Normal", "reason": "Created",
         "source": {"host": "node-1"}},
        # unknown fields at every level are dropped
        {"metadata": {**meta, "uid": "g4", "name": "web-0.17a",
                      "labels": {"app": "web"}, "managedFields": []},
         "involvedObject": {**obj, "uid": "pod-uid", "apiVersion": "v1"},
         "type": "Normal", "reason": "Started", "action": "Starting",
         "reportingComponent": "kubelet", "eventTime": None,
         "lastTimestamp": "2024-03-01T10:02:00Z"},
        # no metadata and no involvedObject: key ':' and '-' labels
        {"reason": "Orphan", "lastTimestamp": "2024-03-01T10:03:00Z"},
        # uid without resourceVersion, and resourceVersion without uid
        {"metadata": {"uid": "g6", "namespace": "ns-a"},
         "involvedObject": obj, "type": "Warning", "reason": "NoRv",
         "lastTimestamp": "2024-03-01T10:04:00Z"},
        {"metadata": {"resourceVersion": "17"}, "involvedObject": obj,
         "type": "Warning", "reason": "NoUid",
         "lastTimestamp": "2024-03-01T10:05:00Z"},
        # escaped non-ASCII message; the Event lives in another
        # namespace than the object it is about
        {"metadata": {**meta, "uid": "g8", "namespace": "meta-ns"},
         "involvedObject": {**obj, "namespace": "obj-ns"},
         "type": "Normal", "reason": "Scheduled",
         "message": "café ☃ “quoted”", "count": 1,
         "source": {"component": "default-scheduler"},
         "lastTimestamp": "2024-03-01T10:06:00Z"},
    ]


# the daemon's NDJSON for _golden_events, sorted
GOLDEN_LINES = [
    '{"time":"2024-03-01T10:00:00.000Z","kubernetes_event":{"metadata":{"uid":"g3","resourceVersion":"11","namespace":"ns-a","creationTimestamp":"2024-03-01T10:00:00Z"},"involvedObject":{"kind":"Pod","name":"web-0","namespace":"ns-a"},"type":"Normal","reason":"Created"}}',
    '{"time":"2024-03-01T10:00:05.000Z","kubernetes_event":{"metadata":{"uid":"g1","resourceVersion":"11","namespace":"ns-a","creationTimestamp":"2024-03-01T10:00:00Z"},"involvedObject":{"kind":"Pod","name":"web-0","namespace":"ns-a"},"type":"Warning","reason":"BackOff","message":"restarting","count":3,"source":{"component":"kubelet"},"firstTimestamp":"2024-03-01T10:00:01Z","lastTimestamp":"2024-03-01T10:00:05Z"}}',
    '{"time":"2024-03-01T10:01:00.000Z","kubernetes_event":{"metadata":{"uid":"g2","resourceVersion":"11","namespace":"ns-a","creationTimestamp":"2024-03-01T10:00:00Z"},"involvedObject":{"kind":"Pod","name":"web-0","namespace":"ns-a"},"type":"Normal","reason":"Pulled","firstTimestamp":"2024-03-01T10:01:00Z"}}',
    '{"time":"2024-03-01T10:02:00.000Z","kubernetes_event":{"metadata":{"uid":"g4","resourceVersion":"11","namespace":"ns-a","creationTimestamp":"2024-03-01T10:00:00Z"},"involvedObject":{"kind":"Pod","name":"web-0","namespace":"ns-a"},"type":"Normal","reason":"Started","lastTimestamp":"2024-03-01T10:02:00Z"}}',
    '{"time":"2024-03-01T10:03:00.000Z","kubernetes_event":{"metadata":{},"involvedObject":{},"reason":"Orphan","lastTimestamp":"2024-03-01T10:03:00Z"}}',
    '{"time":"2024-03-01T10:04:00.000Z","kubernetes_event":{"metadata":{"uid":"g6","namespace":"ns-a"},"involvedObject":{"kind":"Pod","name":"web-0","namespace":"ns-a"},"type":"Warning","reason":"NoRv","lastTimestamp":"2024-03-01T10:04:00Z"}}',
    '{"time":"2024-03-01T10:05:00.000Z","kubernetes_event":{"metadata":{"resourceVersion":"17"},"involvedObject":{"kind":"Pod","name":"web-0","namespace":"ns-a"},"type":"Warning","reason":"NoUid","lastTimestamp":"2024-03-01T10:05:00Z"}}',
    '{"time":"2024-03-01T10:06:00.000Z","kubernetes_event":{"metadata":{"uid":"g8","resourceVersion":"11","namespace":"meta-ns","creationTimestamp":"2024-03-01T10:00:00Z"},"involvedObject":{"kind":"Pod","name":"web-0","namespace":"obj-ns"},"type":"Normal","reason":"Scheduled","message":"café ☃ “quoted”","count":1,"source":{"component":"default-scheduler"},"lastTimestamp":"2024-03-01T10:06:00Z"}}',
]


def test_daemon_golden_ndjson(spark, tmp_path):
    """Edge-case Events emit fixed NDJSON: empty or component-less
    ``source`` is omitted, unknown fields are dropped, absent
    ``metadata``/``involvedObject`` emit as ``{}``, missing key parts
    key as ``''``, non-ASCII text is emitted unescaped, a blank spool
    line is skipped, and the ``event_namespace`` label is the
    involvedObject's namespace, not the Event's own."""
    events: list = _golden_events()
    events.insert(3, "")  # a blank line
    lines: list[str] = []
    query, metrics = _drain(spark, tmp_path, events, lines.append)
    assert sorted(lines) == GOLDEN_LINES
    metrics.sync_from_query(query)
    body = metrics.registry.render()
    assert 'event_reason="Scheduled",event_kind="Pod",' \
        'event_namespace="obj-ns"} 1' in body
    assert 'event_namespace="meta-ns"' not in body


def test_daemon_malformed_line_fails_the_query(spark, tmp_path):
    """A truncated JSON line in the spool fails the drain loudly; it is
    never emitted as an empty Event keyed ``:``."""
    from pyspark.errors import StreamingQueryException
    import pytest as _pytest

    good = _event("a", 1, "BackOff", "ns")
    events = [good, json.dumps(good)[:40], _event("c", 1, "BackOff", "ns")]
    lines: list[str] = []
    with _pytest.raises(StreamingQueryException):
        _drain(spark, tmp_path, events, lines.append)
    assert lines == []

def test_daemon_runs_dedup_plan_once_per_batch(spark, tmp_path):
    """The metrics and the NDJSON emit share ONE execution of the
    stateful dedup plan: a drain with one redelivery drops exactly 1
    duplicate row (2 when each consumer re-ran the plan). No per-batch
    cache outlives the batch, also when the sink raises."""
    import pytest as _pytest

    jsc = spark.sparkContext._jsc.sc()
    baseline = len(jsc.getRDDStorageInfo())
    # one redelivery
    events = [_event(uid, 1, "BackOff", "ns") for uid in ("a", "b", "a")]

    lines: list[str] = []
    query, _ = _drain(spark, tmp_path / "ok", events, lines.append)
    assert len(lines) == 2
    dropped = sum(
        o.customMetrics.get("numDroppedDuplicateRows", 0)
        for p in query.recentProgress
        for o in p.stateOperators
    )
    assert dropped == 1
    assert len(jsc.getRDDStorageInfo()) == baseline

    def fail(line):
        raise RuntimeError("emit failed")

    with _pytest.raises(Exception, match="emit failed"):
        _drain(spark, tmp_path / "raises", events, fail)
    assert len(jsc.getRDDStorageInfo()) == baseline


def test_daemon_emit_runs_one_job_per_batch(spark, tmp_path):
    """In emit mode a micro-batch costs ONE Spark job: the sink
    collects the deduped rows once and counts the metric labels on the
    driver as it prints them (no cache, no metrics aggregate, no
    per-partition iterator jobs)."""
    lines: list[str] = []
    events = [
        _event(f"u{i}", i, reason, f"ns-{i % 2}")
        for i, reason in enumerate(["BackOff", "Failed", "BackOff"] * 3)
    ]
    query, metrics = _drain(
        spark, tmp_path, events + events[:2], lines.append
    )
    assert len(lines) == len(events)
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(
        str(query.runId)
    )
    assert query.recentProgress
    assert len(jobs) == len(query.recentProgress)
    metrics.sync_from_query(query)
    s = metrics.processed.samples
    assert s[("cache_misses",)] == len(events)
    assert s[("cache_hits",)] == 2
    assert sum(metrics.events.samples.values()) == len(events)


def test_daemon_emit_none_counts_without_printing(spark, tmp_path, capsys):
    """``run_daemon(emit=None)`` still counts every batch: the golden
    Events plus one redelivery give 9 received, 8 misses, 1 hit and 8
    labelled events, and no line reaches stdout."""
    events = _golden_events()
    query, metrics = _drain(spark, tmp_path, events + events[:1], None)
    metrics.sync_from_query(query)
    s = metrics.processed.samples
    assert s[("total",)] == 9
    assert s[("cache_misses",)] == 8
    assert s[("cache_hits",)] == 1
    assert sum(metrics.events.samples.values()) == 8
    assert capsys.readouterr().out == ""


def test_daemon_driver_tally_matches_observe_batch(spark, tmp_path,
                                                   monkeypatch):
    """For a batch of unique keys, the daemon sink's driver tally
    stages exactly what ``observe_batch`` (the Spark aggregate) stages
    over the same events as a static frame: the same per-label counts
    and byte totals, for the same batch id."""
    from pyspark.sql import functions as F

    from event_stream_for_k8s_spark.sources.k8s_events import (
        event_key,
        event_time,
        read_events_jsonl,
    )
    from event_stream_for_k8s_spark.streaming.prom_metrics import (
        K8sStreamMetrics,
    )

    staged: list[tuple] = []
    apply_batch = K8sStreamMetrics.apply_batch

    def record(self, labels, nbytes, total, defer_totals_batch_id=None):
        if labels:
            staged.append(
                (defer_totals_batch_id, sorted(labels), nbytes, total)
            )
        return apply_batch(self, labels, nbytes, total,
                           defer_totals_batch_id)

    monkeypatch.setattr(K8sStreamMetrics, "apply_batch", record)
    events = [
        _event(f"uid-{i}", 10 + i, reason, ns)
        for i, (reason, ns) in enumerate(
            [("BackOff", "ns-a"), ("Failed", "ns-b"), ("BackOff", "ns-a"),
             ("Pulled", "kube-system"), ("Failed", "ns-b")]
        )
    ]
    # an Event with no type/reason/kind/namespace: '-' label defaults
    bare = _event("uid-bare", 99, None, None)
    del bare["type"], bare["involvedObject"]
    events.append(bare)
    lines: list[str] = []
    _drain(spark, tmp_path / "emit", events, lines.append)
    assert len(lines) == len(events)
    frame = read_events_jsonl(
        spark, str(tmp_path / "emit" / "spool" / "watch.jsonl"),
        streaming=False,
    ).select(
        event_key().alias("k"),
        event_time().alias("time"),
        "type",
        "reason",
        F.col("involvedObject.kind").alias("kind"),
        F.col("involvedObject.namespace").alias("namespace"),
    )
    K8sStreamMetrics().observe_batch(
        frame, "k", ("time",), defer_totals_batch_id=staged[0][0]
    )
    assert len(staged) == 2
    assert staged[0] == staged[1]
    assert staged[0][1][0] == ("-", "-", "-", "-", 1)
    assert sum(n for *_, n in staged[0][1]) == len(events)


def test_in_cluster_https_self_signed_ca(tmp_path):
    """K8sWatchSpooler.in_cluster against a localhost HTTPS server
    whose cert chains to a SELF-SIGNED CA (the in-pod reality: the
    apiserver cert chains to the cluster CA, not a system root) —
    VERDICT r06 #4. Asserts: custom-CA TLS verification succeeds, the
    bearer token is read from the SA dir and SENT, the token file is
    RE-read per connection (rotation), and a default-context client
    (no cluster CA) is rejected."""
    import os
    import ssl
    import subprocess
    import urllib.error

    import pytest as _pytest

    from event_stream_for_k8s_spark.sources.k8s_watch_http import (
        K8sWatchSpooler,
    )

    # self-signed CA == server cert (one hop), SAN for 127.0.0.1
    cert = str(tmp_path / "ca.crt")
    key = str(tmp_path / "ca.key")
    gen = subprocess.run(
        ["openssl", "req", "-x509", "-newkey", "rsa:2048", "-nodes",
         "-keyout", key, "-out", cert, "-days", "1",
         "-subj", "/CN=kubernetes",
         "-addext", "subjectAltName=DNS:localhost,IP:127.0.0.1"],
        capture_output=True, text=True,
    )
    if gen.returncode != 0:
        _pytest.skip(f"openssl unavailable: {gen.stderr[-200:]}")

    # pod-style service-account dir
    sa = tmp_path / "serviceaccount"
    sa.mkdir()
    (sa / "token").write_text("tok-one\n")
    (sa / "namespace").write_text("kube-probe\n")
    import shutil as _sh

    _sh.copy(cert, sa / "ca.crt")

    seen_auth: list[str] = []

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):
            seen_auth.append(self.headers.get("Authorization", ""))
            self.send_response(200)
            self.end_headers()
            if "watch=true" in self.path:
                self.wfile.write(
                    (json.dumps({
                        "type": "ADDED",
                        "object": _event("u9", 9, "Pulled", "kube-probe"),
                    }) + "\n").encode()
                )
            else:
                self.wfile.write(json.dumps({
                    "kind": "EventList",
                    "metadata": {"resourceVersion": "8"},
                    "items": [_event("u8", 8, "Created", "kube-probe")],
                }).encode())

    srv = HTTPServer(("127.0.0.1", 0), Handler)
    ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
    ctx.load_cert_chain(certfile=cert, keyfile=key)
    srv.socket = ctx.wrap_socket(srv.socket, server_side=True)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    old_env = dict(os.environ)
    os.environ["KUBERNETES_SERVICE_HOST"] = "127.0.0.1"
    os.environ["KUBERNETES_SERVICE_PORT"] = str(srv.server_port)
    try:
        spool = str(tmp_path / "spool.jsonl")
        sp = K8sWatchSpooler.in_cluster(
            spool, pod_namespace=True, sa_dir=str(sa)
        )
        # pod-namespace scoping came from the SA dir
        assert sp.namespace == "kube-probe"
        n = sp.run()
        assert n == 2  # 1 listed + 1 watched over verified TLS
        assert seen_auth[0] == "Bearer tok-one"

        # token rotation: the file is re-read on the next connection
        (sa / "token").write_text("tok-two\n")
        sp.run()
        assert seen_auth[-1] == "Bearer tok-two"

        # and the custom CA is LOAD-BEARING: a spooler without it
        # (system trust roots) must fail TLS verification
        bad = K8sWatchSpooler(
            f"https://127.0.0.1:{srv.server_port}", spool
        )
        with _pytest.raises(urllib.error.URLError, match="certificate|CERTIFICATE"):
            bad.list_once()

        # IPv6 single-stack clusters export a BARE IPv6 address in
        # KUBERNETES_SERVICE_HOST — the URL authority must bracket it
        os.environ["KUBERNETES_SERVICE_HOST"] = "fd00::1"
        sp6 = K8sWatchSpooler.in_cluster(spool, sa_dir=str(sa))
        assert sp6.base_url == f"https://[fd00::1]:{srv.server_port}"
    finally:
        os.environ.clear()
        os.environ.update(old_env)
        srv.shutdown()
