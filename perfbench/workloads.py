"""The workloads; ``RUNNERS`` maps each name to its runner.

Each runner fills a ``run.Result``: end-to-end metrics always, and the
per-layer metrics when ``args.trace`` is set. Names and units are in
``BENCHMARK.json``; README.md gives the rationale.

``daemon`` runs two phases on one daemon set-up, because the JVM launch
and the daemon's first micro-batch cost more than either phase:

* replay: a seeded spool is drained by ``run_daemon(available_now=True)``
  in file-tail mode from an empty checkpoint, after an untimed warm-up
  drain, at least twice and until the run's seconds are spent.
  Throughput is events drained per second, the median over the drains.
* live: a generator process serves a fake apiserver (empty LIST, then
  one WATCH stream at a fixed rate, open loop); the daemon watches it
  continuously. Latency runs from when each event was due to its emit.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

import gen
from run import HERE, WORK, log, new_session, quantile, timed_setups

LIVE_RATE = 50.0  # events/s offered on the WATCH stream
# the watch layer appends to the spool 256 lines at a time; the live
# stream is whole such groups, so that no timed event waits for a
# group cut short by the end of the stream
SPOOL_GROUP = 256
LIVE_TTL = 5  # CACHE_TTL: eviction runs within the live phase
REPLAY_EVENTS = 25_000  # events per catch-up spool
# longer than a spool's event-time span: every redelivery reads state
REPLAY_TTL = 3600
MIN_DRAINS = 2  # timed catch-up drains per run, at least
WARMUP_EVENTS = 5_000  # events of the untimed warm-up drain


def _gen(*argv: str, **popen) -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, os.path.join(HERE, "gen.py"), *argv], **popen
    )


def _gen_wait(p: subprocess.Popen) -> None:
    if p.wait() != 0:
        raise RuntimeError(f"gen.py {p.args[2]} exited with {p.returncode}")


def _gen_run(*argv: str) -> None:
    _gen_wait(_gen(*argv))


def _fresh(name: str) -> str:
    path = os.path.join(WORK, name)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _daemon_config(d: str, ttl: int, api_url: str | None = None):
    from event_stream_for_k8s_spark.daemon import DaemonConfig

    env = {
        "CACHE_TTL": str(ttl),
        "CACHE_DB": os.path.join(d, "events-db"),
        "KES_SPOOL": os.path.join(d, "spool"),
        "METRICS_PORT": "0",
        "METRICS_HOST": "127.0.0.1",
    }
    if api_url:
        env["KES_API_URL"] = api_url
    return DaemonConfig(env)


def _tail_config(name: str, src: str):
    """A file-tail daemon config whose spool is ``src``."""
    cfg = _daemon_config(_fresh(name), REPLAY_TTL)
    os.makedirs(cfg.spool_dir)
    os.link(src, os.path.join(cfg.spool_dir, "watch.jsonl"))
    return cfg


def check_emitted(res, seed: int, lines: list[str], first_pos: list[int],
                  what: str) -> list[int]:
    """Every distinct ``uid:resourceVersion`` emitted exactly once and
    nothing else; returns the event index of each line (-1: unknown)."""
    seen: set[int] = set()
    idxs, bad = [], 0
    for ln in lines:
        meta = json.loads(ln)["kubernetes_event"]["metadata"]
        idx = int(meta["resourceVersion"]) - 100000
        if not 0 <= idx < len(first_pos) or meta["uid"] != gen.uid(seed, idx):
            bad += 1
            idxs.append(-1)
            continue
        if idx in seen:
            bad += 1
        seen.add(idx)
        idxs.append(idx)
    missing = len(first_pos) - len(seen)
    if bad or missing:
        res.fail(f"{what}: {missing} keys never emitted, {bad} duplicate or "
                 f"unknown lines", bad + missing)
    return idxs


def check_counters(res, metrics, sent: int, distinct: int, what: str) -> None:
    """After ``sync_from_query``: total = sent, cache_misses = distinct,
    cache_hits = sent - distinct, sum of the 4-dim counter = distinct."""
    processed, events = {}, 0.0
    for ln in metrics.registry.render().splitlines():
        if ln.startswith("kube_event_stream_cachedb_events_processed{"):
            kind = ln.split('type="', 1)[1].split('"', 1)[0]
            processed[kind] = float(ln.rsplit(" ", 1)[1])
        elif ln.startswith("kube_event_stream_events_count{"):
            events += float(ln.rsplit(" ", 1)[1])
    want = {"total": sent, "cache_misses": distinct,
            "cache_hits": sent - distinct}
    got = {k: processed.get(k, 0.0) for k in want}
    if got != {k: float(v) for k, v in want.items()} or events != distinct:
        res.fail(f"{what}: counters {got} events={events}, want {want} "
                 f"events={distinct}")


def put_exec(res, st: dict) -> None:
    for k in ("jobs", "stages", "shuffle_read_bytes", "shuffle_write_bytes",
              "spill_bytes", "task_skew_max"):
        res.put(f"exec.{k}", st[k])
    for k, v in st.items():
        if k.startswith("python."):
            res.put(k, v)


def finish_trace(res, tracer, args, extra: dict) -> None:
    tracer.close()
    res.put("trace.spans", len(tracer.spans))
    res.put("trace.overhead_s", tracer.overhead_s())
    out = os.path.join(os.path.dirname(WORK), ".perfbench_traces")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"{args.workload}-seed{args.seed}.json")
    tracer.dump(path, extra)
    res.notes.append(f"spans and self times written to {path}")
    for name, s in sorted(tracer.self_times().items()):
        res.notes.append(f"self time {name}: {s:.3f} s")


# ---- set-up ----------------------------------------------------------------

def daemon_setups(res):
    """setup_s: a fresh session, then ``run_daemon`` in file-tail mode
    until it returns with its query started. Returns the last session."""
    from event_stream_for_k8s_spark import daemon

    n = [0]

    def ready(spark):
        n[0] += 1
        cfg = _daemon_config(_fresh(f"setup-{n[0]}"), LIVE_TTL)
        q, _, server = daemon.run_daemon(
            spark, cfg, emit=None, install_signal_handlers=False
        )
        return q, server

    def teardown(spark, ctx):
        q, server = ctx
        q.stop()
        server.stop()

    # each set-up after the first costs about 3 s
    setup_s, start_s, spark = timed_setups(ready, teardown, 3)
    res.put("setup_s", setup_s)
    res.put("session.start_s", start_s)
    log(f"set-ups done, median {setup_s:.2f} s")
    return spark


def warm_up(spark, args, res, name: str) -> None:
    """Drain a small seeded spool once, untimed, so the session's Python
    workers, code generation and first-batch costs are paid before
    timing."""
    src = os.path.join(WORK, "warm-up.jsonl")
    if not os.path.exists(src):
        _gen_run("spool", "--seed", str(args.seed), "--events",
                 str(WARMUP_EVENTS), "--out", src)
    drain(spark, src, WARMUP_EVENTS, args.seed,
          gen.replay_plan(args.seed, WARMUP_EVENTS)[1], res, name)


# ---- tracing helpers ---------------------------------------------------------

class DaemonTrace:
    """Per-layer readings for the daemon: progress records from a
    listener, spans around the metrics calls, Spark status."""

    def __init__(self, tracer, spark) -> None:
        from event_stream_for_k8s_spark.streaming import prom_metrics

        from tracing import StatusProbe, progress_listener

        self.tracer = tracer
        self.progress: list[dict] = []
        self.spool_path: str | None = None
        self.lag_bytes: list[int] = []
        tracer.wrap(prom_metrics.K8sStreamMetrics, "observe_batch",
                    "prom_metrics.observe_batch")
        tracer.wrap(prom_metrics.K8sStreamMetrics, "sync_from_query",
                    "prom_metrics.sync_from_query")
        spark.streams.addListener(progress_listener(tracer, self._on_progress))
        self.probe = StatusProbe(spark)

    def _on_progress(self, p: dict) -> None:
        self.progress.append(p)
        if self.spool_path and p.get("sources"):
            end = p["sources"][0].get("endOffset")
            if isinstance(end, str):
                end = json.loads(end)
            if end:
                self.lag_bytes.append(
                    os.path.getsize(self.spool_path) - int(end["pos"])
                )

    @staticmethod
    def batches(query, with_data: bool = True) -> list[dict]:
        """Progress of ``query``'s micro-batches, by default only those
        that carried data (the listener's copies may still be on their
        way when the query ends)."""
        out = [json.loads(p.json) for p in query.recentProgress]
        return [p for p in out if p.get("numInputRows") or not with_data]

    def report_live(self, res, query) -> None:
        every = self.batches(query, with_data=False)
        res.put("daemon.first_batch_s",
                every[0]["durationMs"].get("triggerExecution", 0) / 1000.0)
        data = self.batches(query)
        dur = [p.get("durationMs") or {} for p in data]

        def ops(rows):
            return [(p.get("stateOperators") or [{}])[0] for p in rows]

        def p50(rows, key):
            v = [r.get(key, 0) for r in rows]
            return statistics.median(v) if v else 0.0

        res.put("daemon.trigger_ms_p50", p50(dur, "triggerExecution"))
        res.put("daemon.add_batch_ms_p50", p50(dur, "addBatch"))
        res.put("daemon.wal_commit_ms_p50", p50(dur, "walCommit"))
        res.put("daemon.commit_offsets_ms_p50", p50(dur, "commitOffsets"))
        res.put("daemon.planning_ms_p50", p50(dur, "queryPlanning"))
        res.put("daemon.batches", len(data))
        res.put("daemon.rows_per_batch_p50", p50(data, "numInputRows"))
        res.put("dedup_pipeline.commit_ms_p50", p50(ops(data), "commitTimeMs"))
        res.put("dedup_pipeline.update_ms_p50",
                p50(ops(data), "allUpdatesTimeMs"))
        # eviction also runs in the no-data batches a watermark advance
        # triggers
        res.put("dedup_pipeline.removal_ms_p50",
                p50(ops(every), "allRemovalsTimeMs"))
        res.put("dedup_pipeline.rows_removed",
                sum(o.get("numRowsRemoved", 0) for o in ops(every)))
        res.put("dedup_pipeline.state_rows",
                max(o.get("numRowsTotal", 0) for o in ops(every)))
        res.put("dedup_pipeline.state_bytes",
                max(o.get("memoryUsedBytes", 0) for o in ops(every)))
        res.put("prom_metrics.sync_s",
                self.tracer.total("prom_metrics.sync_from_query"))
        if self.lag_bytes:
            res.put("k8s_datasource.lag_bytes_p99",
                    quantile(self.lag_bytes, 0.99))
        st = self.probe.take()
        res.put("daemon.jobs_per_batch", st["jobs"] / max(1, len(data)))


class SpoolPoller:
    """Notes when the watch layer appends each line to the spool; the
    k-th line is stream position k."""

    def __init__(self, path: str) -> None:
        self.path = path
        self.seen: list[float] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        pos = 0
        while not self._stop.wait(0.01):
            try:
                with open(self.path, "rb") as f:
                    f.seek(pos)
                    chunk = f.read()
            except OSError:
                continue
            now = time.time()
            # only whole lines: a torn tail is read again next time
            chunk = chunk[:chunk.rfind(b"\n") + 1]
            pos += len(chunk)
            self.seen.extend([now] * chunk.count(b"\n"))

    def close(self) -> None:
        self._stop.set()
        self._thread.join()


def wait_idle(q, timeout: float = 60.0) -> None:
    """Return once ``q`` has finished a trigger and waits for data."""
    deadline = time.time() + timeout
    while not (q.lastProgress and "Waiting for data" in q.status["message"]):
        if not q.isActive or time.time() > deadline:
            raise RuntimeError(f"the daemon did not start: {q.status}")
        time.sleep(0.01)


# ---- the two phases ----------------------------------------------------------

def live_phase(spark, args, res, rss, dt) -> None:
    from event_stream_for_k8s_spark import daemon

    groups = max(1, round(args.seconds * LIVE_RATE / SPOOL_GROUP))
    sent = groups * SPOOL_GROUP
    total_s = sent / LIVE_RATE
    order, first_pos = gen.live_plan(args.seed, sent, LIVE_RATE)
    distinct = len(first_pos)
    res.attempted += sent
    srv = _gen("serve", "--seed", str(args.seed), "--events", str(sent),
               "--rate", str(LIVE_RATE), stdin=subprocess.PIPE,
               stdout=subprocess.PIPE)
    rss.exclude.add(srv.pid)
    poller = None
    try:
        port = int(srv.stdout.readline())
        cfg = _daemon_config(_fresh("live"), LIVE_TTL,
                             f"http://127.0.0.1:{port}")
        emitted: list[tuple[float, str]] = []
        q, metrics, server = daemon.run_daemon(
            spark, cfg, emit=lambda ln: emitted.append((time.time(), ln)),
            install_signal_handlers=False, spool_max_events=sent,
        )
        # the query's first trigger is set-up, not latency: start the
        # stream once the daemon idles. The generator takes its t0 when
        # it reads "go"; the daemon stops itself once the watch has
        # spooled ``sent`` events and the stream has drained them
        wait_idle(q)
        if dt:
            dt.probe.take()
        t_go = time.time()
        srv.stdin.write(b"go\n")
        srv.stdin.flush()
        if dt:
            dt.spool_path = os.path.join(cfg.spool_dir, "watch.jsonl")
            poller = SpoolPoller(dt.spool_path)
        log("WATCH stream started")
        q.awaitTermination(total_s + 30)
        if poller:
            poller.close()
        if q.isActive:
            q.stop()
            res.fail("the daemon did not drain the WATCH stream in time")
        try:
            srv.wait(timeout=10)
        except subprocess.TimeoutExpired:
            srv.kill()
        stats = json.loads(srv.stdout.readline() or "{}")
        server.stop()
        metrics.sync_from_query(q)
        log("live phase drained")
    finally:
        if srv.poll() is None:
            srv.kill()
        srv.wait()
        srv.stdout.close()
        srv.stdin.close()

    late_ms = float(stats.get("late_ms_max", 1e9))
    if late_ms > 500 or stats.get("sent") != sent:
        res.fail(f"the generator fell behind schedule ({late_ms:.0f} ms) or "
                 f"sent {stats.get('sent')} of {sent}; run not reported", sent)
    t0 = float(stats.get("t0") or t_go)
    idxs = check_emitted(res, args.seed, [ln for _, ln in emitted], first_pos,
                         "live")
    check_counters(res, metrics, sent, distinct, "live")
    lat = [t - (t0 + first_pos[i] / LIVE_RATE)
           for (t, _), i in zip(emitted, idxs) if i >= 0]
    if not lat:
        res.fail("no latency samples")
        lat = [0.0]
    res.put("latency_p50_s", statistics.median(lat))
    res.put("latency_p99_s", quantile(lat, 0.99))
    res.put("gen.late_ms_max", late_ms)
    res.notes.append(f"live: {len(lat)} latency samples, generator late at "
                     f"most {late_ms:.1f} ms")
    if dt:
        ds = [t - (t0 + k / LIVE_RATE) for k, t in enumerate(poller.seen)]
        if ds:
            res.put("k8s_watch_http.spool_delay_p50_s", statistics.median(ds))
            res.put("k8s_watch_http.spool_delay_p99_s", quantile(ds, 0.99))
        dt.report_live(res, q)
        res.put("trace.latency_p50_s", statistics.median(lat))


def drain(spark, src: str, events: int, seed: int, first_pos, res,
          name: str):
    """One catch-up drain of the spool ``src`` from an empty checkpoint,
    checked; returns (seconds, query)."""
    from event_stream_for_k8s_spark import daemon

    cfg = _tail_config(name, src)
    emitted: list[str] = []
    t0 = time.perf_counter()
    q, metrics, server = daemon.run_daemon(
        spark, cfg, emit=emitted.append, available_now=True,
        install_signal_handlers=False,
    )
    q.awaitTermination(60)
    secs = time.perf_counter() - t0
    if q.isActive:
        q.stop()
        res.fail(f"{name}: the drain did not finish within 60 s")
    server.stop()
    metrics.sync_from_query(q)
    check_emitted(res, seed, emitted, first_pos, name)
    check_counters(res, metrics, events, len(first_pos), name)
    res.attempted += events
    shutil.rmtree(os.path.dirname(cfg.spool_dir), ignore_errors=True)
    log(f"{name}: {secs:.2f} s")
    return secs, q


def replay_phase(spark, args, res, dt, src: str):
    """An untimed warm-up drain that pays the session's first-batch
    costs, then timed drains of the replay spool, at least
    ``MIN_DRAINS`` and until the run's seconds are spent."""
    first_pos = gen.replay_plan(args.seed, REPLAY_EVENTS)[1]
    warm_up(spark, args, res, "warm-up")
    eps, n = [], 0
    if dt:
        dt.spool_path = None
    t_end = time.perf_counter() + args.seconds
    while n < MIN_DRAINS or time.perf_counter() < t_end:
        n += 1
        if dt:
            dt.probe.take()
            t_start = time.perf_counter()
        secs, q = drain(spark, src, REPLAY_EVENTS, args.seed, first_pos,
                           res, f"replay-{n}")
        eps.append(REPLAY_EVENTS / secs)
        if dt:
            # per-layer readings: the last drain's overwrite the others
            observe = dt.tracer.total("prom_metrics.observe_batch",
                                      since=t_start)
            add = sum((p.get("durationMs") or {}).get("addBatch", 0)
                      for p in dt.batches(q)) / 1000.0
            res.put("prom_metrics.observe_batch_s", observe)
            res.put("daemon.emit_s", add - observe)
            dropped = sum(
                ((p.get("stateOperators") or [{}])[0].get("customMetrics")
                 or {}).get("numDroppedDuplicateRows", 0)
                for p in dt.batches(q))
            res.put("dedup_pipeline.dropped_per_redelivery",
                    dropped / (REPLAY_EVENTS - len(first_pos)))
            put_exec(res, dt.probe.take())
    res.put("throughput_ops", statistics.median(eps))
    res.notes.append(f"replay: {n} drains of {REPLAY_EVENTS} events, "
                     f"{[round(e) for e in eps]} events/s")
    return first_pos, eps


def run_daemon_workload(args, res, rss) -> None:
    from event_stream_for_k8s_spark.sources.k8s_datasource import (
        K8sEventsStreamReader,
    )

    from tracing import Tracer

    # the replay spool is written by its own process during the set-ups
    src = os.path.join(WORK, "replay.jsonl")
    writer = _gen("spool", "--seed", str(args.seed), "--events",
                  str(REPLAY_EVENTS), "--out", src)
    spark = daemon_setups(res)
    tracer = Tracer() if args.trace else None
    dt = DaemonTrace(tracer, spark) if tracer else None
    _gen_wait(writer)
    # replay first: its drains also warm the session for the live phase
    first_pos, eps = replay_phase(spark, args, res, dt, src)
    live_phase(spark, args, res, rss, dt)
    if tracer:
        res.put("run.replay_eps", statistics.median(eps))
        res.put("trace.throughput_ops", statistics.median(eps))
        # the source's parse, single-threaded and in-process
        reader = K8sEventsStreamReader({"path": src})
        t0 = time.perf_counter()
        rows = 0
        for part in reader.partitions({"pos": 0}, reader.latestOffset()):
            for batch in reader.read(part):
                rows += batch.num_rows
        res.put("k8s_datasource.read_eps", rows / (time.perf_counter() - t0))
        finish_trace(res, tracer, args, {"progress": dt.progress})
        spark.stop()
        # the same drain at local[1], so the parallel speed-up has a base
        spark = new_session(cores=1)
        warm_up(spark, args, res, "warm-up-1core")
        secs, _ = drain(spark, src, REPLAY_EVENTS, args.seed, first_pos, res,
                         "replay-1core")
        res.put("run.replay_eps_1core", REPLAY_EVENTS / secs)
    spark.stop()


def run_batch(args, res, rss) -> None:
    import batch

    batch.run(args, res)


RUNNERS = {
    "daemon": run_daemon_workload,
    "batch_queries": run_batch,
}
