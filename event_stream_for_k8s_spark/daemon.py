"""The reference daemon, assembled (``src/main.rs``).

The reference binary wires four tasks: a cluster-wide Event watcher
(``main.rs:68``), a writer that dedups against the sled cache and
prints each new event as one NDJSON line (``tasks.rs:66-148``), a TTL
cache cleaner (``tasks.rs:184-224``), and a Prometheus exporter on
``0.0.0.0:9000`` (``main.rs:63``), with SIGTERM/SIGINT broadcast
shutdown (``main.rs:70-80``). Configuration comes from the
environment (``config.rs``: ``CACHE_TTL`` default 3600, ``CACHE_DB``
default ``events-db``).

This module assembles the same daemon from the engine's parts, each
mapped Spark-first:

| reference task | here |
|---|---|
| kube watcher + backoff | `K8sWatchSpooler.run_with_reconnect` in a daemon thread started once the query runs, spooling NDJSON that the `k8s-events` source reads on the driver, in Spark's source runner, and ships to the JVM with each micro-batch's plan |
| sled cache + writer | `dedup_within_ttl` (watermark-bounded `dropDuplicatesWithinWatermark`; the checkpointed state store IS the cache db) + one foreachBatch sink that prints and counts each batch (emit, then commit: at-least-once, as the reference) |
| select_all shutdown | the watch thread stops the query when the watch ends (``main.rs:75``) |
| cache cleaner | watermark state eviction (no separate task needed) |
| prometheus_exporter | `K8sStreamMetrics` + `ExpositionServer` |
| SIGTERM/SIGINT handling | `signal` -> `StreamingQuery.stop()` (graceful: the current batch commits, then the query ends) |

Env config (reference names kept where they exist):
  CACHE_TTL      dedup TTL seconds (default 3600, config.rs:11)
  CACHE_DB       checkpoint directory (default ./events-db)
  KES_SPOOL      spool directory (default ./kes-spool)
  KES_API_URL    k8s API base URL; if unset, the spool is expected to
                 be appended by an external collector (file-tail mode)
  KES_NAMESPACE  optional namespace scope for the watch
  METRICS_PORT   exposition port (default 9000, main.rs:63)
  METRICS_HOST   exposition bind address (default 0.0.0.0, as the
                 reference binds — a pod-IP scrape must reach it)

Scale note: stdout NDJSON mirrors the reference's emit
(``tasks.rs:105``); the print point is inherently a single process.
A micro-batch costs ONE Spark job, a ``collect()`` of its deduped
rows, and the driver counts the metric labels as it prints them. Its
spool lines are read on the driver too (``k8s_datasource``), so the
job's tasks run no Python: the batch is parsed in one task, and the
dedup stage after the shuffle keeps its parallelism. The checkpoint
(offset log, commit log, one state delta per state partition) is
written through Hadoop's ``FileSystem`` API (``session.get_spark``),
so a batch's renames fork no ``readlink`` (SCALING.md §5).
Driver memory is O(batch), and a batch is what the spool grew by since
the last trigger. Nothing caps it: ``_keyed_stream`` sets neither of
the source's ``maxEventsPerBatch`` / ``maxBytesPerBatch`` options, and
the source leaves its first read of each run uncapped anyway, so a
run's first batch takes the whole backlog it finds in the spool
(``toLocalIterator`` would hold one partition at a time, but run one
job per partition).
"""

from __future__ import annotations

import logging
import os
import signal
import threading
from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from event_stream_for_k8s_spark.sources.k8s_events import (
    event_key,
    event_struct,
    event_time,
    parse_events,
)
from event_stream_for_k8s_spark.streaming.dedup_pipeline import (
    dedup_within_ttl,
)
from event_stream_for_k8s_spark.streaming.prom_metrics import (
    RECEIVED_OBSERVATION,
    ExpositionServer,
    K8sStreamMetrics,
)

log = logging.getLogger(__name__)


class DaemonConfig:
    """config.rs twin — env with defaults, read eagerly at start."""

    def __init__(self, env=os.environ):
        self.cache_ttl = int(env.get("CACHE_TTL", "3600"))
        self.cache_db = env.get("CACHE_DB", "events-db")
        self.spool_dir = env.get("KES_SPOOL", "kes-spool")
        self.api_url = env.get("KES_API_URL")
        self.namespace = env.get("KES_NAMESPACE")
        self.metrics_port = int(env.get("METRICS_PORT", "9000"))
        self.metrics_host = env.get("METRICS_HOST", "0.0.0.0")


def _keyed_stream(spark: SparkSession, spool_dir: str) -> DataFrame:
    """Spool -> keyed envelope stream.

    The ``k8s-events`` source serves the spool's lines; ``parse_events``
    parses them once, on the JVM, and ``sources.k8s_events`` supplies
    the rest: the A4 time (``event_time``, falling back to now()
    exactly as the reference does for timestamp-less events), the
    nested ``kubernetes_event`` the NDJSON emit serializes
    (``event_struct``, types.rs:10-18) and the A5
    ``uid:resourceVersion`` key (``event_key``). The 4-dim label
    columns default to ``'-'`` (tasks.rs:109-121).
    """
    from event_stream_for_k8s_spark.sources.k8s_datasource import register

    register(spark)
    raw = (
        spark.readStream.format("k8s-events")
        .option("path", os.path.join(spool_dir, "watch.jsonl"))
        .load()
    )
    labels = {
        "etype": "type",
        "ereason": "reason",
        "ekind": "involvedObject.kind",
        "ens": "involvedObject.namespace",
    }
    return parse_events(raw).select(
        event_time().alias("time"),
        event_struct().alias("kubernetes_event"),
        event_key().alias("k"),
        *(
            F.coalesce(F.col(c), F.lit("-")).alias(a)
            for a, c in labels.items()
        ),
    )


def run_daemon(
    spark: SparkSession,
    config: DaemonConfig | None = None,
    emit=print,
    available_now: bool = False,
    install_signal_handlers: bool = True,
    spool_max_events: int | None = None,
):
    """Assemble and run the daemon; returns (query, metrics, server).

    ``available_now=True`` gives the bounded batch-catch-up mode
    (tests, replay); the default runs continuously until a signal.
    ``emit`` receives each NDJSON line driver-side (the reference's
    stdout contract); with ``emit=None`` each batch is still counted,
    and nothing is printed. In continuous mode with ``KES_API_URL`` the
    watch thread starts once the query has started, and it stops the
    query when the watch ends: after draining the spool if the watch
    ended normally (a ``spool_max_events`` bound), at once if it died.
    """
    cfg = config or DaemonConfig()
    os.makedirs(cfg.spool_dir, exist_ok=True)
    spool_path = os.path.join(cfg.spool_dir, "watch.jsonl")

    if cfg.api_url:
        from event_stream_for_k8s_spark.sources.k8s_watch_http import (
            K8sWatchSpooler,
        )

        spooler = K8sWatchSpooler(
            cfg.api_url, spool_path, namespace=cfg.namespace
        )
        if available_now:
            # bounded replay: the catch-up pull must COMPLETE before
            # the one-shot stream lists its input, or the run silently
            # truncates. With a max_events bound, wait for the thread
            # and fail loudly on timeout; without one, do a single
            # synchronous LIST+WATCH-to-EOF pull (spooler.run) instead
            # of the endless reconnect loop.
            if spool_max_events is None:
                spooler.run()
            else:
                spooler_thread = threading.Thread(
                    target=lambda: spooler.run_with_reconnect(
                        max_events=spool_max_events
                    ),
                    daemon=True,
                    name="kes-watch-spooler",
                )
                spooler_thread.start()
                spooler_thread.join(timeout=120)
                if spooler_thread.is_alive():
                    raise TimeoutError(
                        "watch catch-up did not reach "
                        f"{spool_max_events} events within 120s; "
                        "raise the timeout or lower the bound"
                    )
    elif not os.path.exists(spool_path):
        # file-tail mode: the collector appends; start from empty
        open(spool_path, "a").close()

    metrics = K8sStreamMetrics()
    # `total`/`cache_hits` count EVERY received event (duplicates
    # included, tasks.rs:132-140), so the received count is observed
    # PRE-dedup; the post-dedup sink records the misses and the two
    # are reconciled per batch_id (prom_metrics.sync_received).
    keyed = _keyed_stream(spark, cfg.spool_dir).observe(
        RECEIVED_OBSERVATION, F.count(F.lit(1)).alias("n")
    )
    deduped = dedup_within_ttl(
        keyed, key_col="k", time_col="time", ttl_seconds=cfg.cache_ttl
    )

    line = F.to_json(F.struct("time", "kubernetes_event")).alias("line")

    def emit_and_count(batch: DataFrame, batch_id: int) -> None:
        # the reference's writer loop (tasks.rs:95-131): print each
        # line and count it, from one collect(), the batch's only Spark
        # job. Each row is a cache miss: dropDuplicatesWithinWatermark
        # emits at most one row per key per batch, so observe_batch's
        # per-key first-occurrence (min_by) stage would be a no-op here
        rows = batch.select(
            line, "etype", "ereason", "ekind", "ens", F.octet_length("k") + 8
        ).collect()
        tally: Counter = Counter()
        for r in rows:
            if emit is not None:
                emit(r[0])
            tally[r[1:5]] += 1
        metrics.apply_batch(
            [(*lbl, n) for lbl, n in tally.items()],
            nbytes=sum(r[5] for r in rows),
            total=len(rows),
            defer_totals_batch_id=batch_id,
        )

    writer = (
        deduped.writeStream.foreachBatch(emit_and_count)
        .option("checkpointLocation", cfg.cache_db)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    server = ExpositionServer(
        metrics.registry, port=cfg.metrics_port, host=cfg.metrics_host
    )
    server.start()
    try:
        query = writer.start()
    except Exception:
        server.stop()
        raise

    if cfg.api_url and not available_now:
        # main.rs:75 parity (select_all): when ANY task ends, the
        # whole daemon shuts down. If the watch loop dies (a fatal
        # 401/403/404 raises out of run_with_reconnect), the query
        # stops too, not left running against a spool that will never
        # grow again. A bounded watch that ends NORMALLY first drains
        # the spooled events through the stream.
        def _spool_loop() -> None:
            try:
                try:
                    spooler.run_with_reconnect(max_events=spool_max_events)
                except Exception:  # noqa: BLE001 - shutdown IS the handling
                    # the watch module already logged the failure
                    log.exception("watch loop died; stopping the daemon")
                else:
                    query.processAllAvailable()
                query.stop()
            except Exception:  # noqa: BLE001 - best-effort teardown
                pass

        threading.Thread(
            target=_spool_loop, daemon=True, name="kes-watch-spooler"
        ).start()

    # received-count reconciliation: progress (with the received-count
    # observation) is emitted after each batch commits; a light poll
    # keeps the scrape endpoint's total/hit counters current, with a
    # final flush when the query ends. sync_from_query is idempotent
    # per batch_id, so callers may also invoke it directly (tests do,
    # for determinism after awaitTermination).
    def _sync_loop() -> None:
        import time as _time

        while query.isActive:
            metrics.sync_from_query(query)
            _time.sleep(0.5)
        metrics.sync_from_query(query)

    threading.Thread(
        target=_sync_loop, daemon=True, name="kes-metrics-sync"
    ).start()

    if install_signal_handlers and not available_now:
        # main.rs:70-80: first signal requests a graceful stop (the
        # in-flight batch commits); the handler then restores the
        # DEFAULT disposition, so a second signal escalates to
        # process termination if the stop hangs
        def _stop(signum, frame):
            signal.signal(signum, signal.SIG_DFL)
            query.stop()

        signal.signal(signal.SIGTERM, _stop)
        signal.signal(signal.SIGINT, _stop)

    return query, metrics, server


def main() -> None:  # pragma: no cover - thin CLI shim
    from event_stream_for_k8s_spark.session import get_spark

    spark = get_spark("event-stream-for-k8s")
    query, _, server = run_daemon(spark)
    try:
        query.awaitTermination()
    finally:
        server.stop()


if __name__ == "__main__":  # pragma: no cover
    main()
