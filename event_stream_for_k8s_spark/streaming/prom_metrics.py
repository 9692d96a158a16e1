"""Prometheus exposition-format egress (reference parity A13).

The reference exports its counters over HTTP on ``0.0.0.0:9000``
(``src/main.rs:63``) via the ``prometheus_exporter`` crate, with four
metric families (``src/tasks.rs:26-64``):

* ``kube_event_stream_events_count`` — IntCounterVec labelled
  ``event_type, event_reason, event_kind, event_namespace``,
  incremented once per CACHE-MISS event with ``'-'`` defaults for
  absent fields (``src/tasks.rs:107-121``);
* ``kube_event_stream_cachedb_events_processed`` — IntCounterVec
  labelled ``type`` ∈ {total, cache_hits, cache_misses}
  (``src/tasks.rs:132-140``);
* ``kube_event_stream_cachedb_sync_bytes`` — IntCounter, bytes synced
  to the sled cache per flush (``src/tasks.rs:141``);
* ``kube_event_stream_cachedb_size`` — IntGaugeVec labelled ``type`` ∈
  {items, bytes}, the cache size (``src/tasks.rs:210-216``).

This module re-expresses that egress Spark-first: a tiny dependency-
free metric registry (counters/gauges + text exposition rendering), a
``foreachBatch`` observer that computes the per-batch increments as
Spark aggregates (label-cardinality-bounded collect — the only rows
that reach the driver are the per-label-combination counts, never
events), and a stdlib HTTP endpoint serving ``GET /metrics``. The
observer (``observe_batch``, used by the ``prom_k8s_exposition``
registry query) runs one SQL execution per batch on executors, while
the registry lives on the driver, which is exactly where a scrape
endpoint must live; for multi-query deployments attach one observer
per query and serve one registry. The daemon does not run the
observer: its rows already come to the driver to be printed, so it
counts the labels there as it prints them and hands the tally to the
same accounting (``apply_batch``).

Cache seen-ness here is batch-local (first occurrence of a key inside
the micro-batch = miss): the CROSS-batch state belongs to the dedup
operator's state store, not a driver-side set, which cannot hold 100
TB of keys. The reference's sequential drain gives identical counts
for a batch because its sled lookups also see earlier same-batch
inserts; attribution of the miss's labels follows the same
first-by-(event-time, id) order its channel delivery does.
"""

from __future__ import annotations

import logging
import threading
from dataclasses import dataclass, field
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

log = logging.getLogger(__name__)

CONTENT_TYPE = "text/plain; version=0.0.4; charset=utf-8"
# the observe() name of the pre-dedup received count sync_from_query reads
RECEIVED_OBSERVATION = "kes_received"


def _escape_label(v: str) -> str:
    return v.replace("\\", "\\\\").replace('"', '\\"').replace("\n", "\\n")


@dataclass
class _Family:
    name: str
    help: str
    kind: str  # "counter" | "gauge"
    labelnames: tuple[str, ...]
    # label-values tuple -> int value
    samples: dict[tuple[str, ...], int] = field(default_factory=dict)
    # shared registry lock: render() runs on the scrape thread while
    # observers mutate samples on the driver thread — without it a
    # scrape racing a first-seen label combination can die with
    # "dictionary changed size during iteration"
    lock: threading.RLock = field(default_factory=threading.RLock)

    def labels(self, *values: str) -> "_Child":
        if len(values) != len(self.labelnames):
            raise ValueError(
                f"{self.name}: expected {len(self.labelnames)} label "
                f"values, got {len(values)}"
            )
        return _Child(self, tuple(str(v) for v in values))


@dataclass
class _Child:
    family: _Family
    values: tuple[str, ...]

    def inc(self, n: int = 1) -> None:
        if self.family.kind != "counter":
            raise TypeError(f"{self.family.name} is not a counter")
        if n < 0:
            raise ValueError("counters only go up")
        with self.family.lock:
            self.family.samples[self.values] = (
                self.family.samples.get(self.values, 0) + n
            )

    def set(self, v: int) -> None:
        if self.family.kind != "gauge":
            raise TypeError(f"{self.family.name} is not a gauge")
        with self.family.lock:
            self.family.samples[self.values] = int(v)


class PromRegistry:
    """Deterministic text-exposition registry.

    Families render sorted by name and samples sorted by label values,
    so the output is stable for golden-file tests regardless of
    observation order (the Rust exporter sorts families the same way).
    """

    def __init__(self) -> None:
        self._families: dict[str, _Family] = {}
        self._lock = threading.RLock()

    def counter(
        self, name: str, help: str, labelnames: tuple[str, ...] = ()
    ) -> _Family:
        return self._register(name, help, "counter", labelnames)

    def gauge(
        self, name: str, help: str, labelnames: tuple[str, ...] = ()
    ) -> _Family:
        return self._register(name, help, "gauge", labelnames)

    def _register(
        self, name: str, help: str, kind: str, labelnames: tuple[str, ...]
    ) -> _Family:
        with self._lock:
            if name in self._families:
                raise ValueError(f"duplicate metric family {name!r}")
            fam = _Family(
                name, help, kind, tuple(labelnames), lock=self._lock
            )
            self._families[name] = fam
        # a label-less counter/gauge exposes 0 before first touch,
        # matching the registered-but-untouched behavior of the
        # reference's IntCounter
        if not labelnames:
            fam.samples[()] = 0
        return fam

    def render(self) -> str:
        out: list[str] = []
        with self._lock:
            return self._render_locked(out)

    def _render_locked(self, out: list[str]) -> str:
        for name in sorted(self._families):
            fam = self._families[name]
            out.append(f"# HELP {fam.name} {fam.help}")
            out.append(f"# TYPE {fam.name} {fam.kind}")
            for values in sorted(fam.samples):
                if fam.labelnames:
                    labels = ",".join(
                        f'{k}="{_escape_label(v)}"'
                        for k, v in zip(fam.labelnames, values)
                    )
                    out.append(f"{fam.name}{{{labels}}} {fam.samples[values]}")
                else:
                    out.append(f"{fam.name} {fam.samples[values]}")
        return "\n".join(out) + "\n"


EVENT_LABELS = ("event_type", "event_reason", "event_kind", "event_namespace")


class K8sStreamMetrics:
    """The reference's four metric families over a Spark k8s stream.

    Deferred totals (``defer_totals_batch_id``) reconcile against one
    floor, the highest batch id synced so far. It rests on one
    assumption: one ``K8sStreamMetrics`` per checkpoint, whose batch
    ids only grow (a restart resumes above the floor, and a replayed
    batch reuses its id before its progress is posted).
    """

    def __init__(self) -> None:
        self.registry = PromRegistry()
        self.events = self.registry.counter(
            "kube_event_stream_events_count",
            "Events types seen.",
            EVENT_LABELS,
        )
        self.processed = self.registry.counter(
            "kube_event_stream_cachedb_events_processed",
            "Events seen",
            ("type",),
        )
        self.sync_bytes = self.registry.counter(
            "kube_event_stream_cachedb_sync_bytes",
            "Bytes synced to cache",
        )
        self.size = self.registry.gauge(
            "kube_event_stream_cachedb_size",
            "On disk cache sizes, item count and total bytes.",
            ("type",),
        )
        self._items = 0
        self._bytes = 0
        # batch_id -> (labels, nbytes, misses), held until the batch's
        # received count arrives. A foreachBatch retry overwrites its
        # own entry, so every family applies once per batch.
        self._pending: dict[int, tuple[list, int, int]] = {}
        # the highest batch id reconciled; ids at or below it are done
        self._synced = -1
        self._lock = self.registry._lock

    def observe_batch(
        self,
        batch_df: DataFrame,
        key_col: str,
        order_cols: tuple[str, ...],
        defer_totals_batch_id: int | None = None,
    ) -> int:
        """Apply one micro-batch's increments; returns the miss count.

        ``key_col`` is the A5 dedup key; a batch row is a cache MISS
        iff it is the first occurrence of its key in
        ``order_cols``-order (see module docstring on batch-local
        seen-ness). The labels are read from the fixed columns
        ``type``, ``reason``, ``kind`` and ``namespace``. Misses drive the 4-dim counter (with the
        reference's ``'-'`` label defaults), the hit/miss/total
        counters, and the sync-bytes/cache-size accounting (key bytes
        + the 8-byte u64 seen-timestamp sled stores per key,
        ``src/tasks.rs:123-126``).

        One SQL execution per batch: a per-key ``min_by`` picks the
        first-occurrence labels, then a per-label-combination rollup
        — only label-cardinality-bounded rows reach the driver, where
        :meth:`apply_batch` applies them.

        With ``defer_totals_batch_id`` set, nothing is applied here:
        the caller observes the PRE-dedup stream (where the reference
        counts every received event, ``src/tasks.rs:132-140``) and
        later reconciles via :meth:`sync_received` /
        :meth:`sync_from_query`.
        """
        order_struct = F.struct(*[F.col(c) for c in order_cols])
        label_struct = F.struct(*(
            F.coalesce(c, F.lit("-")).alias(f"l{i}")
            for i, c in enumerate(("type", "reason", "kind", "namespace"))
        ))
        per_key = batch_df.groupBy(key_col).agg(
            F.count("*").alias("_rows"),
            F.min_by(label_struct, order_struct).alias("_lbl"),
        )
        per_label = (
            per_key.groupBy("_lbl")
            .agg(
                F.count("*").alias("n"),
                F.sum("_rows").alias("rows"),
                F.sum(F.octet_length(F.col(key_col)) + F.lit(8)).alias(
                    "nbytes"
                ),
            )
            .collect()
        )
        return self.apply_batch(
            [(*r["_lbl"], r["n"]) for r in per_label],
            nbytes=sum(r["nbytes"] for r in per_label),
            total=sum(r["rows"] for r in per_label),
            defer_totals_batch_id=defer_totals_batch_id,
        )

    def apply_batch(
        self,
        labels: list[tuple[str, str, str, str, int]],
        nbytes: int,
        total: int,
        defer_totals_batch_id: int | None = None,
    ) -> int:
        """Apply one micro-batch's tally; returns the miss count.

        ``labels`` holds ``(type, reason, kind, namespace, misses)``
        per label combination, ``nbytes`` the misses' key bytes + 8
        each, ``total`` every row of the batch; ``defer_totals_batch_id``
        is as in :meth:`observe_batch`, which computes the tally with a
        Spark aggregate. The daemon's stdout sink counts it on the
        driver from the rows it prints."""
        misses = sum(n for *_, n in labels)
        with self._lock:
            if defer_totals_batch_id is not None:
                # applying anything before the received count arrives
                # would let a scrape see misses > total (A9 invariant)
                self._pending[defer_totals_batch_id] = (
                    labels, nbytes, misses
                )
                return misses
            self._apply(labels, nbytes, misses, total)
            # standalone (no state store in sight): cumulative insert
            # accounting approximates the cache size. In daemon mode
            # sync_from_query points these gauges at the dedup state
            # store, which shrinks on watermark eviction like the
            # reference's sled db after its TTL cleaner runs
            self.size.labels("items").set(self._items)
            self.size.labels("bytes").set(self._bytes)
        return misses

    def _apply(
        self,
        labels: list[tuple[str, str, str, str, int]],
        nbytes: int,
        misses: int,
        received: int,
    ) -> None:
        """Apply one batch to every counter family. Caller holds the
        lock."""
        for l0, l1, l2, l3, n in labels:
            self.events.labels(l0, l1, l2, l3).inc(n)
        self.sync_bytes.labels().inc(nbytes)
        self._items += misses
        self._bytes += nbytes
        self.processed.labels("total").inc(received)
        self.processed.labels("cache_hits").inc(max(0, received - misses))
        self.processed.labels("cache_misses").inc(misses)

    def sync_received(self, batch_id: int, received: int) -> None:
        """Reconcile one batch's RECEIVED count (pre-dedup) with the
        misses its emitted batch recorded: ``total`` counts every
        received event and ``cache_hits`` the duplicate deliveries the
        dedup state absorbed — the reference writer's semantics
        (``src/tasks.rs:132-140``). Ids at or below the floor are
        no-ops, so replayed progress counts once."""
        with self._lock:
            if batch_id <= self._synced:
                return
            self._synced = batch_id
            # staged batches below the floor lost their progress out of
            # the recentProgress ring: count what was emitted, so
            # _pending stays bounded and hits + misses == total holds
            lost = sorted(b for b in self._pending if b < batch_id)
            if lost:
                log.warning(
                    "metrics: no progress read for batch(es) %s; "
                    "counting their %d staged misses as received",
                    lost,
                    sum(self._pending[b][2] for b in lost),
                )
            for b in lost:
                staged = self._pending.pop(b)
                self._apply(*staged, received=staged[2])
            self._apply(*self._pending.pop(batch_id, ([], 0, 0)), received)

    def sync_from_query(self, query) -> None:
        """Pull ``observedMetrics[RECEIVED_OBSERVATION]`` rows out of a
        streaming query's recent progress and apply them. Safe to call
        repeatedly (poll loop or one final flush after termination).

        Progress without the observation is skipped: it is the idle
        trigger Spark posts every ``noDataProgressEventInterval`` while
        no data arrives, which carries the NEXT batch's id and is not a
        batch. Reconciling it would close that id with 0 received and
        drop the real batch's count when it runs.

        Also repoints the ``cachedb_size`` gauges at the live dedup
        STATE STORE totals (``numRowsTotal`` / ``memoryUsedBytes``):
        the reference's gauge tracks the sled db after TTL eviction
        shrinks it (``src/tasks.rs:210-216``), so a cumulative miss
        count would only ever grow — the state store is the cache db
        here, and its row count is the honest twin.

        Reads ``lastProgress`` and falls back to the ``recentProgress``
        ring only on a gap (its id above the floor + 1): each py4j call
        rebuilds the whole ring, 116-246 ms for 60 entries on a 4-vCPU
        host against 1-7 ms for the last one."""
        last = query.lastProgress
        if last is None:
            return
        progress = [last]
        if last["batchId"] > self._synced + 1:
            progress = query.recentProgress
        for p in progress:
            if p["batchId"] <= self._synced:
                continue
            row = (p.get("observedMetrics") or {}).get(RECEIVED_OBSERVATION)
            if row is not None:
                self.sync_received(p["batchId"], int(row["n"]))
        # one store per shuffle partition, one row per resident key
        # (the sled-items analog); only the latest progress counts
        ops = progress[-1].get("stateOperators")
        if ops:
            with self._lock:
                self.size.labels("items").set(
                    sum(int(o["numRowsTotal"]) for o in ops)
                )
                self.size.labels("bytes").set(
                    sum(int(o["memoryUsedBytes"]) for o in ops)
                )


class ExpositionServer:
    """``GET /metrics`` endpoint (the reference's ``:9000`` semantics:
    any path serves the exposition; other methods get the stdlib 501).
    Daemon-threaded stdlib server — scrape traffic is tiny and the
    driver owns it. ``host`` defaults to loopback for tests; the
    daemon binds ``0.0.0.0`` like the reference (main.rs:63) so a
    pod-IP Prometheus scrape can reach it."""

    def __init__(
        self, registry: PromRegistry, port: int = 0, host: str = "127.0.0.1"
    ) -> None:
        reg = registry

        class Handler(BaseHTTPRequestHandler):
            def do_GET(self) -> None:  # noqa: N802 (stdlib API)
                body = reg.render().encode("utf-8")
                self.send_response(200)
                self.send_header("Content-Type", CONTENT_TYPE)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *args) -> None:  # quiet
                pass

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self.port = self._httpd.server_address[1]
        self._thread = threading.Thread(
            target=self._httpd.serve_forever,
            kwargs={"poll_interval": 0.05},
            daemon=True,
        )

    def start(self) -> "ExpositionServer":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
