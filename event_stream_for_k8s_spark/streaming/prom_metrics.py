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
events), and a stdlib HTTP endpoint serving ``GET /metrics``. At
cluster scale the observer's single per-batch aggregation job runs on
executors and the registry lives on the driver, which is exactly
where a scrape endpoint must live; for multi-query deployments attach
one observer per query and serve one registry. The daemon's stdout
mode skips that job: its rows already come to the driver to be
printed, so it counts the labels there as it prints them and hands
the tally to the same accounting (``apply_batch``).

Cache seen-ness here is batch-local (first occurrence of a key inside
the micro-batch = miss): the CROSS-batch state belongs to the dedup
operator's state store, not a driver-side set, which cannot hold 100
TB of keys. The reference's sequential drain gives identical counts
for a batch because its sled lookups also see earlier same-batch
inserts; attribution of the miss's labels follows the same
first-by-(event-time, id) order its channel delivery does.
"""

from __future__ import annotations

import json
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
    """The reference's four metric families over a Spark k8s stream."""

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
        # batch_id -> the batch's ENTIRE staged increment set (miss
        # count, per-label counts, byte totals) for deferred
        # accounting when the received count comes from a pre-dedup
        # .observe(). Staging everything (not just misses) makes a
        # foreachBatch RETRY idempotent across the board: re-observing
        # a batch overwrites its staged entry instead of double-
        # incrementing events/sync_bytes while total reconciles once
        # (ADVICE r05).
        self._pending: dict[int, dict] = {}
        # seen-batch bookkeeping is watermark-compacted: batch ids are
        # monotone, so contiguous prefixes collapse into _synced_floor
        # and the set stays O(out-of-order window), not O(daemon age)
        self._synced_batches: set[int] = set()
        self._synced_floor = -1
        # progress-beats-observer repair ring (ADVICE r06): batch ids
        # reconciled WITHOUT a staged observation (misses assumed 0,
        # all received counted as cache_hits). A late observe_batch
        # finds its id here and moves the miss count back out of
        # cache_hits: counters only increment, so it increments
        # cache_misses immediately and records the cache_hits
        # overcount in _hit_overcount, which is repaid by withholding
        # that many hits from FUTURE sync_received increments
        # (monotone counters, convergent totals). Bounded at 256
        # entries — an observe arriving later than that window keeps
        # the old documented undercount.
        self._default_synced: dict[int, int] = {}
        self._hit_overcount = 0
        self._lock = self.registry._lock

    def observe_batch(
        self,
        batch_df: DataFrame,
        key_col: str,
        order_cols: tuple[str, ...],
        type_col: str = "type",
        reason_col: str = "reason",
        kind_col: str = "kind",
        namespace_col: str = "namespace",
        defer_totals_batch_id: int | None = None,
    ) -> int:
        """Apply one micro-batch's increments; returns the miss count.

        ``key_col`` is the A5 dedup key; a batch row is a cache MISS
        iff it is the first occurrence of its key in
        ``order_cols``-order (see module docstring on batch-local
        seen-ness). Misses drive the 4-dim counter (with the
        reference's ``'-'`` label defaults), the hit/miss/total
        counters, and the sync-bytes/cache-size accounting (key bytes
        + the 8-byte u64 seen-timestamp sled stores per key,
        ``src/tasks.rs:123-126``).

        ONE Spark job per batch: a per-key ``min_by`` picks the
        first-occurrence labels, then a per-label-combination rollup
        — only label-cardinality-bounded rows reach the driver, where
        :meth:`apply_batch` applies them.

        With ``defer_totals_batch_id`` set, the ``total``/``cache_hits``
        counters are NOT incremented here: the caller observes the
        PRE-dedup stream (where the reference counts every received
        event, ``src/tasks.rs:132-140``) and later reconciles via
        :meth:`sync_received` / :meth:`sync_from_query`.
        """
        order_struct = F.struct(*[F.col(c) for c in order_cols])
        label_struct = F.struct(
            F.coalesce(type_col, F.lit("-")).alias("l0"),
            F.coalesce(reason_col, F.lit("-")).alias("l1"),
            F.coalesce(kind_col, F.lit("-")).alias("l2"),
            F.coalesce(namespace_col, F.lit("-")).alias("l3"),
        )
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
            if defer_totals_batch_id is None:
                self._apply_labels_and_bytes(labels, nbytes)
                self.processed.labels("total").inc(total)
                self.processed.labels("cache_hits").inc(total - misses)
                self.processed.labels("cache_misses").inc(misses)
                # standalone (no state store in sight): cumulative
                # insert accounting approximates the cache size
                self.size.labels("items").set(self._items)
                self.size.labels("bytes").set(self._bytes)
            elif (
                defer_totals_batch_id <= self._synced_floor
                or defer_totals_batch_id in self._synced_batches
            ):
                # totals for this batch already reconciled (progress
                # beat the observer): apply the label/byte increments
                # directly — staging would strand them
                self._apply_labels_and_bytes(labels, nbytes)
                if defer_totals_batch_id in self._default_synced:
                    # the reconcile assumed misses=0 and credited all
                    # received rows to cache_hits — move this batch's
                    # miss count to cache_misses now and repay the
                    # cache_hits overcount against future syncs, so
                    # sum(events) == cache_misses holds (ADVICE r06).
                    # Repay only what was actually over-credited: the
                    # default reconcile added max(0, received) hits,
                    # so misses > received must clamp — otherwise one
                    # oversized late observation withholds genuine
                    # future cache_hits forever (ADVICE r07)
                    received = self._default_synced.pop(
                        defer_totals_batch_id
                    )
                    self.processed.labels("cache_misses").inc(misses)
                    self._hit_overcount += min(misses, max(0, received))
            else:
                # EVERYTHING moves atomically in sync_received —
                # incrementing misses now would let a scrape observe
                # misses > total (A9 invariant), and incrementing
                # events/sync_bytes now would double-count on a
                # foreachBatch retry. Same-batch re-observation
                # overwrites (idempotent).
                self._pending[defer_totals_batch_id] = {
                    "misses": misses,
                    "labels": labels,
                    "nbytes": nbytes,
                }
            # daemon mode: sync_from_query owns the size gauges and
            # points them at the live dedup state store (which SHRINKS
            # on watermark eviction, like the reference's sled db
            # after its TTL cleaner runs)
        return misses

    def _apply_labels_and_bytes(
        self,
        labels: list[tuple[str, str, str, str, int]],
        nbytes: int,
    ) -> None:
        """Apply one batch's per-label counts and byte totals. Caller
        holds the lock."""
        for l0, l1, l2, l3, n in labels:
            self.events.labels(l0, l1, l2, l3).inc(n)
        self.sync_bytes.labels().inc(nbytes)
        self._items += sum(n for *_, n in labels)
        self._bytes += nbytes

    def sync_received(self, batch_id: int, received: int) -> None:
        """Reconcile one batch's RECEIVED count (pre-dedup) with the
        misses its emitted batch recorded: ``total`` counts every
        received event and ``cache_hits`` the duplicate deliveries the
        dedup state absorbed — the reference writer's semantics
        (``src/tasks.rs:132-140``). Idempotent per batch_id."""
        with self._lock:
            if batch_id <= self._synced_floor or batch_id in self._synced_batches:
                return
            if self._synced_floor == -1 and not self._synced_batches:
                # first batch after construction: a checkpoint restart
                # resumes at an arbitrary batch N, so the floor must
                # seed from the first id seen, not from 0 — otherwise
                # the contiguous-prefix compaction below never fires
                # and the set grows for the daemon's lifetime
                self._synced_floor = batch_id - 1
            self._synced_batches.add(batch_id)
            while self._synced_floor + 1 in self._synced_batches:
                self._synced_floor += 1
                self._synced_batches.discard(self._synced_floor)
            if len(self._synced_batches) > 1024:
                # a progress event fell out of the ~100-entry
                # recentProgress ring and will never arrive: abandon
                # the gap instead of letting the set grow unboundedly
                # behind it. The abandoned batches' received counts
                # and staged increments are LOST (permanent undercount
                # of total/cache_hits) — make that observable to the
                # operator instead of silent (ADVICE r05)
                old_floor = self._synced_floor
                self._synced_floor = min(self._synced_batches) - 1
                while self._synced_floor + 1 in self._synced_batches:
                    self._synced_floor += 1
                    self._synced_batches.discard(self._synced_floor)
                lost = [
                    b for b in self._pending if b <= self._synced_floor
                ]
                log.warning(
                    "metrics observer: abandoned batch-id gap "
                    "(%d, %d] — progress events lost; dropping %d "
                    "staged batch(es) with %d pending misses; "
                    "total/cache_hits will undercount from here",
                    old_floor,
                    self._synced_floor,
                    len(lost),
                    sum(self._pending[b]["misses"] for b in lost),
                )
            staged = self._pending.pop(batch_id, None)
            if staged is None:
                # no observation yet (progress beat the observer, or a
                # zero-data batch): remember the id so a LATE observe
                # can move its miss count out of cache_hits
                # (ADVICE r06); ring-bounded
                self._default_synced[batch_id] = received
                while len(self._default_synced) > 256:
                    self._default_synced.pop(
                        next(iter(self._default_synced))
                    )
                staged = {"misses": 0, "labels": [], "nbytes": 0}
            # a pending entry whose progress event was lost must not
            # pin memory
            for bid in [b for b in self._pending if b <= self._synced_floor]:
                del self._pending[bid]
            self._apply_labels_and_bytes(staged["labels"], staged["nbytes"])
            misses = staged["misses"]
            self.processed.labels("total").inc(received)
            self.processed.labels("cache_misses").inc(misses)
            hits = max(0, received - misses)
            # repay any cache_hits overcount left by a past
            # default-reconciled batch whose observe arrived late
            repay = min(self._hit_overcount, hits)
            self._hit_overcount -= repay
            self.processed.labels("cache_hits").inc(hits - repay)

    def sync_from_query(self, query) -> None:
        """Pull ``observedMetrics[RECEIVED_OBSERVATION]`` rows out of a
        streaming query's recent progress and apply them. Safe to call
        repeatedly (poll loop or one final flush after termination).

        Also repoints the ``cachedb_size`` gauges at the live dedup
        STATE STORE totals (``stateOperators.numRowsTotal`` /
        state memory bytes): the reference's gauge tracks the sled db
        after TTL eviction shrinks it (``src/tasks.rs:210-216``), so a
        cumulative miss count would only ever grow — the state store
        is the cache db here, and its row count is the honest twin."""
        def as_dict(p) -> dict:
            return p if isinstance(p, dict) else json.loads(p.json)

        def batch_id(p) -> int:
            # attribute access avoids parsing the full progress JSON
            # just to discover the entry was already processed
            if isinstance(p, dict):
                return int(p["batchId"])
            bid = getattr(p, "batchId", None)
            return int(as_dict(p)["batchId"] if bid is None else bid)

        for p in query.recentProgress:
            bid = batch_id(p)
            with self._lock:
                seen = (
                    bid <= self._synced_floor or bid in self._synced_batches
                )
            if seen:
                continue
            d = as_dict(p)
            om = d.get("observedMetrics") or {}
            row = om.get(RECEIVED_OBSERVATION)
            # a zero-data batch carries no observation: record it as
            # 0 received so the entry is marked seen (otherwise it
            # would be re-parsed on every poll forever)
            self.sync_received(bid, int(row["n"]) if row is not None else 0)
        # size gauges need only the LATEST progress, not the ring
        last = query.lastProgress
        state_rows, state_bytes = None, None
        if last is not None:
            d = as_dict(last)
            ops = d.get("stateOperators") or []
            if ops:
                state_rows, state_bytes = 0, 0
                for o in ops:
                    # one store per shuffle partition, one row per
                    # resident key (the sled-items analog)
                    state_rows += int(o.get("numRowsTotal", 0))
                    state_bytes += int(
                        o.get("stateMemory", o.get("memoryUsedBytes", 0))
                    )
        if state_rows is not None:
            with self._lock:
                self.size.labels("items").set(state_rows)
                self.size.labels("bytes").set(state_bytes)

    def foreach_batch(self, key_col: str, order_cols: tuple[str, ...], **cols):
        """``writeStream.foreachBatch`` adapter."""

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            self.observe_batch(batch_df, key_col, order_cols, **cols)

        return sink


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
            target=self._httpd.serve_forever, daemon=True
        )

    def start(self) -> "ExpositionServer":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
