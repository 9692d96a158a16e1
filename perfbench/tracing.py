"""Spans and Spark-side readings for the traced (``--trace 1``) run.

Nothing inside the package is instrumented: spans are recorded here,
around calls into the package's public functions (``Tracer.wrap``
swaps a function for a timing wrapper and puts it back on ``close``),
plus one span per micro-batch from a ``StreamingQueryListener``. Spark
execution figures come from Spark's own status stores.
"""

from __future__ import annotations

import functools
import json
import re
import statistics
import sys
import threading
import time
import uuid


class Tracer:
    """In-memory spans: (name, start, end, parent index, run id)."""

    def __init__(self) -> None:
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[tuple[str, float, float, int | None, str]] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    def record(self, name: str, start: float, end: float,
               parent: int | None = None) -> int:
        with self._lock:
            self.spans.append((name, start, end, parent, self.run_id))
            return len(self.spans) - 1

    def call(self, name: str, fn, *args, **kwargs):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else None
        # reserve the slot first so children can name it as parent
        idx = self.record(name, time.perf_counter(), 0.0, parent)
        stack.append(idx)
        try:
            return fn(*args, **kwargs)
        finally:
            stack.pop()
            with self._lock:
                n, s, _, p, r = self.spans[idx]
                self.spans[idx] = (n, s, time.perf_counter(), p, r)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Time every call of ``owner.attr`` as span ``name``."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def timed(*args, **kwargs):
            return self.call(name, orig, *args, **kwargs)

        setattr(owner, attr, timed)
        self._patches.append((owner, attr, orig))

    def close(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def total(self, name: str, since: float = 0.0) -> float:
        """Summed duration of the finished ``name`` spans that began at
        or after ``since`` (a ``time.perf_counter`` reading)."""
        return sum(e - s for n, s, e, _, _ in self.spans
                   if n == name and s >= since and e)

    def count(self, name: str) -> int:
        return sum(1 for n, *_ in self.spans if n == name)

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the part of it that child
        spans cover. A span without a recorded parent is adopted by the
        innermost ``daemon.batch`` span whose interval holds it (the
        foreachBatch sink and the listener run on different threads)."""
        spans = list(self.spans)
        batches = [i for i, sp in enumerate(spans) if sp[0] == "daemon.batch"]
        kids: dict[int, list[tuple[float, float]]] = {}
        for i, (name, s, e, parent, _) in enumerate(spans):
            if parent is None and name != "daemon.batch":
                for b in batches:
                    if spans[b][1] <= s and e <= spans[b][2]:
                        parent = b
                        break
            if parent is not None:
                kids.setdefault(parent, []).append((s, e))
        out: dict[str, float] = {}
        for i, (name, s, e, _, _) in enumerate(spans):
            covered, cur = 0.0, s
            for cs, ce in sorted(kids.get(i, [])):
                cs, ce = max(cs, cur), min(ce, e)
                if ce > cs:
                    covered += ce - cs
                    cur = ce
            out[name] = out.get(name, 0.0) + (e - s) - covered
        return out

    def overhead_s(self) -> float:
        """Cost of recording this run's spans: the per-span cost of
        ``call`` on an empty function, measured here, times the span
        count."""
        probe = Tracer()
        n = 20000
        t0 = time.perf_counter()
        for _ in range(n):
            probe.call("probe", int)
        per_span = (time.perf_counter() - t0) / n
        return per_span * len(self.spans)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump({
                "run_id": self.run_id,
                "fields": ["name", "start", "end", "parent", "run_id"],
                "spans": self.spans,
                "self_time_s": self.self_times(),
                **extra,
            }, f)


def progress_listener(tracer: Tracer | None, on_progress=None):
    """A ``StreamingQueryListener`` that records one ``daemon.batch``
    span per micro-batch (start = trigger start, length = the trigger's
    ``durationMs.triggerExecution``) and hands each progress dict to
    ``on_progress``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = json.loads(event.progress.json)
            end = time.perf_counter()
            dur = (p.get("durationMs") or {}).get("triggerExecution", 0)
            if tracer is not None:
                tracer.record("daemon.batch", end - dur / 1000.0, end)
            if on_progress is not None:
                on_progress(p)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()


# ---- Spark status stores ---------------------------------------------

_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3,
          "TiB": 1024 ** 4, "ms": 1, "s": 1000, "m": 60000, "h": 3600000}
_FIRST = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB|ms|s|m|h)?")


def _metric_total(text: str) -> float:
    """Total of a formatted SQL metric: ``'1,234'``, or the first line
    after the ``total (min, med, max ...)`` header, e.g. ``'8.3 s (...)'``
    (in ms) or ``'795.2 KiB (...)'`` (in bytes)."""
    lines = text.strip().split("\n")
    body = lines[1] if len(lines) > 1 else lines[0]
    m = _FIRST.match(body.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1)


PYTHON_METRICS = {
    "time to run Python workers": "python.total_ms",
    "time to start Python workers": "python.boot_ms",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}


class StatusProbe:
    """Reads jobs, stages, tasks and SQL metrics out of Spark's status
    stores for everything that ran since the last ``take``."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self._max_job = -1
        self._n_exec = 0
        self.take()  # skip what ran before the probe existed

    def _iter(self, seq):
        it = seq.iterator()
        while it.hasNext():
            yield it.next()

    def take(self) -> dict[str, float]:
        """Aggregate figures over jobs, their stages and SQL executions
        new since the previous call; jobs of no job group are also
        counted as ``ungrouped_jobs``."""
        store = self.sc._jsc.sc().statusStore()
        out = {"jobs": 0, "ungrouped_jobs": 0, "stages": 0,
               "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
               "spill_bytes": 0, "task_skew_max": 0.0}
        stage_ids: set[int] = set()
        top = self._max_job
        for j in self._iter(store.jobsList(None)):  # newest first
            jid = j.jobId()
            if jid <= self._max_job:
                break
            top = max(top, jid)
            out["jobs"] += 1
            if not j.jobGroup().isDefined():
                out["ungrouped_jobs"] += 1
            stage_ids.update(self._iter(j.stageIds()))
        self._max_job = top
        for sid in sorted(stage_ids):
            try:
                s = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - py4j error: never attempted
                continue
            if str(s.status()) != "COMPLETE":
                continue
            out["stages"] += 1
            out["shuffle_read_bytes"] += s.shuffleReadBytes()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            durs = []
            for t in self._iter(store.taskList(sid, s.attemptId(), 100000)):
                d = t.duration()
                if d.isDefined():
                    durs.append(d.get())
            if len(durs) >= 2 and statistics.median(durs) > 0:
                out["task_skew_max"] = max(
                    out["task_skew_max"], max(durs) / statistics.median(durs)
                )
        out.update(self._python_metrics())
        return out

    def _python_metrics(self) -> dict[str, float]:
        out = {v: 0.0 for v in PYTHON_METRICS.values()}
        out["python.rows_received"] = 0.0
        sql = self.spark._jsparkSession.sharedState().statusStore()
        n = sql.executionsCount()
        if n == self._n_exec:
            return out
        fresh = list(self._iter(sql.executionsList(self._n_exec,
                                                   n - self._n_exec)))
        self._n_exec = n
        for e in fresh:
            eid = e.executionId()
            vals = sql.executionMetrics(eid)
            seen_acc: set[int] = set()
            try:
                nodes = list(self._iter(sql.planGraph(eid).allNodes()))
            except Exception as exc:  # noqa: BLE001 - graph is best effort
                print(f"perfbench: no plan graph for {eid}: {exc}",
                      file=sys.stderr)
                continue
            for node in nodes:
                ms = list(self._iter(node.metrics()))
                names = {m.name() for m in ms}
                is_python = "time to run Python workers" in names
                for m in ms:
                    acc = m.accumulatorId()
                    if acc in seen_acc:
                        continue
                    v = vals.get(acc)
                    if not v.isDefined():
                        continue
                    key = PYTHON_METRICS.get(m.name())
                    if key is None and is_python and (
                        m.name() == "number of output rows"
                    ):
                        key = "python.rows_received"
                    if key is not None:
                        seen_acc.add(acc)
                        out[key] += _metric_total(v.get())
        return out
