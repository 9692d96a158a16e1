"""A DataSource-v2-style streaming source for Kubernetes Events,
via Spark's Python Data Source API (pyspark >= 4.0).

SURVEY.md §2 A1 marks a native k8s source as the stretch goal beyond
the out-of-band collector. This implements the engine-side contract:
a replayable, offset-tracked stream of Event JSON lines. The transport
here tails an NDJSON file (what a sidecar collector or
``K8sWatchSpooler`` writes); swapping the file read for an HTTP
list-then-watch against the k8s API (kube-apiserver watch bookmarks
ARE resume offsets) changes nothing in the Spark-facing surface.

Offsets are BYTE positions — monotonic, replayable, checkpointable: a
restart seeks to the committed position and re-reads forward, and the
downstream watermark dedup absorbs re-delivery exactly like the
reference's sled state absorbs the startup re-list
(tasks.rs:159-163). Every end offset falls on a line boundary: the
``maxeventsperbatch`` / ``maxbytesperbatch`` caps count complete lines
only, and a torn tail stays unclaimed until its newline lands. The
caps bound every batch of a run but its first, which takes every
complete line: Spark runs ``Trigger.AvailableNow`` over a Python
source as one batch per run (``SingleBatchExecutor``), so a capped
first batch would end an availableNow run before it had read what was
available when it started.

Driver-side read: the source serves a ``SimpleDataSourceStreamReader``.
Spark keeps one long-lived Python process per query on the driver to
answer offset calls; there, ``read(start)`` runs inside
``latestOffset``, returning the batch's end offset together with its
lines as one Arrow ``value`` batch. Spark ships that batch to the JVM
with the partition plan, so a micro-batch's tasks are JVM-only. The
reference prints each event in-process as it drains its channel
(tasks.rs:76-105); here a live batch of a few dozen events would
otherwise pay one executor Python task, ~200-250 ms of fixed cost on a
4-vCPU host before the read even starts. The trade-off: a batch's lines
are read by one process and parsed in one task, because the prefetched
batch is one partition; the dedup stage after the shuffle keeps its
parallelism. The spool is written by the driver's own watch thread, so
executors need not see it, except on the restart path. On a restart
the engine calls ``setLatestSeenOffset`` with the offset log's latest
end (``PythonMicroBatchStream`` implements ``AcceptsLatestSeenOffset``);
the JVM forwards it to the runner as a ``partitions`` call whose start
and end are that offset, and Spark's Simple-reader wrapper takes it as
the start of the next ``read``, so a restarted run never reads a
committed byte. A batch that is in the offset log but not committed
is replayed through ``readBetweenOffsets`` in an executor task, since
its prefetched lines died with the old runner. Spark caches no
prefetch for an empty range, so a fresh query's first batch over an
empty spool also runs one (empty) executor read. Each line is served as it is, one ``value``
string per Event; the JSON parse runs on the JVM
(``k8s_events.parse_events``).
"""

from __future__ import annotations

import os
from array import array
from bisect import bisect_right
from itertools import accumulate

import pyarrow as pa

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

# line bytes per Arrow batch, under the int32 string offsets' limit
_BATCH_BYTES = 1 << 30


def _value_batches(lines: list[bytes]) -> list[pa.RecordBatch]:
    """``lines`` as ``value`` string batches, built from buffers:
    ``pa.array`` over a Python list imports pandas, ~0.26 s on the
    first call in each query's fresh runner process. The full
    validation still fails invalid UTF-8."""
    ends = list(accumulate(map(len, lines), initial=0))
    out, lo = [], 0
    while lo < len(lines):
        hi = max(lo + 1, bisect_right(ends, ends[lo] + _BATCH_BYTES) - 1)
        col = pa.StringArray.from_buffers(
            hi - lo,
            pa.py_buffer(array("i", (e - ends[lo] for e in ends[lo:hi + 1]))),
            pa.py_buffer(b"".join(lines[lo:hi])),
        )
        col.validate(full=True)
        out.append(pa.RecordBatch.from_arrays([col], names=["value"]))
        lo = hi
    return out


class _Spool:
    """Offset arithmetic and line reads over one NDJSON spool file."""

    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("k8s-events source requires option 'path'")
        # Caps on lines / bytes per micro-batch (collector-rate
        # control). The reader pays an O(new bytes) newline count only
        # when the line cap is active; otherwise it scans backward from
        # the cap for the last newline.
        self.max_lines = int(options.get("maxeventsperbatch", 0))
        self.max_bytes = int(options.get("maxbytesperbatch", 0))

    def _complete_boundary(self, start: int, cap: int) -> int:
        """Largest byte position in (start, cap] that ends a complete
        line, found by scanning BACKWARD in bounded chunks."""
        chunk = 64 * 1024
        with open(self.path, "rb") as f:
            hi = cap
            while hi > start:
                lo = max(start, hi - chunk)
                f.seek(lo)
                buf = f.read(hi - lo)
                nl = buf.rfind(b"\n")
                if nl >= 0:
                    return lo + nl + 1
                hi = lo
        return start

    def _nth_line_boundary(self, start: int, cap: int, n: int) -> int:
        """Byte position after the n-th newline in [start, cap); if the
        range holds fewer than n newlines, the position after the LAST
        one. Never a mid-line byte: while a collector is appending, the
        torn tail stays unclaimed until its newline lands (otherwise
        the committed offset would split a line — the bytes before it
        served in one batch, the bytes after it parsed as corrupt
        JSON in the next)."""
        seen, pos, last = 0, start, start
        chunk = 256 * 1024
        with open(self.path, "rb") as f:
            f.seek(start)
            while pos < cap and seen < n:
                buf = f.read(min(chunk, cap - pos))
                if not buf:
                    break
                idx = -1
                while seen < n:
                    nxt = buf.find(b"\n", idx + 1)
                    if nxt < 0:
                        break
                    idx, seen = nxt, seen + 1
                    last = pos + idx + 1
                pos += len(buf)
        return last

    def _end(self, start: int, capped: bool = True) -> int:
        """End offset of the batch that starts at ``start``: the caps
        applied if ``capped``, on a line boundary, never below
        ``start``."""
        try:
            size = os.path.getsize(self.path)
        except OSError:
            return start
        cap = size
        if capped and self.max_bytes:
            cap = min(size, start + self.max_bytes)
        if capped and self.max_lines:
            end = self._nth_line_boundary(start, cap, self.max_lines)
        else:
            end = self._complete_boundary(start, cap)
        if end == start and cap < size:
            # a line longer than maxbytesperbatch is served alone
            # rather than stalling the stream
            end = self._nth_line_boundary(start, size, 1)
        return end

    def _batches(self, start: int, end: int) -> list[pa.RecordBatch]:
        """The complete, non-blank lines of [start, end), without their
        newlines."""
        if end <= start:
            return []
        try:
            with open(self.path, "rb") as f:
                f.seek(start)
                data = f.read(end - start)
        except FileNotFoundError:
            return []
        # a torn tail (the file cut short under us) is never served
        data = data[: data.rfind(b"\n") + 1]
        return _value_batches([ln for ln in data.split(b"\n") if ln.strip()])


class K8sEventsSimpleStreamReader(_Spool, SimpleDataSourceStreamReader):
    """The reader the engine runs: ``read`` on the driver, and
    ``readBetweenOffsets`` in an executor task only for a batch with no
    prefetched lines (an uncommitted batch replayed after a restart, or
    an empty first batch). One reader serves one run of a query; its
    first ``read`` is uncapped (see the module docstring)."""

    _first_read = True

    def initialOffset(self) -> dict:
        return {"pos": 0}

    def read(self, start: dict):
        end = self._end(start["pos"], capped=not self._first_read)
        self._first_read = False
        return iter(self._batches(start["pos"], end)), {"pos": end}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(self._batches(start["pos"], end["pos"]))


class ByteRange(InputPartition):
    """[start, end) byte span of the spool, on line boundaries."""

    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


class K8sEventsStreamReader(_Spool, DataSourceStreamReader):
    """The same offsets and reads behind the partitioned reader API,
    one ``ByteRange`` per batch. The engine does not use it;
    ``perfbench`` times its ``read`` in-process as
    ``k8s_datasource.read_eps``."""

    _pos = 0

    def latestOffset(self) -> dict:
        self._pos = self._end(self._pos)
        return {"pos": self._pos}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        return [ByteRange(start["pos"], end["pos"])]

    def read(self, partition: ByteRange):
        return iter(self._batches(partition.start, partition.end))


class K8sEventsDataSource(DataSource):
    """spark.readStream.format("k8s-events").option("path", ...)"""

    @classmethod
    def name(cls) -> str:
        return "k8s-events"

    def schema(self) -> str:
        return "value string"

    def simpleStreamReader(self, schema) -> K8sEventsSimpleStreamReader:
        return K8sEventsSimpleStreamReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(K8sEventsDataSource)
