#!/usr/bin/env python
"""Count the processes the JVM forks per live daemon micro-batch.

Structured Streaming checkpoints every trigger: the offset log
(``walCommit``), the commit log (``commitOffsets``) and one state-store
delta per state partition (``commitTimeMs``), each a temp file renamed
into place. On Hadoop's local file system without libhadoop, some of
those calls shell out: ``FileContext`` renames fork ``readlink``
(``FileUtil.readLink``) and each created file forks ``chmod``. This
tool makes that cost visible.

It runs ``daemon.run_daemon`` in file-tail mode, appends 25 fresh
events to the spool every 0.5 s, 40 times (about 40 live
micro-batches of the ``daemon`` benchmark's size), and records the
JVM with ``-XX:StartFlightRecording``. It then reads the recording's ``jdk.ProcessStart`` events with the JDK's
``jfr print`` and prints, for each micro-batch that carried rows, the
spawns grouped by command and by forking thread (``stream``: the
stream execution thread, which writes the offset and commit logs;
``checksum-pool``: the ``ChecksumCheckpointFileManager-Thread-*``
pool, which writes state-store files and their checksums; ``task``: an
executor task thread). It ends with per-batch medians of each group
and of ``walCommit``, ``commitOffsets`` and the state operator's
``commitTimeMs``.

Usage: python tools/checkpoint_forks.py [--work DIR]

Everything it writes stays under ``--work`` (default
``.checkpoint_forks/``), which is removed at the end. It stops the
query, the metrics server and the session before it exits.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time
from collections import Counter
from datetime import datetime, timedelta, timezone

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from event_stream_for_k8s_spark.daemon import (  # noqa: E402
    DaemonConfig,
    run_daemon,
)
from event_stream_for_k8s_spark.session import get_spark  # noqa: E402

RECORDING = "checkpoint-forks"
APPENDS, LINES, EVERY_S = 40, 25, 0.5


def event_line(n: int) -> str:
    """One fresh, never-redelivered k8s Event stamped now."""
    now = datetime.now(timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")
    ns = f"ns{n % 4}"
    return json.dumps({
        "metadata": {"uid": f"fork-{n}", "resourceVersion": str(n),
                     "namespace": ns, "creationTimestamp": now},
        "type": "Normal",
        "reason": ("Pulled", "Created", "Started")[n % 3],
        "involvedObject": {"kind": "Pod", "namespace": ns, "name": f"p{n}"},
        "lastTimestamp": now,
        "count": 1,
        "source": {"component": "kubelet"},
    })


def parse_time(text: str) -> datetime:
    """A UTC stamp from JFR (``...T06:34:12.054361219Z``) or from
    streaming progress (``...T06:34:12.054Z``), as a naive datetime."""
    base, _, frac = text.rstrip("Z").partition(".")
    return datetime.fromisoformat(f"{base}.{frac[:6]:0<6}")


def thread_group(name: str) -> str:
    if name.startswith("stream execution thread"):
        return "stream"
    if name.startswith("ChecksumCheckpointFileManager-Thread"):
        return "checksum-pool"
    if name.startswith("Executor task launch worker"):
        return "task"
    return re.sub(r"[-\s]*\d+$", "", name) or "?"


def spawns(recording: str) -> list[tuple[datetime, str, str]]:
    """(time, command, thread group) of every recorded process start."""
    out = subprocess.run(
        ["jfr", "print", "--json", "--events", "jdk.ProcessStart",
         recording],
        check=True, capture_output=True, text=True,
    ).stdout
    rows = []
    for ev in json.loads(out)["recording"]["events"]:
        v = ev["values"]
        cmd = os.path.basename((v.get("command") or "?").split()[0])
        thread = (v.get("eventThread") or {}).get("javaName") or "?"
        rows.append((parse_time(v["startTime"]), cmd, thread_group(thread)))
    return rows


def census(progress: list[dict], forks) -> list[dict]:
    """Each data-carrying batch's durations and its spawns, by the
    batch's ``[timestamp, timestamp + triggerExecution]`` window."""
    batches = []
    for p in progress:
        if not p.get("numInputRows"):
            continue
        dur = p.get("durationMs") or {}
        start = parse_time(p["timestamp"])
        end = start + timedelta(milliseconds=dur.get("triggerExecution", 0))
        ops = p.get("stateOperators") or [{}]
        batches.append({
            "batch": p["batchId"],
            "rows": p["numInputRows"],
            "walCommit": dur.get("walCommit", 0),
            "commitOffsets": dur.get("commitOffsets", 0),
            "commitTimeMs": ops[0].get("commitTimeMs", 0),
            "forks": Counter(
                f"{cmd}@{grp}" for t, cmd, grp in forks if start <= t <= end
            ),
        })
    return batches


def report(batches: list[dict]) -> None:
    keys = sorted({k for b in batches for k in b["forks"]})
    print("batch rows  " + "  ".join(f"{k:>22}" for k in keys) + "  total")
    for b in batches:
        cells = "  ".join(f"{b['forks'][k]:>22}" for k in keys)
        print(f"{b['batch']:>5} {b['rows']:>4}  {cells}  "
              f"{sum(b['forks'].values()):>5}")
    if not batches:
        print("no micro-batch carried rows")
        return

    def med(values) -> float:
        return statistics.median(values)

    print(f"\nmedian per batch over {len(batches)} batches:")
    for k in keys:
        print(f"  spawns {k}: {med([b['forks'][k] for b in batches])}")
    print(f"  spawns total: {med([sum(b['forks'].values()) for b in batches])}")
    for k in ("walCommit", "commitOffsets", "commitTimeMs"):
        print(f"  {k}: {med([b[k] for b in batches])} ms")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--work", default=".checkpoint_forks")
    args = ap.parse_args()

    work = os.path.abspath(args.work)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    recording = os.path.join(work, "forks.jfr")
    conf = {
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions":
            f"-XX:StartFlightRecording=name={RECORDING},settings=default "
            "-Xlog:jfr+startup=off",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    spark = get_spark("checkpoint-forks", master="local[4]",
                      shuffle_partitions=4, extra_conf=conf)
    cfg = DaemonConfig({
        "CACHE_TTL": "5",
        "CACHE_DB": os.path.join(work, "events-db"),
        "KES_SPOOL": os.path.join(work, "spool"),
        "METRICS_PORT": "0",
        "METRICS_HOST": "127.0.0.1",
    })
    emitted = [0]

    def emit(_line: str) -> None:
        emitted[0] += 1

    query = server = None
    try:
        query, _, server = run_daemon(
            spark, cfg, emit=emit, install_signal_handlers=False
        )
        # append only once the first (empty) trigger is done, so each
        # append is served as one live batch
        while query.lastProgress is None:
            if not query.isActive:
                raise RuntimeError(f"daemon query ended: {query.exception()}")
            time.sleep(0.1)
        spool = os.path.join(cfg.spool_dir, "watch.jsonl")
        n = 0
        for _ in range(APPENDS):
            with open(spool, "a") as f:
                for _ in range(LINES):
                    f.write(event_line(n) + "\n")
                    n += 1
            time.sleep(EVERY_S)
        query.processAllAvailable()
        progress = [json.loads(p.json) for p in query.recentProgress]
        for r in spark._jvm.jdk.jfr.FlightRecorder.getFlightRecorder() \
                .getRecordings():
            if r.getName() == RECORDING:
                r.dump(spark._jvm.java.io.File(recording).toPath())
        manager = spark.conf.get(
            "spark.sql.streaming.checkpointFileManagerClass", "(default)"
        )
    finally:
        if query is not None:
            query.stop()
        if server is not None:
            server.stop()
        spark.stop()

    print(f"checkpoint manager: {manager}")
    print(f"appended {n} events, emitted {emitted[0]} lines")
    try:
        report(census(progress, spawns(recording)))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
