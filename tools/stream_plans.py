#!/usr/bin/env python
"""Dump the streaming physical plan of registered streaming queries.

    python tools/stream_plans.py --sf SF_DIR --tag after stream_dedup_ttl ...
    python tools/stream_plans.py --sf SF_DIR --tag before --out DIR ...
    python tools/stream_plans.py --sf SF_DIR --tag after daemon

``tools/explain.py`` shows only the batch DataFrame a streaming query
returns (a memory-sink scan). This tool records every
``StreamingQuery`` the registry function starts, and after the run
writes the plan of each query's last micro-batch
(``StreamingQuery.explain()`` text) to ``<out>/<name>_<tag>.txt``.
Run-specific noise is normalised so two checkouts' dumps diff clean:
expression ids (``#N``), ``plan_id=N``, ``@hash`` object ids, run and
query UUIDs, lambda-variable suffixes (``lambda x_N``), RDD ids
(``RDD[N]``), the checkout root, temp/checkpoint paths and a batch's
processing-time stamp (epoch milliseconds, or a timestamp literal).
``tools/explain.py --out`` imports the same ``normalise``.

The name ``daemon`` is not a registry query: it drains a small seeded
spool (``perfbench/gen.py spool --seed 3``) through a file-tail
``run_daemon(available_now=True)`` and dumps that query's plan.
"""

from __future__ import annotations

import argparse
import os
import re
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql.streaming.readwriter import DataStreamWriter  # noqa: E402

from event_stream_for_k8s_spark.plans import REGISTRY  # noqa: E402
from event_stream_for_k8s_spark.session import get_spark  # noqa: E402

_NORMALISE = (
    (re.compile(re.escape(ROOT)), "<root>"),
    (re.compile(r"/tmp/[^\s,\]\)]*"), "<tmp>"),
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-"
                r"[0-9a-f]{12}"), "<uuid>"),
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"@[0-9a-f]{4,}\b"), "@H"),
    # PySpark names each higher-order-function lambda variable from a
    # process-wide counter, and each RDD gets the SparkContext's next id
    (re.compile(r"\b(lambda \w+?)_\d+\b"), r"\1_N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
)


def _clock(m: re.Match) -> str:
    # a batch's processing-time stamp (epoch ms within a day of now);
    # data-derived epoch values such as watermarks stay as they are
    near = abs(int(m.group(0)) - time.time() * 1000) < 86_400_000
    return "<now_ms>" if near else m.group(0)


def _clock_ts(m: re.Match) -> str:
    # the batch's current_timestamp() folded to a literal (the daemon's
    # event-time fallback), in the session's local time zone
    t = time.mktime(time.strptime(m.group(1), "%Y-%m-%d %H:%M:%S"))
    return "<now_ts>" if abs(t - time.time()) < 86_400 else m.group(0)


def normalise(text: str) -> str:
    for rx, sub in _NORMALISE:
        text = rx.sub(sub, text)
    text = re.sub(r"\b(\d{4}-\d\d-\d\d \d\d:\d\d:\d\d)(\.\d+)?", _clock_ts,
                  text)
    return re.sub(r"\b\d{13}\b", _clock, text)


def _daemon_drain(spark) -> None:
    """A file-tail ``run_daemon(available_now=True)`` drain of a seeded
    500-event spool, from an empty checkpoint."""
    from event_stream_for_k8s_spark.daemon import DaemonConfig, run_daemon

    work = tempfile.mkdtemp(prefix="stream_plans_daemon_")
    spool = os.path.join(work, "spool")
    os.makedirs(spool)
    subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "gen.py"), "spool",
         "--seed", "3", "--events", "500",
         "--out", os.path.join(spool, "watch.jsonl")],
        check=True,
    )
    cfg = DaemonConfig(env={
        "CACHE_DB": os.path.join(work, "ck"),
        "KES_SPOOL": spool,
        "METRICS_PORT": "0",
        "METRICS_HOST": "127.0.0.1",
    })
    query, _, server = run_daemon(
        spark, cfg, emit=lambda line: None, available_now=True,
        install_signal_handlers=False,
    )
    try:
        query.awaitTermination()
    finally:
        server.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+",
                    help="registered query names, or daemon")
    ap.add_argument("--sf", required=True, help="scale-factor data dir")
    ap.add_argument("--tag", required=True, help="file suffix")
    ap.add_argument("--out", default=os.path.join(ROOT, "plans", "r17"))
    args = ap.parse_args()
    started = []
    start = DataStreamWriter.start

    def recording_start(self, *a, **kw):
        sq = start(self, *a, **kw)
        started.append(sq)
        return sq

    DataStreamWriter.start = recording_start
    # untruncated scan locations, so checkouts at different paths
    # normalise to the same text
    spark = get_spark(
        "stream_plans", extra_conf={"spark.sql.maxMetadataStringLength": "1000"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(args.out, exist_ok=True)
    for name in args.names:
        started.clear()
        if name == "daemon":
            _daemon_drain(spark)
        else:
            REGISTRY[name].spark(spark, args.sf).collect()
        text = "\n".join(
            normalise(sq._jsq.explainInternal(False)) for sq in started
        )
        path = os.path.join(args.out, f"{name}_{args.tag}.txt")
        with open(path, "w") as fh:
            fh.write(text)
        print(f"{name}: {len(started)} query(s) -> {path}")


if __name__ == "__main__":
    main()
