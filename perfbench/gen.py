"""Seeded input generator for the benchmark; runs as its own process.

Everything the program under test sees comes from here, and the same
seed gives byte-identical inputs:

* ``serve``  - a fake Kubernetes apiserver: an empty LIST, then one
  WATCH stream paced open-loop at a fixed rate. Position ``p`` is due
  at ``t0 + p / rate``; ``t0`` is taken when the benchmark writes
  ``go`` on stdin. On exit it prints one JSON line of pacing stats.
* ``spool``  - the catch-up replay log: NDJSON Events, one per line.
* ``tables`` - the ten parquet tables the registry queries read.

Event content is a pure function of ``(seed, index)`` and event time a
pure function of the stream position, so the benchmark recomputes the
expected keys without reading the inputs back.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import sys
import threading
import time
from datetime import datetime, timedelta, timezone

# Event time is synthetic (a fixed epoch plus the stream position), so
# the WATCH stream and the spool do not depend on the wall clock.
EPOCH = datetime(2026, 1, 1, tzinfo=timezone.utc)

NAMESPACES = [f"ns-{i:02d}" for i in range(40)]
REASONS = [
    ("Normal", "Scheduled"), ("Normal", "Pulled"), ("Normal", "Created"),
    ("Normal", "Started"), ("Warning", "BackOff"), ("Normal", "Killing"),
    ("Warning", "Unhealthy"), ("Warning", "FailedScheduling"),
    ("Normal", "SuccessfulCreate"), ("Warning", "FailedMount"),
    ("Normal", "ScalingReplicaSet"), ("Warning", "Evicted"),
]
KINDS = ["Pod", "ReplicaSet", "Deployment", "Node", "Job", "StatefulSet"]
COMPONENTS = ["kubelet", "default-scheduler", "replicaset-controller",
              "deployment-controller", "job-controller", None]


def _zipf(n: int, s: float) -> list[float]:
    w = [1.0 / (i + 1) ** s for i in range(n)]
    t = sum(w)
    return [x / t for x in w]


NS_W = _zipf(len(NAMESPACES), 1.1)
REASON_W = _zipf(len(REASONS), 0.9)
KIND_W = _zipf(len(KINDS), 1.3)


_ISO: dict[int, str] = {}


def iso(ts: float) -> str:
    sec = int(ts)
    s = _ISO.get(sec)
    if s is None:
        s = _ISO[sec] = (EPOCH + timedelta(seconds=sec)).strftime(
            "%Y-%m-%dT%H:%M:%SZ"
        )
    return s


def uid(seed: int, idx: int) -> str:
    h = hashlib.blake2b(f"{seed}:{idx}".encode(), digest_size=16).hexdigest()
    return f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}"


class Events:
    """Renders each event once, in index order, from one seeded RNG;
    a redelivery re-sends the identical bytes."""

    def __init__(self, seed: int):
        self.seed = seed
        self.rng = random.Random(seed ^ 0x5EED)
        self.lines: list[str] = []

    def render(self, t_event: float) -> str:
        rng, idx = self.rng, len(self.lines)
        ns = rng.choices(NAMESPACES, NS_W)[0]
        etype, reason = rng.choices(REASONS, REASON_W)[0]
        kind = rng.choices(KINDS, KIND_W)[0]
        name = f"{kind.lower()}-{rng.randrange(5000):04d}"
        first = iso(t_event - rng.randrange(0, 600))
        ev = {
            "metadata": {
                "uid": uid(self.seed, idx),
                "resourceVersion": str(100000 + idx),
                "namespace": ns,
                "creationTimestamp": first,
            },
            "type": etype,
            "reason": reason,
            "involvedObject": {"kind": kind, "namespace": ns, "name": name},
            "message": f"{reason} for {kind} {ns}/{name}: attempt "
            f"{rng.randrange(1, 9)}",
            "count": rng.randrange(1, 20),
            "firstTimestamp": first,
            "lastTimestamp": iso(t_event),
        }
        comp = rng.choice(COMPONENTS)
        if comp is not None:
            ev["source"] = {"component": comp}
        line = json.dumps(ev, separators=(",", ":"))
        self.lines.append(line)
        return line

    def stream(self, order: list[int], first_pos: list[int], rate: float):
        """Lines in stream order; event time is the first position /
        ``rate`` seconds after EPOCH."""
        for i in order:
            if i == len(self.lines):
                yield self.render(first_pos[i] / rate)
            else:
                yield self.lines[i]


def stream_order(
    seed: int, n: int, redeliver: float, lag: tuple[int, int] | None
) -> tuple[list[int], list[int]]:
    """Stream positions -> event index, plus each index's first position.

    A share ``redeliver`` of positions re-send an event first sent
    ``lag`` positions earlier (``None``: anywhere earlier in the
    stream); the rest send a new event.
    """
    rng = random.Random(seed)
    order: list[int] = []
    first_pos: list[int] = []
    for p in range(n):
        if first_pos and rng.random() < redeliver:
            if lag is None:
                order.append(order[rng.randrange(p)])
                continue
            lo, hi = max(0, p - lag[1]), p - lag[0]
            if hi > lo:
                order.append(order[rng.randrange(lo, hi)])
                continue
        order.append(len(first_pos))
        first_pos.append(p)
    return order, first_pos


def live_plan(seed: int, n: int, rate: float):
    """Order and first positions of the ``n``-line open-loop WATCH
    stream: 20% of positions redeliver a key first sent 2-8 s earlier."""
    return stream_order(seed, n, 0.2, (int(2 * rate), int(8 * rate)))


BOOKMARK = (b'{"type":"BOOKMARK","object":{"kind":"Event",'
            b'"metadata":{"resourceVersion":"100000"}}}\n')


def serve(seed: int, n: int, rate: float) -> None:
    from http.server import BaseHTTPRequestHandler, HTTPServer

    order, first_pos = live_plan(seed, n, rate)
    # pre-render every line so the paced loop only writes
    lines = [
        b'{"type":"ADDED","object":%s}\n' % ln.encode()
        for ln in Events(seed).stream(order, first_pos, rate)
    ]
    stats = {"sent": 0, "late_ms_max": 0.0, "t0": None}
    go = threading.Event()
    threading.Thread(target=lambda: (sys.stdin.readline(), go.set()),
                     daemon=True).start()

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.end_headers()
            if "watch=true" not in self.path:
                self.wfile.write(json.dumps({
                    "kind": "EventList",
                    "metadata": {"resourceVersion": "100000"},
                    "items": [],
                }).encode())
                return
            if stats["t0"] is not None:
                return  # one stream per run; a reconnect sees EOF
            # until "go", a BOOKMARK a second keeps the idle watch alive
            while not go.wait(1.0):
                self.wfile.write(BOOKMARK)
                self.wfile.flush()
            t0 = stats["t0"] = time.time()
            late = 0.0
            for p, line in enumerate(lines):
                due = t0 + p / rate
                now = time.time()
                if now < due:
                    time.sleep(due - now)
                self.wfile.write(line)
                self.wfile.flush()
                late = max(late, time.time() - due)
                stats["sent"] = p + 1
            stats["late_ms_max"] = late * 1000.0
            print(json.dumps(stats), flush=True)

    srv = HTTPServer(("127.0.0.1", 0), Handler)
    print(srv.server_address[1], flush=True)
    try:
        while stats["sent"] < len(lines):
            srv.handle_request()
    finally:
        srv.server_close()


def replay_plan(seed: int, n: int):
    """Order and first positions of the replay spool: 30% of lines
    redeliver an event from anywhere earlier in the file."""
    return stream_order(seed, n, 0.3, None)


def write_spool(seed: int, n: int, path: str) -> None:
    order, first_pos = replay_plan(seed, n)
    with open(path, "w", encoding="utf-8") as f:
        # one new event per millisecond of synthetic event time
        for line in Events(seed).stream(order, first_pos, 1000.0):
            f.write(line + "\n")


WORDS = (
    "the a data spark stream batch key value row column table query join"
    " agg group sort hash scan filter window merge line order part"
    " customer big small fast slow vector index token shard cache"
).split()


def write_tables(seed: int, out: str) -> None:
    """The registry's ten tables, shaped like TESTDATA.md's sf0.01."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start, span, n):
        base = np.datetime64(start, "us")
        return base + rng.integers(0, span, n) * np.timedelta64(86400_000_000, "us")

    def put(name, cols, types=None):
        types = types or {}
        arrays = {
            k: pa.array(v, type=types.get(k)) for k, v in cols.items()
        }
        pq.write_table(pa.table(arrays), os.path.join(out, f"{name}.parquet"))

    i32 = pa.int32()
    put("region", {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    put("nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": np.arange(25, dtype=np.int32) % 5,
    })
    n = 1500
    put("customer", {
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n, dtype=np.int32),
        "c_acctbal": money(-999.99, 9999.99, n),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n
        ),
    })
    n = 100
    put("supplier", {
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": rng.integers(0, 25, n, dtype=np.int32),
        "s_acctbal": money(-999.99, 9999.99, n),
    })
    n = 2000
    adj = ["red", "blue", "small", "large", "hot", "old", "green", "bright"]
    noun = ["widget", "bolt", "ring", "plate", "rod", "gear", "valve", "pipe"]
    put("part", {
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": [f"{rng.choice(adj)} {rng.choice(noun)}" for _ in range(n)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n
        ),
        "p_size": rng.integers(1, 51, n, dtype=np.int32),
        "p_retailprice": np.round(900 + (np.arange(n) % 1000) / 10, 1),
    })
    n_orders = 15000
    put("orders", {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, 1500, n_orders),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": money(1000, 500000, n_orders),
        "o_orderdate": days("1995-01-01", 2400, n_orders),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n_orders,
        ),
    })
    n = 60000
    put("lineitem", {
        "l_orderkey": rng.integers(0, n_orders, n),
        "l_partkey": rng.integers(0, 2000, n),
        "l_suppkey": rng.integers(0, 100, n),
        "l_linenumber": rng.integers(1, 8, n, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": money(900, 105000, n),
        "l_discount": rng.integers(0, 11, n) / 100,
        "l_tax": rng.integers(0, 9, n) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": days("1995-01-02", 2500, n),
    })
    n = 10000
    ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, n))
    put("events", {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, 150, n),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n),
        "value": money(0.01, 490.0, n),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
    n = 500
    texts = [
        " ".join(rng.choice(WORDS, int(rng.integers(8, 90))))
        for _ in range(n)
    ]
    put("documents", {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "en", "en", "es", "zh", "de", "fr"], n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    centroids = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n, dtype=np.int32)
    vecs = centroids[labels] + 1.5 * rng.normal(size=(n, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    put("embeddings", {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(vecs),
        "label": labels,
    }, {"embedding": pa.list_(pa.float32()), "label": i32})


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="mode", required=True)
    s = sub.add_parser("serve")
    s.add_argument("--seed", type=int, required=True)
    s.add_argument("--events", type=int, required=True)
    s.add_argument("--rate", type=float, required=True)
    s = sub.add_parser("spool")
    s.add_argument("--seed", type=int, required=True)
    s.add_argument("--events", type=int, required=True)
    s.add_argument("--out", required=True)
    s = sub.add_parser("tables")
    s.add_argument("--seed", type=int, required=True)
    s.add_argument("--out", required=True)
    a = ap.parse_args()
    if a.mode == "serve":
        serve(a.seed, a.events, a.rate)
    elif a.mode == "spool":
        write_spool(a.seed, a.events, a.out)
    else:
        write_tables(a.seed, a.out)


if __name__ == "__main__":
    main()
