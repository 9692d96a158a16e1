"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Workloads, metrics and their units are
listed in ``BENCHMARK.json``; ``perfbench/README.md`` says what each
one measures and why. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with every
end-to-end metric (``--trace 0``) or every per-layer metric
(``--trace 1``). Everything the run writes stays under
``.perfbench_work/`` (removed at the end) and ``.data_cache/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
# local[N]: at most 4 cores, never more than the host has
CORES = min(4, os.cpu_count() or 1)
DRIVER_MEM = "2g"


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress on stderr, stamped with seconds since the run began."""
    print(f"perfbench: [{time.perf_counter() - _T0:6.1f} s] {msg}",
          file=sys.stderr, flush=True)


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile (0 < q <= 1)."""
    v = sorted(values)
    return v[min(len(v) - 1, max(0, int(round(q * len(v) + 0.5)) - 1))]


# ---- memory ------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(d))
    return children


def _descendants(root: int) -> list[int]:
    children, out, todo = _children(), [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def _tree_rss(root: int, exclude: set[int]) -> int:
    """RSS bytes of ``root`` and all its descendants, from /proc."""
    children = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        try:
            with open(f"/proc/{pid}/statm", "rb") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
        todo.extend(children.get(pid, ()))
    return total


class RssSampler:
    """Peak summed RSS of this process, the JVM it launches and the
    Python workers, sampled every 100 ms. Generator processes passed to
    ``exclude`` are not counted."""

    def __init__(self) -> None:
        self.peak = 0
        self.exclude: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.wait(0.1):
            self.peak = max(self.peak, _tree_rss(os.getpid(), self.exclude))

    def close(self) -> float:
        self._stop.set()
        self._thread.join()
        return self.peak / 2 ** 20


def stop_processes() -> None:
    """End the JVM (it exits when its stdin closes) and every process
    this run started, and wait until each has ended."""
    from pyspark import SparkContext

    pids = _descendants(os.getpid())
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


# ---- sessions ------------------------------------------------------------

def new_session(cores: int = CORES):
    """A Spark session from the package's own factory, with every
    scratch directory inside the checkout."""
    from event_stream_for_k8s_spark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def timed_setups(ready, teardown, n: int):
    """Run ``n`` set-ups, each a fresh Spark session plus the workload's
    ``ready(spark)`` step, tearing each down with ``teardown(spark,
    ctx)``. Returns (median seconds, first session's start seconds, the
    last session, still running). The first set-up also launches the
    JVM; the median falls on the set-ups that reuse it."""
    times, first_start, spark = [], None, None
    for _ in range(n):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = new_session()
        if first_start is None:
            first_start = time.perf_counter() - t0
        ctx = ready(spark)
        times.append(time.perf_counter() - t0)
        teardown(spark, ctx)
    return statistics.median(times), first_start, spark


# ---- results -------------------------------------------------------------

class Result:
    def __init__(self, spec: dict, trace: bool) -> None:
        self.wanted = spec["per_layer" if trace else "end_to_end"]
        self.values: dict[str, float] = {}
        self.notes: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.correct = True

    def fail(self, why: str, n: int = 0) -> None:
        self.correct = False
        self.failed += n
        print(f"perfbench: CHECK FAILED: {why}", file=sys.stderr)

    def put(self, name: str, value: float) -> None:
        self.values[name] = float(value)

    def emit(self) -> None:
        metrics = {}
        for m in self.wanted:
            v = self.values.get(m["name"])
            if v is None:
                # a layer this workload bypasses reads 0 (README.md)
                v = 0.0
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        for line in self.notes:
            print(f"perfbench: {line}", file=sys.stderr)
        print(json.dumps({
            "correct": self.correct and self.failed == 0,
            "attempted": max(1, self.attempted),
            "failed": self.failed,
            "metrics": metrics,
        }))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
            spec = json.load(f)
        import pyspark  # noqa: F401
    except (OSError, ImportError) as e:
        print(f"perfbench: cannot start: {e}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import event_stream_for_k8s_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package is not in {ROOT}: {e}", file=sys.stderr)
        return 2
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        print(f"perfbench: unknown workload {args.workload!r}; one of {names}",
              file=sys.stderr)
        return 2

    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")

    import workloads

    res = Result(spec, bool(args.trace))
    rss = RssSampler()
    try:
        workloads.RUNNERS[args.workload](args, res, rss)
    finally:
        peak = rss.close()
        log("stopping the JVM and workers")
        stop_processes()
        log("stopped")
    res.put("run.peak_rss_mb", peak)
    res.put("run.error_rate", res.failed / max(1, res.attempted))
    res.emit()
    shutil.rmtree(WORK, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
