"""``batch_queries``: registry queries built and executed in a fresh
session, each collected to the driver and checked against its DuckDB
oracle outside the timed region.

The untraced run times this one cold pass; its figures are the
end-to-end metrics. The traced run also times warm passes, until the
run's seconds are spent, for the per-layer figures."""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
from types import SimpleNamespace

from run import WORK, log, new_session, quantile, timed_setups

# the headline set of bench.py, copied so that bench.py stays frozen
QUERIES = [
    "flagship_dedup_count",
    "k8s_envelope_multidim_count",
    "stream_dedup_ttl",
    "agg_hash",
    "agg_multidim",
    "join_inner_hash",
    "join_broadcast",
    "join_asof",
    "win_rank",
    "topk_per_group",
    "llm_dedup_exact",
    "llm_dedup_near",
    "llm_knn_brute",
    "llm_text_tfidf",
    "llm_fingerprint",
    "llm_quality",
    "llm_mm_phash",
    "llm_bpe_encode_docs",
    "llm_knn_ivfpq",
    "llm_knn_sq8",
    "llm_dedup_chunks_cdc",
]


class _Collected:
    """Hands ``check_query`` a result that was already collected, so
    the oracle check does not run the query a second time."""

    def __init__(self, pdf) -> None:
        self.pdf = pdf

    def toPandas(self):  # noqa: N802 - the DataFrame method it stands in for
        return self.pdf


def run(args, res) -> None:
    from event_stream_for_k8s_spark import catalog
    from event_stream_for_k8s_spark.caching import release_query_caches
    from event_stream_for_k8s_spark.plans import REGISTRY
    from event_stream_for_k8s_spark.sources.roundtrip import cache_dir
    from event_stream_for_k8s_spark.testing.oracle import (
        check_query,
        connect_oracle,
    )

    from tracing import StatusProbe, Tracer
    from workloads import _gen_run, finish_trace, put_exec

    sf = os.path.join(WORK, "tables")
    _gen_run("tables", "--seed", str(args.seed), "--out", sf)
    # the memos the queries write under .data_cache/ derive from this
    # seed's tables: every run starts without them
    memo_root = os.path.dirname(cache_dir(sf, "memo"))
    shutil.rmtree(memo_root, ignore_errors=True)
    log("tables written")

    # a set-up costs about 0.5 s here, so a median of more is cheap
    setup_s, start_s, spark = timed_setups(
        lambda spark: catalog.register_views(spark, sf),
        lambda spark, ctx: None, 7,
    )
    res.put("setup_s", setup_s)
    log(f"set-ups done, median {setup_s:.2f} s")
    spark.stop()
    spark = new_session()  # the cold pass runs in a fresh session
    tracer = probe = None
    if args.trace:
        tracer = Tracer()
        # the plans import ``load`` by name: wrap every module's binding
        load = catalog.load
        for mod in list(sys.modules.values()):
            if (getattr(mod, "__name__", "").startswith("event_stream_for_k8s_spark")
                    and getattr(mod, "load", None) is load):
                tracer.wrap(mod, "load", "catalog.load")
        probe = StatusProbe(spark)

    def timed(name: str, fn, *a):
        return tracer.call(name, fn, *a) if tracer else fn(*a)

    def one_pass(collected: dict | None = None):
        """{query: (build s, exec s)} and Spark status per query; with
        ``collected``, each query's rows are kept there for the check."""
        times, status = {}, {}
        for name in QUERIES:
            if probe:
                spark.sparkContext.setJobGroup(f"perfbench:{name}", name)
            try:
                t0 = time.perf_counter()
                df = timed("plans.build", REGISTRY[name].spark, spark, sf)
                t1 = time.perf_counter()
                built = probe.take() if probe else None
                t2 = time.perf_counter()
                pdf = timed("exec", df.toPandas)
                t3 = time.perf_counter()
                times[name] = (t1 - t0, t3 - t2)
                if collected is not None:
                    collected[name] = pdf
                if probe:
                    status[name] = (built, probe.take())
            except Exception as e:  # noqa: BLE001 - a failed query is counted
                res.fail(f"{name}: {type(e).__name__}: {e}", 1)
            finally:
                release_query_caches()
                spark.catalog.clearCache()
        if probe:
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        res.attempted += len(QUERIES)
        return times, status

    collected: dict = {}
    cold, status = one_pass(collected)
    log("cold pass done")
    cold_load = (tracer.total("catalog.load"), tracer.count("catalog.load")) \
        if tracer else None
    con = connect_oracle(sf)
    try:
        for name, pdf in collected.items():
            q = REGISTRY[name]
            r = check_query(spark, con, SimpleNamespace(
                name=q.name, oracle=q.oracle,
                spark=lambda *_, pdf=pdf: _Collected(pdf)), sf)
            if not r.ok:
                res.fail(str(r), 1)
    finally:
        con.close()
    log("oracle check done")

    per_query = [b + e for b, e in cold.values()]
    cold_s = sum(per_query)
    res.put("latency_p50_s", statistics.median(per_query))
    res.put("latency_p99_s", quantile(per_query, 0.99))
    res.put("throughput_ops", len(per_query) / cold_s)
    res.notes.append(f"batch_queries: cold pass of {len(per_query)} queries "
                     f"{cold_s:.2f} s")
    if tracer:
        warm = []
        t_end = time.perf_counter() + args.seconds
        while not warm or time.perf_counter() < t_end:
            times, status = one_pass()
            warm.append(times)
        log(f"{len(warm)} warm passes done")
        pass_s = [sum(b + e for b, e in times.values()) for times in warm]
        res.notes.append(f"batch_queries: {len(warm)} warm passes "
                         f"{[round(p, 2) for p in pass_s]} s")
        res.put("session.start_s", start_s)
        res.put("run.cold_pass_s", cold_s)
        res.put("run.warm_pass_s", statistics.median(pass_s))
        res.put("trace.latency_p50_s", statistics.median(per_query))
        res.put("trace.throughput_ops", len(per_query) / cold_s)
        res.put("catalog.load_s", cold_load[0])
        res.put("catalog.loads", cold_load[1])
        res.put("plans.build_s_cold", sum(b for b, _ in cold.values()))
        res.put("plans.build_s_warm", statistics.median(
            sum(b for b, _ in times.values()) for times in warm))
        for name in QUERIES:
            res.put(f"q.{name}.build_s", statistics.median(
                t[name][0] for t in warm if name in t))
            res.put(f"q.{name}.exec_s", statistics.median(
                t[name][1] for t in warm if name in t))
        # status figures of the last warm pass, build and execute summed
        total: dict[str, float] = {}
        for built, ran in status.values():
            for st in (built, ran):
                for k, v in st.items():
                    total[k] = (max(total.get(k, 0.0), v)
                                if k == "task_skew_max" else total.get(k, 0) + v)
        res.put("plans.build_jobs", sum(b["jobs"] for b, _ in status.values()))
        res.put("similarity.jobs_ungrouped", total.get("ungrouped_jobs", 0))
        put_exec(res, total)
        finish_trace(res, tracer, args, {})
    spark.stop()
    shutil.rmtree(memo_root, ignore_errors=True)
