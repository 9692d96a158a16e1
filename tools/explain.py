#!/usr/bin/env python
"""Print the physical plan of any registered query.

    python tools/explain.py topk_per_group [llm_knn_brute ...]
    python tools/explain.py --sf /root/testdata/sf0.01 join_broadcast
    python tools/explain.py --sf SF_DIR --tag before --out DIR NAME ...

Useful for eyeballing the scale properties SCALING.md claims and
tests/test_plans.py asserts: PushedFilters / ReadSchema (pushdown &
pruning), BroadcastHashJoin vs SortMergeJoin, Exchange count
(shuffles), WholeStageCodegen spans.

With ``--out DIR --tag TAG`` each plan is written to
``DIR/<name>_<tag>.txt`` instead, normalised by
``tools/stream_plans.py``'s ``normalise`` (expression ids, lambda
variable suffixes, RDD ids, the checkout root), so the dumps of two
checkouts diff clean when their plans are the same.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from event_stream_for_k8s_spark.plans import REGISTRY  # noqa: E402
from event_stream_for_k8s_spark.session import get_spark  # noqa: E402
from stream_plans import normalise  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+", help="registered query names")
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--out", help="write <out>/<name>_<tag>.txt files")
    ap.add_argument("--tag", help="file suffix, with --out")
    args = ap.parse_args()
    if (args.out is None) != (args.tag is None):
        ap.error("--out and --tag go together")
    # untruncated scan locations, so checkouts at different paths
    # normalise to the same text
    spark = get_spark(
        "explain", extra_conf={"spark.sql.maxMetadataStringLength": "1000"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    if args.out:
        os.makedirs(args.out, exist_ok=True)
    for name in args.names:
        if name not in REGISTRY:
            print(f"unknown query {name!r}", file=sys.stderr)
            continue
        df = REGISTRY[name].spark(spark, args.sf)
        plan = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        if not args.out:
            print(f"\n=== {name} ===\n{plan}")
            continue
        path = os.path.join(args.out, f"{name}_{args.tag}.txt")
        with open(path, "w") as fh:
            fh.write(normalise(plan))
        print(f"{name} -> {path}")


if __name__ == "__main__":
    main()
