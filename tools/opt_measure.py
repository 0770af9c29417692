#!/usr/bin/env python
"""Round-14 optimization measurement harness (guide §1: measure first).

For each named registry query this captures, in ONE tuned session
(bench.py posture: local[$SPARK_GRAFT_CPUS], 8 shuffle partitions, UI off):

- ``plans/explain/<name>_<suffix>.txt`` — the formatted explain output (the
  judge-checkable plan evidence for before/after claims);
- ``plan_s``   — one-time analysis + first materialization (collect), the
  same definition bench.py reports;
- ``warm_s``   — min-of-N warm ``collect()`` (bench.py's timed action, so
  numbers here are directly comparable to BENCH_r*.json);
- ``noop_s``   — min-of-N warm write to the noop sink (guide §1.4: computes
  every column of every row, no driver transfer) — separates "computation"
  from "collect-to-driver" so optimization targets the right half;
- plan-shape counters (Exchange / join strategies / Arrow stages) so a
  claimed "2 exch → 1" is machine-checked, not eyeballed.

Usage:
  python tools/opt_measure.py --suffix before [--names q1 ...]
         [--sf /root/testdata/sf0.1] [--runs 5] [--out plans/explain]
         [--json /tmp/opt_before.json] [--no-explain]

Default name set = the bench HEADLINE + EXTENSION_SUITE (everything the
driver's bench tail records), so a bare run measures the whole benched
surface.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import re
import sys
import time

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

from bench import EXTENSION_SUITE, HEADLINE  # noqa: E402
from bigdata_etl_elt_dashboard_spark.plans import REGISTRY  # noqa: E402
from bigdata_etl_elt_dashboard_spark.session import get_spark  # noqa: E402
from bigdata_etl_elt_dashboard_spark.sources.catalog import load_tables  # noqa: E402

NODE_COUNTS = [
    ("scans", r"Scan parquet"),
    ("bhj", r"BroadcastHashJoin"),
    ("shj", r"ShuffledHashJoin"),
    ("smj", r"SortMergeJoin"),
    ("bnlj", r"BroadcastNestedLoopJoin"),
    ("exch", r"Exchange"),
    ("agg", r"HashAggregate|SortAggregate|ObjectHashAggregate"),
    ("win", r"Window\b|WindowGroupLimit"),
    ("topk", r"TakeOrderedAndProject"),
    ("pyarrow", r"MapInPandas|FlatMapGroupsInPandas|ArrowEvalPython"),
]


def formatted_explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def tree_counts(plan: str) -> dict:
    tree = plan.split("\n\n", 1)[0]
    return {h: len(re.findall(pat, tree)) for h, pat in NODE_COUNTS}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--names", nargs="*", default=None)
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--out", default=os.path.join(_ROOT, "plans", "explain"))
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--json", default=None)
    ap.add_argument("--no-explain", action="store_true")
    args = ap.parse_args()

    names = args.names or (list(HEADLINE.values()) + [n for n in EXTENSION_SUITE])
    # dedupe, keep order
    seen = set()
    names = [n for n in names if not (n in seen or seen.add(n))]

    os.makedirs(args.out, exist_ok=True)
    spark = get_spark(
        app_name="opt-measure",
        shuffle_partitions=8,
        extra_conf={"spark.ui.enabled": "false"},
    )
    # session warmup identical in spirit to bench.py: footers + one codegen join
    tables = load_tables(spark, args.sf)
    for df in tables.values():
        df.limit(1).collect()
    orders, customer = tables["orders"], tables["customer"]
    orders.join(customer, orders.o_custkey == customer.c_custkey).groupBy(
        "o_orderstatus"
    ).count().collect()

    results = {}
    for name in names:
        q = REGISTRY[name]
        spark.sparkContext.setJobDescription(f"opt_measure: {name} build")
        t0 = time.perf_counter()
        df = q.fn(spark, args.sf)
        df.collect()
        plan_s = time.perf_counter() - t0

        warm = []
        for i in range(args.runs):
            spark.sparkContext.setJobDescription(f"opt_measure: {name} warm {i}")
            t0 = time.perf_counter()
            df.collect()
            warm.append(time.perf_counter() - t0)
        noop = []
        for i in range(args.runs):
            spark.sparkContext.setJobDescription(f"opt_measure: {name} noop {i}")
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            noop.append(time.perf_counter() - t0)
        spark.sparkContext.setJobDescription(None)

        plan = formatted_explain(df)
        if not args.no_explain:
            with open(os.path.join(args.out, f"{name}_{args.suffix}.txt"), "w") as f:
                f.write(plan)
        results[name] = {
            "plan_s": round(plan_s, 4),
            "warm_s": round(min(warm), 4),
            "noop_s": round(min(noop), 4),
            **tree_counts(plan),
        }
        print(
            f"{name:45s} plan {plan_s:7.3f}  warm {min(warm):7.4f}  "
            f"noop {min(noop):7.4f}  exch {results[name]['exch']}",
            flush=True,
        )

    out = {
        "sf": args.sf,
        "runs": args.runs,
        "suffix": args.suffix,
        "results": results,
        "totals": {
            "plan_s": round(sum(r["plan_s"] for r in results.values()), 3),
            "warm_s": round(sum(r["warm_s"] for r in results.values()), 4),
            "noop_s": round(sum(r["noop_s"] for r in results.values()), 4),
        },
    }
    if args.json:
        with open(args.json, "w") as f:
            json.dump(out, f, indent=1)
    print(json.dumps(out["totals"]))
    spark.stop()


if __name__ == "__main__":
    main()
