#!/usr/bin/env python3
"""Fresh-request benchmark of the package, end to end and per layer.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Run from the repository root.  Workloads: dashboard, verify_queries,
corpus_ops, etl_pipeline (see ``spec.py``).  One run:

1. makes the workload's inputs from ``--seed`` in a child process;
2. sets up once with a JVM launch, then ``WARM_SETUPS`` times more by
   restarting the session in that JVM: each set-up is a session start
   (``session.get_spark``, ``local[nproc]``) plus loading and counting
   every input through ``sources``.  ``setup_s`` is the median of the warm
   set-ups; the first one is printed on its own line;
3. primes the operations (unmeasured): once side by side, then one round
   in turn; then measures whole rounds of operations in a closed loop, one client, for ``--seconds`` and at
   least the workload's ``min_ops`` operations (``spec.py``);
4. with ``--trace 1``, traces every second round and reports the
   per-layer metrics and the tracing overhead (the tracer's own time per
   traced operation); the spans and counters go to
   ``.perfbench/trace-*.json``;
5. checks every result (DuckDB oracle, generator's expected counts) and
   prints every metric with its unit, then one JSON line.

Exits 1 when a check fails and 2 when the package is not beside it.
"""

from __future__ import annotations

import argparse
import fnmatch
import json
import os
import random
import re
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "bigdata_etl_elt_dashboard_spark"
#: session restarts after the set-up that launches the JVM
WARM_SETUPS = 5


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _tail(latencies: list[float]) -> tuple[float, float] | None:
    """(percentile, value): the highest percentile with at least ten
    samples above it, or None with fewer than 11 samples."""
    n = len(latencies)
    if n < 11:
        return None
    return 100.0 * (n - 10) / n, sorted(latencies)[n - 11]


def _attempt(wl, spark, spec, tracer) -> tuple:
    """(result, None), or (None, error text): a failed operation is
    counted, not fatal."""
    try:
        return wl.run(spark, spec, tracer), None
    except Exception as e:
        return None, f"{type(e).__name__}: {e}"[:400]


def _stop_jvm(spark) -> None:
    """Stop the session and the JVM launched for it, and wait for the JVM
    to exit (it exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def _prepare_env(work: Path) -> dict:
    """Keep every file Spark and Python write inside ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    sys.path[:0] = [str(ROOT), str(HERE)]
    return {
        "spark.ui.enabled": "false",
        "spark.local.dir": str(tmp),
        "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def measure(args, spec: dict, work: Path) -> int:
    phases = {"start": time.perf_counter()}
    conf = _prepare_env(work)
    subprocess.run(
        [sys.executable, str(HERE / "inputs.py"), "--workload", args.workload,
         "--seed", str(args.seed), "--out", str(work / "inputs")],
        check=True,
    )
    inputs = json.loads((work / "inputs" / "inputs.json").read_text())
    phases["inputs"] = time.perf_counter()

    import spec as spec_mod
    import workloads
    from tracing import Tracer

    from bigdata_etl_elt_dashboard_spark.session import get_spark

    wl = workloads.make(args.workload, inputs, str(work / "out"))
    tracer = Tracer(enabled=bool(args.trace))
    rng = random.Random(args.seed)

    setups, spark = [], None
    for _ in range(1 + WARM_SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        with tracer.span("session.start"):
            spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
        t1 = time.perf_counter()
        if tracer.enabled:
            tracer.attach(spark)
        with tracer.span("sources.catalog"):
            wl.load(spark)
        setups.append((t1 - t0, time.perf_counter() - t1))

    phases["setup"] = time.perf_counter()
    min_ops = spec_mod.WORKLOADS[args.workload]["min_ops"]
    ops: list[dict] = []
    walls: dict[str, float] = {}

    def window(seconds: float, alternate: bool) -> None:
        """Whole rounds until ``seconds`` have passed and ``min_ops``
        untraced operations are measured.  With ``alternate``, every second
        round is traced, so traced and untraced operations share the JVM's
        warm-up, and half as many untraced operations will do."""
        start, rounds, untraced = time.perf_counter(), 0, 0
        need = -(-min_ops // 2) if alternate else min_ops
        while True:
            tracer.enabled = alternate and rounds % 2 == 1
            lab = "traced" if tracer.enabled else "measured"
            r0 = time.perf_counter()
            for spec_ in wl.next_round(rng):
                op = {"window": lab, "spec": spec_, "kind": wl.kind(spec_), "error": None}
                with tracer.operation(len(ops), op["kind"]) as counters:
                    t0 = time.perf_counter()
                    op["result"], op["error"] = _attempt(wl, spark, spec_, tracer)
                    op["latency_s"] = time.perf_counter() - t0
                op["counters"] = counters
                ops.append(op)
                untraced += not tracer.enabled
            walls[lab] = walls.get(lab, 0.0) + time.perf_counter() - r0
            rounds += 1
            done = time.perf_counter() - start >= seconds and untraced >= need
            if done and not (alternate and rounds % 2):
                tracer.enabled = False
                return

    # priming, not measured: the first round side by side, which pays the
    # first-use compile and JIT costs in less wall time, then one round in
    # turn, because the first rounds after it still run 10-15% slower
    specs = wl.priming(wl.next_round(rng))
    with ThreadPoolExecutor(max_workers=len(specs)) as pool:
        attempts = list(pool.map(lambda s: _attempt(wl, spark, s, tracer), specs))
    warm = wl.next_round(rng)
    attempts += [_attempt(wl, spark, s, tracer) for s in warm]
    for spec_, (result, error) in zip(specs + warm, attempts):
        ops.append({"window": "priming", "spec": spec_, "kind": wl.kind(spec_), "result": result,
                    "error": error, "latency_s": 0.0, "counters": {}})
    phases["priming"] = time.perf_counter()
    window(args.seconds, alternate=bool(args.trace))
    phases["measured"] = time.perf_counter()

    jvm = spark._jvm
    peak_rss_mb = (_vm_hwm_kb(jvm.java.lang.ProcessHandle.current().pid()) + _vm_hwm_kb("self")) / 1024
    import bench

    sc = spark.sparkContext
    host = {
        "workload": args.workload,
        "seed": args.seed,
        "master": sc.master,
        "defaultParallelism": sc.defaultParallelism,
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "canary": bench._canary(spark),
        "inputs": {k: inputs[k] for k in ("rows", "bytes")},
        "load": spec_mod.LOOP,
        "workload_spec": spec_mod.WORKLOADS[args.workload],
    }
    _stop_jvm(spark)
    phases["host"] = time.perf_counter()

    failures = [f"set-up: {e}" for e in wl.load_errors]
    for op in ops:
        if op["error"] is None:
            op["error"] = wl.check(op["spec"], op["result"])
        if op["error"]:
            failures.append(f"{op['kind']}: {op['error']}")
    wl.close()
    phases["checks"] = time.perf_counter()
    marks = list(phases.items())
    print("run phases (s): " + ", ".join(f"{k} {t - marks[i][1]:.1f}" for i, (k, t) in enumerate(marks[1:])),
          file=sys.stderr)
    failed = sum(1 for op in ops if op["error"]) + len(wl.load_errors)
    attempted = len(ops) + 1  # the set-up counts as one operation

    measured = [op for op in ops if op["window"] == "measured"]
    lat = [op["latency_s"] for op in measured]
    setup_total = [s + c for s, c in setups]
    e2e = {
        "setup_s": statistics.median(setup_total[1:]),
        "latency_p50_s": statistics.median(lat),
        "ops_per_s": len(measured) / walls["measured"],
        "fail_ratio": failed / attempted,
        "peak_rss_mb": peak_rss_mb,
    }
    tail = _tail(lat)

    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    print(f"  setup_s        {e2e['setup_s']:.4f} s   (median of {WARM_SETUPS} session restarts)")
    print(f"  setup_cold_s   {setup_total[0]:.4f} s   (the first set-up, with the JVM launch)")
    print(f"  latency_p50_s  {e2e['latency_p50_s']:.4f} s   ({len(lat)} operations)")
    if tail and tail[0] > 50:
        print(f"  latency_tail_s {tail[1]:.4f} s   (p{tail[0]:.1f}, {len(lat)} operations, 10 beyond)")
    else:
        print(f"  latency_tail_s n/a        ({len(lat)} operations; a tail above the median needs 21)")
    print(f"  ops_per_s      {e2e['ops_per_s']:.4f} 1/s")
    print(f"  fail_ratio     {e2e['fail_ratio']:.4f}     ({failed} of {attempted} failed)")
    print(f"  peak_rss_mb    {e2e['peak_rss_mb']:.1f} MB  (driver JVM + Python VmHWM)")
    print("host " + json.dumps(host))
    for f in failures[:20]:
        print(f"CHECK FAILED {f}")

    if args.trace:
        layers = per_layer(wl, tracer, ops, setups)
        # the JSON line carries every listed layer metric; those of layers
        # this workload never calls read 0
        idle = [m["name"] for m in spec["per_layer"] if m["name"] not in layers]
        layers.update(dict.fromkeys(idle, 0))
        print("per layer (mean per operation unless noted; -> the end-to-end metric it should move):")
        for k in sorted(layers):
            target = next((f"-> {m} on {w}" for pat, (m, w) in spec_mod.LAYER_TARGETS.items()
                           if fnmatch.fnmatch(k, re.sub(r"<\w+>", "*", pat))), "")
            if k not in idle:
                print(f"  {k:44s} {layers[k]:<14.6g} {target}")
        if idle:
            print(f"  not exercised by {args.workload} (0 in the JSON line): {', '.join(idle)}")
        trace_dir = ROOT / ".perfbench"
        trace_dir.mkdir(exist_ok=True)
        tracer.dump(
            str(trace_dir / f"trace-{args.workload}-{args.seed}.json"),
            {"host": host, "layers": layers, "setups": setups, "layer_targets": spec_mod.LAYER_TARGETS},
        )
        wanted, values = spec["per_layer"], layers
    else:
        wanted, values = spec["end_to_end"], e2e

    result = {
        "correct": not failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }
    print(json.dumps(result))
    return 0 if not failures else 1


def per_layer(wl, tracer, ops: list[dict], setups: list) -> dict:
    traced = [op for op in ops if op["window"] == "traced"]
    untraced = [op for op in ops if op["window"] == "measured"]
    by_op: dict[int, dict] = {}
    for s in tracer.spans:
        if s["op"] is None:
            continue
        d = by_op.setdefault(s["op"], {})
        d[s["name"]] = d.get(s["name"], 0.0) + s["end"] - s["start"]
        if s.get("phase"):
            d[s["phase"]] = d.get(s["phase"], 0.0) + s["end"] - s["start"]
    for i, op in enumerate(ops):
        op["spans"] = by_op.get(i, {})

    def mean(key):
        return statistics.mean(op["counters"].get(key, 0) for op in traced)

    result_rows = sum(wl.result_rows(op["result"]) for op in traced if op["result"] is not None)
    exec_s = statistics.mean(op["spans"].get("exec", 0.0) for op in traced)
    layers = {
        "session.start_s": statistics.median(s for s, _ in setups[1:]),
        "sources.catalog.warm_s": statistics.median(c for _, c in setups[1:]),
        f"{wl.BUILD_LAYER}.build_s": statistics.mean(op["spans"].get("build", 0.0) for op in traced),
        f"{wl.BUILD_LAYER}.build_jobs": mean("build_jobs"),
        "exec_s": exec_s,
        "engine.catalyst_s": mean("catalyst_s"),
        "engine.driver_gap_s": exec_s - mean("catalyst_collect_s") - mean("job_union_s"),
        "engine.scan_rows_per_result_row": sum(op["counters"]["scan_rows"] for op in traced) / max(1, result_rows),
        "trace.overhead_s": tracer.cost_s / len(traced),
        "trace.latency_diff_s": statistics.median(op["latency_s"] for op in traced)
        - statistics.median(op["latency_s"] for op in untraced),
    }
    for key in ("codegen_compiles", "jobs", "stages", "stages_skipped", "tasks", "executor_run_s",
                "executor_cpu_s", "gc_s", "scan_rows", "scan_bytes", "shuffle_write_bytes",
                "shuffle_read_bytes", "spill_bytes"):
        layers[f"engine.{key}"] = mean(key)
    for key in ("python_rows_in", "python_rows_out", "python_bytes_in", "python_bytes_out",
                "python_worker_s", "python_stage_run_s"):
        layers[f"kernels.{key}"] = mean(key)
    layers.update(wl.layer_extras(traced, untraced))
    for name, secs in tracer.self_times().items():
        layers[f"self.{name}_s"] = secs / max(1, len(traced))
    return layers


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["dashboard", "verify_queries", "corpus_ops", "etl_pipeline"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: {PACKAGE}/ not found beside {HERE.name}/; run from a full checkout",
              file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    work = ROOT / ".perfbench" / f"work-{args.workload}-{args.seed}-{os.getpid()}"
    try:
        return measure(args, spec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
