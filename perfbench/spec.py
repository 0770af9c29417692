"""The benchmark's definition beyond the metric names: what each workload
is for, its input sizes, its operation, and which end-to-end metric each
layer metric should move.  ``BENCHMARK.json`` names the metrics that runs
are compared on; ``inputs.py`` makes the inputs from the sizes here, and
``run.py`` records the workload's entry in every run and prints the
targets with every traced run.

Sizes: ``dashboard`` and ``verify_queries`` run at sf0.1, as ``bench.py``
does.  ``corpus_ops`` runs at sf0.02, and ``etl_pipeline`` on 25k rows
where the reference loads the 100k-row Kaggle file, so that a compared
run of either stays near a minute.  On 4 cores, with one measured round
and no warm-up round, a ``corpus_ops`` run took 70 s at sf0.1 against
41-50 s at sf0.02; one pipeline run took 13.6 s on 100k+25k rows against
6.2-10.5 s on 20k+5k, and an ``etl_pipeline`` run makes four of them.
"""

from __future__ import annotations

#: load model shared by every workload: one process, one client thread,
#: the next operation starts when the previous one returns
LOOP = {"loop": "closed", "clients": 1, "master": "local[nproc]"}

WORKLOADS = {
    "dashboard": {
        "why": "one page render per operation: kpis, monthly_trend, histogram(30) "
        "and by_dimension over a fresh orders-customer-nation-region frame; tiny "
        "data, ~5 jobs per render, so Catalyst, scheduling and the histogram's "
        "eager min/max round trip dominate",
        "inputs": {"sf": 0.1, "tables": ("region", "nation", "customer", "orders")},
        "operation": "one render; a round is 6 renders in seeded order, 1 unfiltered "
        "and 5 under drawn filters (date range, 1-5 regions, 1-5 priorities)",
        "min_ops": 6,
    },
    "verify_queries": {
        "why": "the reference's q1-q8, each a fresh REGISTRY[name].fn plus collect: "
        "scan/decode of the single-row-group lineitem, the fact-fact join, "
        "broadcast builds and q8's pin",
        "inputs": {"sf": 0.1, "tables": ("region", "nation", "customer", "part", "orders", "lineitem")},
        "operation": "one query; a round is q1-q8 in seeded order",
        "min_ops": 8,
    },
    "corpus_ops": {
        "why": "the LLM-data operators: Arrow/NumPy mapInPandas kernels, Python "
        "workers and build-time pin() jobs, which the other workloads barely touch",
        "inputs": {"sf": 0.02, "tables": ("lineitem", "documents", "embeddings")},
        "operation": "one round: a fresh build plus collect of each of the 8 "
        "operators, in seeded order",
        "min_ops": 1,
    },
    "etl_pipeline": {
        "why": "the only workload that writes: CSV reads, the driver-side stat "
        "passes of transform_sales, DQ, the star build and the partitioned "
        "parquet write of pipeline.run_pipeline",
        # API share: a fifth of all rows, a tenth of them re-sending local orders
        "inputs": {"local_rows": 20_000, "api_rows": 5_000},
        "operation": "one pipeline run into a fresh warehouse directory",
        "min_ops": 2,
    },
}

#: layer metric -> (end-to-end metric it should move, workloads)
LAYER_TARGETS = {
    "session.start_s": ("setup_s", "all"),
    "sources.catalog.warm_s": ("setup_s", "all"),
    "plans.build_s": ("latency_p50_s", "corpus_ops, verify_queries"),
    "plans.build_jobs": ("latency_p50_s", "corpus_ops, verify_queries"),
    "plans.<query>.fresh_s": ("latency_p50_s", "verify_queries, corpus_ops"),
    "analytics_service.build_s": ("latency_p50_s", "dashboard"),
    "analytics_service.build_jobs": ("latency_p50_s", "dashboard"),
    "analytics_service.<fn>_s": ("latency_p50_s", "dashboard"),
    "sources.readers.build_s": ("latency_p50_s", "etl_pipeline"),
    "sources.readers.build_jobs": ("latency_p50_s", "etl_pipeline"),
    "exec_s": ("latency_p50_s", "all"),
    "engine.catalyst_s": ("latency_p50_s", "dashboard"),
    "engine.codegen_compiles": ("latency_p50_s", "dashboard"),
    "engine.jobs": ("latency_p50_s", "dashboard, verify_queries"),
    "engine.stages": ("latency_p50_s", "dashboard, verify_queries"),
    "engine.stages_skipped": ("latency_p50_s", "dashboard, verify_queries"),
    "engine.tasks": ("latency_p50_s", "dashboard, verify_queries"),
    "engine.executor_run_s": ("latency_p50_s", "verify_queries, corpus_ops"),
    "engine.executor_cpu_s": ("latency_p50_s", "verify_queries, corpus_ops"),
    "engine.gc_s": ("latency_p50_s", "verify_queries, corpus_ops"),
    "engine.scan_rows": ("latency_p50_s", "verify_queries, dashboard"),
    "engine.scan_bytes": ("latency_p50_s", "verify_queries, dashboard"),
    "engine.scan_rows_per_result_row": ("latency_p50_s", "verify_queries, dashboard"),
    "engine.shuffle_write_bytes": ("latency_p50_s", "verify_queries"),
    "engine.shuffle_read_bytes": ("latency_p50_s", "verify_queries"),
    "engine.spill_bytes": ("latency_p50_s", "verify_queries"),
    "engine.driver_gap_s": ("latency_p50_s", "dashboard"),
    "kernels.python_rows_in": ("latency_p50_s", "corpus_ops"),
    "kernels.python_rows_out": ("latency_p50_s", "corpus_ops"),
    "kernels.python_bytes_in": ("latency_p50_s", "corpus_ops"),
    "kernels.python_bytes_out": ("latency_p50_s", "corpus_ops"),
    "kernels.python_worker_s": ("latency_p50_s", "corpus_ops"),
    "kernels.python_stage_run_s": ("latency_p50_s", "corpus_ops"),
    "pipeline.<stage>_s": ("latency_p50_s", "etl_pipeline"),
    "pipeline.jobs": ("latency_p50_s", "etl_pipeline"),
    "pipeline.input_scan_amp": ("latency_p50_s", "etl_pipeline"),
    "sources.sinks.bytes_written": ("latency_p50_s", "etl_pipeline"),
    "sources.sinks.files_written": ("latency_p50_s", "etl_pipeline"),
    "sources.sinks.write_amp": ("latency_p50_s", "etl_pipeline"),
    "trace.overhead_s": ("(none: the cost of tracing itself)", "all"),
    "trace.latency_diff_s": ("(none: a cross-check of trace.overhead_s)", "all"),
}
