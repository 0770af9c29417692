"""The four workloads: the sources each loads, its operations, and the
checks on every result.

Every operation builds its DataFrames fresh through the package's public
functions and then collects (or, for ``etl_pipeline``, writes) them, which
is what a caller pays.  ``run`` wraps each call into a package module in a
tracer span; the ``phase`` of a span ("build" or "exec") names the job
group its Spark jobs run under when tracing is on.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import statistics
import time

import duckdb
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from bigdata_etl_elt_dashboard_spark import analytics_service as A
from bigdata_etl_elt_dashboard_spark.pipeline import run_pipeline
from bigdata_etl_elt_dashboard_spark.plans import REGISTRY
from bigdata_etl_elt_dashboard_spark.schemas import SALES_RAW
from bigdata_etl_elt_dashboard_spark.sources.catalog import table
from bigdata_etl_elt_dashboard_spark.sources.readers import read_csv
from tests.oracle_harness import _norm_rows

VERIFY_QUERIES = (
    "q1_total_revenue",
    "q2_revenue_per_year",
    "q3_top5_nations_by_revenue",
    "q4_units_per_part_type",
    "q5_avg_margin_per_status",
    "q6_revenue_per_region_year",
    "q7_top10_orders_by_price",
    "q8_avg_ship_days_per_nation",
)
CORPUS_QUERIES = (
    "dedup_lsh_candidates",
    "dedup_embedding_cosine",
    "dedup_semdedup_prune",
    "emb_jl_projection_distortion",
    "emb_pq_encode_stats",
    "sim_ann_lsh",
    "graph_pagerank_3iter",
    "text_quality",
)


class Workload:
    """Base: parquet tables from the catalog, one count job per table.

    ``BUILD_LAYER`` names the module whose calls build the operation's
    DataFrames; the build metrics carry its name."""

    def __init__(self, name: str, inputs: dict):
        self.name = name
        self.inputs = inputs
        self.dir = inputs.get("dir")
        self.load_errors: list[str] = []
        self._duck = None

    def load(self, spark) -> None:
        """The sources layer of set-up: open every input and count it."""
        self.load_errors = []
        for name, rows in self.inputs["rows"].items():
            n = table(spark, self.dir, name).agg(F.count("*")).first()[0]
            if n != rows:
                self.load_errors.append(f"{name}: {n} rows read, {rows} written")

    def duck(self) -> duckdb.DuckDBPyConnection:
        if self._duck is None:
            self._duck = duckdb.connect()
            for name in self.inputs["rows"]:
                path = os.path.join(self.dir, f"{name}.parquet")
                self._duck.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        return self._duck

    def kind(self, spec) -> str:
        return self.name

    def priming(self, round_: list) -> list:
        """The operations that warm the JVM up before measuring: one of each
        kind in the round, run side by side."""
        first: dict = {}
        for spec in round_:
            first.setdefault(self.kind(spec), spec)
        return list(first.values())

    def result_rows(self, result) -> int:
        return len(result)

    def layer_extras(self, traced: list[dict], untraced: list[dict]) -> dict:
        """Workload-specific per-layer figures."""
        return {}

    def close(self) -> None:
        if self._duck is not None:
            self._duck.close()


class QueryWorkload(Workload):
    """Rounds of registry queries, each round in a seeded order.  An
    operation runs ``per_op`` queries of the round in turn, each a fresh
    build plus collect: one for ``verify_queries``, the whole round for
    ``corpus_ops``, so that its latency covers every kernel."""

    BUILD_LAYER = "plans"

    def __init__(self, name: str, inputs: dict, queries: tuple[str, ...], per_op: int):
        super().__init__(name, inputs)
        self.queries = queries
        self.per_op = per_op
        self._oracle: dict[str, list] = {}
        self._row_counts: dict[str, int] = {}

    def next_round(self, rng) -> list[tuple[str, ...]]:
        order = list(self.queries)
        rng.shuffle(order)
        return [tuple(order[i : i + self.per_op]) for i in range(0, len(order), self.per_op)]

    def priming(self, round_: list) -> list:
        """Every query of the round on its own, so they can run side by side."""
        return [(q,) for spec in round_ for q in spec]

    def kind(self, spec) -> str:
        return spec[0] if len(spec) == 1 else "round"

    def run(self, spark, names: tuple[str, ...], tracer) -> dict:
        """query -> (rows, seconds) for each query, in order."""
        out = {}
        for name in names:
            t0 = time.perf_counter()
            with tracer.span("plans.build", "build"):
                df = REGISTRY[name].fn(spark, self.dir)
            with tracer.span("engine.collect", "exec"):
                rows = df.collect()
            out[name] = (rows, time.perf_counter() - t0)
            tracer.collected(df)
        return out

    def result_rows(self, result) -> int:
        return sum(len(rows) for rows, _ in result.values())

    def check(self, names, result) -> str | None:
        bad = [self._check_query(name, rows) for name, (rows, _) in result.items()]
        return "; ".join(b for b in bad if b) or None

    def _check_query(self, name: str, rows) -> str | None:
        oracle = REGISTRY[name].oracle
        if oracle is None:
            # rows-only query: every run must return as many rows as the first
            want = self._row_counts.setdefault(name, len(rows))
            return None if len(rows) == want else f"{name}: {len(rows)} rows, first run had {want}"
        if name not in self._oracle:
            cur = self.duck().execute(oracle)
            self._oracle[name] = _norm_rows([c[0] for c in cur.description], cur.fetchall())
        want_cols, want = self._oracle[name]
        if not rows:
            return None if not want else f"{name}: 0 rows, oracle has {len(want)}"
        cols, got = _norm_rows(list(rows[0].__fields__), [tuple(r) for r in rows])
        if cols != want_cols:
            return f"{name}: columns {cols} != oracle {want_cols}"
        if got != want:
            return f"{name}: {len(got)} rows differ from the DuckDB oracle ({len(want)} rows)"
        return None

    def layer_extras(self, traced: list[dict], untraced: list[dict]) -> dict:
        lat: dict[str, list[float]] = {}
        for o in untraced:
            for q, (_, secs) in (o["result"] or {}).items():
                lat.setdefault(q, []).append(secs)
        return {f"plans.{q}.fresh_s": statistics.median(v) for q, v in lat.items()}


class Dashboard(Workload):
    """One page render per operation, under seeded widget filters."""

    BUILD_LAYER = "analytics_service"

    MEASURE, DATE, DIM = "o_totalprice", "o_orderdate", "n_name"
    REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    FIRST, LAST = dt.date(1995, 1, 1), dt.date(2001, 8, 1)

    def next_round(self, rng) -> list:
        """Six renders in seeded order: one unfiltered and five under drawn
        filters whose region and priority counts are seeded permutations of
        1..5, so every round has the same mix of filter shapes and the seed
        varies only the values."""
        n_regions = rng.sample(range(1, 6), 5)
        n_priorities = rng.sample(range(1, 6), 5)
        renders = [None]
        for k_r, k_p in zip(n_regions, n_priorities):
            start = self.FIRST + dt.timedelta(days=rng.randrange(0, 2000))
            end = min(start + dt.timedelta(days=rng.randrange(90, 900)), self.LAST)
            renders.append(
                A.Filters(
                    date_col=self.DATE,
                    date_range=(start, end),
                    memberships={
                        "r_name": sorted(rng.sample(self.REGIONS, k_r)),
                        "o_orderpriority": sorted(rng.sample(self.PRIORITIES, k_p)),
                    },
                )
            )
        rng.shuffle(renders)
        return renders

    def run(self, spark, filters, tracer):
        m = self.MEASURE
        with tracer.span("analytics_service.build", "build"):
            t = {n: table(spark, self.dir, n) for n in ("orders", "customer", "nation", "region")}
            frame = (
                t["orders"]
                .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
                .join(t["nation"], F.col("c_nationkey") == F.col("n_nationkey"))
                .join(t["region"], F.col("n_regionkey") == F.col("r_regionkey"))
            )
        calls = {
            "kpis": lambda: A.kpis(frame, m, filters),
            "monthly_trend": lambda: A.monthly_trend(frame, m, self.DATE, filters),
            "histogram": lambda: A.histogram(frame, m, 30, filters),
            "by_dimension": lambda: A.by_dimension(frame, self.DIM, m, filters),
        }
        out = {}
        for fn, call in calls.items():
            with tracer.span(f"analytics_service.{fn}"):
                with tracer.span("analytics_service.build", "build"):
                    df = call()
                with tracer.span("engine.collect", "exec"):
                    out[fn] = df.collect()
            tracer.collected(df)
        return out

    def result_rows(self, result) -> int:
        return sum(len(v) for v in result.values())

    def check(self, filters, out) -> str | None:
        where = []
        if filters is not None:
            start, end = filters.date_range
            where.append(f"CAST({self.DATE} AS DATE) BETWEEN DATE '{start}' AND DATE '{end}'")
            for col, values in filters.memberships.items():
                where.append(f"{col} IN ({', '.join(repr(v) for v in values)})")
        n, cents = self.duck().execute(
            f"SELECT count(*), CAST(SUM(CAST(ROUND({self.MEASURE} * 100) AS BIGINT)) AS BIGINT) "
            "FROM orders JOIN customer ON o_custkey = c_custkey "
            "JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey "
            + (f"WHERE {' AND '.join(where)}" if where else "")
        ).fetchone()
        k = out["kpis"][0]

        def cents_of(rows):
            return sum(round(r["total"] * 100) for r in rows)

        problems = [
            (k["n_rows"] != n, f"kpis n_rows {k['n_rows']} != DuckDB {n}"),
            (round(k["total"] * 100) != cents, f"kpis total {k['total']} != DuckDB {cents / 100}"),
            (abs(k["avg_per_row"] - cents / 100 / n) > 0.006, f"kpis avg {k['avg_per_row']}"),
            (cents_of(out["monthly_trend"]) != cents, "monthly trend does not sum to the KPI total"),
            (cents_of(out["by_dimension"]) != cents, "bars do not sum to the KPI total"),
            (sum(r["n"] for r in out["histogram"]) != n, "histogram counts do not sum to n_rows"),
            (len(out["histogram"]) > 30, "histogram has more than 30 bins"),
        ]
        bad = [msg for failed, msg in problems if failed]
        return "; ".join(bad) or None

    def layer_extras(self, traced: list[dict], untraced: list[dict]) -> dict:
        out = {}
        for fn in ("kpis", "monthly_trend", "histogram", "by_dimension"):
            vals = [o["spans"].get(f"analytics_service.{fn}", 0.0) for o in traced]
            if vals:
                out[f"analytics_service.{fn}_s"] = statistics.mean(vals)
        return out


class EtlPipeline(Workload):
    """One full pipeline run per operation, into a fresh warehouse dir."""

    BUILD_LAYER = "sources.readers"

    STAGES = ("transform", "quality", "warehouse", "write")
    DIMS = ("dim_country", "dim_item", "dim_channel", "dim_date")

    def __init__(self, name: str, inputs: dict, out_dir: str):
        super().__init__(name, inputs)
        self.paths = inputs["paths"]
        self.expected = inputs["expected"]
        self.out_dir = out_dir
        self._n = 0

    def _read(self, spark):
        return {k: read_csv(spark, p, schema=SALES_RAW) for k, p in self.paths.items()}

    def load(self, spark) -> None:
        self.load_errors = []
        for k, df in self._read(spark).items():
            n = df.agg(F.count("*")).first()[0]
            if n != self.inputs["rows"][k]:
                self.load_errors.append(f"{k}.csv: {n} rows read, {self.inputs['rows'][k]} written")

    def next_round(self, rng) -> list[str]:
        """One run, into a warehouse directory of its own."""
        self._n += 1
        return [os.path.join(self.out_dir, f"warehouse-{self._n}")]

    def kind(self, spec) -> str:
        return "run_pipeline"

    def run(self, spark, path: str, tracer):
        with tracer.span("sources.readers", "build"):
            src = self._read(spark)
        with tracer.span("pipeline.run_pipeline", "exec"):
            _, report, metrics = run_pipeline(spark, src["local"], src["api"], warehouse_path=path)
        return {"path": path, "report": report, "stages": metrics.stages}

    def result_rows(self, result) -> int:
        return result["report"].n_rows

    @staticmethod
    def _written(path: str) -> tuple[int, int, int]:
        """(parquet files, their bytes, their rows) under ``path``."""
        files = [
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")
        ]
        return (
            len(files),
            sum(os.path.getsize(f) for f in files),
            sum(pq.read_metadata(f).num_rows for f in files),
        )

    def check(self, path: str, res) -> str | None:
        e, rep, stages = self.expected, res["report"], res["stages"]
        n = e["transformed_rows"]
        written = {t: self._written(os.path.join(path, t)) for t in ("fact_sales", *self.DIMS)}
        years = sorted(
            int(d.split("=")[1]) for d in os.listdir(os.path.join(path, "fact_sales")) if "=" in d
        )
        res["files_written"] = sum(w[0] for w in written.values())
        res["bytes_written"] = sum(w[1] for w in written.values())
        problems = [
            (stages["transform"]["rows"] != n, f"transformed {stages['transform']['rows']} != {n}"),
            (stages["warehouse"]["rows"] != n, f"fact rows {stages['warehouse']['rows']} != {n}"),
            (rep.n_rows != n, f"DQ n_rows {rep.n_rows} != {n}"),
            (rep.pk_nulls != e["pk_nulls"], f"DQ pk_nulls {rep.pk_nulls} != {e['pk_nulls']}"),
            (rep.pk_duplicates != e["pk_nulls"], f"DQ pk_duplicates {rep.pk_duplicates}"),
            (
                rep.negative_counts["total_cost"] != e["negative_total_cost"],
                f"DQ negative total_cost {rep.negative_counts['total_cost']} != {e['negative_total_cost']}",
            ),
            (
                abs(rep.numeric_summary["total_profit"]["max"] - e["profit_upper_bound"])
                > 1e-9 * e["profit_upper_bound"],
                "total_profit not clipped at Q3 + 1.5 IQR",
            ),
            (rep.null_counts["region"] or rep.null_counts["units_sold"], "NULLs left after fill"),
            (written["fact_sales"][2] != n, f"fact_sales files hold {written['fact_sales'][2]} rows"),
            (years != e["order_years"], f"fact_sales partitions {years}"),
        ] + [(written[d][2] != e[d], f"{d} holds {written[d][2]} rows, expected {e[d]}") for d in self.DIMS]
        shutil.rmtree(path, ignore_errors=True)
        bad = [msg for failed, msg in problems if failed]
        return "; ".join(bad) or None

    def layer_extras(self, traced: list[dict], untraced: list[dict]) -> dict:
        ops = [o for o in traced if o["result"] is not None and "files_written" in o["result"]]
        if not ops:
            return {}
        csv_bytes = self.inputs["csv_bytes"]
        out = {
            f"pipeline.{s}_s": statistics.mean(o["result"]["stages"][s]["seconds"] for o in ops)
            for s in self.STAGES
        }
        out["pipeline.jobs"] = statistics.mean(o["counters"]["jobs"] for o in ops)
        out["pipeline.input_scan_amp"] = statistics.mean(o["counters"]["scan_bytes"] for o in ops) / csv_bytes
        out["sources.sinks.files_written"] = statistics.mean(o["result"]["files_written"] for o in ops)
        out["sources.sinks.bytes_written"] = statistics.mean(o["result"]["bytes_written"] for o in ops)
        out["sources.sinks.write_amp"] = out["sources.sinks.bytes_written"] / csv_bytes
        return out


def make(name: str, inputs: dict, out_dir: str) -> Workload:
    if name == "dashboard":
        return Dashboard(name, inputs)
    if name == "verify_queries":
        return QueryWorkload(name, inputs, VERIFY_QUERIES, per_op=1)
    if name == "corpus_ops":
        return QueryWorkload(name, inputs, CORPUS_QUERIES, per_op=len(CORPUS_QUERIES))
    if name == "etl_pipeline":
        return EtlPipeline(name, inputs, out_dir)
    raise SystemExit(f"unknown workload {name!r}")
