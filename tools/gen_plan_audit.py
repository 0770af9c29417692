#!/usr/bin/env python
"""Regenerate PLANS.md — a physical-plan audit of every registered query.

Run from the repo root: ``python tools/gen_plan_audit.py``. For each query
the optimized physical plan (at sf0.001) is summarized into the node
counts that matter at scale: parquet scans, join strategies, shuffle
exchanges, windows, aggregates, and whole-stage-codegen spans. The
companion NEGATIVE checks (no cartesian product, no unbounded
nested-loop join, no Python row-UDF stage) are enforced by
``tests/test_plan_shapes.py::test_registry_plan_lint``; this artifact is
the POSITIVE evidence — what each plan actually does.

Node counts cannot see a change inside a node (a dropped Filter conjunct,
a renamed column), so each row also carries ``digest``: a hash of the
query's optimized logical plan plus its physical plan, with expression
ids, plan ids and file locations normalized. Two trees give the same
digest for a query when its normalized plans match, so the PLANS.md diff
names every query a change touched. Digests depend on the session's
parallelism (split counts, fan-out), so compare runs from one host.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigdata_etl_elt_dashboard_spark.plans import REGISTRY  # noqa: E402
from bigdata_etl_elt_dashboard_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"

#: (column header, regex counted over the formatted-explain TREE section)
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


def tree_section(plan: str) -> str:
    """Formatted explain prints the tree, then a blank line, then node
    details (which repeat node names) — count over the tree only."""
    return plan.split("\n\n", 1)[0]


#: run-specific tokens in explain text, replaced before hashing; a file
#: location keeps only a ``*.parquet`` table name (temp dirs are random)
_VOLATILE = [
    (re.compile(r"#\d+L?"), "#"),  # expression / exchange ids
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (
        re.compile(r"(?:file:)?(?:/[^/\s,\]\[()]+)+"),
        lambda m: "<dir>/" + m[0].rsplit("/", 1)[1] if m[0].endswith(".parquet") else "<path>",
    ),
]


def plan_digest(df) -> str:
    """12-hex digest of the normalized optimized logical + physical plan."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("extended")
    text = buf.getvalue()
    text = text[text.index("== Optimized Logical Plan ==") :]
    for pat, rep in _VOLATILE:
        text = pat.sub(rep, text)
    return hashlib.sha256(text.encode()).hexdigest()[:12]


def main() -> None:
    spark = get_spark(app_name="plan_audit", shuffle_partitions=8)
    rows = []
    for name, q in REGISTRY.items():
        df = q.fn(spark, SF_DIR)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        tree = tree_section(buf.getvalue())
        counts = [len(re.findall(pat, tree)) for _, pat in NODE_COUNTS]
        digest = plan_digest(df)
        # codegen span count: distinct *(N) ids in the simple-mode tree.
        # AQE hides them behind AdaptiveSparkPlan until execution, so the
        # codegen readout uses a non-adaptive replan of the same query.
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                q.fn(spark, SF_DIR).explain()
            codegen = len(set(re.findall(r"\*\((\d+)\)", buf.getvalue())))
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")
        rows.append((name, counts, codegen, digest))

    headers = [h for h, _ in NODE_COUNTS]
    lines = [
        "# PLANS — physical-plan audit (generated by tools/gen_plan_audit.py)",
        "",
        f"{len(rows)} registered queries, optimized physical plan at sf0.001,",
        "node counts from the formatted-explain tree. Join strategy legend:",
        "bhj = broadcast hash, shj = shuffled hash, smj = sort-merge,",
        "bnlj = broadcast nested loop (every occurrence is a bounded",
        "broadcast side, enforced by the registry plan lint). exch counts",
        "shuffle/broadcast exchanges before AQE coalescing; pyarrow counts",
        "Arrow-batched Python stages (multimodal operators only); cg is",
        "distinct whole-stage-codegen spans. digest hashes the normalized",
        "optimized logical + physical plan (see the tool's docstring).",
        "",
        "| query | " + " | ".join(headers) + " | cg | digest |",
        "|---|" + "---|" * (len(headers) + 2),
    ]
    for name, counts, codegen, digest in rows:
        lines.append(
            f"| `{name}` | "
            + " | ".join(str(c) for c in counts)
            + f" | {codegen} | {digest} |"
        )
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out}: {len(rows)} plans")
    spark.stop()


if __name__ == "__main__":
    main()
