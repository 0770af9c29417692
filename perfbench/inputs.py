"""Make one workload's inputs in a child process.

``run.py`` calls this as a separate process so that the generator's memory
never counts in the peak resident memory the benchmark reports:

    python3 perfbench/inputs.py --workload etl_pipeline --seed 3 --out DIR

It writes the inputs under ``DIR`` and a manifest ``DIR/inputs.json`` with
their sizes (and, for ``etl_pipeline``, the expected counts).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen_sales  # noqa: E402
import gen_tables  # noqa: E402
import spec  # noqa: E402

#: the star and corpus tables are the same for every seed (the seed draws
#: filters, orders operations and generates the sales CSVs), so figures from
#: different seeds differ only by what the seed is meant to vary
TABLE_SEED = 20_150_101


def make(workload: str, seed: int, out: str) -> dict:
    sizes = spec.WORKLOADS[workload]["inputs"]
    if "sf" in sizes:
        rows = gen_tables.write_tables(out, sizes["sf"], TABLE_SEED, sizes["tables"])
        manifest = {"sf": sizes["sf"], "rows": rows, "dir": out}
    else:
        info = gen_sales.write_sales(out, sizes["local_rows"], sizes["api_rows"], seed)
        manifest = {**info, "rows": {"local": info["expected"]["rows_local"], "api": info["expected"]["rows_api"]}}
    manifest["bytes"] = sum(
        os.path.getsize(os.path.join(out, f)) for f in os.listdir(out) if not f.endswith(".json")
    )
    with open(os.path.join(out, "inputs.json"), "w", encoding="utf-8") as fh:
        json.dump(manifest, fh)
    return manifest


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--out", required=True)
    a = p.parse_args()
    make(a.workload, a.seed, a.out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
