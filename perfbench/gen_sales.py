"""Seeded generator for the "Sales Records"-shaped local and API CSVs.

The two CSVs carry the Kaggle header (``Region, Country, Item Type, ...``)
and M/d/yyyy dates.  Defects are planted at fixed rates on disjoint rows so
that every count ``pipeline.run_pipeline`` reports is known in advance:

- exact duplicate rows inside each source (the keep-first dedup drops them);
- API rows reusing a local ``Order ID`` (local wins);
- rows with an empty ``Order ID`` (NULL primary key; one survives dedup);
- malformed order dates (parsed to NULL, then dropped);
- negative ``Total Cost`` (kept; counted by the DQ range check);
- ``Total Profit`` outliers far above Q3 + 1.5 IQR (clipped);
- empty ``Units Sold`` / ``Total Profit`` (median-imputed), empty ``Region``
  (filled with ``Unknown``), and stray spaces around ``Sales Channel``.

``expected_counts`` replays the transform's semantics on the generated
rows, so the pipeline run is checked against these numbers.  Same
``(rows, seed)`` gives byte-identical files.
"""

from __future__ import annotations

import csv
import datetime as dt
import os

import numpy as np

HEADER = [
    "Region", "Country", "Item Type", "Sales Channel", "Order Priority",
    "Order Date", "Order ID", "Ship Date", "Units Sold", "Unit Price",
    "Unit Cost", "Total Revenue", "Total Cost", "Total Profit",
]

COUNTRIES = {
    "Sub-Saharan Africa": ["Chad", "Ghana", "Kenya", "Mali", "Niger", "Rwanda"],
    "Europe": ["France", "Iceland", "Latvia", "Norway", "Portugal", "Spain"],
    "Asia": ["Bhutan", "Japan", "Laos", "Mongolia", "Nepal", "Vietnam"],
    "Middle East and North Africa": ["Egypt", "Iran", "Jordan", "Oman", "Qatar"],
    "Central America and the Caribbean": ["Belize", "Cuba", "Haiti", "Panama"],
    "Australia and Oceania": ["Fiji", "Kiribati", "Palau", "Samoa", "Tonga"],
    "North America": ["Canada", "Greenland", "Mexico", "United States of America"],
}
#: item type -> (unit price, unit cost), fixed per item as in the source data
ITEMS = {
    "Baby Food": (255.28, 159.42), "Beverages": (47.45, 31.79),
    "Cereal": (205.70, 117.11), "Clothes": (109.28, 35.84),
    "Cosmetics": (437.20, 263.33), "Fruits": (9.33, 6.92),
    "Household": (668.27, 502.54), "Meat": (421.89, 364.69),
    "Office Supplies": (651.21, 524.96), "Personal Care": (81.73, 56.67),
    "Snacks": (152.58, 97.44), "Vegetables": (154.06, 90.93),
}
CHANNELS = ["Online", "Offline"]
PRIORITIES = ["H", "M", "L", "C"]

#: planted-defect rates, as shares of each source's base rows
RATES = {
    "dup_within": 0.02,
    "cross_source": 0.10,  # API rows only
    "null_pk": 0.005,
    "bad_date": 0.01,
    "neg_cost": 0.005,
    "outlier": 0.01,
    "null_units": 0.01,
    "null_profit": 0.005,
    "null_region": 0.01,
    "padded_channel": 0.02,
}
BAD_DATES = ["N/A", "31-12-2015", "2016.02.30", "unknown"]
EPOCH = dt.date(2010, 1, 1)
DATE_SPAN = (dt.date(2017, 7, 28) - EPOCH).days


def _fmt_date(d: dt.date) -> str:
    return f"{d.month}/{d.day}/{d.year}"


def _base_rows(rng: np.random.Generator, n: int, ids: np.ndarray) -> list[dict]:
    regions = list(COUNTRIES)
    items = list(ITEMS)
    rows = []
    for i in range(n):
        region = regions[int(rng.integers(0, len(regions)))]
        country = COUNTRIES[region][int(rng.integers(0, len(COUNTRIES[region])))]
        item = items[int(rng.integers(0, len(items)))]
        price, cost = ITEMS[item]
        units = int(rng.integers(1, 10_001))
        order_date = EPOCH + dt.timedelta(days=int(rng.integers(0, DATE_SPAN)))
        rows.append({
            "region": region,
            "country": country,
            "item_type": item,
            "sales_channel": CHANNELS[int(rng.integers(0, 2))],
            "order_priority": PRIORITIES[int(rng.integers(0, 4))],
            "order_date": _fmt_date(order_date),
            "year": order_date.year,
            "order_id": int(ids[i]),
            "ship_date": _fmt_date(order_date + dt.timedelta(days=int(rng.integers(0, 51)))),
            "units_sold": units,
            "unit_price": price,
            "unit_cost": cost,
            "total_revenue": round(units * price, 2),
            "total_cost": round(units * cost, 2),
            "total_profit": round(units * (price - cost), 2),
        })
    return rows


def _plant(rng: np.random.Generator, rows: list[dict], rates: dict, avoid: set[int]) -> dict:
    """Plant single-row defects on disjoint rows outside ``avoid`` (the rows
    other sources reference).  Returns the planted row indices per defect."""
    free = np.array([i for i in range(len(rows)) if i not in avoid])
    order = rng.permutation(free)
    planted, at = {}, 0
    for kind in ("null_pk", "bad_date", "neg_cost", "outlier", "null_units", "null_profit", "null_region", "padded_channel"):
        k = int(round(rates[kind] * len(rows)))
        planted[kind] = [int(i) for i in order[at : at + k]]
        at += k
    # NULL-key rows are copies of one row: dedup keeps an arbitrary one of
    # them, so they must not differ in anything the checks read
    for i in planted["null_pk"]:
        rows[i] = dict(rows[planted["null_pk"][0]], order_id=None)
    for i in planted["bad_date"]:
        rows[i]["order_date"] = BAD_DATES[i % len(BAD_DATES)]
        rows[i]["year"] = None
    for i in planted["neg_cost"]:
        rows[i]["total_cost"] = -rows[i]["total_cost"]
    for i in planted["outlier"]:
        rows[i]["total_profit"] = round(rows[i]["total_profit"] * 40 + 5_000_000, 2)
    for i in planted["null_units"]:
        rows[i]["units_sold"] = None
    for i in planted["null_profit"]:
        rows[i]["total_profit"] = None
    for i in planted["null_region"]:
        rows[i]["region"] = None
    for i in planted["padded_channel"]:
        rows[i]["sales_channel"] = f"  {rows[i]['sales_channel']} "
    return planted


def generate(n_local: int, n_api: int, seed: int) -> tuple[list[dict], list[dict]]:
    """(local rows, api rows) in file order, defects planted."""
    rng = np.random.default_rng([seed, 20])
    ids = rng.choice(900_000_000, size=n_local + n_api, replace=False) + 100_000_000
    local = _base_rows(rng, n_local, ids[:n_local])
    api = _base_rows(rng, n_api, ids[n_local:])

    # API rows that re-send a local order: same id, the API's own values
    n_cross = int(round(RATES["cross_source"] * n_api))
    api_slots = rng.choice(n_api, size=n_cross, replace=False)
    local_src = rng.choice(n_local, size=n_cross, replace=False)
    for a, s in zip(api_slots, local_src):
        api[int(a)]["order_id"] = local[int(s)]["order_id"]
    _plant(rng, local, RATES, avoid={int(s) for s in local_src})
    _plant(rng, api, RATES, avoid={int(a) for a in api_slots})

    out = []
    for rows in (local, api):
        # exact copies of clean rows, inserted at seeded positions
        clean = [r for r in rows if r["order_id"] is not None and r["year"] is not None]
        k = int(round(RATES["dup_within"] * len(rows)))
        picks = rng.choice(len(clean), size=k, replace=False)
        dups = [dict(clean[int(i)]) for i in picks]
        where = sorted(rng.integers(0, len(rows) + 1, size=k).tolist(), reverse=True)
        rows = list(rows)
        for pos, d in zip(where, dups):
            rows.insert(pos, d)
        out.append(rows)
    return out[0], out[1]


def _cell(v) -> str:
    if v is None:
        return ""
    if isinstance(v, float):
        return f"{v:.2f}"
    return str(v)


def write_csv(path: str, rows: list[dict]) -> int:
    keys = ["region", "country", "item_type", "sales_channel", "order_priority",
            "order_date", "order_id", "ship_date", "units_sold", "unit_price",
            "unit_cost", "total_revenue", "total_cost", "total_profit"]
    with open(path, "w", newline="", encoding="utf-8") as fh:
        w = csv.writer(fh, lineterminator="\n")
        w.writerow(HEADER)
        for r in rows:
            w.writerow([_cell(r[k]) for k in keys])
    return os.path.getsize(path)


def _percentile(sorted_vals: np.ndarray, p: float) -> float:
    """Spark's exact ``percentile``: linear interpolation at (n-1)p."""
    pos = (len(sorted_vals) - 1) * p
    lo, hi = int(np.floor(pos)), int(np.ceil(pos))
    if lo == hi:
        return float(sorted_vals[lo])
    return float((hi - pos) * sorted_vals[lo] + (pos - lo) * sorted_vals[hi])


def expected_counts(local: list[dict], api: list[dict]) -> dict:
    """Replay union -> keep-first dedup -> date drop -> impute -> IQR clip."""
    kept: dict = {}
    # local first: the lower source rank wins, and the null-key rows of a
    # source are identical, so a local one survives
    null_pk_rows = [r for r in local + api if r["order_id"] is None]
    for r in local + api:
        if r["order_id"] is not None and r["order_id"] not in kept:
            kept[r["order_id"]] = r
    survivors = list(kept.values()) + null_pk_rows[:1]
    n_dedup = len(survivors)
    rows = [r for r in survivors if r["year"] is not None]

    profits = np.array([r["total_profit"] for r in rows if r["total_profit"] is not None])
    profits.sort()
    median = _percentile(profits, 0.5)
    filled = np.sort(np.array([median if r["total_profit"] is None else r["total_profit"] for r in rows]))
    q1, q3 = _percentile(filled, 0.25), _percentile(filled, 0.75)
    upper = q3 + 1.5 * (q3 - q1)

    def region(r):
        return r["region"] if r["region"] is not None else "Unknown"

    return {
        "rows_local": len(local),
        "rows_api": len(api),
        "dedup_rows": n_dedup,
        "transformed_rows": len(rows),
        "dropped_bad_dates": n_dedup - len(rows),
        "pk_nulls": 1 if null_pk_rows and null_pk_rows[0]["year"] is not None else 0,
        "negative_total_cost": sum(1 for r in rows if r["total_cost"] is not None and r["total_cost"] < 0),
        "outliers_clipped": int(np.sum(filled > upper)),
        "profit_upper_bound": upper,
        "order_years": sorted({r["year"] for r in rows}),
        "dim_country": len({(region(r), r["country"]) for r in rows}),
        "dim_item": len({r["item_type"] for r in rows}),
        "dim_channel": len({r["sales_channel"].strip() for r in rows}),
        "dim_date": len({r["order_date"] for r in rows}),
    }


def write_sales(out_dir: str, n_local: int, n_api: int, seed: int) -> dict:
    """Write ``local.csv`` and ``api.csv``; returns paths, sizes and the
    expected counts."""
    os.makedirs(out_dir, exist_ok=True)
    local, api = generate(n_local, n_api, seed)
    paths = {"local": os.path.join(out_dir, "local.csv"), "api": os.path.join(out_dir, "api.csv")}
    size = write_csv(paths["local"], local) + write_csv(paths["api"], api)
    return {"paths": paths, "csv_bytes": size, "expected": expected_counts(local, api)}
