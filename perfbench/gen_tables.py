"""Seeded generator for the TPC-H-shaped star tables and the corpus tables.

Writes one parquet file per table, one row group each, with the schemas the
package's catalog reads (``sources.catalog.table``).  Value ranges follow
the tables the package was developed against: order dates 1995-01-01 ..
2001-08-01, 25 nations over 5 regions, 64-dim unit embeddings, documents of
8-90 words from a 30-word vocabulary.  Near duplicates are planted in the corpus tables so
the dedup and similarity queries have real candidate pairs to verify.

Same ``(sf, seed)`` gives byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["red", "blue", "green", "small", "large", "shiny", "matte", "steel", "tiny"]
NOUNS = ["ring", "widget", "bolt", "anvil", "gear", "spring", "valve"]
WORDS = (
    "a the data table row column key value part order customer line query scan "
    "filter join merge sort group agg hash window stream batch spark vector "
    "fast slow big small"
).split()
LANGS = ["en", "en", "en", "en", "de", "es", "fr", "zh"]

DATE_LO = np.datetime64("1995-01-01", "us")
ORDER_DAYS = int((np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype(int))
SHIP_DAYS = int((np.datetime64("2001-11-04") - np.datetime64("1995-01-02")).astype(int))


def _keys(n: int) -> pa.Array:
    return pa.array(np.arange(n, dtype=np.int64))


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    """Dictionary-decoded string column drawn uniformly from ``values``."""
    idx = rng.integers(0, len(values), n).astype(np.int32)
    return pa.DictionaryArray.from_arrays(idx, pa.array(values)).cast(pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng: np.random.Generator, span_days: int, n: int, offset_days: int = 0) -> pa.Array:
    days = rng.integers(0, span_days + 1, n) + offset_days
    return pa.array(DATE_LO + days.astype("timedelta64[D]").astype("timedelta64[us]"))


def _sizes(sf: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * sf),
        "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "documents": int(50_000 * sf),
        "embeddings": int(20_000 * sf),
    }


def build_tables(sf: float, seed: int, names: tuple[str, ...]) -> dict[str, pa.Table]:
    """Arrow tables for ``names`` at scale factor ``sf``."""
    n = _sizes(sf)
    out: dict[str, pa.Table] = {}
    for name in names:
        # one stream per table, so the tables a workload skips never shift
        # the values of the ones it reads
        rng = np.random.default_rng([seed, list(_BUILDERS).index(name)])
        out[name] = _BUILDERS[name](rng, n)
    return out


def _region(rng, n):
    return pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })


def _nation(rng, n):
    keys = np.arange(25, dtype=np.int32)
    return pa.table({
        "n_nationkey": pa.array(keys),
        "n_name": pa.array([f"NATION_{i}" for i in keys]),
        "n_regionkey": pa.array(keys % 5),
    })


def _customer(rng, n):
    m = n["customer"]
    return pa.table({
        "c_custkey": _keys(m),
        "c_name": _names("Customer", m),
        "c_nationkey": pa.array(rng.integers(0, 25, m).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, m)),
        "c_mktsegment": _pick(rng, SEGMENTS, m),
    })


def _part(rng, n):
    m = n["part"]
    names = [f"{c} {w}" for c in COLORS for w in NOUNS]
    return pa.table({
        "p_partkey": _keys(m),
        "p_name": _pick(rng, names, m),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], m),
        "p_type": _pick(rng, PART_TYPES, m),
        "p_size": pa.array(rng.integers(1, 51, m).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(m) % 1000) * 0.1, 1)),
    })


def _orders(rng, n):
    m = n["orders"]
    return pa.table({
        "o_orderkey": _keys(m),
        "o_custkey": pa.array(rng.integers(0, n["customer"], m)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], m),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, m)),
        "o_orderdate": _dates(rng, ORDER_DAYS, m),
        "o_orderpriority": _pick(rng, PRIORITIES, m),
    })


def _lineitem(rng, n):
    m = n["lineitem"]
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], m)),
        "l_partkey": pa.array(rng.integers(0, n["part"], m)),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], m)),
        "l_linenumber": pa.array(rng.integers(1, 8, m).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, m).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, m)),
        "l_discount": pa.array(rng.integers(0, 11, m) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, m) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], m),
        "l_linestatus": _pick(rng, ["F", "O"], m),
        "l_shipdate": _dates(rng, SHIP_DAYS, m, offset_days=1),
    })


def _documents(rng, n):
    m = n["documents"]
    texts: list[str] = []
    for i in range(m):
        if i >= 10 and rng.random() < 0.08:
            # near duplicate of an earlier doc: one word swapped
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = [WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(8, 90)))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": _keys(m),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, m),
        "source": _pick(rng, [f"src{i}" for i in range(20)], m),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng, n, dim: int = 64):
    m = n["embeddings"]
    vecs = rng.standard_normal((m, dim))
    # near duplicates: a small perturbation of an earlier vector
    dup = np.flatnonzero(rng.random(m) < 0.08)
    dup = dup[dup > 0]
    src = (rng.random(len(dup)) * dup).astype(np.int64)
    vecs[dup] = vecs[src] + 0.02 * rng.standard_normal((len(dup), dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(vecs.reshape(-1))
    offsets = pa.array(np.arange(0, m * dim + 1, dim, dtype=np.int32))
    return pa.table({
        "vec_id": _keys(m),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, m).astype(np.int32)),
    })


_BUILDERS = {
    "region": _region,
    "nation": _nation,
    "customer": _customer,
    "part": _part,
    "orders": _orders,
    "lineitem": _lineitem,
    "documents": _documents,
    "embeddings": _embeddings,
}


def write_tables(out_dir: str, sf: float, seed: int, names: tuple[str, ...]) -> dict[str, int]:
    """Write ``names`` as ``<out_dir>/<name>.parquet``; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, tbl in build_tables(sf, seed, names).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"), row_group_size=max(1, tbl.num_rows))
        rows[name] = tbl.num_rows
    return rows
