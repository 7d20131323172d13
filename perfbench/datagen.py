"""Deterministic input tables for the benchmark workloads.

The tables mirror the TPC-H-ish star schema plus the ``events``,
``documents`` and ``embeddings`` tables that ``fuel_spark.sources``
loads, with the same column names and types.  Their content is fixed:
it comes from ``BASE_SEED`` alone, so a query's result depends only on
the scale factor.  The workload seed only decides how the rows are
permuted and split into files when a table is staged; a result that
changes with it is a determinism defect of the program.

Row counts, value ranges, the document vocabulary and the duplicate
structure follow the source tables the engine's tests read at sf0.001,
sf0.01 and sf0.1 (DESIGN.md lists both side by side): at scale ``sf``
there are ``1.5M * sf`` orders and ``6M * sf`` lineitem rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "de", "es", "fr")
LANG_P = (0.41, 0.15, 0.14, 0.15, 0.15)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "nut", "plate", "ring", "rod", "widget")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

_EPOCH_1995 = np.datetime64("1995-01-01", "D")
_ORDER_DAYS = int((np.datetime64("2001-08-01", "D") - _EPOCH_1995).astype(int))
_SHIP_DAYS = _ORDER_DAYS + 95  # last ship date 2001-11-04


def _rng(table: str) -> np.random.Generator:
    return np.random.default_rng([BASE_SEED, sum(map(ord, table))])


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(days: np.ndarray) -> pa.Array:
    ts = (_EPOCH_1995 + days.astype("timedelta64[D]")).astype("datetime64[us]")
    return pa.array(ts, pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def region() -> pa.Table:
    return pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })


def nation() -> pa.Table:
    return pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })


def customer(sf: float) -> pa.Table:
    n, rng = max(1, int(150_000 * sf)), _rng("customer")
    return pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": _names("Customer", n),
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)],
    })


def supplier(sf: float) -> pa.Table:
    n, rng = max(1, int(10_000 * sf)), _rng("supplier")
    return pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": _names("Supplier", n),
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })


def part(sf: float) -> pa.Table:
    n, rng = max(1, int(200_000 * sf)), _rng("part")
    keys = np.arange(n)
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    return pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": names[rng.integers(0, len(names), n)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
            rng.integers(0, 25, n)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n)],
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
    })


def _order_dates(sf: float) -> np.ndarray:
    n = max(1, int(1_500_000 * sf))
    return _rng("orders").integers(0, _ORDER_DAYS + 1, n)


def orders(sf: float) -> pa.Table:
    days = _order_dates(sf)
    n, rng = len(days), _rng("orders-cols")
    return pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, max(1, int(150_000 * sf)), n),
                              pa.int64()),
        "o_orderstatus": np.array(("F", "O", "P"))[rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n),
        "o_orderdate": _days(days),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)],
    })


def lineitem(sf: float) -> pa.Table:
    """``6M * sf`` lines, each of a uniformly drawn order with a line
    number drawn from 1..7, as in the source tables: ``(l_orderkey,
    l_linenumber)`` repeats (456,861 distinct pairs in 600,000 rows at
    sf0.1) and the ship date does not follow the order date."""
    n, rng = max(1, int(6_000_000 * sf)), _rng("lineitem")
    flags = rng.integers(0, 6, n)
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, max(1, int(1_500_000 * sf)),
                                            n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, max(1, int(200_000 * sf)), n),
                              pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, max(1, int(10_000 * sf)), n),
                              pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n),
        "l_discount": np.round(rng.uniform(0.0, 0.10, n), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n), 2),
        "l_returnflag": np.array(("A", "N", "R"))[flags // 2],
        "l_linestatus": np.array(("F", "O"))[flags % 2],
        "l_shipdate": _days(rng.integers(1, _SHIP_DAYS + 1, n)),
    })


def events(sf: float) -> pa.Table:
    n, rng = max(1, int(1_000_000 * sf)), _rng("events")
    span_us = 30 * 86_400 * 1_000_000
    offs = np.sort(rng.integers(0, span_us, n))
    ts = np.datetime64("2024-01-01T00:00:00", "us") + offs.astype(
        "timedelta64[us]")
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, int(15_000 * sf)), n),
                            pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def documents(sf: float) -> pa.Table:
    """Word salad over the 30-word vocabulary of the source tables, 10
    to 100 words each; then a twentieth of the documents, chosen at
    random, are replaced by a random document plus the word ``dup``
    (near duplicates; two replacements from one source are exact
    copies)."""
    n, rng = max(500, int(50_000 * sf)), _rng("documents")
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab),
                                         rng.integers(10, 101))])
             for _ in range(n)]
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[rng.integers(0, n)] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(sf: float) -> pa.Table:
    """Unit vectors around ten labelled cluster centres."""
    n, rng = max(500, int(20_000 * sf)), _rng("embeddings")
    centres = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n)
    vecs = centres[labels] + 0.8 * rng.normal(size=(n, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(
        np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


TABLES = {
    "region": lambda sf: region(),
    "nation": lambda sf: nation(),
    "customer": customer,
    "supplier": supplier,
    "part": part,
    "orders": orders,
    "lineitem": lineitem,
    "events": events,
    "documents": documents,
    "embeddings": embeddings,
}


def write_shuffled(table: pa.Table, path: str, seed: int, files: int) -> int:
    """Write ``table`` as a directory of ``files`` parquet files holding
    its rows in a ``seed``-chosen order; return the bytes written."""
    os.makedirs(path)
    order = np.random.default_rng(seed).permutation(table.num_rows)
    table = table.take(pa.array(order))
    n = min(files, max(1, table.num_rows))
    bounds = np.linspace(0, table.num_rows, n + 1).astype(int)
    total = 0
    for i in range(n):
        part_path = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       part_path)
        total += os.path.getsize(part_path)
    return total


def stage(out_dir: str, sf: float, names, seed: int, files: int = 4):
    """Generate ``names`` at scale ``sf`` into ``out_dir/<name>.parquet/``
    (the layout ``fuel_spark.sources.load_table`` reads) with rows
    permuted and split by ``seed``.  Returns ``({name: table}, bytes)``."""
    tables, size = {}, 0
    for name in names:
        tables[name] = TABLES[name](sf)
        size += write_shuffled(tables[name],
                               os.path.join(out_dir, f"{name}.parquet"),
                               seed, files)
    return tables, size
