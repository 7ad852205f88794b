"""Seeded generator for the benchmark's input tables.

Writes the ten parquet tables the engine's loaders and DuckDB oracles
read (``sources.io.TABLES``), with the same column names and Arrow types
as the TPC-H-ish fixture the test suite uses, at a chosen scale factor.
The same ``(seed, sf)`` always writes the same bytes; a different seed
draws fresh keys, values and text of the same shape and size, so every
seed costs the engine about the same work.

Shapes follow the fixture: uniform foreign keys, a 30-word vocabulary
for document text with 5% near-duplicate documents (a copy of an
earlier document with `` dup`` appended), unit-norm 64-d float32
embeddings with a label in 0..9.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_VOCAB = (
    "a the big small fast slow data table row column key value join agg scan "
    "filter sort merge hash window stream batch spark query order line part "
    "customer group vector"
).split()
_LANGS = np.array(["en", "zh", "es", "de", "fr"])
_LANG_P = np.array([0.44, 0.15, 0.14, 0.14, 0.13])
_DAY_US = 86_400 * 1_000_000


def _ts(days_from_1995: np.ndarray) -> pa.Array:
    base = np.datetime64("1995-01-01", "us")
    return pa.array(base + (days_from_1995 * _DAY_US).astype("timedelta64[us]"), pa.timestamp("us"))


def _pick(rng: np.random.Generator, choices, n: int) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)], pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{k:09d}" for k in range(n)], pa.string())


def build_tables(seed: int, sf: float, only: tuple[str, ...] = TABLES) -> dict[str, pa.Table]:
    """The tables named in ``only`` for ``(seed, sf)``, as Arrow tables.

    Each table draws from its own stream (seeded by ``seed`` and the
    table's position in ``TABLES``), so asking for a subset yields the
    same rows as asking for all of them."""
    unknown = set(only) - set(TABLES)
    if unknown:
        raise KeyError(f"unknown tables {sorted(unknown)}")
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(10, int(200_000 * sf))
    n_ord = max(10, int(1_500_000 * sf))
    n_li = max(10, int(6_000_000 * sf))
    n_ev = max(10, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    def region(r):
        names = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
        return pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(names)})

    def nation(r):
        return pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": pa.array([f"NATION{k:02d}" for k in range(25)]),
                "n_regionkey": pa.array(r.integers(0, 5, 25), pa.int32()),
            }
        )

    def customer(r):
        return pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": _names("Customer", n_cust),
                "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
                "c_mktsegment": _pick(
                    r, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
                ),
            }
        )

    def supplier(r):
        return pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": _names("Supplier", n_supp),
                "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
            }
        )

    def part(r):
        return pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": _names("Part", n_part),
                "p_brand": pa.array([f"Brand#{k}" for k in r.integers(11, 56, n_part)]),
                "p_type": _pick(r, ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"], n_part),
                "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": _money(r, 900.0, 2100.0, n_part),
            }
        )

    def orders(r):
        return pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": _pick(r, ["F", "O", "P"], n_ord),
                "o_totalprice": _money(r, 1000.0, 500_000.0, n_ord),
                "o_orderdate": _ts(r.integers(0, 2404, n_ord)),
                "o_orderpriority": _pick(
                    r, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
                ),
            }
        )

    def lineitem(r):
        qty = r.integers(1, 51, n_li).astype(np.float64)
        return pa.table(
            {
                "l_orderkey": pa.array(r.integers(0, n_ord, n_li), pa.int64()),
                "l_partkey": pa.array(r.integers(0, n_part, n_li), pa.int64()),
                "l_suppkey": pa.array(r.integers(0, n_supp, n_li), pa.int64()),
                "l_linenumber": pa.array(r.integers(1, 8, n_li), pa.int32()),
                "l_quantity": qty,
                "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, n_li), 2),
                "l_discount": np.round(r.integers(0, 11, n_li) / 100.0, 2),
                "l_tax": np.round(r.integers(0, 9, n_li) / 100.0, 2),
                "l_returnflag": _pick(r, ["R", "A", "N"], n_li),
                "l_linestatus": _pick(r, ["O", "F"], n_li),
                "l_shipdate": _ts(r.integers(0, 2499, n_li)),
            }
        )

    def events(r):
        start = np.datetime64("2024-01-01", "us")
        ts = start + np.sort(r.integers(0, 30 * _DAY_US, n_ev)).astype("timedelta64[us]")
        return pa.table(
            {
                "event_id": pa.array(np.arange(n_ev), pa.int64()),
                "ts": pa.array(ts, pa.timestamp("us")),
                "user_id": pa.array(r.integers(0, max(10, n_ev // 50), n_ev), pa.int64()),
                "event_type": _pick(r, ["signup", "purchase", "view", "click", "error"], n_ev),
                "value": _money(r, 0.0, 200.0, n_ev),
                "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]),
            }
        )

    def documents(r):
        texts: list[str] = []
        for k in range(n_doc):
            if k >= 20 and r.random() < 0.05:
                texts.append(texts[int(r.integers(0, k))] + " dup")
            else:
                words = r.integers(0, len(_VOCAB), int(r.integers(10, 101)))
                texts.append(" ".join(_VOCAB[w] for w in words))
        return pa.table(
            {
                "doc_id": pa.array(np.arange(n_doc), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(_LANGS[r.choice(len(_LANGS), n_doc, p=_LANG_P)].astype(object)),
                "source": pa.array([f"src{k % 20}" for k in range(n_doc)]),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        )

    def embeddings(r):
        x = r.standard_normal((n_emb, 64)).astype(np.float32)
        x /= np.linalg.norm(x, axis=1, keepdims=True)
        return pa.table(
            {
                "vec_id": pa.array(np.arange(n_emb), pa.int64()),
                "embedding": pa.array(list(x), pa.list_(pa.float32())),
                "label": pa.array(r.integers(0, 10, n_emb), pa.int32()),
            }
        )

    make = {f.__name__: f for f in (region, nation, customer, supplier, part, orders, lineitem, events, documents, embeddings)}
    return {name: make[name](np.random.default_rng([seed, TABLES.index(name)])) for name in only}


def write_tables(out_dir: str, seed: int, sf: float, only: tuple[str, ...] = TABLES) -> dict[str, int]:
    """Write ``build_tables(seed, sf, only)`` as ``<out_dir>/<table>.parquet``
    and return the row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in build_tables(seed, sf, only).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
