"""Seeded synthetic corpus in the layout the registry queries read.

Writes the ten tables of ``hadoop_main_spark.tables.TABLE_NAMES`` as
``<dir>/<table>.parquet`` with the same schema and value ranges as the
repository's sf0.1 fixture (TPC-H-ish star schema, an ``events``
click stream, a ``documents`` text corpus with 5% near-duplicates and
64-d unit ``embeddings``). Everything is drawn from one NumPy
generator seeded by the caller, so a seed always yields the same
bytes: the program under test receives only these files.

``scale`` multiplies the row count of every table but ``nation`` and
``region`` (1.0 = sf0.1 sizes).
Row order and the row-group split of every file are drawn from the
seed too, so two seeds differ in physical layout as well as values.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["red", "blue", "green", "hot", "large", "small", "dark", "light"]
NOUNS = ["bolt", "ring", "nut", "gear", "pipe", "valve", "screw", "plate"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400_000_000


def _days(start: str, n: int, rng: np.random.Generator, span: int) -> np.ndarray:
    base = np.datetime64(start, "us").astype(np.int64)
    return base + rng.integers(0, span, n) * _DAY_US


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), values).cast(pa.string())


def _ts(values: np.ndarray) -> pa.Array:
    return pa.array(values.astype("datetime64[us]"), pa.timestamp("us"))


def _tables(rng: np.random.Generator, scale: float) -> dict[str, pa.Table]:
    def n(rows: int) -> int:
        return max(20, round(rows * scale))

    n_cust, n_part, n_supp = n(15_000), n(20_000), n(1_000)
    n_orders = n(150_000)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    names = [f"{color} {noun}" for color in COLORS for noun in NOUNS]
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": _pick(rng, names, n_part),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_orders),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_orders),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
            "o_orderdate": _ts(_days("1995-01-01", n_orders, rng, 2404)),
            "o_orderpriority": _pick(rng, PRIORITIES, n_orders),
        }
    )
    lines = rng.integers(1, 8, n_orders)
    n_li = int(lines.sum())
    orderkey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    linenumber = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    t["lineitem"] = pa.table(
        {
            "l_orderkey": orderkey,
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": linenumber.astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(rng, ["F", "O"], n_li),
            "l_shipdate": _ts(_days("1995-01-02", n_li, rng, 2498)),
        }
    )
    n_ev, n_users = n(100_000), n(1_500)
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": _ts(
                np.datetime64("2024-01-01", "us").astype(np.int64)
                + np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
            ),
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    t["documents"] = _documents(rng, n(5_000))
    n_vec = n(2_000)
    vec = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vec.ravel()), 64).cast(
                pa.list_(pa.float32())
            ),
            "label": rng.integers(0, 10, n_vec).astype(np.int32),
        }
    )
    return t


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random-word texts; every 20th doc is an earlier doc + " dup"."""
    texts: list[str] = []
    for i in range(n):
        if i % 20 == 19:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(8, 100))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": _pick(rng, LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )


def generate(out_dir: str, seed: int, scale: float = 1.0) -> None:
    """Write the corpus for ``seed`` into ``out_dir`` (created)."""
    rng = np.random.default_rng([seed, round(scale * 1000)])
    os.makedirs(out_dir, exist_ok=True)
    for name, table in _tables(rng, scale).items():
        if name != "events":  # events keep ts order, like a log
            table = table.take(rng.permutation(table.num_rows))
        groups = int(rng.integers(1, 5))
        pq.write_table(
            table,
            os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=-(-table.num_rows // groups),
        )
