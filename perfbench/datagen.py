"""Seeded benchmark inputs: the same seed gives the same bytes.

Two families of tables:

* ``ref_frames`` — the reference test shapes t1/t2 (string label ``a``,
  double ``b``, bigint ``c``) at any row count;
* ``tpch_frames`` — a TPC-H-like star schema plus the ``documents`` and
  ``embeddings`` tables, with the column names and types of the
  engine's parquet test data, so registry queries and their DuckDB
  oracles run on it unchanged.

The TPC-H-like tables also follow that test data's distributions: the
same row counts per scale factor, key ranges, lines per order, date
spans, 31-word document vocabulary with one document in twenty a
near-copy of an earlier one, and unit-norm isotropic embeddings. On the
seven registry pipelines of ``operator_pipelines``, at scale factors
0.01 and 0.1, the two give the same jobs per query, tasks within two of
each other, and build and action times within their run-to-run spread.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJECTIVES = ["blue", "red", "green", "small", "big", "hot", "cold", "shiny"]
_NOUNS = ["bolt", "gear", "ring", "widget", "plate", "valve", "spring", "nut"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_DAY_US = 86_400_000_000


TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "documents",
    "embeddings",
)


def ref_frames(seed: int, rows: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """The reference's t1(a, b, c) and t2(a, b) test frames.

    ``a`` draws from 1000 labels, so the two tables join on ``a`` with
    about ``rows / 1000`` matches per row.
    """
    rng = np.random.default_rng(seed)
    labels = np.array([f"t_{i}" for i in range(1000)], dtype=object)
    t1 = pd.DataFrame(
        {
            "a": labels[rng.integers(0, 1000, rows)],
            "b": rng.random(rows),
            "c": rng.integers(0, 100, rows).astype("int64"),
        }
    )
    t2 = pd.DataFrame({"a": labels[rng.integers(0, 1000, rows)], "b": rng.random(rows)})
    return t1, t2


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng: np.random.Generator, days: int, n: int, offset_days: int = 0) -> np.ndarray:
    return _EPOCH_1995 + (rng.integers(0, days, n) + offset_days) * np.timedelta64(_DAY_US, "us")


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> np.ndarray:
    return np.array(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """Word-salad documents; one in twenty repeats an earlier document
    with ``" dup"`` appended, so the dedup pipelines find clusters."""
    words = np.array(_WORDS, dtype=object)
    lengths = rng.integers(10, 100, n)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i:
            texts[i] = texts[int(rng.integers(0, i))] + " dup" * int(rng.integers(1, 3))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype="int64"),
            "text": texts,
            "lang": _pick(rng, _LANGS, n, _LANG_P),
            "source": np.array([f"src{i % 20}" for i in range(n)], dtype=object),
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pd.DataFrame:
    vecs = rng.standard_normal((n, dim)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype="int64"),
            "embedding": list(vecs),
            "label": rng.integers(0, 10, n).astype("int32"),
        }
    )


def tpch_frames(seed: int, sf: float, names: tuple[str, ...]) -> dict[str, pd.DataFrame]:
    """The named tables at scale factor ``sf`` (sf 1 = 6M lineitems).

    Each table draws from its own generator seeded by (seed, table), so
    asking for a subset yields the same rows as asking for all.
    """
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 10)
    n_ord = max(int(1_500_000 * sf), 10)
    n_line = max(int(6_000_000 * sf), 10)

    def build(name: str, rng: np.random.Generator) -> pd.DataFrame:
        if name == "region":
            return pd.DataFrame(
                {"r_regionkey": np.arange(5, dtype="int32"), "r_name": _REGIONS}
            )
        if name == "nation":
            keys = np.arange(25, dtype="int32")
            return pd.DataFrame(
                {
                    "n_nationkey": keys,
                    "n_name": [f"NATION_{i}" for i in keys],
                    "n_regionkey": keys % 5,
                }
            )
        if name == "customer":
            return pd.DataFrame(
                {
                    "c_custkey": np.arange(n_cust, dtype="int64"),
                    "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                    "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
                    "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                    "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
                }
            )
        if name == "supplier":
            return pd.DataFrame(
                {
                    "s_suppkey": np.arange(n_supp, dtype="int64"),
                    "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                    "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
                    "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
                }
            )
        if name == "part":
            names_ = [f"{a} {b}" for a in _ADJECTIVES for b in _NOUNS]
            return pd.DataFrame(
                {
                    "p_partkey": np.arange(n_part, dtype="int64"),
                    "p_name": _pick(rng, names_, n_part),
                    "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
                    "p_type": _pick(rng, _PART_TYPES, n_part),
                    "p_size": rng.integers(1, 51, n_part).astype("int32"),
                    "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
                }
            )
        if name == "orders":
            return pd.DataFrame(
                {
                    "o_orderkey": np.arange(n_ord, dtype="int64"),
                    "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
                    "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
                    "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
                    "o_orderdate": _dates(rng, 2400, n_ord),
                    "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
                }
            )
        if name == "lineitem":
            return pd.DataFrame(
                {
                    "l_orderkey": rng.integers(0, n_ord, n_line).astype("int64"),
                    "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
                    "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
                    "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
                    "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
                    "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
                    "l_discount": rng.integers(0, 11, n_line) / 100.0,
                    "l_tax": rng.integers(0, 9, n_line) / 100.0,
                    "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
                    "l_linestatus": _pick(rng, ["F", "O"], n_line),
                    "l_shipdate": _dates(rng, 2500, n_line, offset_days=1),
                }
            )
        if name == "documents":
            return _documents(rng, max(int(50_000 * sf), 100))
        if name == "embeddings":
            return _embeddings(rng, max(int(20_000 * sf), 500))
        raise ValueError(f"unknown table {name!r}")

    return {
        name: build(name, np.random.default_rng([seed, i]))
        for i, name in enumerate(TPCH_TABLES)
        if name in names
    }


def write_parquet(frames: dict[str, pd.DataFrame], out_dir: str) -> None:
    """One ``{name}.parquet`` per frame; list columns become float32 lists."""
    os.makedirs(out_dir, exist_ok=True)
    for name, df in frames.items():
        schema = None
        if name == "embeddings":
            schema = pa.schema(
                [
                    ("vec_id", pa.int64()),
                    ("embedding", pa.list_(pa.float32())),
                    ("label", pa.int32()),
                ]
            )
        table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
