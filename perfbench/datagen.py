"""Seeded synthetic inputs for the benchmark.

``write_corpus`` writes the corpus tables the registry operators read
(the TPC-H-ish star schema, ``events``, ``documents``)
as one parquet file each, with the schemas and value ranges of the
package's test corpus.  ``etl_frame`` builds the pandas frame one
``etl_roundtrip`` operation loads.  The same seed always gives the
same bytes; only values change between seeds, never sizes, so runs
with different seeds do the same amount of work.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: rows per table: the row counts of the package's sf0.01 corpus, a
#: tenth of sf0.1 (see perfbench/README.md for why not sf0.1)
SIZES = {
    "customer": 1500,
    "supplier": 100,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
}
#: distinct l_partkey values (no part table is generated: no operator
#: of the benchmark reads it)
PARTS = 2000
#: distinct event users (users 0..149 are also customers)
EVENT_USERS = 150

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "es", "de", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400_000_000


def _days(rng: np.random.Generator, start: str, n_days: int, size: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, size).astype("timedelta64[D]")


def _order_dates(seed: int) -> np.ndarray:
    """o_orderdate, shared by orders and lineitem (ship = order + 1..121 days)."""
    return _days(np.random.default_rng([seed, 100]), "1995-01-01", 2404, SIZES["orders"])


def _money(rng: np.random.Generator, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """Random word bags; one in twenty documents is a near-copy of an
    earlier one with one or two words replaced, so dedup operators
    have real near-duplicate pairs to find."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            words = texts[rng.integers(0, i)].split()
            for _ in range(rng.integers(1, 3)):
                words[rng.integers(0, len(words))] = VOCAB[rng.integers(0, len(VOCAB))]
        else:
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), rng.integers(10, 100))]
        texts.append(" ".join(words))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{k}" for k in rng.integers(0, 20, n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def corpus_tables(seed: int, names: tuple[str, ...]) -> dict[str, pd.DataFrame]:
    """Build the named corpus tables for ``seed`` (each table draws from
    its own stream, so the set of names asked for never changes a
    table's contents)."""
    out: dict[str, pd.DataFrame] = {}
    n = SIZES
    for idx, name in enumerate(
        ("region", "nation", "customer", "supplier", "orders", "lineitem", "events",
         "documents")
    ):
        if name not in names:
            continue
        rng = np.random.default_rng([seed, idx])
        if name == "region":
            df = pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS})
        elif name == "nation":
            keys = np.arange(25, dtype=np.int32)
            df = pd.DataFrame(
                {"n_nationkey": keys, "n_name": [f"NATION_{k}" for k in keys],
                 "n_regionkey": keys % 5}
            )
        elif name == "customer":
            k = np.arange(n["customer"], dtype=np.int64)
            df = pd.DataFrame(
                {
                    "c_custkey": k,
                    "c_name": [f"Customer#{i:09d}" for i in k],
                    "c_nationkey": rng.integers(0, 25, len(k)).astype(np.int32),
                    "c_acctbal": _money(rng, -999.99, 9999.99, len(k)),
                    "c_mktsegment": rng.choice(SEGMENTS, len(k)),
                }
            )
        elif name == "supplier":
            k = np.arange(n["supplier"], dtype=np.int64)
            df = pd.DataFrame(
                {
                    "s_suppkey": k,
                    "s_name": [f"Supplier#{i:09d}" for i in k],
                    "s_nationkey": rng.integers(0, 25, len(k)).astype(np.int32),
                    "s_acctbal": _money(rng, -999.99, 9999.99, len(k)),
                }
            )
        elif name == "orders":
            k = np.arange(n["orders"], dtype=np.int64)
            df = pd.DataFrame(
                {
                    "o_orderkey": k,
                    "o_custkey": rng.integers(0, n["customer"], len(k)),
                    "o_orderstatus": rng.choice(["F", "O", "P"], len(k)),
                    "o_totalprice": _money(rng, 1000, 500000, len(k)),
                    "o_orderdate": _order_dates(seed),
                    "o_orderpriority": rng.choice(PRIORITIES, len(k)),
                }
            )
        elif name == "lineitem":
            m = n["lineitem"]
            okey = rng.integers(0, n["orders"], m)
            odate = _order_dates(seed)
            qty = rng.integers(1, 51, m).astype(np.float64)
            df = pd.DataFrame(
                {
                    "l_orderkey": okey,
                    "l_partkey": rng.integers(0, PARTS, m),
                    "l_suppkey": rng.integers(0, n["supplier"], m),
                    "l_linenumber": rng.integers(1, 8, m).astype(np.int32),
                    "l_quantity": qty,
                    "l_extendedprice": np.round(qty * rng.uniform(18, 2100, m), 2).clip(900.01),
                    # multiples of 0.04, so the integer-cent sums of
                    # q1_pricing_summary never end on a half cent: its
                    # oracle rounds them to cents, and Spark and DuckDB
                    # break such ties differently
                    "l_discount": rng.integers(0, 3, m) * 4 / 100,
                    "l_tax": rng.integers(0, 3, m) * 4 / 100,
                    "l_returnflag": rng.choice(["A", "N", "R"], m),
                    "l_linestatus": rng.choice(["F", "O"], m),
                    "l_shipdate": odate[okey]
                    + rng.integers(1, 122, m).astype("timedelta64[D]"),
                }
            )
        elif name == "events":
            m = n["events"]
            gaps = rng.exponential(30 * _DAY_US / m, m).astype(np.int64)
            df = pd.DataFrame(
                {
                    "event_id": np.arange(m, dtype=np.int64),
                    "ts": np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]"),
                    "user_id": rng.integers(0, EVENT_USERS, m),
                    "event_type": rng.choice(EVENT_TYPES, m),
                    "value": np.maximum(np.round(rng.exponential(50, m), 2), 0.01),
                    "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, m)],
                }
            )
        else:
            df = _documents(rng, n["documents"])
        out[name] = df
    return out


def write_corpus(seed: int, out_dir: str, names: tuple[str, ...]) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, df in corpus_tables(seed, names).items():
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False), os.path.join(out_dir, f"{name}.parquet"))


#: rows per etl_roundtrip load
ETL_ROWS = 5000
ETL_CITIES = ["Austin", "Boston", "Chicago", "Denver", "Seattle", "St. Louis"]


def etl_frame(seed: int, op_index: int, rows: int = ETL_ROWS) -> pd.DataFrame:
    """The frame one etl_roundtrip operation loads: int, float,
    timestamp, bool and string columns, mixed-case names and one name
    with whitespace, so name validation and quoting both run."""
    rng = np.random.default_rng([seed, 1000 + op_index])
    return pd.DataFrame(
        {
            "Id": rng.permutation(rows).astype(np.int64) + op_index * rows,
            "qty": rng.integers(0, 1000, rows).astype(np.int32),
            "price": _money(rng, 0, 10000, rows),
            "ts": np.datetime64("2024-01-01", "us")
            + rng.integers(0, 365 * _DAY_US, rows).astype("timedelta64[us]"),
            "flag": rng.random(rows) < 0.5,
            "city": rng.choice(ETL_CITIES, rows),
            "Shot Clock": np.round(rng.uniform(0, 24, rows), 1),
        }
    )
