"""Seeded input generator for the benchmark.

Everything the benchmark feeds the engine is derived here from one
workload seed: the TPC-H-shaped fixture tables (same schemas and value
domains as the engine's test fixtures, see FIXTURES.md) and the
key-ordered mutation batches of merge_stream. The engine only
ever sees the Parquet files this module writes.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

NATIONS = 25
WORDS = (
    "join hash row batch scan customer column filter small slow merge order "
    "vector line data table agg value key stream window spark a group part "
    "big sort query fast the"
).split()
LANGS = ("en", "zh", "de", "es", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
DAY_US = 86_400 * 1_000_000
EPOCH_1995 = int(pd.Timestamp("1995-01-01").value // 1000)

# lineitem key of merge_stream: unique because (l_orderkey,
# l_linenumber) is unique and l_linenumber <= 7
KEY = "lk"


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array(EPOCH_1995 + days.astype(np.int64) * DAY_US, pa.timestamp("us"))


def orders_and_lineitem(rng: np.random.Generator, sf: float) -> tuple[pa.Table, pa.Table]:
    n_orders = int(1_500_000 * sf)
    n_cust = int(150_000 * sf)
    okey = np.arange(n_orders, dtype=np.int64)
    orders = pa.table({
        "o_orderkey": okey,
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n_orders),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_orders), 2),
        "o_orderdate": _ts(rng.integers(0, 2404, n_orders)),
        "o_orderpriority": rng.choice(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]), n_orders),
    })
    lines = rng.integers(1, 8, n_orders)  # 1..7 lines per order
    l_okey = np.repeat(okey, lines)
    # 1-based line number within each order
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_num = (np.arange(len(l_okey)) - starts + 1).astype(np.int32)
    n = len(l_okey)
    lineitem = pa.table({
        "l_orderkey": l_okey,
        "l_partkey": rng.integers(0, int(200_000 * sf), n),
        "l_suppkey": rng.integers(0, int(10_000 * sf), n),
        "l_linenumber": l_num,
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n),
        "l_linestatus": rng.choice(np.array(["F", "O"]), n),
        "l_shipdate": _ts(rng.integers(1, 2499, n)),
    })
    return orders, lineitem


def customer_nation(rng: np.random.Generator, sf: float) -> tuple[pa.Table, pa.Table]:
    n = int(150_000 * sf)
    ck = np.arange(n, dtype=np.int64)
    customer = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": rng.integers(0, NATIONS, n).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": rng.choice(np.array(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]), n),
    })
    nk = np.arange(NATIONS, dtype=np.int32)
    nation = pa.table({
        "n_nationkey": nk,
        "n_name": [f"NATION_{i}" for i in nk],
        "n_regionkey": nk % 5,
    })
    return customer, nation


def documents(rng: np.random.Generator, sf: float) -> pa.Table:
    n = int(50_000 * sf)
    words = np.array(WORDS)
    n_tok = rng.integers(10, 100, n)
    toks = rng.choice(words, int(n_tok.sum()))
    bounds = np.cumsum(n_tok)
    text = [" ".join(toks[b - k:b]) for b, k in zip(bounds, n_tok)]
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": rng.choice(np.array(LANGS), n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })


def write_fixtures(out_dir: str, seed: int, sf: float, names: tuple[str, ...]) -> None:
    """Write the named fixture tables as ``<out_dir>/<name>.parquet``.

    One generator per table family, each seeded from (seed, family), so
    a table's contents do not depend on which other tables are asked for.
    """
    os.makedirs(out_dir, exist_ok=True)
    want = set(names)
    tables: dict[str, pa.Table] = {}
    if want & {"orders", "lineitem"}:
        tables["orders"], tables["lineitem"] = orders_and_lineitem(
            np.random.default_rng([seed, 1]), sf)
    if want & {"customer", "nation"}:
        tables["customer"], tables["nation"] = customer_nation(
            np.random.default_rng([seed, 2]), sf)
    if "documents" in want:
        tables["documents"] = documents(np.random.default_rng([seed, 3]), sf)
    for name in names:
        pq.write_table(tables[name], os.path.join(out_dir, f"{name}.parquet"))


def keyed_lineitem(lineitem: pa.Table) -> pa.Table:
    """lineitem with merge_stream's unique key column prepended."""
    lk = pc.add(pc.multiply(lineitem["l_orderkey"], 10),
                lineitem["l_linenumber"].cast(pa.int64()))
    return lineitem.add_column(0, KEY, lk)


class MutationSource:
    """Seeded mutation batches against a keyed lineitem fixture.

    Batches are full records (the engine's upsert contract) with an
    ``op`` column, sorted by key. Upserts rewrite the measures of
    existing rows and insert new keys inside the touched range (line
    numbers 8 and 9, which the fixture never uses); deletes remove
    existing rows. A batch covers the middle of ``files`` consecutive
    key-range slices of the table (``n_files`` slices of equal row
    count — the layout of a table written with that many files), so it
    dirties that many files and not one more when a boundary falls
    near its edge.
    """

    def __init__(self, base: pa.Table, seed: int, n_files: int):
        self.rng = np.random.default_rng([seed, 7])
        self.base = base.sort_by(KEY)
        self.keys = self.base[KEY].to_numpy()
        self.n_files = n_files

    def _rows(self, idx: np.ndarray) -> pd.DataFrame:
        return self.base.take(pa.array(idx)).to_pandas()

    def _span(self, files: int) -> np.ndarray:
        n = len(self.keys)
        k = int(self.rng.integers(0, self.n_files - files + 1))
        lo = int(n * (k + 0.25) / self.n_files)
        hi = int(n * (k + files - 0.25) / self.n_files)
        return np.arange(lo, hi)

    def upsert(self, files: int, n_rows: int) -> pd.DataFrame:
        """``n_rows`` mutations across ``files`` files: 90 % updates of
        existing rows, 10 % inserts."""
        span = self._span(files)
        n_upd = max(1, n_rows * 9 // 10)
        upd = self._rows(np.sort(self.rng.choice(span, min(n_upd, len(span)), replace=False)))
        upd["l_quantity"] = self.rng.integers(1, 51, len(upd)).astype(np.float64)
        upd["l_extendedprice"] = np.round(self.rng.uniform(900, 105_000, len(upd)), 2)
        upd["l_discount"] = self.rng.integers(0, 11, len(upd)) / 100.0
        n_ins = max(1, n_rows - len(upd))
        ins = self._rows(np.sort(self.rng.choice(span, n_ins, replace=False)))
        ins = ins.drop_duplicates("l_orderkey")
        ins["l_linenumber"] = np.int32(8 + self.rng.integers(0, 2))
        ins[KEY] = ins["l_orderkey"] * 10 + ins["l_linenumber"].astype(np.int64)
        out = pd.concat([upd, ins]).drop_duplicates(KEY)
        out["op"] = "UPSERT"
        return out.sort_values(KEY).reset_index(drop=True)

    def delete(self, files: int, n_rows: int) -> pd.DataFrame:
        span = self._span(files)
        out = self._rows(np.sort(self.rng.choice(span, min(n_rows, len(span)), replace=False)))
        out["op"] = "DELETE"
        return out


def write_batch(df: pd.DataFrame, path: str, schema: pa.Schema) -> int:
    """Write one mutation batch; returns its on-disk bytes."""
    t = pa.Table.from_pandas(df, preserve_index=False)
    t = t.select(schema.names + ["op"]).cast(
        pa.schema(list(schema) + [pa.field("op", pa.string())]))
    pq.write_table(t, path)
    return os.path.getsize(path)
