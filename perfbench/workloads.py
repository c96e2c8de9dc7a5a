"""The benchmark's closed-loop, single-client workloads.

Each workload generates its inputs from the seed, materialises them to
Parquet and works out the expected answers before anything is timed,
builds its base state (timed as set-up), and then yields a fixed,
seeded schedule of ops. An op is one call into the engine's public API
whose result is fully materialised inside the timed region; its answer
is checked against DuckDB outside the timed region.
"""

from __future__ import annotations

import math
import os
import statistics
from dataclasses import dataclass, field
from typing import Callable

import duckdb
import numpy as np
import pyarrow.parquet as pq

import gen
from tests.oracle_harness import _canon  # the oracle gate's cell canonicalization

SF = 0.1
BASE_FILES = 100  # 1 file = 1 % of the table
# schedule length, in cycles. A run measures whole cycles, at least two,
# until its time budget is spent; at 12 s it starts a third only when a
# cycle takes under 4.8 s (8-11 s on 4 vCPUs), so the third is there for
# a faster machine
CYCLES = 3


@dataclass
class Op:
    cls: str  # latency class: ops of one class do the same kind of work
    kind: str  # "write" or "query"
    run: Callable[[], object]
    check: Callable[[object], str | None] = field(default=lambda res: None)


# Each lineitem column enters the checksum as sum(term * (lk % p + 1)),
# with its own prime p: the weight ties every value to its row's key, so
# a value moved to another row, or a damaged one, changes the sum. The
# same SQL runs in Spark and in DuckDB.
_TERMS = (
    ("l_orderkey", 997),
    ("l_partkey", 991),
    ("l_suppkey", 983),
    ("l_linenumber", 977),
    ("l_quantity", 971),
    ("round(l_extendedprice * 100)", 967),
    ("round(l_discount * 100)", 953),
    ("round(l_tax * 100)", 947),
    ("ascii(l_returnflag)", 941),
    ("ascii(l_linestatus)", 937),
    ("year(l_shipdate) * 400 + dayofyear(l_shipdate)", 929),
)
CHECKSUM = ["count(*)", "sum(lk)"] + [
    f"sum(CAST({term} AS BIGINT) * (lk % {p} + 1))" for term, p in _TERMS]


def _ints(row) -> tuple:
    return tuple(0 if v is None else int(v) for v in row)


class Workload:
    """Base: inputs and base state under ``work``."""

    name = ""

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.rng = np.random.default_rng([seed, 11])

    def prepare(self) -> None:  # inputs and expected answers, untimed
        raise NotImplementedError

    def build(self, dest: str) -> None:  # base state, timed as set-up
        raise NotImplementedError

    def open(self, state: str) -> None:  # bind a fresh copy for a timed phase
        raise NotImplementedError

    def schedule(self):  # the op sequence, deterministic in the seed
        raise NotImplementedError

    def warm_ops(self) -> list[Op]:
        """The first op of every class in the schedule."""
        seen: dict[str, Op] = {}
        for op in self.schedule():
            seen.setdefault(op.cls, op)
            if len(seen) == len(set(self.CYCLE)):
                break
        return list(seen.values())

    def final_check(self) -> list[str]:
        return []

    def detail(self, phase) -> dict:
        return {}


class MergeStream(Workload):
    """Key-ordered mutation batches into a plain sorted table keyed
    ``lk`` over sf0.1 lineitem. The batches are generated before timing;
    the final table is checked against DuckDB replaying the committed
    batches over the base."""

    name = "merge_stream"
    # commit latencies sort splice < delete < dirty1 < dirty10 < compact;
    # dirty1 holds the middle half of the cycle, so the median commit
    # latency is always a dirty1 merge and never hops between classes
    CYCLE = ("dirty1", "splice", "dirty1", "dirty10", "dirty1",
             "delete", "dirty1", "splice", "dirty1", "compact")

    def prepare(self) -> None:
        fx = os.path.join(self.work, "fixture")
        gen.write_fixtures(fx, self.seed, SF, ("lineitem",))
        keyed = gen.keyed_lineitem(pq.read_table(os.path.join(fx, "lineitem.parquet")))
        self.base_path = os.path.join(self.work, "base.parquet")
        pq.write_table(keyed, self.base_path)
        self.schema = keyed.schema
        self.rows_per_file = math.ceil(keyed.num_rows / BASE_FILES)
        muts = gen.MutationSource(keyed, self.seed, BASE_FILES)
        batch_dir = os.path.join(self.work, "batches")
        os.makedirs(batch_dir)
        self.batches: list[tuple[str, int]] = []  # (path, bytes on disk)
        self.plan: list[tuple[str, int | None]] = []
        for cls in self.CYCLE * CYCLES:
            if cls == "splice":
                df = muts.upsert(1, 300)
            elif cls == "dirty1":
                df = muts.upsert(1, 1500)
            elif cls == "dirty10":
                df = muts.upsert(10, 6000)
            elif cls == "delete":
                df = muts.delete(2, 600)
            else:
                self.plan.append((cls, None))
                continue
            path = os.path.join(batch_dir, f"b{len(self.batches):04d}.parquet")
            self.batches.append((path, gen.write_batch(df, path, self.schema)))
            self.plan.append((cls, len(self.batches) - 1))

    def build(self, dest: str) -> None:
        from parquet_rewriter_spark.table import SortedTable

        SortedTable.create(self.spark, dest, self.spark.read.parquet(self.base_path),
                           key=gen.KEY, num_files=BASE_FILES)

    def open(self, state: str) -> None:
        from parquet_rewriter_spark.table import SortedTable

        self.table = SortedTable(self.spark, state)
        self.committed: list[int] = []  # batch ids in commit order
        self.merge_stats: list[tuple[str, dict]] = []

    def schedule(self):
        from parquet_rewriter_spark.operators.compact import compact
        from parquet_rewriter_spark.operators.merge import merge_into_table

        for cls, b in self.plan:
            if cls == "compact":
                def run():
                    return compact(self.table, max_records_per_file=self.rows_per_file)

                def check(res, cls=cls):
                    self.merge_stats.append((cls, res))
            else:
                def run(b=b, splice=cls in ("splice", "delete")):
                    return merge_into_table(self.table, self.spark.read.parquet(self.batches[b][0]),
                                            allow_splice=splice)

                def check(res, cls=cls, b=b):
                    self.merge_stats.append((cls, res))
                    self.committed.append(b)
            yield Op(cls, "write", run, check)

    def final_check(self) -> list[str]:
        """The final table against DuckDB replaying the committed batches
        over the base, in commit order."""
        got = _ints(self.table.read().selectExpr(*CHECKSUM).first())
        duck = duckdb.connect()
        duck.execute(f"CREATE TABLE t AS SELECT * FROM read_parquet('{self.base_path}')")
        cols = ", ".join(self.schema.names)
        for b in self.committed:
            path = self.batches[b][0]
            duck.execute(f"DELETE FROM t WHERE lk IN (SELECT lk FROM read_parquet('{path}'))")
            duck.execute(f"INSERT INTO t SELECT {cols} FROM read_parquet('{path}') WHERE op = 'UPSERT'")
        want = _ints(duck.execute(f"SELECT {', '.join(CHECKSUM)} FROM t").fetchone())
        duck.close()
        if got != want:
            return [f"{self.name}: final table checksum {got} != DuckDB replay {want}"]
        return []

    def detail(self, phase) -> dict:
        merges = [(c, s) for c, s in self.merge_stats if c != "compact"]
        compacts = [s for c, s in self.merge_stats if c == "compact"]
        batch_bytes = sum(self.batches[b][1] for b in self.committed)
        written = sum(s.get("bytes_written", 0) for _, s in self.merge_stats)
        n_mut = sum(pq.read_metadata(self.batches[b][0]).num_rows for b in self.committed)
        m = self.table.manifest()
        out = {
            "write_amp": written / batch_bytes if batch_bytes else float("nan"),
            "merge.splice_share": _share(merges, lambda s: s.get("path") == "rowgroup_splice"),
            # Spark jobs of a 300-row, 1-file upsert
            "merge.jobs_per_commit": phase.class_counts("splice", "jobs"),
            "merge.files_dirty": _mean(s["files_dirty"] for _, s in merges),
            "merge.files_written": _mean(s["files_written"] for _, s in merges),
            "merge.files_passthrough": _mean(s["files_clean_passthrough"] for _, s in merges),
            "merge.rows_rewritten_per_mutation":
                sum(s["rows_rewritten"] for _, s in merges) / n_mut if n_mut else float("nan"),
            "splice.rgs_rewritten": sum(s.get("rgs_rewritten", 0) for _, s in merges),
            "splice.rgs_copied": sum(s.get("rgs_copied", 0) for _, s in merges),
            "compact.bytes_rewritten": sum(s["bytes_written"] for s in compacts),
            "merge.plan_s": _median(s["t_plan_s"] for _, s in merges),
            "merge.write_s": _median(s["t_write_s"] for _, s in merges),
            "merge.commit_s": _median(s["t_commit_s"] for _, s in self.merge_stats),
            "table.files_end": len(m.files),
            "table.bytes_end": sum(e.bytes for e in m.files),
        }
        for cls, key in (("splice", "merge.splice_s"), ("dirty1", "merge.dirty1_s"),
                         ("dirty10", "merge.dirty10_s"), ("delete", "merge.delete_s"),
                         ("compact", "compact.s")):
            out[key] = phase.class_median(cls)
        return out


class CatalogMix(Workload):
    """Catalog queries at sf0.1, repeated in interleaved rounds."""

    name = "catalog_mix"
    QUERIES = (
        "pricing_summary",            # scan-agg
        "revenue_by_nation",          # star join
        "top3_orders_per_customer",   # window
        "dedup_exact_docs",           # dedup
        "doc_token_stats",            # text
        "pack_training_sequences",    # packing
        "doc_sentences_udtf",         # Python UDTF (Python workers)
        "merge_then_aggregate",       # mutation semantics
        "bloom_pointlookup_scan",     # table lifecycle: commit + bloom sidecar
    )
    CYCLE = QUERIES
    WRITES = ("bloom_pointlookup_scan",)
    TABLES = ("lineitem", "orders", "customer", "nation", "documents")

    def prepare(self) -> None:
        from parquet_rewriter_spark import catalog

        self.fx = os.path.join(self.work, "fixture")
        gen.write_fixtures(self.fx, self.seed, SF, self.TABLES)
        self.catalog = catalog
        duck = duckdb.connect()
        for t in self.TABLES:
            duck.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(self.fx, t)}.parquet')")
        self.expected = {q: _canon_rows(duck.execute(catalog.REGISTRY[q].oracle).fetchdf())
                         for q in self.QUERIES}
        duck.close()
        # a seeded, fixed order within each round
        self.order = [list(self.rng.permutation(self.QUERIES)) for _ in range(CYCLES)]

    def build(self, dest: str) -> None:
        # the catalog's base state is its fixture tables: open each one
        from parquet_rewriter_spark.sources.readers import load_table

        for t in self.TABLES:
            load_table(self.spark, self.fx, t)

    def open(self, state: str) -> None:
        pass

    def _op(self, q: str) -> Op:
        fn = self.catalog.REGISTRY[q].fn

        def check(pdf):
            diff = _rows_differ(_canon_rows(pdf), self.expected[q])
            return f"{q}: answer differs from its oracle: {diff}" if diff else None

        return Op(q, "write" if q in self.WRITES else "query",
                  lambda: fn(self.spark, self.fx).toPandas(), check)

    def schedule(self):
        for rnd in self.order:
            for q in rnd:
                yield self._op(q)

    def detail(self, phase) -> dict:
        out = {}
        for q in self.QUERIES:
            out[f"catalog.{q}_s"] = phase.class_median(q)
            jobs = phase.class_counts(q, "jobs")
            if jobs is not None:
                out[f"catalog.{q}.jobs"] = jobs
        return out


WORKLOADS = {w.name: w for w in (MergeStream, CatalogMix)}


def _is_float(x) -> bool:
    return isinstance(x, tuple) and len(x) == 2 and x[0] == "f"


def _canon_rows(pdf) -> list:
    """Order-independent canonical form of a result (columns by name),
    rows sorted on their non-float cells first."""
    cols = sorted(pdf.columns)
    rows = [tuple(_canon(r[c]) for c in cols) for r in pdf.to_dict("records")]
    return [tuple(cols)] + sorted(rows, key=lambda t: (
        [str(x) for x in t if not _is_float(x)], [str(x) for x in t if _is_float(x)]))


def _same(a, b) -> bool:
    """Cell equality; doubles match to 1e-9 relative. The oracles round
    sums of doubles to a few decimals, and both engines sum in their own
    order, so a large sum can land on either side of a rounding step."""
    if _is_float(a) and _is_float(b):
        return abs(a[1] - b[1]) <= max(1e-6, 1e-9 * max(abs(a[1]), abs(b[1])))
    return a == b


def _rows_differ(got: list, want: list) -> str | None:
    if got[0] != want[0]:
        return f"columns {got[0]} vs {want[0]}"
    if len(got) != len(want):
        return f"{len(got) - 1} rows vs {len(want) - 1}"
    for g, w in zip(got[1:], want[1:]):
        if len(g) != len(w) or not all(_same(a, b) for a, b in zip(g, w)):
            return f"row {g} vs {w}"
    return None


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else float("nan")


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else float("nan")


def _share(items, pred) -> float:
    return _mean(1.0 if pred(s) else 0.0 for _, s in items)
