"""`sorted_table` — a Python DataSource exposing SortedTable snapshots
with zone-map pruning INSIDE the source.

Spark's native parquet reader sees a SortedTable as "a directory of
files": the manifest's key ranges can only prune via driver-side path
lists (table.read_range). The Python DataSource API (Spark 4) lets the
table surface as a first-class format instead —

    spark.read.format("sorted_table")
         .option("path", t.path).option("key_lo", "1000")
         .option("key_hi", "2999").load()

— with the reference's two seek optimizations implemented where they
belong, inside the source:

- PARTITION PLANNING (driver): one InputPartition per manifest file
  whose [key_min, key_max] overlaps the requested range — files outside
  the range are never even listed as partitions (`seekToKey` zone-map
  skip, ParquetRewriter.java:253-301, at file granularity). Skipped
  work is visible: `len(reader.partitions())`.
- READ (executor): pyarrow opens only its partition's file, consults
  PER-ROW-GROUP footer statistics, and skips row groups outside the
  range (the reference's actual granularity — R5 at ~10k-row blocks),
  then applies the exact residual filter vectorized and yields ARROW
  RecordBatches (zero row-at-a-time Python).

Scale notes: partitions() reads one JSON manifest (rows ∝ files, driver
-bounded like every manifest operation); each task reads one file.
Arrow-batch hand-off keeps the Python boundary columnar. Snapshot
isolation comes free: the reader pins the manifest version it planned
with (`version` option for time travel). Honest limitations, by design:
no deletion-vector subtraction and no column pruning pushdown (use
`SortedTable.read()*` for full semantics); a demo-grade source would
hide that — this one documents it.
"""

from __future__ import annotations

import json
import os
from typing import Iterator, Sequence

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import StructType

FORMAT_NAME = "sorted_table"


class _FilePartition(InputPartition):
    def __init__(self, file_path: str, key: str, lo, hi, preds=None):
        self.file_path = file_path
        self.key = key
        self.lo = lo
        self.hi = hi
        # pushed per-column (lo, hi) bounds for row-group stat skipping
        self.preds = preds or {}


def _parse_bound(raw: str | None, lo: bool):
    if raw is None or raw == "":
        return None
    try:
        return int(raw)
    except ValueError:
        try:
            return float(raw)
        except ValueError:
            return raw  # string-keyed tables compare lexicographically


def _prefix_successor(prefix: str) -> str | None:
    """Smallest string greater than every string with this prefix, in
    code-point order: increment the last code point, carrying left past
    U+10FFFF.  None when the prefix is entirely U+10FFFF (no successor).
    """
    cps = list(prefix)
    while cps:
        c = ord(cps[-1])
        if c < 0x10FFFF:
            cps[-1] = chr(c + 1)
            return "".join(cps)
        cps.pop()
    return None


class SortedTableDataSource(DataSource):
    """format("sorted_table"): options path, key_lo, key_hi, version."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def _manifest(self) -> dict:
        path = self.options["path"]
        version = self.options.get("version")
        if version is None:  # current = SortedTable.manifest()'s roll-forward
            with open(os.path.join(path, "_manifest.json")) as f:
                version = json.load(f)["version"]
            while os.path.exists(os.path.join(path, f"_manifest.v{version + 1}.json")):
                version += 1
        with open(os.path.join(path, f"_manifest.v{int(version)}.json")) as f:
            return json.load(f)

    def schema(self) -> StructType:
        m = self._manifest()
        if not m.get("schema_json"):
            raise ValueError("sorted_table: manifest has no pinned schema")
        return StructType.fromJson(json.loads(m["schema_json"]))

    def reader(self, schema: StructType) -> "DataSourceReader":
        # A reader that IMPLEMENTS pushFilters hard-fails when
        # spark.sql.python.filterPushdown.enabled is false (the
        # default) — so the pushdown-capable subclass is only handed
        # out when the session allows it; register() flips the conf
        # where possible, but an externally-built session may not.
        enabled = "false"
        try:  # pragma: no cover - depends on session context
            from pyspark.sql import SparkSession

            sess = SparkSession.getActiveSession()
            if sess is not None:
                enabled = sess.conf.get(
                    "spark.sql.python.filterPushdown.enabled", "false"
                )
        except Exception:  # noqa: BLE001
            pass
        cls = (
            SortedTablePushdownReader
            if str(enabled).lower() == "true"
            else SortedTableReader
        )
        return cls(self.options, self._manifest())


class SortedTableReader(DataSourceReader):
    def __init__(self, options, manifest: dict):
        self.path = options["path"]
        self.key = manifest["key"]
        self.lo = _parse_bound(options.get("key_lo"), lo=True)
        self.hi = _parse_bound(options.get("key_hi"), lo=False)
        self.files = manifest["files"]
        self.stats_cols = set(manifest.get("stats_cols") or [])
        # pushed-filter bounds: col → [lo, hi] (either side may be None)
        self._pushed: dict[str, list] = {}

    def _record_filters(self, filters):
        """Pruning-only filter pushdown (Spark 4 Python DataSource):
        record single-column comparison bounds, then return EVERY filter
        as unsupported so Spark re-applies the exact predicates — the
        source uses the bounds solely to SKIP files (manifest zone maps,
        incl. secondary stats_cols) and row groups (footer stats).
        Returning them keeps semantics exact even though pruning is
        best-effort, the same contract parquet's own stats pushdown has.
        """
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            In,
            LessThan,
            LessThanOrEqual,
            StringStartsWith,
        )

        for f in filters:
            attr = getattr(f, "attribute", None)
            col = attr[0] if attr and len(attr) == 1 else None
            if col is None:
                yield f
                continue
            if isinstance(f, In):
                vals = getattr(f, "value", None)
                if vals and all(isinstance(x, (int, float, str)) for x in vals):
                    # IN-list prunes as its value envelope [min, max] —
                    # coarse but sound; Spark re-applies the exact IN
                    b = self._pushed.setdefault(col, [None, None])
                    lo_v, hi_v = min(vals), max(vals)
                    b[0] = lo_v if b[0] is None else max(b[0], lo_v)
                    b[1] = hi_v if b[1] is None else min(b[1], hi_v)
                yield f
                continue
            v = getattr(f, "value", None)
            if not isinstance(v, (int, float, str)):
                yield f
                continue
            if isinstance(f, StringStartsWith):
                # prefix p bounds the value range [p, next(p)) where
                # next(p) increments p's LAST code point (carrying past
                # U+10FFFF).  p + '\uffff' is NOT an upper bound: a
                # supplementary-plane continuation ('abc\U0001F600')
                # sorts above 'abc\uffff', and pruning on a wrong bound
                # silently drops matching rows.  All-max prefixes have
                # no finite successor \u2192 push only the lower bound.
                b = self._pushed.setdefault(col, [None, None])
                b[0] = v if b[0] is None else max(b[0], v)
                hi_v = _prefix_successor(v)
                if hi_v is not None:
                    b[1] = hi_v if b[1] is None else min(b[1], hi_v)
                yield f
                continue
            b = self._pushed.setdefault(col, [None, None])
            # strict bounds relax to inclusive — pruning stays correct,
            # Spark re-applies the strict comparison exactly
            if isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                b[0] = v if b[0] is None else max(b[0], v)
            elif isinstance(f, (LessThan, LessThanOrEqual)):
                b[1] = v if b[1] is None else min(b[1], v)
            elif isinstance(f, EqualTo):
                b[0] = v if b[0] is None else max(b[0], v)
                b[1] = v if b[1] is None else min(b[1], v)
            yield f

    def _key_bounds(self) -> tuple:
        lo, hi = self.lo, self.hi
        pb = self._pushed.get(self.key)
        if pb is not None:
            if pb[0] is not None:
                lo = pb[0] if lo is None else max(lo, pb[0])
            if pb[1] is not None:
                hi = pb[1] if hi is None else min(hi, pb[1])
        return lo, hi

    def partitions(self) -> Sequence[InputPartition]:
        """Zone-map pruning at planning time: a partition exists ONLY
        for files overlapping the key range (options ∩ pushed filters),
        and — for columns the manifest tracks secondary stats on — only
        for files whose col_stats overlap the pushed bounds."""
        lo, hi = self._key_bounds()
        out = []
        for f in self.files:
            kmin, kmax = f["key_min"], f["key_max"]
            # tagged (non-JSON-native) bounds: range options unsupported,
            # never prune — correctness over cleverness
            plain = not isinstance(kmin, dict) and not isinstance(kmax, dict)
            if plain and hi is not None and kmin is not None and kmin > hi:
                continue
            if plain and lo is not None and kmax is not None and kmax < lo:
                continue
            skip = False
            for col, (plo, phi) in self._pushed.items():
                if col == self.key or col not in self.stats_cols:
                    continue
                mm = (f.get("col_stats") or {}).get(col)
                if not mm or isinstance(mm[0], dict) or isinstance(mm[1], dict):
                    continue
                if (phi is not None and mm[0] is not None and mm[0] > phi) or (
                    plo is not None and mm[1] is not None and mm[1] < plo
                ):
                    skip = True
                    break
            if skip:
                continue
            preds = {
                c: (b[0], b[1]) for c, b in self._pushed.items() if c != self.key
            }
            out.append(
                _FilePartition(
                    os.path.join(self.path, f["name"]), self.key,
                    lo if plain else None, hi if plain else None,
                    preds,
                )
            )
        return out

    def read(self, partition: _FilePartition) -> Iterator:
        """One file per task: row-group stats skip, then the exact
        residual range filter, vectorized; yields Arrow RecordBatches."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(partition.file_path)
        key_idx = pf.schema_arrow.get_field_index(partition.key)
        pred_idx = {
            c: pf.schema_arrow.get_field_index(c)
            for c in partition.preds
            if pf.schema_arrow.get_field_index(c) >= 0
        }
        for rg in range(pf.num_row_groups):
            st = pf.metadata.row_group(rg).column(key_idx).statistics
            if st is not None and st.has_min_max:
                if partition.hi is not None and st.min > partition.hi:
                    continue  # row group entirely above the range
                if partition.lo is not None and st.max < partition.lo:
                    continue  # entirely below
            rg_skip = False
            for c, (plo, phi) in partition.preds.items():
                i = pred_idx.get(c)
                if i is None:
                    continue
                cst = pf.metadata.row_group(rg).column(i).statistics
                if cst is None or not cst.has_min_max:
                    continue
                if (phi is not None and cst.min > phi) or (
                    plo is not None and cst.max < plo
                ):
                    rg_skip = True
                    break
            if rg_skip:
                continue  # pushed secondary predicate misses this group
            tbl = pf.read_row_group(rg)
            mask = None
            if partition.lo is not None:
                mask = pc.greater_equal(tbl[partition.key], partition.lo)
            if partition.hi is not None:
                m2 = pc.less_equal(tbl[partition.key], partition.hi)
                mask = m2 if mask is None else pc.and_(mask, m2)
            if mask is not None:
                tbl = tbl.filter(mask)
            if tbl.num_rows:
                yield from tbl.to_batches()


class SortedTablePushdownReader(SortedTableReader):
    """The pushdown-capable variant: implementing ``pushFilters`` is a
    hard opt-in (Spark refuses the reader when
    spark.sql.python.filterPushdown.enabled is false), so it lives in a
    subclass the DataSource only hands out under the conf."""

    def pushFilters(self, filters):
        return self._record_filters(filters)


def register(spark) -> None:
    """Idempotent format registration on any session; also enables
    Python-source filter pushdown (a plain runtime conf) so the
    sorted_table reader can prune files and row groups from pushed
    predicates."""
    _pickle_self_contained()
    try:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    except Exception:  # noqa: BLE001 - read-only conf context
        pass
    spark.dataSource.register(SortedTableDataSource)


# ------------------------------------------------- streaming change feed


CHANGES_FORMAT_NAME = "sorted_table_changes"


class SortedTableChangesDataSource(DataSource):
    """``readStream.format("sorted_table_changes")`` — the table's
    changelog as a first-class STREAMING source (Spark 4 Python
    DataSource streaming API) with commit-version offsets.

    The file-source tail (``operators/cdc.py:stream_changes``) tracks
    progress by FILE PATH; this source tracks it by the table's own
    commit version — offsets are ``{"version": N}``, so a restarted
    stream resumes exactly after the last commit it processed, replays
    (``readBetweenOffsets``) are reproducible by construction, and the
    offset is meaningful to a human reading the checkpoint. Read path:
    one pyarrow scan of ``_changelog/`` filtered to
    ``start < _commit_version <= end``.

    Simple-reader caveat, documented: the Simple API reads on the
    driver (Spark prefetches and distributes the batch) — right for
    commit-sized deltas; a corpus-sized backfill should use the batch
    CDC feed instead.
    """

    @classmethod
    def name(cls) -> str:
        return CHANGES_FORMAT_NAME

    def schema(self) -> StructType:
        from pyspark.sql.types import LongType, StringType, StructField

        path = self.options["path"]
        with open(os.path.join(path, "_manifest.json")) as f:
            m = json.load(f)
        base = StructType.fromJson(json.loads(m["schema_json"]))
        return StructType(
            list(base.fields)
            + [
                StructField("_change_type", StringType(), True),
                StructField("_commit_version", LongType(), True),
            ]
        )

    def simpleStreamReader(self, schema: StructType):
        return SortedTableChangesStreamReader(self.options, schema)


class SortedTableChangesStreamReader:
    """Commit-version offsets over the changelog parquet directory."""

    def __init__(self, options, schema: StructType):
        from pyspark.sql.datasource import SimpleDataSourceStreamReader

        self.path = options["path"]
        self.names = [f.name for f in schema.fields]
        # starting_version option: begin AFTER this commit (default 0 =
        # the full retained feed; the create commit writes no changelog)
        self.start_version = int(options.get("starting_version", "0"))

    def initialOffset(self) -> dict:
        return {"version": self.start_version}

    def _latest_version(self) -> int:
        with open(os.path.join(self.path, "_manifest.json")) as f:
            return int(json.load(f)["version"])

    def _rows(self, lo: int, hi: int) -> list:
        # returns a LIST: Spark's simple-reader prefetch cache
        # copy.copy()s the iterator for replay, which a generator
        # cannot survive
        import pyarrow.dataset as ds

        log_dir = os.path.join(self.path, "_changelog")
        if not os.path.isdir(log_dir) or lo >= hi:
            return []
        dataset = ds.dataset(log_dir, format="parquet")
        f = (ds.field("_commit_version") > lo) & (ds.field("_commit_version") <= hi)
        tbl = dataset.to_table(filter=f)
        if not tbl.num_rows:
            return []
        # schema order must match the declared schema exactly
        cols = [tbl[n].to_pylist() if n in tbl.column_names else [None] * tbl.num_rows
                for n in self.names]
        return [tuple(vals) for vals in zip(*cols)]

    def read(self, start: dict):
        end = self._latest_version()
        lo = int(start["version"])
        if end <= lo:
            return [], start
        return self._rows(lo, end), {"version": end}

    def readBetweenOffsets(self, start: dict, end: dict):
        return self._rows(int(start["version"]), int(end["version"]))

    def commit(self, end: dict) -> None:
        pass  # offsets are derived from the table's own commit log


def register_changes(spark) -> None:
    """Idempotent registration of the streaming changelog format."""
    _pickle_self_contained()
    spark.dataSource.register(SortedTableChangesDataSource)


def _pickle_self_contained() -> None:
    """Pickle this module BY VALUE so DataSource classes unpickle
    anywhere. Spark 4 runs Python DataSources in dedicated runner
    processes (batch planner, streaming source runner) whose sys.path
    is fixed at JVM launch — neither ``addPyFile`` nor a late
    ``PYTHONPATH`` mutation reaches them, so a by-REFERENCE pickle of
    these classes dies with ModuleNotFoundError whenever the driver
    wasn't launched with this repo importable (the driver-contract
    case). The module is deliberately self-contained (pyarrow +
    pyspark + stdlib only) precisely so by-value serialization works."""
    import sys

    # MUST be pyspark's VENDORED cloudpickle — that is the serializer
    # Spark actually uses; registering with the PyPI copy is a no-op
    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(sys.modules[__name__])
