"""Per-file Bloom filters — point-lookup file skipping for columns zone
maps cannot prune.

A zone map (key or secondary, table.py) skips files on RANGE overlap,
which works only when the column is clustered with the layout. A point
lookup on an UNCLUSTERED high-cardinality column (user_id, sku, doc
hash) overlaps every file's min/max — yet each value actually lives in
a handful of files. A per-file Bloom filter answers "might file F
contain value v" with no false negatives, so equality/IN probes read
only the files that might match — the same economics the reference gets
from key stats (ParquetRewriter.java:253-301), extended to non-key
point predicates.

Design, all churn-proportional and cluster-safe:
- BUILD is one narrow Spark job over NEWLY adopted files only (merge /
  compact / create touch nothing else): scan (col, input_file_name),
  compute k=BLOOM_K seeded xxhash64 values JVM-side, fold them into one
  bitmap per (file, column) inside Arrow-batched mapInPandas (partial
  per partition), OR the partials per file, append to a sidecar parquet
  log (``_blooms/``). Clean files keep their existing rows — the
  sidecar is append-only, like the changelog.
- PROBE is a Spark job over the SIDECAR (rows ∝ files, not data): probe
  values are hashed with the same JVM expression (one tiny local job),
  the raw hashes broadcast, and each sidecar row tests its own bitmap
  in pandas. Only candidate file NAMES return to the driver. At a
  million files the probe scans megabytes of bloom rows, never the
  table.
- sizing: m = rows × BLOOM_BITS_PER_KEY bits (~1% false positives at
  k=7), so a 1M-row file carries a ~1.2 MB bitmap in the sidecar and
  the table's data files are untouched.

False positives only cost extra candidate files; the residual predicate
on the scan keeps results exact.
"""

from __future__ import annotations

import os
from typing import Any, Iterator, Sequence, TYPE_CHECKING

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

if TYPE_CHECKING:
    from parquet_rewriter_spark.table import Manifest, ManifestEntry, SortedTable

from parquet_rewriter_spark.operators.sidecar import SIDECARS, have_files

BLOOM_DIR = SIDECARS["bloom"].dirname
BLOOM_K = 7
BLOOM_BITS_PER_KEY = 10

_SIDECAR_SCHEMA = "file string, col string, m long, bits binary"

# probe-value count at or under which the hashes inline as literal
# expressions (zero extra jobs); above it they ride a broadcast
# relation so the expression tree stays bounded
_LITERAL_PROBE_MAX = 128


def _m_for_rows(rows: int) -> int:
    """Bitmap size in bits: next power of two ≥ rows × bits_per_key
    (power of two keeps the modulo cheap and the sizing predictable)."""
    target = max(256, rows * BLOOM_BITS_PER_KEY)
    return 1 << (target - 1).bit_length()


def _hash_exprs(col: str) -> list:
    """k seeded 64-bit hashes, computed JVM-side (codegen, no Python).
    Seeding via an extra literal column makes the k functions
    independent while staying a pure built-in expression."""
    return [
        F.xxhash64(F.col(col), F.lit(seed)).alias(f"__h{seed}")
        for seed in range(BLOOM_K)
    ]


def _hashed_values_rel(spark: SparkSession, col_type, values: Sequence[Any]):
    """Probe VALUES hashed with the exact expressions the build used —
    same engine, same result, no Python reimplementation of xxhash64 —
    as a 1-row relation ``(all_hs: array<array<long>>)``. Returned as a
    RELATION (not a collect) so the caller can fold the hashing into
    the same job as the sidecar membership test instead of paying a
    separate sequential job latency for a len(values)-row hash pass."""
    from parquet_rewriter_spark.operators.util import local_df

    # size-aware slicing: probe sets are a handful of values, and a
    # default createDataFrame would fan them over every core
    df = local_df(spark, [(v,) for v in values], f"v {col_type}")
    return df.select(F.array(*_hash_exprs("v")).alias("__hs")).agg(
        F.collect_list("__hs").alias("all_hs")
    )


def build_blooms(
    table: "SortedTable", entries: list["ManifestEntry"], m: "Manifest"
) -> int:
    """Build and append sidecar bloom rows for ``entries`` (new files)
    over every column in ``m.bloom_cols`` — the commit-time upkeep
    (operators/sidecar.py).

    One job: scan only those files, project (file, k hashes per col),
    fold into per-(file, col) bitmaps in mapInPandas (each task sees
    one file's rows in practice — file-sized input splits — so partials
    are few), OR partials per file, append to the sidecar.
    """
    cols = list(m.bloom_cols or [])
    if not entries or not cols:
        return 0
    spark = table.spark
    paths = [os.path.join(table.path, e.name) for e in entries]
    m_by_file = {e.name: _m_for_rows(e.rows) for e in entries}
    bc = spark.sparkContext.broadcast(m_by_file)

    proj = [F.element_at(F.split(F.input_file_name(), "/"), -1).alias("__f")]
    for c in cols:
        proj += [h.alias(f"__h_{c}_{s}") for s, h in enumerate(_hash_exprs(c))]
    df = spark.read.parquet(*paths).select(*proj)

    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        m_map = bc.value
        acc: dict[tuple[str, str], np.ndarray] = {}
        for pdf in batches:
            for fname, grp in pdf.groupby("__f"):
                m = m_map[fname]
                for c in cols:
                    bm = acc.setdefault(
                        (fname, c), np.zeros(m // 8, dtype=np.uint8)
                    )
                    for s in range(BLOOM_K):
                        # nulls hash to a constant; a null probe value is
                        # legal and simply matches null-bearing files
                        pos = grp[f"__h_{c}_{s}"].to_numpy(dtype=np.int64) % m
                        np.bitwise_or.at(bm, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
        out = [
            {"file": f, "col": c, "m": len(bm) * 8, "bits": bm.tobytes()}
            for (f, c), bm in acc.items()
        ]
        yield pd.DataFrame(out, columns=["file", "col", "m", "bits"])

    partials = df.mapInPandas(fold, schema=_SIDECAR_SCHEMA)

    def merge(key, pdf):  # (no hints: Spark's eval-type inference warns on partial ones)
        bm = None
        m = 0
        for b in pdf.itertuples():
            arr = np.frombuffer(b.bits, dtype=np.uint8)
            bm = arr.copy() if bm is None else (bm | arr)
            m = b.m
        return pd.DataFrame(
            [{"file": key[0], "col": key[1], "m": m, "bits": bm.tobytes()}]
        )

    final = partials.groupBy("file", "col").applyInPandas(merge, schema=_SIDECAR_SCHEMA)
    out_dir = os.path.join(table.path, BLOOM_DIR)
    final.write.mode("append").parquet(out_dir)
    bc.unpersist()
    return len(entries)


def heal_blooms(table: "SortedTable", m: "Manifest") -> int:
    """Bloom rows for live files of ``m`` missing one for any
    registered column (``maintain()``'s heal step). Returns files
    built."""
    if not m.bloom_cols:
        return 0
    have = have_files(table, BLOOM_DIR, cols=("file", "col"))
    todo = [
        e for e in m.files
        if any((e.name, c) not in have for c in m.bloom_cols)
    ]
    return build_blooms(table, todo, m)


def candidate_files(
    table: "SortedTable", col: str, values: Sequence[Any]
) -> list[str] | None:
    """File names that MIGHT contain any of ``values`` in ``col``.

    Returns None when the table has no blooms for ``col`` (caller falls
    back to a full scan). Files missing a bloom row (e.g. adopted before
    blooms were enabled) are always candidates — no false negatives.
    The membership test runs as a Spark job over the sidecar; the driver
    receives only names.
    """
    spark = table.spark
    m_ = table.manifest()
    if col not in m_.bloom_cols:
        return None
    side = os.path.join(table.path, BLOOM_DIR)
    if not os.path.isdir(side):
        return None
    live = {e.name for e in m_.files}
    if m_.schema_json is not None:
        # physical schema straight from the manifest — building a
        # reader over every live file just to name a column's type
        # costs ~40 ms of driver work per probe
        import json as _json

        from pyspark.sql.types import StructType

        phys = StructType.fromJson(_json.loads(m_.schema_json))
        col_type = phys[col].dataType.simpleString()
    else:
        col_type = table.read_physical().schema[col].dataType.simpleString()

    # Membership test as PURE JVM higher-order functions (no Python
    # worker round trip on the latency-critical probe path — guide
    # §4.1): candidate iff SOME value's k hash positions are all set.
    # Bit test over the binary bitmap: byte = conv(hex(substring(...)))
    # of the 1-byte slice at pos div 8 (substring is 1-based), then
    # mask with 1 << (pos mod 8). pmod matches numpy's
    # divisor-sign modulo, so positions are bit-identical to the
    # former pandas test.
    bit_at = (
        "(cast(conv(hex(substring(bits, cast(pmod(h, m) div 8 as int) + 1, 1)),"
        " 16, 10) as int) & shiftleft(1, cast(pmod(h, m) % 8 as int))) != 0"
    )
    hit = F.expr(
        "exists(all_hs, hs -> aggregate(hs, true,"
        f" (acc, h) -> acc and ({bit_at})))"
    )
    probe = spark.read.schema(_SIDECAR_SCHEMA).parquet(side).filter(
        F.col("col") == col
    )
    if len(values) <= _LITERAL_PROBE_MAX:
        # point-lookup fast path: the probe hashes are LITERAL
        # expressions (xxhash64 of a cast literal — the exact
        # expression the build used), constant-folded at plan time —
        # no createDataFrame, no broadcast sub-job, ONE job total
        all_hs = F.array(*[
            F.array(*[
                F.xxhash64(F.lit(v).cast(col_type), F.lit(s))
                for s in range(BLOOM_K)
            ])
            for v in values
        ])
        probe = probe.withColumn("all_hs", all_hs)
    else:
        # large probe sets ride a broadcast 1-row relation (an
        # expression tree with |values|·k literal nodes would bloat
        # analysis); the hashes compute in a broadcast sub-plan of the
        # membership job itself
        probe = probe.crossJoin(
            F.broadcast(_hashed_values_rel(spark, col_type, values))
        )
    rows = probe.select("file", hit.alias("hit")).collect()
    has_bloom = {r.file for r in rows}
    hits = {r.file for r in rows if r.hit}
    # live ∩ (hit ∪ bloom-less); stale rows of vacuumed files are ignored
    return sorted((hits | (live - has_bloom)) & live)


def read_point(table: "SortedTable", col: str, values: Sequence[Any]) -> DataFrame:
    """Equality/IN scan: bloom-prune files, then apply the exact
    predicate (pushed into the parquet reader) on the survivors.
    ``col`` is the LOGICAL name; blooms and files live in physical
    name space (metadata-only renames)."""
    m = table.manifest()
    pcol = table.to_physical(col, m)
    cand = candidate_files(table, pcol, values)
    if cand is None:
        return table.read().filter(F.col(col).isin(list(values)))
    if not cand:
        import json

        from pyspark.sql.types import StructType

        schema = StructType.fromJson(json.loads(m.schema_json))
        return table._to_logical(table.spark.createDataFrame([], schema), m)
    df = table.apply_dv(
        table._reader(m).parquet(*[os.path.join(table.path, n) for n in cand]), m
    )
    return table._to_logical(df.filter(F.col(pcol).isin(list(values))), m)
