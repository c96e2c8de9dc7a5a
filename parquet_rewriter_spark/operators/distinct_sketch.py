"""Distinct-count zone maps: per-file mergeable HLL sketches in a
sidecar, unioned at query time for SCAN-FREE approximate COUNT
DISTINCT over any pruned file subset.

The reference's zone maps answer "can this file contain key k?"
(ParquetRewriter.java:253-301); this extends the same
per-file-metadata idea to a distinct-count question: each data file
carries a DataSketches HLL of a column, sketches are mergeable
(union of sketches = sketch of the union, exactly), so the distinct
count of ANY file subset — e.g. a manifest key range — is one union
over a handful of kilobyte sidecar rows instead of a table scan.

Incremental by construction: data files are immutable and sketch rows
key by file name, so every commit of a table with registered columns
(``enable_distinct_sketches``) sketches only the files it wrote — a
merge that rewrote 1% of files re-sketches 1% — and
``build_distinct_sketches`` only live files that lack a row. Stale rows
of retired files are ignored at query time (live-file filter, same
pattern as the bloom sidecar) and swept by vacuum.

All sketch math is JVM-side (`hll_sketch_agg` / `hll_union_agg` /
`hll_sketch_estimate` — Apache DataSketches inside Spark); default
lgConfigK=12 gives ~1.6% standard error at ~2.5 KB per sketch.
"""

from __future__ import annotations

import os
from dataclasses import replace
from typing import Any

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from parquet_rewriter_spark.operators.sidecar import (
    SIDECARS,
    append_rows,
    have_files,
    semi_join_files,
)
from parquet_rewriter_spark.operators.util import persist

SKETCH_DIR = SIDECARS["distinct_sketch"].dirname
DEFAULT_LGK = 12


def _sidecar(table) -> str:
    return os.path.join(table.path, SKETCH_DIR)


def _have_rows(table, pcols: list[str]) -> set[tuple[str, str]]:
    """(file, physical col) pairs already present in the sidecar.
    The col filter stays an isin — pcols is the handful of monitored
    COLUMNS, not the live-file set."""
    return have_files(
        table, SKETCH_DIR,
        where=F.col("col").isin(pcols), cols=("file", "col"),
    )


def _build_for(table, m, names: list[str], pcols: list[str], lgk: int) -> int:
    """Sketch exactly ``names`` (file names, PHYSICAL cols): one
    aggregate over just those files, read with ``m``'s pinned schema —
    group by source file, one HLL aggregate per column — collected and
    appended to the sidecar as one file on the driver (rows are ~2.5 KB
    per file per column). Duplicate (file, col) rows are harmless: HLL
    union is idempotent, so a racing double-build cannot skew
    estimates."""
    if not names or not pcols:
        return 0
    per_file = table._reader(m).parquet(
        *[os.path.join(table.path, n) for n in names]
    ).groupBy(F.col("_metadata.file_name").alias("file")).agg(
        *[F.hll_sketch_agg(F.col(c), F.lit(lgk)).alias(c) for c in pcols]
    ).toArrow()
    files = per_file.column("file")
    append_rows(table, SKETCH_DIR, pa.concat_tables([
        pa.table({
            "file": files,
            "col": pa.array([c] * len(files), pa.string()),
            "sketch": per_file.column(c),
        })
        for c in pcols
    ]))
    return len(names)


def build_distinct_sketches(
    table, cols: list[str], lgk: int = DEFAULT_LGK
) -> int:
    """Sketch every LIVE file missing a sidecar row for any of ``cols``
    (logical names). Returns files sketched."""
    m = table.manifest()
    pcols = [table.to_physical(c, m) for c in cols]
    return _build_missing(table, m, pcols, lgk)


def _build_missing(table, m, pcols: list[str], lgk: int) -> int:
    have = _have_rows(table, pcols)
    todo = [
        e.name for e in m.files
        if any((e.name, c) not in have for c in pcols)
    ]
    return _build_for(table, m, todo, pcols, lgk)


def build_sketches_for(table, entries, m) -> int:
    """Sketch the given manifest entries under every registered column
    of ``m`` — the commit-time upkeep (operators/sidecar.py): its cost
    is proportional to the files the commit wrote, never the table."""
    return _build_for(
        table, m, [e.name for e in entries], list(m.sketch_cols or []),
        DEFAULT_LGK,
    )


def heal_sketches(table, m) -> int:
    """Sketch live files of ``m`` missing a row for any registered
    column or any column the sidecar already holds (tables sketched
    before registration existed) — ``maintain()``'s heal step. Returns
    files sketched."""
    pcols = list(m.sketch_cols or [])
    pcols += sorted(have_files(table, SKETCH_DIR, cols=("col",)) - set(pcols))
    return _build_missing(table, m, pcols, DEFAULT_LGK) if pcols else 0


def enable_distinct_sketches(
    table, cols: list[str], lgk: int = DEFAULT_LGK
) -> int:
    """Register ``cols`` (logical names) for distinct sketching in the
    table manifest — a metadata-only commit — then backfill sketches
    for every live file. From here on every commit sketches the files
    it writes and ``maintain()`` heals any gaps, so
    ``approx_distinct_range`` stays scan-free and current without
    explicit refresh calls."""
    m = table.manifest()
    pcols = [table.to_physical(c, m) for c in cols]
    want = sorted(set(m.sketch_cols) | set(pcols))
    if want != sorted(m.sketch_cols):
        table._commit_manifest(
            replace(
                m, version=m.version + 1, sketch_cols=want,
                operation=f"enable-distinct-sketches {','.join(cols)}",
            )
        )
    return build_distinct_sketches(table, cols, lgk)


def approx_distinct_range(
    table,
    col: str,
    lower: Any = None,
    upper: Any = None,
) -> int:
    """Approximate COUNT(DISTINCT col) over the key range
    [lower, upper] — file pruning from the manifest (driver-side, the
    zone-map trick), then ONE union over the pruned files' kilobyte
    sketches. No data file is read. Range grain is the FILE: rows of a
    boundary file outside the range are included (document the grain;
    exact range cuts need the scan path).

    Self-healing: files in range that lack a sidecar row (the column
    is not registered, or the files predate its registration) are
    sketched on demand before the union. A missing row would otherwise
    contribute NOTHING and the estimate would silently undercount — the
    one failure mode a mergeable sketch can't tolerate."""
    spark = table.spark
    m = table.manifest()
    pcol = table.to_physical(col, m)
    keep_entries = [
        e for e in m.files
        if (upper is None or e.key_min <= upper)
        and (lower is None or e.key_max >= lower)
    ]
    if not keep_entries:
        return 0
    if any(e.dv_rows for e in keep_entries):
        # Sketches are built from raw file reads; merge-on-read
        # deletion vectors are invisible to them, so tombstoned values
        # would be counted — refuse, matching covariance_from_stats'
        # policy (compact the DVs away, then retry).
        raise ValueError(
            "approx_distinct_range: in-range files carry deletion "
            "vectors; sketches would count tombstoned values — run "
            "compact() to materialize deletes first"
        )
    keep = [e.name for e in keep_entries]
    have = _have_rows(table, [pcol])
    missing = [n for n in keep if (n, pcol) not in have]
    if missing:
        _build_for(table, m, missing, [pcol], DEFAULT_LGK)
    side = _sidecar(table)
    est = (
        semi_join_files(
            spark.read.parquet(side).filter(F.col("col") == pcol), keep
        )
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("n"))
        .first()["n"]
    )
    return int(est or 0)


def sketch_overlap(
    df: "DataFrame",
    group_col: str,
    value_col: str,
    lgk: int = 12,
) -> "DataFrame":
    """HLL set ALGEBRA across groups: approximate distinct-value overlap
    for every group pair via inclusion–exclusion —

        |A ∩ B| ≈ est(A) + est(B) − est(A ∪ B)

    where est(A ∪ B) is the UNION of the two groups' sketches (the one
    set operation HLL supports natively; intersection falls out by
    subtraction). This is the audience-overlap / cross-source-
    contamination query ("how many users fire both event types", "how
    many documents do two crawls share") answered from |groups|
    KB-sized sketches instead of a distinct-pairs self-join over the
    corpus.

    Scale shape: ONE corpus pass builds a sketch per group (map-side
    partial HLLs — the shuffle is |groups|·|partitions| sketch blobs);
    pairing is a self-join over the |groups|-row sketch relation
    (broadcast, |G|²/2 pairs of KB blobs); nothing row-level moves
    twice. Inclusion–exclusion inherits ~1.6%·(|A|+|B|+|A∪B|) absolute
    error at lgk=12, so relative error on a SMALL intersection of two
    big sets is unbounded — callers gate on the returned estimates,
    and the catalog query pins the contract against exact counts.

    Returns (group_a, group_b, est_a, est_b, est_union, est_inter) for
    each unordered pair (group_a < group_b). The |G|-row sketch
    relation is persisted so the pair self-join reuses it — without
    the persist each side re-executes the sketch aggregate and the
    corpus is scanned twice (plan-pinned in test_plans.py)."""
    sk = persist(df.groupBy(F.col(group_col).alias("g")).agg(
        F.hll_sketch_agg(F.col(value_col), F.lit(lgk)).alias("sk")
    ))
    a = sk.select(F.col("g").alias("group_a"), F.col("sk").alias("__ska"))
    b = sk.select(F.col("g").alias("group_b"), F.col("sk").alias("__skb"))
    est = lambda c: F.round(F.hll_sketch_estimate(c)).cast("long")  # noqa: E731
    pairs = a.join(F.broadcast(b), F.col("group_a") < F.col("group_b"))
    return pairs.select(
        "group_a",
        "group_b",
        est(F.col("__ska")).alias("est_a"),
        est(F.col("__skb")).alias("est_b"),
        est(F.hll_union(F.col("__ska"), F.col("__skb"))).alias("est_union"),
        (
            est(F.col("__ska")) + est(F.col("__skb"))
            - est(F.hll_union(F.col("__ska"), F.col("__skb")))
        ).alias("est_inter"),
    )


def distinct_sketch_report(
    table, col: str, ranges: list[tuple[str, Any, Any]]
) -> DataFrame:
    """(label, files_used, files_total, n_approx) per labelled key
    range — the observable the catalog query oracles against an exact
    recount."""
    m = table.manifest()
    out = []
    for label, lo, hi in ranges:
        keep = [
            e.name for e in m.files
            if (hi is None or e.key_min <= hi)
            and (lo is None or e.key_max >= lo)
        ]
        out.append(
            (label, len(keep), len(m.files),
             approx_distinct_range(table, col, lo, hi))
        )
    return table.spark.createDataFrame(
        out, "label string, files_used int, files_total int, n_approx long"
    )
