"""Per-file covariance sufficient statistics: EXACT incremental PCA.

The distinct-sketch sidecar (operators/distinct_sketch.py) answers an
*approximate* question from per-file metadata; this one answers an
exact one. A file's covariance contribution is its sufficient-statistic
triple ``(n, Σx, ΣxxT)``, and triples are ADDITIVE — the corpus triple
is the sum of its live files' triples, exactly, in any order. So:

* each immutable data file gets ONE sidecar row (``_covstats/``) holding
  its triple (~33 KB at d = 64);
* a merge that rewrote 1% of files invalidates 1% of rows — refresh
  cost is churn-proportional, and the result is NOT an estimate: it is
  bit-for-bit the float64 sums a full recompute would produce (modulo
  summation order, far below any rounding grid we compare at);
* the corpus mean/covariance — and therefore PCA axes — of the CURRENT
  snapshot (or any key range, at file grain) comes from summing a
  handful of kilobyte rows, no data scan.

Exactly-once discipline: unlike HLL sketches (idempotent union), sums
double-count under duplicate rows — so the builder emits one row per
file via a per-file group aggregate, and the reader takes a single row
per file name (duplicates from a racing double-build are identical and
collapse harmlessly).

Refusal over wrong answers: merge-on-read deletion vectors hide rows a
per-file triple still contains; estimating with active DVs among the
kept files raises instead of silently including tombstoned vectors.
"""

from __future__ import annotations

import os
from typing import Any, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from parquet_rewriter_spark.operators.sidecar import (
    SIDECARS,
    have_files,
    semi_join_files,
)

COV_DIR = SIDECARS["covstats"].dirname


def _sidecar(table) -> str:
    return os.path.join(table.path, COV_DIR)


def _have_rows(table, pcol: str) -> set[str]:
    return have_files(table, COV_DIR, where=F.col("col") == pcol)


def _build_for(table, names: list[str], pcol: str) -> int:
    """One row per file: group the files' rows by source file and reduce
    each group to its triple with one numpy matmul."""
    if not names:
        return 0
    from parquet_rewriter_spark.ship import ensure_shipped

    spark = table.spark
    ensure_shipped(spark)
    src = (
        spark.read.parquet(*[os.path.join(table.path, n) for n in names])
        .select(
            F.element_at(F.split(F.input_file_name(), "/"), -1).alias("file"),
            F.col(pcol).alias("vec"),
        )
    )

    def triple(pdf: pd.DataFrame) -> pd.DataFrame:
        X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["vec"]])
        return pd.DataFrame(
            {
                "file": [pdf["file"].iloc[0]],
                "col": [pcol],
                "n": [X.shape[0]],
                "s": [X.sum(axis=0).tobytes()],
                "ss": [(X.T @ X).tobytes()],
            }
        )

    rows = src.groupBy("file").applyInPandas(
        triple, "file string, col string, n long, s binary, ss binary"
    )
    rows.write.mode("append").parquet(_sidecar(table))
    return len(names)


def build_covariance_stats(table, vec_col: str) -> int:
    """Compute triples for every LIVE file missing one. Returns the
    number of files built — after a merge this is the churn, never the
    table."""
    m = table.manifest()
    pcol = table.to_physical(vec_col, m)
    have = _have_rows(table, pcol)
    todo = [e.name for e in m.files if e.name not in have]
    return _build_for(table, todo, pcol)


def covariance_from_stats(
    table,
    vec_col: str,
    lower: Any = None,
    upper: Any = None,
):
    """(n, mean, cov) of the current snapshot — or a key range at FILE
    grain (boundary files contribute all their rows, same grain as
    approx_distinct_range) — from sidecar triples only. Self-heals
    missing rows (covstats registers nothing in the manifest, so no
    commit builds them) before summing. No data file is read when the sidecar is complete."""
    m = table.manifest()
    pcol = table.to_physical(vec_col, m)
    keep = [
        e for e in m.files
        if (upper is None or e.key_min <= upper)
        and (lower is None or e.key_max >= lower)
    ]
    if not keep:
        raise ValueError("no files in range")
    if any(e.dv_rows for e in keep):
        raise ValueError(
            "kept files have merge-on-read deletion vectors; their "
            "triples still contain tombstoned rows — materialize "
            "deletes (or use the scan path) for an exact answer"
        )
    names = {e.name for e in keep}
    have = _have_rows(table, pcol)
    missing = [n for n in names if n not in have]
    if missing:
        _build_for(table, missing, pcol)
    rows = (
        semi_join_files(
            table.spark.read.parquet(_sidecar(table))
            .filter(F.col("col") == pcol),
            names,
        )
        .dropDuplicates(["file"])  # racing double-builds emit identical rows
        .collect()  # bounded: one row per kept file
    )
    n = sum(r["n"] for r in rows)
    s = np.sum([np.frombuffer(r["s"]) for r in rows], axis=0)
    d = s.shape[0]
    ss = np.sum([np.frombuffer(r["ss"]).reshape(d, d) for r in rows], axis=0)
    mean = s / n
    return n, mean, ss / n - np.outer(mean, mean)
