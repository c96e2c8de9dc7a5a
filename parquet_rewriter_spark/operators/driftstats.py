"""Per-file drift sufficient statistics: declared-bin distribution
monitoring at churn cost.

:func:`parquet_rewriter_spark.operators.drift.psi_drift_by_group`
answers "did any source's distribution shift?" with one corpus scan.
On a 100 TB table monitored hourly that is still a corpus scan per
check. This module makes the monitor INCREMENTAL, the way the covstats
sidecar (operators/covstats.py) does for covariance: a file's
contribution to a binned distribution is its per-(group, bin) count
matrix, and count matrices are ADDITIVE — the corpus histogram is the
sum of its live files' matrices, exactly, in any order. So:

* the monitor is REGISTERED with declared bin edges (fixed cut points
  — the production pattern: PSI is defined against a frozen baseline
  binning, not a per-run range);
* each immutable data file gets ≤ |G|·(B+2) sidecar rows
  (``_driftstats/``; B edges make B+1 bins plus the reserved NULL-value
  bin −1), written by one column-pruned pass over that file;
* a merge that rewrote 1% of files invalidates 1% of rows — refresh
  cost is churn-proportional, and the summed histogram is bit-for-bit
  what a full rescan would count;
* PSI per group vs rest is driver arithmetic over |G|·(B+2) integers.

Exactly-once discipline mirrors covstats: counts double under
duplicate rows, so the builder emits rows per file via one grouped
aggregate and the reader drops duplicate (file, group, bin) rows from
racing double-builds (identical, collapse harmlessly).

Refusal over wrong answers: merge-on-read deletion vectors hide rows a
per-file matrix still counts; PSI with active DVs among the kept files
raises instead of silently counting tombstoned rows (same contract as
covstats / distinct sketches).
"""

from __future__ import annotations

import hashlib
import math
import os
from dataclasses import replace
from typing import Any, Sequence

from pyspark.sql import DataFrame, functions as F

from parquet_rewriter_spark.operators.sidecar import (
    SIDECARS,
    have_files,
    semi_join_files,
)

DRIFT_DIR = SIDECARS["driftstats"].dirname


def _sidecar(table) -> str:
    return os.path.join(table.path, DRIFT_DIR)


def _spec_id(pv: str, pg: str, edges: Sequence[Any]) -> str:
    """Stable id for one (value col, group col, bin edges) registration
    — several monitors can share the sidecar directory."""
    raw = repr((pv, pg, [str(e) for e in edges]))
    return hashlib.sha1(raw.encode()).hexdigest()[:12]


def _bin_expr(vcol: str, edges: Sequence[Any]):
    """bin = number of declared edges strictly below the value — bin i
    covers (edge[i-1], edge[i]]; B edges make B+1 bins. NULL values get
    the RESERVED BIN −1 (``NULL > edge`` is NULL and would otherwise
    propagate a NULL bin the readers cannot index): a shifted share of
    missing values is genuine drift, so the NULL bin participates in
    PSI/KS like any other. A sum of codegen'd comparisons, trivially
    replayable in ANSI SQL (CASE WHEN v IS NULL THEN -1 ...)."""
    b = F.lit(0)
    for e in edges:
        b = b + (F.col(vcol) > F.lit(e)).cast("int")
    return F.when(F.col(vcol).isNull(), F.lit(-1)).otherwise(b)


def _have_files(table, sid: str) -> set[str]:
    return have_files(table, DRIFT_DIR, where=F.col("spec") == sid)


def _build_for(table, m, names: list[str], pv: str, pg: str,
               edges: Sequence[Any], sid: str) -> int:
    """Count matrices of ``names`` (read with ``m``'s pinned schema, so
    no inference job), appended with a distributed Spark write: unlike
    bloom/sketch rows they scale with groups × bins, not files."""
    if not names:
        return 0
    src = table._reader(m).parquet(
        *[os.path.join(table.path, n) for n in names]
    ).select(
        F.col("_metadata.file_name").alias("file"),
        F.col(pg).alias("grp"),
        _bin_expr(pv, edges).alias("bin"),
    )
    rows = (
        src.groupBy("file", "grp", "bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("spec", F.lit(sid))
    )
    rows.write.mode("append").parquet(_sidecar(table))
    return len(names)


def build_drift_stats(
    table, value_col: str, group_col: str, edges: Sequence[Any]
) -> int:
    """Count matrices for every LIVE file missing one under this
    registration. Returns the number of files built — after a merge
    this is the churn, never the table."""
    m = table.manifest()
    spec = {"value": table.to_physical(value_col, m),
            "group": table.to_physical(group_col, m), "edges": edges}
    return _build_missing(table, m, spec)


def _build_missing(table, m, spec: dict) -> int:
    pv, pg, edges = spec["value"], spec["group"], spec["edges"]
    sid = _spec_id(pv, pg, edges)
    have = _have_files(table, sid)
    todo = [e.name for e in m.files if e.name not in have]
    return _build_for(table, m, todo, pv, pg, edges, sid)


def build_drift_for(table, entries, m) -> int:
    """Count matrices for the given manifest entries under every
    monitor spec registered in ``m`` — the commit-time upkeep
    (operators/sidecar.py): its cost is proportional to the files the
    commit wrote, never the table."""
    total = 0
    names = [e.name for e in entries]
    for spec in m.drift_specs or []:
        pv, pg, edges = spec["value"], spec["group"], spec["edges"]
        total += _build_for(
            table, m, names, pv, pg, edges, _spec_id(pv, pg, edges)
        )
    return total


def heal_drift(table, m) -> int:
    """Count matrices for live files of ``m`` missing one under any
    registered monitor — ``maintain()``'s heal step. Returns files
    counted."""
    return sum(_build_missing(table, m, s) for s in m.drift_specs or [])


def enable_drift_monitor(
    table, value_col: str, group_col: str, edges: Sequence[Any]
) -> int:
    """Register a drift monitor in the table manifest — a metadata-only
    commit — then backfill count matrices for every live file. From
    here on every commit counts the files it writes and ``maintain()``
    heals any gaps, so the from-stats statistics (PSI, binned KS/W1,
    chi-square, the timelines) stay scan-free and current without
    explicit ``build_drift_stats`` calls. Edges must be
    JSON-native (numbers or strings) — they persist in the manifest.
    The spec stores PHYSICAL column names (rename-safe, like
    sketch_cols)."""
    for e in edges:
        if not isinstance(e, (int, float, str)) or isinstance(e, bool):
            raise ValueError(
                "registered monitor edges must be JSON-native numbers "
                f"or strings, got {type(e).__name__} (use the explicit "
                "build_drift_stats path for exotic edge types)"
            )
    m = table.manifest()
    pv = table.to_physical(value_col, m)
    pg = table.to_physical(group_col, m)
    spec = {"value": pv, "group": pg, "edges": list(edges)}
    have = list(m.drift_specs or [])
    if spec not in have:
        table._commit_manifest(
            replace(
                m, version=m.version + 1, drift_specs=have + [spec],
                operation=f"enable-drift-monitor {value_col} by {group_col}",
            )
        )
    return build_drift_stats(table, value_col, group_col, edges)


def disable_drift_monitor(
    table, value_col: str, group_col: str, edges: Sequence[Any]
) -> bool:
    """Unregister a monitor (metadata-only commit) and purge its
    sidecar rows — without the purge the retired spec's count matrices
    would linger forever (vacuum sweeps by FILE liveness, not by
    spec). Other specs' rows are untouched (same atomic
    rename-rewrite as the vacuum sweep). Returns True if a spec was
    removed, False if none matched."""
    import shutil
    import uuid

    m = table.manifest()
    pv = table.to_physical(value_col, m)
    pg = table.to_physical(group_col, m)
    spec = {"value": pv, "group": pg, "edges": list(edges)}
    have = list(m.drift_specs or [])
    if spec not in have:
        return False
    table._commit_manifest(
        replace(
            m, version=m.version + 1,
            drift_specs=[s for s in have if s != spec],
            operation=f"disable-drift-monitor {value_col} by {group_col}",
        )
    )
    side = _sidecar(table)
    if os.path.isdir(side):
        sid = _spec_id(pv, pg, edges)
        tmp = side + f".tmp-{uuid.uuid4().hex}"
        table.spark.read.parquet(side).filter(
            F.col("spec") != sid
        ).write.parquet(tmp)
        old = side + f".old-{uuid.uuid4().hex}"
        os.rename(side, old)
        os.rename(tmp, side)
        shutil.rmtree(old, ignore_errors=True)
    return True


def validate_drift_stats(table) -> dict:
    """Integrity audit of every REGISTERED monitor's sidecar: each
    row of a file lands in exactly one (group, bin) cell — NULL groups
    and the reserved NULL-value bin included — so a live file's matrix
    must sum to the manifest's row count for that file, exactly. A
    mismatch means a torn build, a stale matrix surviving where it
    shouldn't, or sidecar corruption; missing files are reported
    separately (they self-heal on read, a mismatch never does).
    Sidecar + manifest only — no data file is read. Returns
    {"ok": bool, "specs": n, "missing": n, "mismatched": n}."""
    m = table.manifest()
    rows_by_file = {e.name: e.rows for e in m.files}
    missing = mismatched = 0
    specs = list(m.drift_specs or [])
    for spec in specs:
        pv, pg, edges = spec["value"], spec["group"], spec["edges"]
        sid = _spec_id(pv, pg, edges)
        side = _sidecar(table)
        if not os.path.isdir(side):
            missing += len(rows_by_file)
            continue
        sums = {
            r["file"]: r["total"]
            for r in semi_join_files(
                table.spark.read.parquet(side)
                .filter(F.col("spec") == sid),
                rows_by_file,
            )
            .dropDuplicates(["file", "grp", "bin"])
            .groupBy("file")
            .agg(F.sum("n").alias("total"))
            .collect()  # one row per live file
        }
        for name, rows in rows_by_file.items():
            if name not in sums:
                missing += 1
            elif sums[name] != rows:
                mismatched += 1
    return {
        "ok": mismatched == 0,
        "specs": len(specs),
        "missing": missing,
        "mismatched": mismatched,
    }


def _histogram_at(table, m, pv: str, pg: str, edges: Sequence[Any],
                  sid: str) -> list[int]:
    """Whole-table per-bin counts of snapshot ``m`` from sidecar rows
    (groups summed, NULL groups included). Returns B+2 counts: index 0
    is the reserved NULL-value bin (−1), index i+1 is bin i. Self-heals
    missing files — retired data files persist until vacuum, so
    historical snapshots stay summable."""
    names = {e.name for e in m.files}
    if any(e.dv_rows for e in m.files):
        raise ValueError(
            "snapshot has merge-on-read deletion vectors; its count "
            "matrices still include tombstoned rows — materialize "
            "deletes for an exact answer"
        )
    have = _have_files(table, sid)
    missing = [n for n in names if n not in have]
    if missing:
        _build_for(table, m, missing, pv, pg, edges, sid)
    rows = (
        semi_join_files(
            table.spark.read.parquet(_sidecar(table))
            .filter(F.col("spec") == sid),
            names,
        )
        .dropDuplicates(["file", "grp", "bin"])
        .groupBy("bin")
        .agg(F.sum("n").alias("n"))
        .collect()
    )
    tot = [0] * (len(edges) + 2)  # [NULL bin, bin 0, ..., bin B]
    for r in rows:
        if r["bin"] is None or not -1 <= r["bin"] <= len(edges):
            raise ValueError(
                f"corrupt drift sidecar row: bin={r['bin']!r} outside "
                f"[-1, {len(edges)}] for spec {sid}"
            )
        tot[r["bin"] + 1] += r["n"]
    return tot


def psi_between_versions(
    table,
    value_col: str,
    group_col: str,
    edges: Sequence[Any],
    v_old: int,
    v_new: int | None = None,
    floor_p: float = 1e-6,
    round_digits: int = 6,
) -> DataFrame:
    """PSI of the WHOLE table's value distribution between two
    snapshots — "did this batch of ingests shift the corpus?" — from
    sidecar matrices of each snapshot's file list; no data file is
    read. Works for any retained version: a retired file's matrix
    outlives its manifest membership until vacuum sweeps both.
    Returns one row (n_old, n_new, psi)."""
    m_new = table.manifest(v_new)
    m_old = table.manifest(v_old)
    pv = table.to_physical(value_col, m_new)
    pg = table.to_physical(group_col, m_new)
    sid = _spec_id(pv, pg, edges)
    old = _histogram_at(table, m_old, pv, pg, edges, sid)
    new = _histogram_at(table, m_new, pv, pg, edges, sid)
    no, nn = float(sum(old)), float(sum(new))
    psi = 0.0
    for c_o, c_n in zip(old, new):
        # an empty snapshot's distribution is all-floor (no mass) —
        # same policy as psi_timeline / psi_from_stats
        po = max(c_o / no, floor_p) if no > 0 else floor_p
        pn = max(c_n / nn, floor_p) if nn > 0 else floor_p
        psi += (pn - po) * math.log(pn / po)
    return table.spark.createDataFrame(
        [(int(no), int(nn), round(psi, round_digits))],
        "n_old long, n_new long, psi double",
    )


def _group_matrices(table, value_col: str, group_col: str,
                    edges: Sequence[Any]):
    """Current-snapshot per-group count matrices from the sidecar:
    (manifest, physical group col, tot, per_g) where ``tot`` is the
    whole-table histogram and ``per_g[g]`` each non-NULL group's, both
    length B+2 (index 0 = reserved NULL-value bin, index i+1 = bin i).
    DV-refusal, self-heal, and racing-double-build collapse — the
    shared front half of every current-snapshot sidecar statistic."""
    m = table.manifest()
    pv = table.to_physical(value_col, m)
    pg = table.to_physical(group_col, m)
    sid = _spec_id(pv, pg, edges)
    live = {e.name for e in m.files}
    if any(e.dv_rows for e in m.files):
        raise ValueError(
            "live files have merge-on-read deletion vectors; their count "
            "matrices still include tombstoned rows — materialize deletes "
            "(or use the scan-path drift statistics) for an exact answer"
        )
    have = _have_files(table, sid)
    missing = [n for n in live if n not in have]
    if missing:
        _build_for(table, m, missing, pv, pg, edges, sid)
    cells = (
        semi_join_files(
            table.spark.read.parquet(_sidecar(table))
            .filter(F.col("spec") == sid),
            live,
        )
        .dropDuplicates(["file", "grp", "bin"])  # racing double-builds
        .groupBy("grp", "bin")
        .agg(F.sum("n").alias("n"))
        .collect()  # bounded: ≤ |G|·(B+2) rows
    )
    n_bins = len(edges) + 2  # reserved NULL-value bin (−1) + bins 0..B
    tot = [0] * n_bins
    per_g: dict[Any, list[int]] = {}
    for r in cells:
        if r["bin"] is None or not -1 <= r["bin"] <= len(edges):
            raise ValueError(
                f"corrupt drift sidecar row: bin={r['bin']!r} outside "
                f"[-1, {len(edges)}] for spec {sid}"
            )
        tot[r["bin"] + 1] += r["n"]
        if r["grp"] is not None:
            per_g.setdefault(r["grp"], [0] * n_bins)[r["bin"] + 1] += r["n"]
    return m, pg, tot, per_g


def _typed_out(table, m, pg: str, group_col: str, out, stat_name: str):
    """(group, n_group, n_rest, <stat>) DataFrame with the group column
    typed from the table schema (engine tables always store it)."""
    import json

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    gtype = StructType.fromJson(json.loads(m.schema_json))[pg].dataType
    schema = StructType([
        StructField(group_col, gtype),
        StructField("n_group", LongType()),
        StructField("n_rest", LongType()),
        StructField(stat_name, DoubleType()),
    ])
    return table.spark.createDataFrame(out, schema)


def drift_between_versions(
    table,
    value_col: str,
    group_col: str,
    edges: Sequence[Any],
    v_old: int,
    v_new: int | None = None,
    floor_p: float = 1e-6,
    round_digits: int = 6,
) -> DataFrame:
    """EVERY binned two-snapshot drift statistic in one call — "did
    this batch of ingests shift the corpus, and how": PSI (all bins,
    NULL bin included), binned KS and binned W1 (non-NULL bins — the
    CDF statistics need an ordering; W1 is the interior-edge-gap
    Riemann sum, so it needs numeric edges), and the chi-square of the
    two-snapshot contingency table over occupied bins (dof = occupied
    − 1). Histograms come from each snapshot's sidecar matrices
    (:func:`psi_between_versions`'s machinery); no data file is read
    when the sidecar is complete, and retired files' matrices keep any
    retained snapshot answerable until vacuum. Returns one row
    (n_old, n_new, psi, ks_stat, w1, chi2, dof)."""
    m_new = table.manifest(v_new)
    m_old = table.manifest(v_old)
    pv = table.to_physical(value_col, m_new)
    pg = table.to_physical(group_col, m_new)
    sid = _spec_id(pv, pg, edges)
    old = _histogram_at(table, m_old, pv, pg, edges, sid)
    new = _histogram_at(table, m_new, pv, pg, edges, sid)
    no, nn = float(sum(old)), float(sum(new))
    psi = 0.0
    for c_o, c_n in zip(old, new):
        po = max(c_o / no, floor_p) if no > 0 else floor_p
        pn = max(c_n / nn, floor_p) if nn > 0 else floor_p
        psi += (pn - po) * math.log(pn / po)
    # CDF statistics over the ordered (non-NULL) bins; an EMPTY side
    # (empty snapshot, or all-NULL values in one) makes the two-sample
    # statistics undefined → NULL (PSI above floors instead)
    o_nn, n_nn = old[1:], new[1:]
    so, sn = float(sum(o_nn)), float(sum(n_nn))
    gaps = [float(edges[j + 1]) - float(edges[j])
            for j in range(len(edges) - 1)]
    ks = w1 = None
    if so > 0 and sn > 0:
        ks = w1 = 0.0
        cum_o = cum_n = 0.0
        for j in range(len(o_nn)):
            cum_o += o_nn[j]
            cum_n += n_nn[j]
            gap_f = abs(cum_o / so - cum_n / sn)
            ks = max(ks, gap_f)
            if j < len(gaps):
                w1 += gap_f * gaps[j]
    # chi-square of the 2×occupied contingency table (NULL bin = its
    # own category when present; corpus-empty bins have no term)
    chi2 = 0.0 if no > 0 and nn > 0 else None
    dof = -1
    for c_o, c_n in zip(old, new):
        t = float(c_o + c_n)
        if t == 0:
            continue
        dof += 1
        if chi2 is None:
            continue
        eo = no * t / (no + nn)
        en = nn * t / (no + nn)
        chi2 += (c_o - eo) ** 2 / eo + (c_n - en) ** 2 / en
    def _r(x, d):
        return None if x is None else round(x, d)

    return table.spark.createDataFrame(
        [(
            int(no), int(nn), round(psi, round_digits),
            _r(ks, round_digits), _r(w1, round_digits),
            _r(chi2, 4), int(max(dof, 0)),
        )],
        "n_old long, n_new long, psi double, ks_stat double, w1 double, "
        "chi2 double, dof long",
    )


def psi_from_stats(
    table,
    value_col: str,
    group_col: str,
    edges: Sequence[Any],
    floor_p: float = 1e-6,
    round_digits: int = 6,
) -> DataFrame:
    """Per-group PSI vs rest of the CURRENT snapshot, answered from
    sidecar rows only — self-heals missing files (specs built on
    request, files predating the registration), then sums |G|·(B+2)
    integers on the driver. No data file is read when the sidecar is complete.
    Returns (group, n_group, n_rest, psi) like psi_drift_by_group —
    NULL-group rows count toward every group's rest, no output row;
    NULL VALUES live in the reserved bin −1 and drift like any other
    bin (with no NULLs anywhere its floored term is exactly 0)."""
    m, pg, tot, per_g = _group_matrices(table, value_col, group_col, edges)
    out = []
    for g in sorted(per_g):
        ca = per_g[g]
        cb = [t - c for t, c in zip(tot, ca)]
        na, nb = float(sum(ca)), float(sum(cb))
        psi = 0.0
        for c_a, c_b in zip(ca, cb):
            # an empty rest (single-group table) is all-floor — a
            # degenerate-but-finite value (the scan path instead raises
            # divide-by-zero under ANSI sessions)
            pa = max(c_a / na, floor_p) if na > 0 else floor_p
            pb = max(c_b / nb, floor_p) if nb > 0 else floor_p
            psi += (pa - pb) * math.log(pa / pb)
        out.append((g, int(na), int(nb), round(psi, round_digits)))
    return _typed_out(table, m, pg, group_col, out, "psi")


def ks_from_stats(
    table,
    value_col: str,
    group_col: str,
    edges: Sequence[Any],
    round_digits: int = 6,
) -> DataFrame:
    """Per-group BINNED two-sample KS vs rest of the CURRENT snapshot
    from the same sidecar matrices PSI uses — CDF-shaped drift at churn
    cost. The empirical CDFs are evaluated at the declared bin edges
    only, so this is the documented BINNED APPROXIMATION to exact KS:
    D_binned = max over edges of |F_group − F_rest| ≤ D_exact, and the
    gap is bounded by the largest bin's mass (the scan path
    drift.ks_drift_by_group gives the exact statistic at corpus-scan
    cost). NULL values (reserved bin −1) have no place in an ordering
    and are EXCLUDED — n_group / n_rest count non-NULL rows only; an
    EMPTY side (single-group table, or all-NULL values on one side)
    makes the two-sample statistic undefined → NULL — graceful where
    the scan path fails loudly (divide-by-zero under ANSI sessions);
    either way no silently-wrong number escapes.
    Returns (group, n_group, n_rest, ks_stat)."""
    m, pg, tot, per_g = _group_matrices(table, value_col, group_col, edges)
    out = []
    for g in sorted(per_g):
        ca = per_g[g][1:]  # drop the NULL bin: KS needs an ordering
        cb = [t - c for t, c in zip(tot[1:], ca)]
        na, nb = float(sum(ca)), float(sum(cb))
        if na == 0 or nb == 0:
            out.append((g, int(na), int(nb), None))
            continue
        d = cum_a = cum_b = 0.0
        for c_a, c_b in zip(ca, cb):
            cum_a += c_a
            cum_b += c_b
            d = max(d, abs(cum_a / na - cum_b / nb))
        out.append((g, int(na), int(nb), round(d, round_digits)))
    return _typed_out(table, m, pg, group_col, out, "ks_stat")


def w1_from_stats(
    table,
    value_col: str,
    group_col: str,
    edges: Sequence[Any],
    round_digits: int = 6,
) -> DataFrame:
    """Per-group BINNED Wasserstein-1 vs rest from the sidecar
    matrices — the magnitude-sensitive companion to ks_from_stats at
    the same churn cost. The CDFs are only known at the declared edges,
    so the area is the trapezoid-free Riemann sum over the INTERIOR
    edge gaps: W1_binned = Σ_{j=1}^{B−1} |F_a(e_j) − F_b(e_j)|·(e_{j+1}
    − e_j), with F(e_j) = (count of bins ≤ j−1)/n. Mass displacement
    WITHIN a bin or beyond the outermost edges is invisible at this
    granularity (truncated-support approximation; the scan path
    drift.w1_drift_by_group is exact); like KS, NULL values (bin −1)
    have no place on the value axis and are excluded. Requires numeric
    edges. Returns (group, n_group, n_rest, w1)."""
    gaps = [float(edges[j + 1]) - float(edges[j])
            for j in range(len(edges) - 1)]
    m, pg, tot, per_g = _group_matrices(table, value_col, group_col, edges)
    out = []
    for g in sorted(per_g):
        ca = per_g[g][1:]
        cb = [t - c for t, c in zip(tot[1:], ca)]
        na, nb = float(sum(ca)), float(sum(cb))
        if na == 0 or nb == 0:
            # empty side → undefined (NULL); refusal over wrong answers
            out.append((g, int(na), int(nb), None))
            continue
        w1 = 0.0
        cum_a = cum_b = 0.0
        for j, gap in enumerate(gaps):
            cum_a += ca[j]
            cum_b += cb[j]
            w1 += abs(cum_a / na - cum_b / nb) * gap
        out.append((g, int(na), int(nb), round(w1, round_digits)))
    return _typed_out(table, m, pg, group_col, out, "w1")


def chi2_from_stats(
    table,
    value_col: str,
    group_col: str,
    edges: Sequence[Any],
    round_digits: int = 4,
) -> DataFrame:
    """Per-group chi-square homogeneity vs rest over the DECLARED BINS
    from the sidecar matrices. Unlike binned KS/W1 this is not an
    approximation of the scan statistic but the exact chi-square of the
    binned contingency table (binning IS the categorization); the NULL
    bin participates as its own category when present (a shifted
    missing-value share is drift), and bins empty across the whole
    corpus are dropped (zero expectation has no term). dof = #occupied
    bins − 1. Returns (group, n_group, n_rest, dof, chi2)."""
    m, pg, tot, per_g = _group_matrices(table, value_col, group_col, edges)
    occupied = [i for i, t in enumerate(tot) if t > 0]
    out = []
    for g in sorted(per_g):
        ca = per_g[g]
        cb = [t - c for t, c in zip(tot, ca)]
        na, nb = float(sum(ca)), float(sum(cb))
        if na == 0 or nb == 0:
            # empty side → zero expectations → undefined (NULL)
            out.append((g, int(na), int(nb), len(occupied) - 1, None))
            continue
        chi2 = 0.0
        for i in occupied:
            tv = float(tot[i])
            ea = na * tv / (na + nb)
            eb = nb * tv / (na + nb)
            chi2 += (ca[i] - ea) ** 2 / ea + (cb[i] - eb) ** 2 / eb
        out.append((g, int(na), int(nb), len(occupied) - 1,
                    round(chi2, round_digits)))
    import json

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    gtype = StructType.fromJson(json.loads(m.schema_json))[pg].dataType
    schema = StructType([
        StructField(group_col, gtype),
        StructField("n_group", LongType()),
        StructField("n_rest", LongType()),
        StructField("dof", LongType()),
        StructField("chi2", DoubleType()),
    ])
    return table.spark.createDataFrame(out, schema)


def _version_cells(table, value_col: str, group_col: str,
                   edges: Sequence[Any], v_base, keys):
    """Shared preamble of the timeline statistics: validate the
    baseline, DV-refuse, heal missing matrices across ALL retained
    versions, then ONE sidecar scan joined to a broadcast
    (version, file) membership relation built from the manifests
    (driver-side, manifest-scale), aggregated to the requested keys.
    Returns (versions, committed_at map, collected cell rows).

    Driver footprint: the membership list holds Σ_v |files(v)| tuples —
    the same envelope as reading those manifests at all (each is a
    driver-side JSON of its file entries). On a million-file table with
    deep retention, bound the scan with ``retain_versions`` /
    ``v_base`` rather than asking for every snapshot ever."""
    versions = table.versions()
    if v_base is not None and v_base not in versions:
        raise ValueError(f"baseline version {v_base} is not retained")
    m_new = table.manifest(versions[-1])
    pv = table.to_physical(value_col, m_new)
    pg = table.to_physical(group_col, m_new)
    sid = _spec_id(pv, pg, edges)
    membership = []  # (version, file)
    committed = {}
    names: set[str] = set()
    for v in versions:
        mv = table.manifest(v)
        if any(e.dv_rows for e in mv.files):
            raise ValueError(
                f"snapshot {v} has merge-on-read deletion vectors; its "
                "count matrices still include tombstoned rows — "
                "materialize deletes for an exact answer"
            )
        committed[v] = mv.committed_at
        for e in mv.files:
            membership.append((v, e.name))
            names.add(e.name)
    have = _have_files(table, sid)
    missing = [n for n in names if n not in have]
    if missing:
        _build_for(table, m_new, missing, pv, pg, edges, sid)
    mem_df = table.spark.createDataFrame(
        membership, "version long, file string"
    )
    cells = (
        semi_join_files(
            table.spark.read.parquet(_sidecar(table))
            .filter(F.col("spec") == sid),
            names,
        )
        .dropDuplicates(["file", "grp", "bin"])  # racing double-builds
        .join(F.broadcast(mem_df), "file")
        .groupBy(*keys)
        .agg(F.sum("n").alias("n"))
        .collect()  # bounded: ≤ |versions|·|G|·(B+2) rows
    )
    for r in cells:
        if r["bin"] is None or not -1 <= r["bin"] <= len(edges):
            raise ValueError(
                f"corrupt drift sidecar row: bin={r['bin']!r} outside "
                f"[-1, {len(edges)}] for spec {sid}"
            )
    return versions, committed, cells


def psi_timeline(
    table,
    value_col: str,
    group_col: str,
    edges: Sequence[Any],
    v_base: int | None = None,
    floor_p: float = 1e-6,
    round_digits: int = 6,
) -> DataFrame:
    """WHEN did the corpus shift: whole-table PSI of EVERY retained
    snapshot vs a baseline snapshot (default: the oldest retained), in
    one call — the per-version generalization of
    :func:`psi_between_versions`. One sidecar scan answers all
    versions: the (version, file) membership relation is built from the
    retained manifests (driver-side, manifest-scale) and
    broadcast-joined to the count matrices, which aggregate to
    ≤ |versions|·(B+2) integers; retired files' matrices persist until
    vacuum, so history stays summable, and files missing a matrix
    (e.g. written before the registration) are healed across ALL
    versions first.
    Returns (version, committed_at, n_rows, psi) ordered by version."""
    versions, committed, cells = _version_cells(
        table, value_col, group_col, edges, v_base, keys=("version", "bin")
    )
    if v_base is None:
        v_base = versions[0]
    n_bins = len(edges) + 2
    hists: dict[int, list[int]] = {v: [0] * n_bins for v in versions}
    for r in cells:
        hists[r["version"]][r["bin"] + 1] += r["n"]
    base = hists[v_base]
    nb = float(sum(base))
    out = []
    for v in versions:
        h = hists[v]
        nv = float(sum(h))
        psi = 0.0
        for c_b, c_v in zip(base, h):
            # an empty snapshot's distribution is all-floor (no mass)
            pb = max(c_b / nb, floor_p) if nb > 0 else floor_p
            pn = max(c_v / nv, floor_p) if nv > 0 else floor_p
            psi += (pn - pb) * math.log(pn / pb)
        out.append((v, committed[v], int(nv), round(psi, round_digits)))
    return table.spark.createDataFrame(
        out, "version long, committed_at string, n_rows long, psi double"
    )


def psi_timeline_by_group(
    table,
    value_col: str,
    group_col: str,
    edges: Sequence[Any],
    v_base: int | None = None,
    floor_p: float = 1e-6,
    round_digits: int = 6,
) -> DataFrame:
    """WHICH group shifted, and when: for every retained snapshot, each
    group's PSI against ITS OWN distribution in the baseline snapshot —
    the per-source drill-down of :func:`psi_timeline` (which compares
    whole-table histograms) and the temporal complement of
    :func:`psi_from_stats` (which compares each group to the rest
    WITHIN one snapshot). Same single sidecar scan + broadcast
    membership join, aggregated per (version, group, bin); driver math
    over ≤ |versions|·|G|·(B+2) integers. A group absent from the
    baseline compares against an all-floor distribution (a brand-new
    source IS maximal drift); NULL-group rows have no identity to track
    and get no output rows. Returns (version, committed_at, group,
    n_rows, psi) ordered by (version, group)."""
    versions, committed, cells = _version_cells(
        table, value_col, group_col, edges, v_base,
        keys=("version", "grp", "bin"),
    )
    if v_base is None:
        v_base = versions[0]
    n_bins = len(edges) + 2
    hists: dict[tuple, list[int]] = {}
    groups = set()
    for r in cells:
        if r["grp"] is None:
            continue
        groups.add(r["grp"])
        hists.setdefault((r["version"], r["grp"]), [0] * n_bins)[
            r["bin"] + 1
        ] += r["n"]
    zeros = [0] * n_bins
    out = []
    for v in versions:
        for g in sorted(groups):
            h = hists.get((v, g), zeros)
            base = hists.get((v_base, g), zeros)
            nv, nb = float(sum(h)), float(sum(base))
            psi = 0.0
            for c_b, c_v in zip(base, h):
                pb = max(c_b / nb, floor_p) if nb > 0 else floor_p
                pn = max(c_v / nv, floor_p) if nv > 0 else floor_p
                psi += (pn - pb) * math.log(pn / pb)
            out.append((v, committed[v], g, int(nv),
                        round(psi, round_digits)))
    import json

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    m_new = table.manifest(versions[-1])
    pg = table.to_physical(group_col, m_new)
    gtype = StructType.fromJson(json.loads(m_new.schema_json))[pg].dataType
    schema = StructType([
        StructField("version", LongType()),
        StructField("committed_at", StringType()),
        StructField(group_col, gtype),
        StructField("n_rows", LongType()),
        StructField("psi", DoubleType()),
    ])
    return table.spark.createDataFrame(out, schema)
