"""Incremental drift sidecar (operators/driftstats.py): additive
per-file (group, bin) count matrices under declared bin edges — PSI at
churn cost, exact, with the covstats family's exactly-once and
DV-refusal contracts."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row, functions as F

from parquet_rewriter_spark.operators.driftstats import (
    _build_for,
    _spec_id,
    build_drift_stats,
    psi_from_stats,
)
from parquet_rewriter_spark.operators.merge import merge_into_table
from parquet_rewriter_spark.table import SortedTable

EDGES = [10, 20, 30]


def _mk(spark, tmp_path, n=400, mrpf=50):
    rows = [
        Row(k=i, g=("a" if i % 3 == 0 else "b" if i % 3 == 1 else "c"),
            v=i % 40)
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "k long, g string, v int")
    return SortedTable.create(
        spark, str(tmp_path / "t"), df, key="k", max_records_per_file=mrpf
    ), rows


def _psi_reference(rows, edges, floor_p=1e-6):
    """Straight-line python replay: bin every row, count, PSI."""
    n_bins = len(edges) + 1
    tot = [0] * n_bins
    per_g: dict[str, list[int]] = {}
    for r in rows:
        b = sum(1 for e in edges if r.v > e)
        tot[b] += 1
        per_g.setdefault(r.g, [0] * n_bins)[b] += 1
    out = {}
    for g, ca in per_g.items():
        cb = [t - c for t, c in zip(tot, ca)]
        na, nb = float(sum(ca)), float(sum(cb))
        psi = sum(
            (max(c / na, floor_p) - max(d / nb, floor_p))
            * math.log(max(c / na, floor_p) / max(d / nb, floor_p))
            for c, d in zip(ca, cb)
        )
        out[g] = (int(na), int(nb), round(psi, 6))
    return out


def test_psi_from_stats_matches_reference(spark, tmp_path):
    t, rows = _mk(spark, tmp_path)
    built = build_drift_stats(t, "v", "g", EDGES)
    assert built == len(t.manifest().files)
    got = {r["g"]: (r["n_group"], r["n_rest"], r["psi"])
           for r in psi_from_stats(t, "v", "g", EDGES).collect()}
    assert got == _psi_reference(rows, EDGES)


def test_refresh_cost_is_churn(spark, tmp_path):
    t, rows = _mk(spark, tmp_path)
    build_drift_stats(t, "v", "g", EDGES)
    # clustered upsert: flips v for keys 0..29 — a small file subset
    muts = spark.createDataFrame(
        [Row(k=i, g=("a" if i % 3 == 0 else "b" if i % 3 == 1 else "c"),
             v=39, op="UPSERT") for i in range(30)],
        "k long, g string, v int, op string",
    )
    merge_into_table(t, muts, allow_splice=False)
    built = build_drift_stats(t, "v", "g", EDGES)
    assert 0 < built < len(t.manifest().files)
    # answer equals a from-scratch replay of the mutated logical rows
    mutated = [Row(k=r.k, g=r.g, v=39) if r.k < 30 else r for r in rows]
    got = {r["g"]: (r["n_group"], r["n_rest"], r["psi"])
           for r in psi_from_stats(t, "v", "g", EDGES).collect()}
    assert got == _psi_reference(mutated, EDGES)


def test_null_groups_rest_only_and_typed_output(spark, tmp_path):
    rows = [Row(k=0, g="a", v=5), Row(k=1, g="a", v=25),
            Row(k=2, g="b", v=5), Row(k=3, g=None, v=25)]
    df = spark.createDataFrame(rows, "k long, g string, v int")
    t = SortedTable.create(spark, str(tmp_path / "tn"), df, key="k",
                           max_records_per_file=2)
    out = psi_from_stats(t, "v", "g", EDGES)  # self-heals: builds inline
    got = {r["g"]: (r["n_group"], r["n_rest"]) for r in out.collect()}
    assert set(got) == {"a", "b"}
    assert got["a"] == (2, 2)  # rest includes b's row AND the null row
    assert got["b"] == (1, 3)


def _psi_reference_with_nulls(rows, edges, floor_p=1e-6):
    """Python replay including the reserved NULL-value bin −1 at
    index 0 — the policy _bin_expr implements."""
    n_bins = len(edges) + 2
    tot = [0] * n_bins
    per_g: dict[str, list[int]] = {}
    for r in rows:
        b = 0 if r.v is None else 1 + sum(1 for e in edges if r.v > e)
        tot[b] += 1
        if r.g is not None:
            per_g.setdefault(r.g, [0] * n_bins)[b] += 1
    out = {}
    for g, ca in per_g.items():
        cb = [t - c for t, c in zip(tot, ca)]
        na, nb = float(sum(ca)), float(sum(cb))
        psi = sum(
            (max(c / na, floor_p) - max(d / nb, floor_p))
            * math.log(max(c / na, floor_p) / max(d / nb, floor_p))
            for c, d in zip(ca, cb)
        )
        out[g] = (int(na), int(nb), round(psi, 6))
    return out


def test_null_values_reserved_bin(spark, tmp_path):
    """NULL values in the monitored column must neither crash the
    sidecar readers (bin −1, not a None index) nor be dropped: they
    live in the reserved bin and drift like any other bin."""
    rows = [
        Row(k=i, g=("a" if i % 2 == 0 else "b"),
            v=(None if i % 5 == 0 and i % 2 == 0 else i % 40))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "k long, g string, v int")
    t = SortedTable.create(spark, str(tmp_path / "tnv"), df, key="k",
                           max_records_per_file=50)
    built = build_drift_stats(t, "v", "g", EDGES)
    assert built == len(t.manifest().files)
    got = {r["g"]: (r["n_group"], r["n_rest"], r["psi"])
           for r in psi_from_stats(t, "v", "g", EDGES).collect()}
    want = _psi_reference_with_nulls(rows, EDGES)
    assert got == want
    # only group 'a' holds NULLs → its NULL-bin share differs from the
    # rest's → PSI strictly positive
    assert got["a"][2] > 0

    # snapshot-over-time path indexes the same matrices: no crash, and
    # identical snapshots → psi exactly 0
    from parquet_rewriter_spark.operators.driftstats import (
        psi_between_versions,
    )

    v_now = t.manifest().version
    same = psi_between_versions(t, "v", "g", EDGES, v_old=v_now).first()
    assert same["psi"] == 0.0 and same["n_old"] == len(rows)


def test_scan_path_psi_null_values_match_sidecar_policy(spark):
    """The scan path (drift.psi_drift_by_group) uses the same reserved
    −1 bin for NULL values: totals include NULL-valued rows and the
    result is finite, not a crash or a silent drop."""
    from parquet_rewriter_spark.operators.drift import psi_drift_by_group

    rows = [
        Row(g=("a" if i % 2 == 0 else "b"),
            v=(None if i % 7 == 0 else float(i % 25)))
        for i in range(210)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    out = {r["source"]: r for r in
           psi_drift_by_group(df, "v", "g").collect()}
    n_a = sum(1 for r in rows if r.g == "a")
    assert out["a"]["n_group"] == n_a  # NULL-valued rows counted
    assert out["a"]["n_rest"] == len(rows) - n_a
    for r in out.values():
        assert math.isfinite(r["psi"])


def test_dv_refusal(spark, tmp_path):
    from parquet_rewriter_spark.operators.deletion_vectors import (
        delete_keys_mor,
    )

    t, _rows = _mk(spark, tmp_path)
    build_drift_stats(t, "v", "g", EDGES)
    delete_keys_mor(t, spark.createDataFrame([(7,)], "k long"))
    with pytest.raises(ValueError, match="deletion vectors"):
        psi_from_stats(t, "v", "g", EDGES)


def test_racing_double_build_collapses(spark, tmp_path):
    t, rows = _mk(spark, tmp_path, n=100, mrpf=50)
    m = t.manifest()
    sid = _spec_id("v", "g", EDGES)
    names = [e.name for e in m.files]
    _build_for(t, m, names, "v", "g", EDGES, sid)
    _build_for(t, m, names, "v", "g", EDGES, sid)  # duplicate sidecar rows
    got = {r["g"]: (r["n_group"], r["n_rest"], r["psi"])
           for r in psi_from_stats(t, "v", "g", EDGES).collect()}
    assert got == _psi_reference(rows, EDGES)


def test_psi_between_versions_uses_retired_files(spark, tmp_path):
    """Drift over time: the old snapshot's histogram sums matrices of
    files a later merge RETIRED — they must still answer (data files
    persist until vacuum). Identical distributions → psi 0; a shifted
    ingest → psi > 0; both checked against a python replay."""
    import math as _math

    from parquet_rewriter_spark.operators.driftstats import (
        psi_between_versions,
    )

    t, rows = _mk(spark, tmp_path)
    v0 = t.manifest().version
    build_drift_stats(t, "v", "g", EDGES)
    # shifted ingest: new keys, all values in the top bin
    muts = spark.createDataFrame(
        [Row(k=1000 + i, g="a", v=39, op="UPSERT") for i in range(200)],
        "k long, g string, v int, op string",
    )
    merge_into_table(t, muts, allow_splice=False)
    got = psi_between_versions(t, "v", "g", EDGES, v_old=v0).first()
    assert got["n_old"] == len(rows) and got["n_new"] == len(rows) + 200

    def hist(rs):
        h = [0] * (len(EDGES) + 1)
        for r in rs:
            h[sum(1 for e in EDGES if r.v > e)] += 1
        return h

    old, new = hist(rows), hist(rows + [Row(k=0, g="a", v=39)] * 200)
    no, nn = float(sum(old)), float(sum(new))
    want = sum(
        (max(c_n / nn, 1e-6) - max(c_o / no, 1e-6))
        * _math.log(max(c_n / nn, 1e-6) / max(c_o / no, 1e-6))
        for c_o, c_n in zip(old, new)
    )
    assert got["psi"] == round(want, 6) and got["psi"] > 0
    # same snapshot on both sides → zero drift
    v_now = t.manifest().version
    same = psi_between_versions(t, "v", "g", EDGES, v_old=v_now).first()
    assert same["psi"] == 0.0


def test_vacuum_prunes_dead_driftstats_rows(spark, tmp_path):
    import os

    from parquet_rewriter_spark.operators.driftstats import DRIFT_DIR

    t, _rows = _mk(spark, tmp_path)
    build_drift_stats(t, "v", "g", EDGES)
    muts = spark.createDataFrame(
        [Row(k=i, g="a", v=1, op="UPSERT") for i in range(0, 400, 3)],
        "k long, g string, v int, op string",
    )
    merge_into_table(t, muts, allow_splice=False)
    build_drift_stats(t, "v", "g", EDGES)
    side = os.path.join(t.path, DRIFT_DIR)
    files_before = {
        r["file"] for r in spark.read.parquet(side).select("file").collect()
    }
    live = {e.name for e in t.manifest().files}
    assert files_before - live  # retired files' rows still in the log
    t.vacuum(retain_versions=1)
    files_after = {
        r["file"] for r in spark.read.parquet(side).select("file").collect()
    }
    assert files_after <= live  # dead rows swept with the other sidecars


def test_ks_from_stats_matches_hand_computation(spark, tmp_path):
    """Binned KS from the sidecar: CDFs at declared edges, rest by
    subtraction, NULL bin excluded — checked against a straight-line
    python replay AND the property D_binned <= D_exact."""
    from parquet_rewriter_spark.operators.drift import ks_drift_by_group
    from parquet_rewriter_spark.operators.driftstats import ks_from_stats

    t, rows = _mk(spark, tmp_path)
    build_drift_stats(t, "v", "g", EDGES)
    got = {r["g"]: (r["n_group"], r["n_rest"], r["ks_stat"])
           for r in ks_from_stats(t, "v", "g", EDGES).collect()}

    # python replay
    n_bins = len(EDGES) + 1
    tot = [0] * n_bins
    per_g: dict[str, list[int]] = {}
    for r in rows:
        b = sum(1 for e in EDGES if r.v > e)
        tot[b] += 1
        per_g.setdefault(r.g, [0] * n_bins)[b] += 1
    for g, ca in per_g.items():
        cb = [tt - c for tt, c in zip(tot, ca)]
        na, nb = float(sum(ca)), float(sum(cb))
        d = cum_a = cum_b = 0.0
        for c_a, c_b in zip(ca, cb):
            cum_a += c_a
            cum_b += c_b
            d = max(d, abs(cum_a / na - cum_b / nb))
        assert got[g] == (int(na), int(nb), round(d, 6)), g

    # binned KS is a lower bound on exact KS (sup over fewer points)
    df = spark.createDataFrame(rows, "k long, g string, v int")
    exact = {r["g"]: r["ks_stat"]
             for r in ks_drift_by_group(df, "v", "g", out_group="g").collect()}
    for g in got:
        assert got[g][2] <= exact[g] + 1e-9, (g, got[g][2], exact[g])


def test_ks_from_stats_excludes_null_bin(spark, tmp_path):
    from parquet_rewriter_spark.operators.driftstats import ks_from_stats

    rows = [
        Row(k=i, g=("a" if i % 2 == 0 else "b"),
            v=(None if i % 10 == 0 else i % 40))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "k long, g string, v int")
    t = SortedTable.create(spark, str(tmp_path / "tkn"), df, key="k",
                           max_records_per_file=50)
    got = {r["g"]: (r["n_group"], r["n_rest"])
           for r in ks_from_stats(t, "v", "g", EDGES).collect()}
    n_a = sum(1 for r in rows if r.g == "a" and r.v is not None)
    n_b = sum(1 for r in rows if r.g == "b" and r.v is not None)
    assert got["a"] == (n_a, n_b)  # NULL-valued rows excluded from KS
    assert got["b"] == (n_b, n_a)


def test_psi_timeline_per_version_series(spark, tmp_path):
    """One call → PSI of every retained snapshot vs the baseline:
    step 0 is exactly 0 (baseline vs itself), later shifted ingests
    strictly increase drift, and each point equals the pairwise
    psi_between_versions answer."""
    from parquet_rewriter_spark.operators.driftstats import (
        psi_between_versions,
        psi_timeline,
    )

    t, rows = _mk(spark, tmp_path)
    v0 = t.manifest().version
    build_drift_stats(t, "v", "g", EDGES)
    for wave in range(2):
        muts = spark.createDataFrame(
            [Row(k=10_000 * (wave + 1) + i, g="a", v=39, op="UPSERT")
             for i in range(150)],
            "k long, g string, v int, op string",
        )
        merge_into_table(t, muts, allow_splice=False)
        build_drift_stats(t, "v", "g", EDGES)
    tl = psi_timeline(t, "v", "g", EDGES).collect()
    assert [r["version"] for r in tl] == t.versions()
    assert tl[0]["psi"] == 0.0 and tl[0]["version"] == v0
    assert tl[0]["n_rows"] == len(rows)
    assert 0 < tl[1]["psi"] < tl[2]["psi"]  # drift accumulates
    for r in tl[1:]:
        pair = psi_between_versions(
            t, "v", "g", EDGES, v_old=v0, v_new=r["version"]
        ).first()
        assert r["psi"] == pair["psi"] and r["n_rows"] == pair["n_new"]
    assert all(r["committed_at"] for r in tl)


def test_w1_from_stats_matches_hand_computation(spark, tmp_path):
    """Binned W1 from the sidecar: Riemann sum of |F_a − F_b| over the
    interior edge gaps, NULL bin excluded — vs a python replay."""
    from parquet_rewriter_spark.operators.driftstats import w1_from_stats

    t, rows = _mk(spark, tmp_path)
    build_drift_stats(t, "v", "g", EDGES)
    got = {r["g"]: (r["n_group"], r["n_rest"], r["w1"])
           for r in w1_from_stats(t, "v", "g", EDGES).collect()}

    n_bins = len(EDGES) + 1
    tot = [0] * n_bins
    per_g: dict[str, list[int]] = {}
    for r in rows:
        b = sum(1 for e in EDGES if r.v > e)
        tot[b] += 1
        per_g.setdefault(r.g, [0] * n_bins)[b] += 1
    gaps = [float(EDGES[j + 1] - EDGES[j]) for j in range(len(EDGES) - 1)]
    for g, ca in per_g.items():
        cb = [tt - c for tt, c in zip(tot, ca)]
        na, nb = float(sum(ca)), float(sum(cb))
        w1 = cum_a = cum_b = 0.0
        for j, gap in enumerate(gaps):
            cum_a += ca[j]
            cum_b += cb[j]
            w1 += abs(cum_a / na - cum_b / nb) * gap
        assert got[g] == (int(na), int(nb), round(w1, 6)), g


def test_chi2_from_stats_matches_scan_path_on_binned_input(spark, tmp_path):
    """Over PRE-BINNED values the sidecar chi-square must equal the
    scan path's chi2_drift_by_group run on the bin ids — binning IS the
    categorization, so this one is exact, not an approximation."""
    from parquet_rewriter_spark.operators.drift import chi2_drift_by_group
    from parquet_rewriter_spark.operators.driftstats import chi2_from_stats

    t, rows = _mk(spark, tmp_path)
    build_drift_stats(t, "v", "g", EDGES)
    got = {r["g"]: (r["n_group"], r["n_rest"], r["dof"], r["chi2"])
           for r in chi2_from_stats(t, "v", "g", EDGES).collect()}
    binned = spark.createDataFrame(
        [Row(g=r.g, b=sum(1 for e in EDGES if r.v > e)) for r in rows]
    )
    want = {r["source"]: (r["n_group"], r["n_rest"], r["dof"], r["chi2"])
            for r in chi2_drift_by_group(binned, "b", "g").collect()}
    assert got == want


def test_chi2_from_stats_null_bin_is_a_category(spark, tmp_path):
    from parquet_rewriter_spark.operators.driftstats import chi2_from_stats

    rows = [
        Row(k=i, g=("a" if i % 2 == 0 else "b"),
            v=(None if i % 4 == 0 else i % 40))
        for i in range(160)
    ]
    df = spark.createDataFrame(rows, "k long, g string, v int")
    t = SortedTable.create(spark, str(tmp_path / "tc2"), df, key="k",
                           max_records_per_file=40)
    out = {r["g"]: r for r in chi2_from_stats(t, "v", "g", EDGES).collect()}
    # NULLs only in group a → the NULL bin category alone forces chi2 > 0
    assert out["a"]["chi2"] > 0
    # all NULLs live in group a's rows; dof counts the NULL bin too
    assert out["a"]["n_group"] == 80  # NULL-valued rows still counted
    assert out["a"]["dof"] == out["b"]["dof"] >= len(EDGES)


def test_psi_timeline_by_group_tracks_per_source_shift(spark, tmp_path):
    """Per-group timeline: step 0 is all zeros (every group vs itself);
    a wave shifting ONLY group 'a' moves a's PSI while b/c stay 0; a
    BRAND-NEW group compares against an all-floor baseline (maximal
    drift) and groups are tracked from the union of snapshots."""
    from parquet_rewriter_spark.operators.driftstats import (
        psi_timeline_by_group,
    )

    t, rows = _mk(spark, tmp_path)
    build_drift_stats(t, "v", "g", EDGES)
    # wave 1: shift ONLY group a (new keys, top bin)
    merge_into_table(t, spark.createDataFrame(
        [Row(k=10_000 + i, g="a", v=39, op="UPSERT") for i in range(150)],
        "k long, g string, v int, op string"))
    build_drift_stats(t, "v", "g", EDGES)
    # wave 2: a brand-new group d
    merge_into_table(t, spark.createDataFrame(
        [Row(k=20_000 + i, g="d", v=5, op="UPSERT") for i in range(50)],
        "k long, g string, v int, op string"))
    build_drift_stats(t, "v", "g", EDGES)

    tl = psi_timeline_by_group(t, "v", "g", EDGES).collect()
    v0, v1, v2 = t.versions()
    got = {(r["version"], r["g"]): (r["n_rows"], r["psi"]) for r in tl}
    # step 0: every group vs itself → psi exactly 0
    for g in ("a", "b", "c"):
        assert got[(v0, g)][1] == 0.0
    # group d absent at baseline → rows (0, all-floor baseline) at v0
    assert got[(v0, "d")] == (0, 0.0)
    # wave 1 shifted only a
    assert got[(v1, "a")][1] > 0
    assert got[(v1, "b")][1] == 0.0 and got[(v1, "c")][1] == 0.0
    # wave 2: d appears — vs all-floor baseline, PSI is large
    assert got[(v2, "d")][0] == 50 and got[(v2, "d")][1] > 1.0
    # a's drift persists unchanged through wave 2
    assert got[(v2, "a")] == got[(v1, "a")]


def test_drift_between_versions_all_stats(spark, tmp_path):
    """One-call two-snapshot statistics: identical snapshots → all
    zeros; a top-bin-only ingest moves PSI, KS, W1, chi2 together, and
    each agrees with a python replay of the two histograms."""
    from parquet_rewriter_spark.operators.driftstats import (
        drift_between_versions,
    )

    t, rows = _mk(spark, tmp_path)
    v0 = t.manifest().version
    build_drift_stats(t, "v", "g", EDGES)
    same = drift_between_versions(t, "v", "g", EDGES, v_old=v0).first()
    assert (same["psi"], same["ks_stat"], same["w1"], same["chi2"]) == (
        0.0, 0.0, 0.0, 0.0)
    assert same["n_old"] == same["n_new"] == len(rows)

    merge_into_table(t, spark.createDataFrame(
        [Row(k=10_000 + i, g="a", v=39, op="UPSERT") for i in range(200)],
        "k long, g string, v int, op string"))
    got = drift_between_versions(t, "v", "g", EDGES, v_old=v0).first()

    def hist(rs):
        h = [0] * (len(EDGES) + 1)
        for r in rs:
            h[sum(1 for e in EDGES if r.v > e)] += 1
        return h

    old = hist(rows)
    new = hist(rows + [Row(k=0, g="a", v=39)] * 200)
    no, nn = float(sum(old)), float(sum(new))
    ks = w1 = 0.0
    cum_o = cum_n = 0.0
    gaps = [float(EDGES[j + 1] - EDGES[j]) for j in range(len(EDGES) - 1)]
    for j in range(len(old)):
        cum_o += old[j]
        cum_n += new[j]
        d = abs(cum_o / no - cum_n / nn)
        ks = max(ks, d)
        if j < len(gaps):
            w1 += d * gaps[j]
    chi2 = 0.0
    occ = 0
    for c_o, c_n in zip(old, new):
        tt = float(c_o + c_n)
        if tt == 0:
            continue
        occ += 1
        eo, en = no * tt / (no + nn), nn * tt / (no + nn)
        chi2 += (c_o - eo) ** 2 / eo + (c_n - en) ** 2 / en
    assert got["ks_stat"] == round(ks, 6) > 0
    assert got["w1"] == round(w1, 6) > 0
    assert got["chi2"] == round(chi2, 4) > 0
    assert got["dof"] == occ - 1
    assert got["psi"] > 0


def test_enable_drift_monitor_auto_refresh(spark, tmp_path):
    """Registered monitors survive in the manifest and merges keep the
    sidecar complete WITHOUT explicit build calls; maintain() heals
    files written by hook-less paths (compact)."""
    from parquet_rewriter_spark.operators.driftstats import (
        _have_files,
        _spec_id,
        enable_drift_monitor,
    )
    from parquet_rewriter_spark.operators.maintenance import maintain

    t, rows = _mk(spark, tmp_path)
    built = enable_drift_monitor(t, "v", "g", EDGES)
    assert built == len(t.manifest().files)
    assert t.manifest().drift_specs == [
        {"value": "v", "group": "g", "edges": EDGES}
    ]
    # merge with NO explicit build: the hook must cover the new files
    muts = spark.createDataFrame(
        [Row(k=i, g="a", v=39, op="UPSERT") for i in range(0, 60, 2)],
        "k long, g string, v int, op string",
    )
    merge_into_table(t, muts, allow_splice=False)
    m = t.manifest()
    assert m.drift_specs  # inherited through the merge commit
    sid = _spec_id("v", "g", EDGES)
    assert {e.name for e in m.files} <= _have_files(t, sid)
    # psi is exact without any self-heal trigger
    mutated = [Row(k=r.k, g="a", v=39) if (r.k < 60 and r.k % 2 == 0)
               else r for r in rows]
    got = {r["g"]: (r["n_group"], r["n_rest"], r["psi"])
           for r in psi_from_stats(t, "v", "g", EDGES).collect()}
    assert got == _psi_reference(mutated, EDGES)

    # compact's commit counts its fresh files too, so maintain() has
    # nothing left to heal
    from parquet_rewriter_spark.operators.compact import compact

    compact(t, max_records_per_file=200)
    m2 = t.manifest()
    assert m2.drift_specs  # inherited through compact too
    assert {e.name for e in m2.files} <= _have_files(t, sid)
    rep = maintain(t)
    assert rep["drift"]["files_counted"] == 0


def test_enable_drift_monitor_rejects_exotic_edges(spark, tmp_path):
    import datetime

    from parquet_rewriter_spark.operators.driftstats import (
        enable_drift_monitor,
    )

    t, _rows = _mk(spark, tmp_path, n=20, mrpf=10)
    with pytest.raises(ValueError, match="JSON-native"):
        enable_drift_monitor(t, "v", "g", [datetime.date(2024, 1, 1)])


def test_validate_drift_stats_detects_corruption(spark, tmp_path):
    """The per-file sum invariant (matrix total == manifest row count)
    passes on a healthy table, reports files missing matrices, and
    flags a corrupted sidecar row as a mismatch."""
    import os

    from parquet_rewriter_spark.operators.driftstats import (
        DRIFT_DIR,
        enable_drift_monitor,
        validate_drift_stats,
    )

    t, rows = _mk(spark, tmp_path)
    enable_drift_monitor(t, "v", "g", EDGES)
    rep = validate_drift_stats(t)
    assert rep == {"ok": True, "specs": 1, "missing": 0, "mismatched": 0}

    # hook-covered merge keeps it valid
    merge_into_table(t, spark.createDataFrame(
        [Row(k=i, g="a", v=1, op="UPSERT") for i in range(0, 30, 3)],
        "k long, g string, v int, op string"))
    assert validate_drift_stats(t)["ok"]

    # corrupt: append a novel-key count row for one LIVE file (a
    # same-key duplicate would collapse in the racing-double-build
    # dropDuplicates - the invariant sees extra or lost MASS)
    from parquet_rewriter_spark.operators.driftstats import _spec_id

    side = os.path.join(t.path, DRIFT_DIR)
    live0 = t.manifest().files[0].name
    spark.createDataFrame(
        [(live0, "zz_corrupt", 2, 7, _spec_id("v", "g", EDGES))],
        "file string, grp string, bin int, n long, spec string",
    ).write.mode("append").parquet(side)
    rep2 = validate_drift_stats(t)
    assert not rep2["ok"] and rep2["mismatched"] >= 1


def test_registered_monitor_streaming_upkeep_for_free(spark, tmp_path):
    """A REGISTERED monitor needs no explicit streaming helper: plain
    exactly-once foreachBatch merges keep the sidecar complete via the
    merge hook, and the final PSI equals a from-scratch replay."""
    from parquet_rewriter_spark.operators.driftstats import (
        _have_files,
        _spec_id,
        enable_drift_monitor,
    )

    t, rows = _mk(spark, tmp_path, n=300, mrpf=60)
    enable_drift_monitor(t, "v", "g", EDGES)
    # three "micro-batches" of plain merges — no build/stream helper
    for wave in range(3):
        muts = spark.createDataFrame(
            [Row(k=1000 * (wave + 1) + i,
                 g=("a" if i % 2 == 0 else "b"), v=(i + wave) % 40,
                 op="UPSERT") for i in range(40)],
            "k long, g string, v int, op string",
        )
        merge_into_table(t, muts, txn=("free_stream", wave),
                         allow_splice=False)
    m = t.manifest()
    sid = _spec_id("v", "g", EDGES)
    assert {e.name for e in m.files} <= _have_files(t, sid)
    new_rows = rows + [
        Row(k=1000 * (w + 1) + i, g=("a" if i % 2 == 0 else "b"),
            v=(i + w) % 40)
        for w in range(3) for i in range(40)
    ]
    got = {r["g"]: (r["n_group"], r["n_rest"], r["psi"])
           for r in psi_from_stats(t, "v", "g", EDGES).collect()}
    assert got == _psi_reference(new_rows, EDGES)


def test_single_group_empty_rest_policy(spark, tmp_path):
    """A single-group table has an EMPTY rest: the from-stats paths
    degrade GRACEFULLY — PSI to the finite all-floor value, the
    two-sample CDF/chi-square statistics to NULL — while the scan
    paths fail LOUDLY (divide-by-zero under the ANSI sessions Spark 4
    defaults to). Either way no silently-wrong number escapes."""
    import pytest

    from parquet_rewriter_spark.operators.drift import ks_drift_by_group
    from parquet_rewriter_spark.operators.driftstats import (
        chi2_from_stats,
        ks_from_stats,
        w1_from_stats,
    )

    rows = [Row(k=i, g="only", v=i % 40) for i in range(50)]
    df = spark.createDataFrame(rows, "k long, g string, v int")
    t = SortedTable.create(spark, str(tmp_path / "t1g"), df, key="k",
                           max_records_per_file=20)
    build_drift_stats(t, "v", "g", EDGES)

    sidecar_psi = psi_from_stats(t, "v", "g", EDGES).first()
    assert sidecar_psi["n_rest"] == 0 and math.isfinite(sidecar_psi["psi"])

    assert ks_from_stats(t, "v", "g", EDGES).first()["ks_stat"] is None
    assert w1_from_stats(t, "v", "g", EDGES).first()["w1"] is None
    assert chi2_from_stats(t, "v", "g", EDGES).first()["chi2"] is None
    if spark.conf.get("spark.sql.ansi.enabled", "true") == "true":
        with pytest.raises(Exception, match="[Dd]ivide|DIVIDE"):
            ks_drift_by_group(df, "v", "g").collect()


def test_categorical_monitor_string_edges_exact(spark, tmp_path):
    """String edges = the sorted category alphabet map category i to
    bin i bijectively, so chi2_from_stats over the matrices equals the
    scan path's chi-square over the raw categories."""
    from parquet_rewriter_spark.operators.drift import chi2_drift_by_group
    from parquet_rewriter_spark.operators.driftstats import chi2_from_stats

    cats = ["de", "en", "es", "fr", "zh"]
    rows = [Row(k=i, g=("a" if i % 2 == 0 else "b"),
                v=cats[(i * 7) % 5]) for i in range(200)]
    df = spark.createDataFrame(rows, "k long, g string, v string")
    t = SortedTable.create(spark, str(tmp_path / "tcat"), df, key="k",
                           max_records_per_file=50)
    build_drift_stats(t, "v", "g", cats)
    got = {r["g"]: (r["n_group"], r["n_rest"], r["dof"], r["chi2"])
           for r in chi2_from_stats(t, "v", "g", cats).collect()}
    want = {r["source"]: (r["n_group"], r["n_rest"], r["dof"], r["chi2"])
            for r in chi2_drift_by_group(df, "v", "g").collect()}
    assert got == want


def test_psi_between_versions_empty_baseline(spark, tmp_path):
    """An all-deleted (empty) snapshot on one side must not crash:
    its distribution is all-floor, PSI stays finite."""
    from parquet_rewriter_spark.operators.driftstats import (
        psi_between_versions,
    )
    from parquet_rewriter_spark.operators.merge import delete_where

    t, rows = _mk(spark, tmp_path, n=60, mrpf=20)
    v0 = t.manifest().version
    build_drift_stats(t, "v", "g", EDGES)
    delete_where(t, F.lit(True))  # empty the table
    build_drift_stats(t, "v", "g", EDGES)
    got = psi_between_versions(t, "v", "g", EDGES, v_old=v0).first()
    assert got["n_old"] == len(rows) and got["n_new"] == 0
    assert math.isfinite(got["psi"])


def test_registered_monitor_survives_rename(spark, tmp_path):
    """Specs store PHYSICAL names (like sketch_cols): after RENAME
    COLUMN the hook keeps building against the on-disk name and
    readers resolve the new logical name through the rename map."""
    from parquet_rewriter_spark.operators.driftstats import (
        enable_drift_monitor,
    )

    t, rows = _mk(spark, tmp_path, n=120, mrpf=30)
    enable_drift_monitor(t, "v", "g", EDGES)
    t.rename_column("v", "val")
    muts = spark.createDataFrame(
        [Row(k=1000 + i, g="b", val=39, op="UPSERT") for i in range(30)],
        "k long, g string, val int, op string",
    )
    merge_into_table(t, muts, allow_splice=False)
    got = {r["g"]: (r["n_group"], r["n_rest"], r["psi"])
           for r in psi_from_stats(t, "val", "g", EDGES).collect()}
    new_rows = rows + [Row(k=1000 + i, g="b", v=39) for i in range(30)]
    assert got == _psi_reference(new_rows, EDGES)


def test_disable_drift_monitor_purges_only_its_rows(spark, tmp_path):
    """Disable = unregister + purge that spec's sidecar rows; other
    monitors' rows and answers survive untouched, and the merge hook
    stops building for the retired spec."""
    import os

    from parquet_rewriter_spark.operators.driftstats import (
        DRIFT_DIR,
        _have_files,
        _spec_id,
        disable_drift_monitor,
        enable_drift_monitor,
    )

    t, rows = _mk(spark, tmp_path)
    enable_drift_monitor(t, "v", "g", EDGES)
    other = [5, 35]
    enable_drift_monitor(t, "v", "g", other)
    assert len(t.manifest().drift_specs) == 2

    assert disable_drift_monitor(t, "v", "g", EDGES)
    assert not disable_drift_monitor(t, "v", "g", EDGES)  # already gone
    assert t.manifest().drift_specs == [
        {"value": "v", "group": "g", "edges": other}
    ]
    side = os.path.join(t.path, DRIFT_DIR)
    specs_left = {r["spec"] for r in
                  spark.read.parquet(side).select("spec").distinct().collect()}
    assert specs_left == {_spec_id("v", "g", other)}  # purged

    # merge: only the surviving spec gets new matrices via the hook
    muts = spark.createDataFrame(
        [Row(k=5000 + i, g="c", v=7, op="UPSERT") for i in range(20)],
        "k long, g string, v int, op string",
    )
    merge_into_table(t, muts, allow_splice=False)
    live = {e.name for e in t.manifest().files}
    assert live <= _have_files(t, _spec_id("v", "g", other))
    assert not (live <= _have_files(t, _spec_id("v", "g", EDGES)))
    # surviving monitor still answers exactly
    new_rows = rows + [Row(k=5000 + i, g="c", v=7) for i in range(20)]
    got = {r["g"]: (r["n_group"], r["n_rest"], r["psi"])
           for r in psi_from_stats(t, "v", "g", other).collect()}
    assert got == _psi_reference(new_rows, other)
