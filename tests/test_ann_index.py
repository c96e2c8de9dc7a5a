"""IVFVectorIndex: persistent IVF ANN on the mutation core.

Contracts pinned here:
- full-probe topk == brute-force exact topk (the index loses nothing
  when every cell is probed);
- partial probe keeps useful recall;
- probing prunes FILES via the manifest (cell-major key zone maps);
- add/delete are incremental: only touched cells' files rewrite, new
  vectors become findable, deleted ids never come back;
- re-embedding a vector that changes cell leaves no stale row behind.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from parquet_rewriter_spark.operators.ann_index import IVFVectorIndex
from parquet_rewriter_spark.operators.similarity import cosine_topk
from parquet_rewriter_spark.sources.readers import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    # module-scoped: outside the per-test cache scope, so released here
    df = load_table(spark, sf_dir, "embeddings").cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def qvec(emb):
    row = emb.orderBy("vec_id").first()
    return [float(x) for x in row["embedding"]]


@pytest.fixture()
def idx(spark, emb, tmp_path):
    return IVFVectorIndex.create(
        spark, str(tmp_path / "ivf"), emb, n_cells=8, max_records_per_file=64
    )


def _ids(df):
    return [r["id"] for r in df.collect()]


def test_full_probe_equals_exact(spark, emb, idx, qvec):
    exact = cosine_topk(emb, "vec_id", "embedding", qvec, k=10)
    got = idx.topk(qvec, k=10, n_probe=8)
    assert _ids(got) == _ids(exact)


def test_partial_probe_recall(spark, emb, idx, qvec):
    exact = set(_ids(cosine_topk(emb, "vec_id", "embedding", qvec, k=10)))
    got = set(_ids(idx.topk(qvec, k=10, n_probe=3)))
    assert len(got & exact) / 10 >= 0.5


def test_probe_prunes_files(idx, qvec):
    total = len(idx.table.manifest().files)
    probed = len(idx.probe_files(qvec, n_probe=2))
    assert 0 < probed < total


def test_add_is_incremental_and_findable(spark, idx, qvec):
    # a vector identical to the query must become the #1 hit
    new = spark.createDataFrame(
        [(999_999, [float(x) for x in qvec], -1)],
        "vec_id long, embedding array<float>, label int",
    )
    total_files = len(idx.table.manifest().files)
    res = idx.add(new)
    # incremental: the upsert touches at most the target cell's files
    assert res["files_dirty"] <= max(1, total_files // 4)
    assert res["files_clean_passthrough"] >= total_files - res["files_dirty"]
    got = idx.topk(qvec, k=3, n_probe=8)
    # ties with the query's own source vector at cos=1.0; id breaks them
    top = {r["id"]: r["cos_sim"] for r in got.collect()}
    assert top[999_999] == 1.0


def test_delete_removes_and_is_bounded(spark, emb, idx, qvec):
    victim = _ids(idx.topk(qvec, k=1, n_probe=8))[0]
    n_before = idx.table.read().count()
    res = idx.delete([victim])
    assert res["deleted"] == 1
    assert idx.table.read().count() == n_before - 1
    assert victim not in _ids(idx.topk(qvec, k=10, n_probe=8))
    # deleting an absent id is a no-op (reference delete semantics)
    res2 = idx.delete([10**9])
    assert res2["deleted"] == 0 and res2.get("files_dirty", 0) == 0


def test_reembed_changes_cell_without_stale_rows(spark, idx, emb):
    # move an existing vector to (approximately) the opposite direction:
    # its cell almost surely changes; the old row must be gone
    row = emb.orderBy("vec_id").first()
    vid = row["vec_id"]
    flipped = [-float(x) for x in row["embedding"]]
    upd = spark.createDataFrame(
        [(vid, flipped, row["label"])],
        "vec_id long, embedding array<float>, label int",
    )
    idx.add(upd)
    live = idx.table.read().filter(F.col("vec_id") == vid)
    assert live.count() == 1  # exactly one row — no stale duplicate
    got = [float(x) for x in live.first()["embedding"]]
    assert got == pytest.approx(flipped, rel=1e-6)


def test_reopen_from_path(spark, emb, tmp_path, qvec):
    path = str(tmp_path / "ivf2")
    IVFVectorIndex.create(spark, path, emb, n_cells=8, max_records_per_file=64)
    reopened = IVFVectorIndex(spark, path)
    exact = cosine_topk(emb, "vec_id", "embedding", qvec, k=5)
    assert _ids(reopened.topk(qvec, k=5, n_probe=8)) == _ids(exact)


def test_rebalance_splits_hot_cell_locally(spark, emb, tmp_path, qvec):
    """An index built with too few cells for the corpus: rebalance must
    split the oversized cells, leave healthy cells' files untouched,
    keep every vector findable (full-probe == exact), and rereading the
    codebook from disk must see the new cells (crash-order contract)."""
    path = str(tmp_path / "ivf_rb")
    idx = IVFVectorIndex.create(
        spark, path, emb, n_cells=2, max_records_per_file=64
    )
    n_total = idx.table.read().count()
    cap = n_total // 3  # with 2 cells, at least one must exceed n/3
    before = {r["cell"]: r["n_vectors"] for r in idx.cell_stats().collect()}
    assert max(before.values()) > cap

    res = idx.rebalance(max_vectors_per_cell=cap)
    assert res["cells_split"] >= 1 and res["cells_added"] >= 1
    assert res["rows_moved"] > 0

    after = {r["cell"]: r["n_vectors"] for r in idx.cell_stats().collect()}
    assert len(after) > len(before)
    assert idx.table.read().count() == n_total  # no row lost or duplicated
    assert idx.table.read().select("vec_id").distinct().count() == n_total

    # full probe still exact after the split
    n_cells = idx.centroids.shape[0]
    exact = cosine_topk(emb, "vec_id", "embedding", qvec, k=10)
    assert _ids(idx.topk(qvec, k=10, n_probe=n_cells)) == _ids(exact)

    # a fresh handle (stale-free read of the persisted codebook) agrees
    reopened = IVFVectorIndex(spark, path)
    assert reopened.centroids.shape[0] == n_cells
    assert _ids(reopened.topk(qvec, k=10, n_probe=n_cells)) == _ids(exact)

    # idempotent: a second pass finds nothing oversized at 2*cap
    res2 = idx.rebalance(max_vectors_per_cell=max(after.values()))
    assert res2["rows_moved"] == 0 and res2["cells_split"] == 0


def test_distributed_add_matches_point_path(spark, emb, idx, qvec):
    """The distributed stale lookup (semi-join, no driver collect) must
    leave the index in exactly the state the point-lookup path does:
    re-embedded vectors move cells with no stale rows, new vectors are
    findable, and the plan never collects batch ids."""
    rows = emb.orderBy("vec_id").limit(5).collect()
    batch = spark.createDataFrame(
        [(r["vec_id"], [-float(x) for x in r["embedding"]], r["label"])
         for r in rows]
        + [(777_777, [float(x) for x in qvec], -2)],
        "vec_id long, embedding array<float>, label int",
    )
    n_before = idx.table.read().count()
    res = idx.add(batch, distributed=True)
    assert res["stale_lookup"] == "distributed"
    assert idx.table.read().count() == n_before + 1  # 5 moved, 1 new
    for r in rows:
        live = idx.table.read().filter(F.col("vec_id") == r["vec_id"])
        assert live.count() == 1  # no stale duplicate anywhere
    top = {x["id"]: x["cos_sim"] for x in idx.topk(qvec, k=3, n_probe=8).collect()}
    assert top[777_777] == 1.0


def test_add_auto_picks_point_path_for_small_batches(spark, emb, idx):
    """Re-adding an IDENTICAL vector via the auto point path: same cell
    → same composite key → the stale lookup finds the key the upsert is
    about to overwrite in place. It must NOT become a DELETE (merge
    resolves same-key DELETE-over-UPSERT) — the row has to survive."""
    row = emb.orderBy(F.desc("vec_id")).first()
    vid = row["vec_id"]
    batch = spark.createDataFrame(
        [(vid, [float(x) for x in row["embedding"]], row["label"])],
        "vec_id long, embedding array<float>, label int",
    )
    n_before = idx.table.read().count()
    res = idx.add(batch)  # distributed=None → auto
    assert res["stale_lookup"] == "point"
    assert res["stale_deleted"] == 0  # in-place overwrite, nothing stale
    live = idx.table.read().filter(F.col("vec_id") == vid)
    assert live.count() == 1  # the re-added row survives
    assert idx.table.read().count() == n_before  # pure overwrite
