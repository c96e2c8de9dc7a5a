"""Round-8 operators: int8 scalar quantization, retrieval-quality
metrics, hybrid RRF fusion, temperature mixture weights, length-bucketed
batching, letterbox geometry, HLL sketch set algebra."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row, Window, functions as F

from parquet_rewriter_spark.operators.eval import retrieval_metrics
from parquet_rewriter_spark.operators.packing import length_bucket_batches
from parquet_rewriter_spark.operators.quantize import (
    calibrate_minmax,
    dequantize,
    quantize_codes,
    quantize_table,
)
from parquet_rewriter_spark.operators.sampling import temperature_weights
from parquet_rewriter_spark.sources.multimodal import letterbox_geometry


# ------------------------------------------------------------- quantization

def _vec_df(spark, rows):
    return spark.createDataFrame(
        [Row(id=i, v=[float(x) for x in v]) for i, v in enumerate(rows)]
    )


def test_quantize_codes_in_range_and_error_bounded(spark):
    df = _vec_df(spark, [[0.0, -1.0, 5.0], [1.0, 1.0, 5.0], [0.5, 0.25, 5.0]])
    lo, hi = calibrate_minmax(df, "v")
    assert lo == [0.0, -1.0, 5.0] and hi == [1.0, 1.0, 5.0]
    out = quantize_table(df, "v", lo, hi, code_col="q8", recon_col="r").collect()
    for row in out:
        orig = dict(zip([r["id"] for r in out], [r["v"] for r in out]))[row["id"]]
        for i, (q, r) in enumerate(zip(row["q8"], row["r"])):
            assert 0 <= q <= 255
            step = (hi[i] - lo[i]) / 255.0
            if hi[i] == lo[i]:  # degenerate dim: code 0, exact recon
                assert q == 0 and r == lo[i]
            else:
                assert abs(orig[i] - r) <= step / 2 + 1e-12


def test_quantize_extremes_hit_code_bounds(spark):
    df = _vec_df(spark, [[0.0], [1.0], [0.5]])
    lo, hi = calibrate_minmax(df, "v")
    codes = {
        r["id"]: r["q"][0]
        for r in df.select("id", quantize_codes("v", lo, hi).alias("q")).collect()
    }
    assert codes[0] == 0 and codes[1] == 255 and codes[2] == 128


def test_dequantize_roundtrip_is_idempotent(spark):
    # quantize(dequantize(quantize(x))) == quantize(x): recon values sit
    # exactly on grid points, so a second pass is a fixed point
    df = _vec_df(spark, [[0.13, -2.4], [0.9, 3.3], [-0.5, 0.0], [1.7, 1.1]])
    lo, hi = calibrate_minmax(df, "v")
    once = df.select("id", quantize_codes("v", lo, hi).alias("q1"),
                     dequantize(quantize_codes("v", lo, hi), lo, hi).alias("r"))
    twice = once.select("id", "q1", quantize_codes("r", lo, hi).alias("q2"))
    for row in twice.collect():
        assert row["q1"] == row["q2"]


# -------------------------------------------------------- retrieval metrics

def _rank_df(spark, rows):
    return spark.createDataFrame(
        [Row(query_id=q, neighbor_id=n, rnk=r) for q, n, r in rows]
    )


def test_retrieval_metrics_perfect_retrieval(spark):
    truth = _rank_df(spark, [(1, 10, 1), (1, 11, 2), (1, 12, 3)])
    m = retrieval_metrics(truth, truth).collect()[0]
    assert m["recall_at_k"] == 1.0 and m["mrr"] == 1.0 and m["ndcg_at_k"] == 1.0


def test_retrieval_metrics_hand_computed(spark):
    # retrieved: [10, 99, 12]; truth: [10, 11, 12]
    # hits at ranks 1 and 3 -> recall 2/3, mrr 1, dcg = 1 + 1/log2(4)
    retrieved = _rank_df(spark, [(1, 10, 1), (1, 99, 2), (1, 12, 3)])
    truth = _rank_df(spark, [(1, 10, 1), (1, 11, 2), (1, 12, 3)])
    m = retrieval_metrics(retrieved, truth).collect()[0]
    idcg = sum(1.0 / math.log2(i + 1) for i in (1, 2, 3))
    assert m["n_truth"] == 3 and m["n_hit"] == 2
    assert m["recall_at_k"] == round(2 / 3, 4)
    assert m["mrr"] == 1.0
    assert m["ndcg_at_k"] == round((1.0 + 1.0 / math.log2(4)) / idcg, 4)


def test_retrieval_metrics_zero_hits_scores_zero_not_missing(spark):
    retrieved = _rank_df(spark, [(1, 99, 1)])
    truth = _rank_df(spark, [(1, 10, 1), (2, 20, 1)])
    rows = {r["query_id"]: r for r in retrieval_metrics(retrieved, truth).collect()}
    assert set(rows) == {1, 2}  # query 2 retrieved nothing at all
    for q in (1, 2):
        assert rows[q]["n_hit"] == 0
        assert rows[q]["recall_at_k"] == 0.0
        assert rows[q]["mrr"] == 0.0
        assert rows[q]["ndcg_at_k"] == 0.0


def test_exact_portable_truth_matches_numpy(spark, sf_dir):
    import numpy as np

    from parquet_rewriter_spark.operators.dedup import exact_cosine_topk_portable
    from parquet_rewriter_spark.sources.readers import load_table

    e = load_table(spark, sf_dir, "embeddings").limit(60)
    rows = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
            for r in e.collect()}
    got = exact_cosine_topk_portable(e, probe_ids=[0, 1], k=3).collect()
    for probe in (0, 1):
        q = np.round(rows[probe] * 1e6)
        sims = {}
        for vid, v in rows.items():
            if vid == probe:
                continue
            qv = np.round(v * 1e6)
            sims[vid] = round(float(q @ qv) / (np.linalg.norm(q) * np.linalg.norm(qv)), 4)
        want = sorted(sims.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
        have = sorted(
            [(r["neighbor_id"], r["cos_sim"]) for r in got if r["query_id"] == probe],
            key=lambda kv: -kv[1],
        )
        assert [w[0] for w in want] == [h[0] for h in have]


# --------------------------------------------------------------- hybrid RRF

def test_hybrid_rrf_ranks_dual_hits_above_single_hits(spark):
    from parquet_rewriter_spark.operators.search import hybrid_rrf_topk

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="spark shuffle join"),     # lexical hit
            Row(doc_id=2, text="window scan join"),       # lexical hit
            Row(doc_id=3, text="unrelated words here"),   # vector-only
        ]
    )
    vecs = spark.createDataFrame(
        [
            Row(vec_id=1, v=[1.0, 0.0]),   # == query: vector hit
            Row(vec_id=2, v=[0.0, 1.0]),   # orthogonal
            Row(vec_id=3, v=[0.9, 0.1]),   # near query
        ]
    )
    out = hybrid_rrf_topk(
        docs, vecs, "doc_id", "text", "vec_id", "v",
        ["join"], [1.0, 0.0], k=3, n_cand=3,
    ).collect()
    by_id = {r["doc_id"]: r for r in out}
    # doc 1 is in both lists -> highest fused score
    assert [r["doc_id"] for r in sorted(out, key=lambda r: r["rank"])][0] == 1
    assert by_id[1]["bm25_rank"] is not None and by_id[1]["vec_rank"] is not None
    # doc 3 never matches the term but survives via the vector ranking
    assert by_id[3]["bm25_rank"] is None and by_id[3]["vec_rank"] is not None


def test_hybrid_rrf_score_is_sum_of_reciprocal_ranks(spark):
    from parquet_rewriter_spark.operators.search import hybrid_rrf_topk

    docs = spark.createDataFrame([Row(doc_id=1, text="join join")])
    vecs = spark.createDataFrame([Row(vec_id=1, v=[1.0])])
    row = hybrid_rrf_topk(
        docs, vecs, "doc_id", "text", "vec_id", "v", ["join"], [1.0], k=1, n_cand=5
    ).collect()[0]
    assert row["rrf"] == round(1 / 61 + 1 / 61, 6)


# ------------------------------------------------------- temperature mixing

def test_temperature_alpha_one_keeps_natural_mix(spark):
    df = spark.createDataFrame(
        [Row(src="a", w=100), Row(src="a", w=200), Row(src="b", w=700)]
    )
    rows = {r["source"]: r for r in
            temperature_weights(df, "src", "w", alpha=1.0).collect()}
    assert rows["a"]["p_temp"] == rows["a"]["p_raw"] == 0.3
    assert rows["b"]["p_temp"] == rows["b"]["p_raw"] == 0.7


def test_temperature_alpha_zero_is_uniform(spark):
    df = spark.createDataFrame([Row(src="a", w=1), Row(src="b", w=999)])
    rows = {r["source"]: r for r in
            temperature_weights(df, "src", "w", alpha=0.0).collect()}
    assert rows["a"]["p_temp"] == rows["b"]["p_temp"] == 0.5
    assert rows["a"]["p_raw"] == 0.001


def test_temperature_budget_and_epochs_consistent(spark):
    df = spark.createDataFrame([Row(src="a", w=100), Row(src="b", w=400)])
    rows = {r["source"]: r for r in
            temperature_weights(df, "src", "w", alpha=0.5, total_budget=1000).collect()}
    # n^0.5: 10 and 20 -> p_temp 1/3 and 2/3
    assert rows["a"]["budget"] == round(1000 / 3, 2)
    assert rows["a"]["epochs"] == round(1000 / 3 / 100, 4)  # small source repeats
    assert rows["b"]["epochs"] == round(2000 / 3 / 400, 4)
    assert rows["a"]["epochs"] > 1 > rows["b"]["epochs"] * 0.5


# ---------------------------------------------------- length-bucket batches

def test_length_buckets_ladder_and_capacity(spark):
    df = spark.createDataFrame(
        [Row(id=i, tok=t) for i, t in enumerate([5, 16, 17, 60, 64, 65, 300, 4000])]
    )
    out = length_bucket_batches(
        df, "id", "tok", batch_tokens=128, min_bucket=16, max_bucket=128,
        num_shards=1, shard_col=F.lit(0),
    ).collect()
    buckets = {r["id"]: r["bucket_len"] for r in out}
    assert buckets[0] == 16 and buckets[1] == 16 and buckets[2] == 32
    assert buckets[3] == 64 and buckets[4] == 64 and buckets[5] == 128
    assert buckets[6] == 128 and buckets[7] == 128  # clamped to the top rung
    # capacity: floor(128 / bucket_len) sequences per batch
    from collections import Counter

    per_batch = Counter((r["bucket_len"], r["batch_id"]) for r in out)
    for (blen, _), n in per_batch.items():
        assert n <= max(128 // blen, 1)
    # padding: bucket - tok, floored at 0 for clamped docs
    for r in out:
        tok = dict((row["id"], row["tok"]) for row in out)[r["id"]]
        assert r["padded"] == max(r["bucket_len"] - tok, 0)


def test_length_buckets_fill_before_opening_new_batch(spark):
    # 10 docs of 30 tokens -> bucket 32, cap = floor(128/32) = 4
    # -> batches of 4, 4, 2
    df = spark.createDataFrame([Row(id=i, tok=30) for i in range(10)])
    out = length_bucket_batches(
        df, "id", "tok", batch_tokens=128, min_bucket=16, max_bucket=128,
        num_shards=1, shard_col=F.lit(0),
    ).collect()
    from collections import Counter

    sizes = sorted(Counter(r["batch_id"] for r in out).values(), reverse=True)
    assert sizes == [4, 4, 2]


def test_length_buckets_assignment_is_partition_invariant(spark):
    df = spark.createDataFrame([Row(id=i, tok=10 + i % 50) for i in range(200)])
    a = length_bucket_batches(df.repartition(1), "id", "tok", batch_tokens=256)
    b = length_bucket_batches(df.repartition(7), "id", "tok", batch_tokens=256)
    cols = ["id", "bucket_len", "shard", "batch_id", "padded"]
    assert sorted(map(tuple, a.select(cols).collect())) == sorted(
        map(tuple, b.select(cols).collect())
    )


# ----------------------------------------------------------------- letterbox

def test_letterbox_pads_tile_target_exactly(spark):
    df = spark.createDataFrame(
        [Row(media_id=1, width=640, height=480),
         Row(media_id=2, width=100, height=900),
         Row(media_id=3, width=224, height=224),
         Row(media_id=4, width=1, height=3000)]
    )
    for r in letterbox_geometry(df, 224, 224).collect():
        assert r["out_w"] + r["pad_left"] + r["pad_right"] == 224
        assert r["out_h"] + r["pad_top"] + r["pad_bottom"] == 224
        assert r["out_w"] >= 1 and r["out_h"] >= 1
        # the binding dimension scales to (nearly) the full target
        assert max(r["out_w"], r["out_h"]) >= 223


def test_letterbox_preserves_aspect_ratio(spark):
    df = spark.createDataFrame([Row(media_id=1, width=400, height=200)])
    r = letterbox_geometry(df, 224, 224).collect()[0]
    assert r["out_w"] == 224 and r["out_h"] == 112
    assert r["pad_top"] == 56 and r["pad_bottom"] == 56
    assert r["pad_left"] == 0 and r["pad_right"] == 0


# --------------------------------------------------------- HLL set algebra

def test_sketch_overlap_estimates_track_exact_sets(spark):
    from parquet_rewriter_spark.operators.distinct_sketch import sketch_overlap

    rows = (
        [Row(g="a", v=i) for i in range(0, 300)]
        + [Row(g="b", v=i) for i in range(200, 500)]   # |a∩b| = 100
        + [Row(g="c", v=i) for i in range(450, 460)]   # |b∩c| = 10, |a∩c| = 0
    )
    df = spark.createDataFrame(rows)
    got = {(r["group_a"], r["group_b"]): r for r in sketch_overlap(df, "g", "v").collect()}
    exact = {("a", "b"): (300, 300, 500, 100),
             ("a", "c"): (300, 10, 310, 0),
             ("b", "c"): (300, 10, 300, 10)}
    for pair, (ea, eb, eu, ei) in exact.items():
        r = got[pair]
        assert abs(r["est_a"] - ea) <= max(0.05 * ea, 2)
        assert abs(r["est_b"] - eb) <= max(0.05 * eb, 2)
        assert abs(r["est_union"] - eu) <= max(0.05 * eu, 2)
        assert abs(r["est_inter"] - ei) <= max(0.10 * ei, 5)


# ------------------------------------------------------------------- IVF-PQ

def test_ivfpq_recall_tracks_exact_and_prunes_cells(spark, sf_dir):
    import numpy as np

    from parquet_rewriter_spark.operators.similarity import (
        ann_ivfpq_topk,
        cosine_topk,
        ivf_assign,
        kmeans_centroids,
    )
    from parquet_rewriter_spark.sources.readers import load_table

    e = load_table(spark, sf_dir, "embeddings")
    qv = [float(x) for x in
          e.filter(F.col("vec_id") == 0).select("embedding").first()[0]]
    exact = {r["id"] for r in cosine_topk(e, "vec_id", "embedding", qv, k=10).collect()}
    got = ann_ivfpq_topk(e, "vec_id", "embedding", qv, k=10,
                         n_centroids=8, n_probe=4, m=8, n_codes=16,
                         rerank=60).collect()
    assert len(got) == 10
    recall = len({r["id"] for r in got} & exact) / 10
    assert recall >= 0.5, recall  # half the cells probed, PQ-coarse candidates
    # cell pruning actually restricts the scan: probed cells hold fewer
    # rows than the table
    C = kmeans_centroids(e, "embedding", n_centroids=8)
    q = np.asarray(qv); q = q / np.linalg.norm(q)
    probe = set(np.argsort(-(C @ q))[:4].tolist())
    n_probed = (ivf_assign(e, "embedding", C)
                .filter(F.col("centroid_id").isin(list(probe))).count())
    assert n_probed < e.count()


def test_ivfpq_rerank_improves_or_ties_raw_adc(spark, sf_dir):
    from parquet_rewriter_spark.operators.similarity import (
        ann_ivfpq_topk,
        cosine_topk,
    )
    from parquet_rewriter_spark.sources.readers import load_table

    e = load_table(spark, sf_dir, "embeddings")
    qv = [float(x) for x in
          e.filter(F.col("vec_id") == 0).select("embedding").first()[0]]
    exact = {r["id"] for r in cosine_topk(e, "vec_id", "embedding", qv, k=10).collect()}
    small = {r["id"] for r in
             ann_ivfpq_topk(e, "vec_id", "embedding", qv, k=10, n_centroids=8,
                            n_probe=4, m=8, n_codes=16, rerank=10).collect()}
    big = {r["id"] for r in
           ann_ivfpq_topk(e, "vec_id", "embedding", qv, k=10, n_centroids=8,
                          n_probe=4, m=8, n_codes=16, rerank=120).collect()}
    assert len(big & exact) >= len(small & exact)


# ----------------------------------------------------------- IVF-PQ index

@pytest.fixture(scope="module")
def pq_index(spark, sf_dir, tmp_path_factory):
    from parquet_rewriter_spark.operators.ann_index import IVFVectorIndex
    from parquet_rewriter_spark.sources.readers import load_table

    e = load_table(spark, sf_dir, "embeddings")
    return IVFVectorIndex.create(
        spark, str(tmp_path_factory.mktemp("ivfpq")), e,
        n_cells=8, max_records_per_file=128, pq_m=8, pq_n_codes=16,
    ), e


def test_pq_index_topk_matches_exact_within_probed_cells(spark, pq_index):
    idx, e = pq_index
    qv = [float(x) for x in
          e.filter(F.col("vec_id") == 0).select("embedding").first()[0]]
    plain = [r["id"] for r in idx.topk(qv, k=10, n_probe=8).collect()]
    via_pq = [r["id"] for r in
              idx.topk(qv, k=10, n_probe=8, via_pq=True, rerank=200).collect()]
    # full probe + generous rerank: the PQ path must converge to the
    # exact in-index ranking (ADC only selects the rerank shortlist)
    assert via_pq == plain


def test_pq_scoring_scan_reads_codes_not_vectors(spark, pq_index):
    from parquet_rewriter_spark.plans import plan_of

    idx, e = pq_index
    qv = [float(x) for x in
          e.filter(F.col("vec_id") == 0).select("embedding").first()[0]]
    df = idx.topk(qv, k=5, n_probe=2, via_pq=True, rerank=20)
    # the final plan is only the rerank (the ADC shortlist already
    # materialized driver-side); the byte claim lives in the SHORTLIST
    # plan: rebuild it the way topk does and pin its ReadSchema
    import numpy as np
    from pyspark.sql import functions as FF

    C = idx.centroids
    q = np.asarray(qv); q = q / np.linalg.norm(q)
    from parquet_rewriter_spark.operators.ann_index import CELL_BASE

    cells = np.argsort(-(C @ q))[:2].tolist()
    cand = idx.table.read_range(cells[0] * CELL_BASE, (cells[0] + 1) * CELL_BASE - 1)
    scan = plan_of(cand.select("vec_id", "pq_code"))
    schemas = [ln for ln in scan.splitlines() if "ReadSchema" in ln]
    assert schemas and all("pq_code" in ln for ln in schemas)
    assert all("embedding" not in ln for ln in schemas)
    assert df.count() == 5


def test_pq_index_add_maintains_codes_and_rebalance_keeps_them(spark, pq_index):
    import numpy as np

    idx, e = pq_index
    new = e.limit(5).select(
        (F.col("vec_id") + 50_000).alias("vec_id"), "embedding", "label"
    )
    idx.add(new.select("vec_id", "embedding"))
    rows = idx.table.read().filter(F.col("vec_id") >= 50_000).collect()
    assert len(rows) == 5 and all(r["pq_code"] is not None for r in rows)
    # codes of added rows equal a fresh encode under the frozen books
    from parquet_rewriter_spark.operators.similarity import pq_encode

    books = idx._pq_books()
    fresh = {r["vec_id"]: list(r["pq_code"]) for r in
             pq_encode(new, "embedding", books).collect()}
    for r in rows:
        assert list(r["pq_code"]) == fresh[r["vec_id"]]
    # rebalance a hot cell: moved rows keep their codes, books survive
    before = {r["vec_id"]: list(r["pq_code"]) for r in idx.table.read().collect()}
    idx.rebalance(max_vectors_per_cell=40)
    assert idx._pq_books() is not None
    after = {r["vec_id"]: list(r["pq_code"]) for r in idx.table.read().collect()}
    assert after == before


# ---------------------------------------------------------------------- DSIR

def _doc_df(spark, texts, langs=None):
    langs = langs or ["x"] * len(texts)
    return spark.createDataFrame(
        [Row(doc_id=i, text=t, lang=l) for i, (t, l) in enumerate(zip(texts, langs))]
    )


def test_dsir_ngram_rows_unigrams_and_bigrams(spark):
    from parquet_rewriter_spark.operators.dsir import _ngram_rows

    df = _doc_df(spark, ["a b  c", "solo"])
    got = sorted((r["id"], r["ng"]) for r in _ngram_rows(df, "doc_id", "text").collect())
    assert got == sorted(
        [(0, "a"), (0, "b"), (0, "c"), (0, "a b"), (0, "b c"), (1, "solo")]
    )


def test_dsir_bucket_ratios_full_coverage_and_conservation(spark):
    from parquet_rewriter_spark.operators.dsir import dsir_bucket_ratios

    df = _doc_df(spark, ["cat sat", "dog ran far"], langs=["t", "r"])
    lam = dsir_bucket_ratios(
        df, "text", F.col("lang") == "t", n_buckets=32, alpha=1.0
    ).collect()
    assert len(lam) == 32  # every bucket present, seen or not
    # occurrences: doc0 has 2 unigrams + 1 bigram, doc1 has 3 + 2
    assert sum(r["raw_cnt"] for r in lam) == 8
    assert sum(r["tgt_cnt"] for r in lam) == 3
    assert all(math.isfinite(r["log_ratio"]) for r in lam)  # smoothing


def test_dsir_weights_favor_target_like_docs(spark):
    from parquet_rewriter_spark.operators.dsir import dsir_log_weights

    # two disjoint vocabularies; target slice speaks only vocab A
    a = ["alpha beta gamma delta", "beta gamma alpha beta"]
    b = ["omega psi chi phi", "psi phi omega chi psi"]
    df = _doc_df(spark, a + b, langs=["t", "t", "r", "r"])
    w = {r["doc_id"]: r["log_weight"]
         for r in dsir_log_weights(df, "doc_id", "text",
                                   F.col("lang") == "t", n_buckets=64).collect()}
    assert min(w[0], w[1]) > max(w[2], w[3])


def test_dsir_resample_deterministic_and_plan_clean(spark, sf_dir):
    from parquet_rewriter_spark.operators.dsir import dsir_resample
    from parquet_rewriter_spark.plans import plan_of
    from parquet_rewriter_spark.sources.readers import load_table

    d = load_table(spark, sf_dir, "documents")
    q = dsir_resample(d, "doc_id", "text", F.col("lang") == "en",
                      k=5, n_buckets=64)
    plan = plan_of(q)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # B-row lambda relation broadcast
    assert "TakeOrderedAndProject" in plan  # top-k heap, no global sort
    assert [tuple(r) for r in q.collect()] == [tuple(r) for r in q.collect()]


# ----------------------------------------------------------------------- BPE

def test_bpe_train_textbook_example(spark):
    from parquet_rewriter_spark.operators.bpe import bpe_train

    docs = _doc_df(spark, ["low lower lowest low low", "newer newest new low"])
    rules, vocab = bpe_train(docs, "text", n_merges=4)
    got = [(r["step"], r["lhs"], r["rhs"], r["merged"], r["pair_count"]) for r in rules]
    # 'l o' and 'lo w' both appear 6x ('low' x4 + lower + lowest);
    # lexicographic tie-break picks 'l o' first, then 'lo w' merges,
    # then whole-word 'low</w>' (4x), then 'e w' (newer/newest/new)
    assert got == [
        (1, "l", "o", "lo", 6),
        (2, "lo", "w", "low", 6),
        (3, "low", "</w>", "low</w>", 4),
        (4, "e", "w", "ew", 3),
    ]
    syms = {r["word"]: r["sym"] for r in vocab.collect()}
    assert syms["low"] == " low</w> "          # fully merged
    assert syms["lower"] == " low e r </w> "   # prefix merged, tail chars


def test_bpe_replace_overlap_semantics_match_duckdb(spark):
    import duckdb

    # greedy left-to-right non-overlapping replace: ' a a a ' with one
    # ' a a '->' aa ' pass leaves the third 'a' unmerged in BOTH engines
    s = spark.range(1).select(
        F.replace(F.lit(" a a a "), F.lit(" a a "), F.lit(" aa ")).alias("r")
    ).first()["r"]
    d = duckdb.connect().execute(
        "SELECT replace(' a a a ', ' a a ', ' aa ')").fetchone()[0]
    assert s == d == " aa a "


def test_bpe_fertility_by_group(spark):
    from parquet_rewriter_spark.operators.bpe import bpe_train, fertility_by

    docs = _doc_df(spark, ["low low low low", "lowest newer"], langs=["a", "b"])
    rules, vocab = bpe_train(docs, "text", n_merges=3)
    f = {r["lang"]: (r["n_words"], r["n_tokens"], r["fertility"])
         for r in fertility_by(docs, "text", "lang", vocab).collect()}
    # merges: 'l o'(5), 'lo w'(5), 'low</w>'(4) -> 'low' = 1 token;
    # 'lowest' = low+e+s+t+</w> = 5, 'newer' = n+e+w+e+r+</w> = 6
    assert f["a"] == (4, 4, 1.0)
    assert f["b"] == (2, 11, 5.5)


def test_bpe_tiebreak_total_order(spark):
    from parquet_rewriter_spark.operators.bpe import bpe_train

    # x and y tie at 3 whole-word occurrences each: the (count DESC,
    # lhs, rhs) total order must pick 'x </w>' before 'y </w>' —
    # the determinism the SQL replay depends on
    docs = _doc_df(spark, ["x y x y", "x y"])
    rules, vocab = bpe_train(docs, "text", n_merges=2)
    got = [(r["lhs"], r["rhs"], r["pair_count"]) for r in rules]
    assert got == [("x", "</w>", 3), ("y", "</w>", 3)]


# ------------------------------------------------------------ streaming DSIR

def test_stream_score_dsir_multibatch_equals_batch(spark, sf_dir, tmp_path):
    import os

    from parquet_rewriter_spark.operators.dsir import (
        dsir_bucket_ratios,
        dsir_score_with_ratios,
    )
    from parquet_rewriter_spark.sources.readers import load_table
    from parquet_rewriter_spark.streaming.ops import stream_score_dsir

    B = 64
    d = load_table(spark, sf_dir, "documents")
    lam = dsir_bucket_ratios(d, "text", F.col("lang") == "en", n_buckets=B)
    # multi-file source dir -> maxFilesPerTrigger=1 forces 3 epochs
    src = str(tmp_path / "src")
    d.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(d.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    stream_score_dsir(stream, lam, B, sink, ckpt, keep_cols=("lang",))
    got = spark.read.parquet(sink)
    assert got.select("_epoch").distinct().count() >= 3
    want = dsir_score_with_ratios(d, "doc_id", "text", lam, B)
    g = {r["doc_id"]: (r["n_ngrams"], round(r["log_weight"], 6))
         for r in got.collect()}
    w = {r["doc_id"]: (r["n_ngrams"], round(r["log_weight"], 6))
         for r in want.collect()}
    assert g == w  # every doc scored once, identically to batch


def test_bpe_encode_docs_hand_example(spark):
    from parquet_rewriter_spark.operators.bpe import (
        bpe_train,
        encode_docs,
        symbol_vocab,
    )

    docs = _doc_df(spark, ["low low lowest"])
    rules, vocab = bpe_train(docs, "text", n_merges=3)
    # merges: 'l o'(3), 'lo w'(3), 'low </w>'(2) -> symbols:
    # low</w>, low, e, s, t, </w>
    sid = {r["symbol"]: r["token_id"] for r in symbol_vocab(vocab).collect()}
    assert set(sid) == {"low</w>", "low", "e", "s", "t", "</w>"}
    out = encode_docs(docs, "doc_id", "text", vocab).collect()[0]
    want = [sid["low</w>"], sid["low</w>"],
            sid["low"], sid["e"], sid["s"], sid["t"], sid["</w>"]]
    assert list(out["input_ids"]) == want and out["n_tokens"] == 7


def test_bpe_encode_token_counts_match_fertility(spark, sf_dir):
    from parquet_rewriter_spark.operators.bpe import (
        bpe_train,
        encode_docs,
        fertility_by,
    )
    from parquet_rewriter_spark.sources.readers import load_table

    d = load_table(spark, sf_dir, "documents").limit(40)
    rules, vocab = bpe_train(d, "text", n_merges=4)
    enc_total = encode_docs(d, "doc_id", "text", vocab).agg(
        F.sum("n_tokens")
    ).first()[0]
    fert_total = fertility_by(d, "text", "lang", vocab).agg(
        F.sum("n_tokens")
    ).first()[0]
    assert enc_total == fert_total  # two independent paths, one count
