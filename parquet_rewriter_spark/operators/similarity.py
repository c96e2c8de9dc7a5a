"""Similarity search over embedding columns (array<float>).

Two paths (SURVEY.md §2.2 LLM-pipeline table):
- brute-force cosine top-k — the exact baseline; one pass over the
  table, TakeOrderedAndProject top-k (per-partition heap + k-row driver
  merge), never a full sort;
- LSH-bucketed ANN (random hyperplane signatures) — the scale path:
  probe only vectors sharing the query's bucket (plus multi-probe
  neighbors), so the scan is |bucket| not |table|.

Hyperplanes are generated with a fixed numpy seed → deterministic
bucketing, reproducible results.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from parquet_rewriter_spark.functions.vector import as_double, cosine, dot
from parquet_rewriter_spark.operators.util import persist


def cosine_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec: list[float],
    k: int = 10,
) -> DataFrame:
    """Exact top-k by cosine to a literal query vector.
    Returns (id, cos_sim) ordered by (cos_sim desc, id)."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    sim = cosine(as_double(vec_col), q)
    return (
        df.select(F.col(id_col).alias("id"), F.round(sim, 4).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("id"))
        .limit(k)
    )


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    return np.random.RandomState(seed).standard_normal((n_planes, dim))


def _bucket_expr(vec_col, planes: np.ndarray):
    """LSH bucket id = sign-bit string of <v, plane_i> — built-in
    expressions only (one dot per plane over the double array)."""
    bits = []
    for p in planes:
        plane = F.array(*[F.lit(float(x)) for x in p])
        bits.append(F.when(dot(vec_col, plane) >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def add_lsh_bucket(
    df: DataFrame, vec_col: str, dim: int, n_planes: int = 8, seed: int = 42
) -> DataFrame:
    planes = hyperplanes(dim, n_planes, seed)
    return df.withColumn("bucket", _bucket_expr(as_double(vec_col), planes))


def ann_lsh_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec: list[float],
    k: int = 10,
    dim: int | None = None,
    n_planes: int = 8,
    seed: int = 42,
    multiprobe_hamming: int = 1,
) -> DataFrame:
    """Approximate top-k: scan only vectors whose LSH bucket is within
    ``multiprobe_hamming`` bit flips of the query's bucket. At 100 TB
    the table is written bucket-partitioned so this becomes partition
    pruning — the scan reads |probed buckets| / 2^n_planes of the data.
    Returns (id, cos_sim)."""
    dim = dim or len(query_vec)
    planes = hyperplanes(dim, n_planes, seed)
    qv = np.asarray(query_vec, dtype=np.float64)
    qbits = "".join("1" if float(qv @ p) >= 0 else "0" for p in planes)
    probe = {qbits}
    if multiprobe_hamming >= 1:
        for i in range(n_planes):
            flipped = qbits[:i] + ("0" if qbits[i] == "1" else "1") + qbits[i + 1:]
            probe.add(flipped)
    bucketed = add_lsh_bucket(df, vec_col, dim, n_planes, seed)
    cand = bucketed.filter(F.col("bucket").isin(sorted(probe)))
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    sim = cosine(as_double(vec_col), q)
    return (
        cand.select(F.col(id_col).alias("id"), F.round(sim, 4).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("id"))
        .limit(k)
    )


def kmeans_centroids(
    df: DataFrame,
    vec_col: str,
    n_centroids: int = 16,
    iters: int = 5,
    sample_rows: int = 10_000,
    seed: int = 42,
) -> np.ndarray:
    """Spherical k-means centroids for an IVF index, trained driver-side
    on a bounded sample (``sample_rows`` × dim floats — the only data
    that ever reaches the driver; at 100 TB this is still a few MB).
    Deterministic: fixed seed, fixed sample order. Returns row-normalized
    centroids (n_centroids × dim)."""
    rows = df.select(as_double(vec_col).alias("v")).limit(sample_rows).collect()
    X = np.asarray([r["v"] for r in rows], dtype=np.float64)
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.RandomState(seed)
    C = X[rng.choice(len(X), size=min(n_centroids, len(X)), replace=False)]
    for _ in range(iters):
        assign = np.argmax(X @ C.T, axis=1)
        for c in range(len(C)):
            members = X[assign == c]
            if len(members):
                C[c] = members.mean(axis=0)
        C = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    return C


def kmeans_refine_distributed(
    df: DataFrame,
    vec_col: str,
    centroids: np.ndarray,
    iters: int = 3,
) -> np.ndarray:
    """Distributed Lloyd refinement of spherical k-means centroids —
    the 100 TB upgrade over :func:`kmeans_centroids`' bounded-sample
    training: every iteration assigns the FULL table (the Arrow-batched
    argmax matmul of :func:`ivf_assign`) and re-centroids with one hash
    aggregate over (centroid, dimension) cells; the only data reaching
    the driver per iteration is the k×dim centroid matrix itself (a few
    KB). Sample-trained centroids misplace cells when the sample misses
    a mode; refined centroids equalize cell populations, which is
    exactly what bounds IVF probe cost.

    Plan per iteration: one narrow pandas-UDF stage + posexplode (each
    row fans out to dim cells with map-side partial aggregation) + one
    shuffle capped at k·dim rows. Sums are spherical (rows L2-normalized
    first, matching the driver-side trainer), empty cells keep their
    previous centroid. Deterministic up to float summation order."""
    C = np.asarray(centroids, dtype=np.float64)
    k = len(C)
    v = as_double(vec_col)
    norm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    unit = F.transform(v, lambda x: x / F.greatest(norm, F.lit(1e-12)))
    base = df.select(unit.alias("__u"))
    if iters > 1:
        base = persist(base)  # every iteration rescans the normalized vectors
    for _ in range(iters):
        assigned = ivf_assign(base, "__u", C)
        cells = (
            assigned.select(
                "centroid_id", F.posexplode(F.col("__u")).alias("i", "x")
            )
            .groupBy("centroid_id", "i")
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        newC = C.copy()
        counts = np.zeros(k)
        for r in cells:
            newC[r["centroid_id"], r["i"]] = r["s"]
            counts[r["centroid_id"]] = r["n"]
        for c in range(k):
            if counts[c] == 0:
                newC[c] = C[c]  # empty cell: keep previous centroid
            else:
                newC[c] /= counts[c]
        C = newC / np.maximum(np.linalg.norm(newC, axis=1, keepdims=True), 1e-12)
    if iters > 1:
        base.unpersist()
    return C


def ivf_assign(df: DataFrame, vec_col: str, centroids: np.ndarray) -> DataFrame:
    """Adds ``centroid_id`` = argmax-cosine centroid per row, via an
    Arrow-batched pandas UDF (one numpy matmul per batch — the
    vectorized path; per-row built-in exprs would be O(n_centroids)
    expression trees). Executors receive the centroid matrix inside the
    serialized UDF closure (a broadcast-sized constant)."""
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype=np.float64)

    @pandas_udf("int")
    def assign(vs: pd.Series) -> pd.Series:
        X = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        return pd.Series(np.argmax(X @ C.T, axis=1).astype("int32"))

    return df.withColumn("centroid_id", assign(as_double(vec_col)))


def ann_ivf_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec: list[float],
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    iters: int = 5,
    seed: int = 42,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF approximate top-k: assign vectors to k-means cells, probe the
    ``n_probe`` cells nearest the query, brute-force only inside them —
    the scan is ~n_probe/n_centroids of the table. At 100 TB the table
    is written partitioned by ``centroid_id`` (precomputed once via
    ivf_assign), so probing becomes partition pruning and the per-query
    cost is |probed cells|. Returns (id, cos_sim)."""
    C = centroids if centroids is not None else kmeans_centroids(
        df, vec_col, n_centroids=n_centroids, iters=iters, seed=seed
    )
    qv = np.asarray(query_vec, dtype=np.float64)
    qv = qv / max(np.linalg.norm(qv), 1e-12)
    probe = np.argsort(-(C @ qv))[: min(n_probe, len(C))].tolist()
    cand = ivf_assign(df, vec_col, C).filter(F.col("centroid_id").isin(probe))
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    sim = cosine(as_double(vec_col), q)
    return (
        cand.select(F.col(id_col).alias("id"), F.round(sim, 4).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("id"))
        .limit(k)
    )


def ann_ivfpq_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec: list[float],
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 4,
    n_codes: int = 16,
    rerank: int = 50,
    seed: int = 42,
    centroids: np.ndarray | None = None,
    codebooks: np.ndarray | None = None,
) -> DataFrame:
    """IVF-PQ composite ANN — the canonical large-corpus retrieval
    stack (FAISS ``IVFx,PQy``): IVF cells prune ROWS (probe n_probe of
    n_centroids cells — at rest the table is partitioned by
    ``centroid_id``, so this is partition pruning), PQ codes shrink
    BYTES PER ROW inside the probed cells (m bytes instead of 4·dim),
    ADC table-lookup scores the survivors, and an exact rerank of the
    top ``rerank`` candidates restores float precision for the final
    ``k``. The two approximations compose independently: IVF bounds
    what is SCANNED, PQ bounds what is READ per scanned row — which is
    exactly the knob pair a 100 TB vector store tunes.

    Both models train driver-side on bounded samples (k·dim and
    m·n_codes·(dim/m) floats — KB-scale closures). Returns (id,
    cos_sim) with cos_sim from the exact rerank."""
    from pyspark.sql.functions import pandas_udf

    C = centroids if centroids is not None else kmeans_centroids(
        df, vec_col, n_centroids=n_centroids, seed=seed
    )
    B = codebooks if codebooks is not None else pq_train_codebooks(
        df, vec_col, m=m, n_codes=n_codes, seed=seed
    )
    qv = np.asarray(query_vec, dtype=np.float64)
    qv = qv / max(np.linalg.norm(qv), 1e-12)
    probe = np.argsort(-(C @ qv))[: min(n_probe, len(C))].tolist()
    cells = ivf_assign(df, vec_col, C).filter(F.col("centroid_id").isin(probe))

    mm, n_codes_b, sub = B.shape
    dtable = np.stack([B[j] @ qv[j * sub : (j + 1) * sub] for j in range(mm)])

    @pandas_udf("double")
    def adc_score(codes: pd.Series) -> pd.Series:
        Cc = np.stack([np.asarray(c, dtype=np.int64) for c in codes])
        return pd.Series(dtable[np.arange(mm)[None, :], Cc].sum(axis=1))

    enc = pq_encode(cells, vec_col, B)
    cand = (
        enc.select(
            F.col(id_col).alias("id"),
            as_double(vec_col).alias("v"),
            F.round(adc_score("pq_code"), 4).alias("pq_sim"),
        )
        .orderBy(F.col("pq_sim").desc(), F.col("id"))
        .limit(max(k, rerank))
    )
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        cand.select("id", F.round(cosine(F.col("v"), q), 4).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("id"))
        .limit(k)
    )


def knn_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    vec_col: str,
    k: int = 5,
    chunk_rows: int = 4096,
) -> DataFrame:
    """EXACT kNN join: for each left vector, its k nearest right vectors
    by cosine — blocked matrix product (operators.blockmatrix), not a
    row-level crossJoin: one BLAS matmul + per-row heap per (left-part ×
    right-chunk) block, so only ~k(+rounding ties) rows per left per
    right-CHUNK reach the final rank, and the shuffle is rows ×
    chunk-count, never rows × rows. Exact kNN is inherently O(|L|·|R|)
    FLOPs; the sub-linear-scan path is knn_join_ivf.
    Returns (left_id, right_id, cos_sim, rank); rank ties break on
    rounded cos then neighbor id (engine-portable cutoff)."""
    from parquet_rewriter_spark.operators.blockmatrix import block_topk_join

    out = block_topk_join(left, right, left_id, right_id, vec_col, k, chunk_rows=chunk_rows)
    w = Window.partitionBy("lid").orderBy(F.col("cos_sim").desc(), F.col("rid"))
    out_right = right_id if right_id != left_id else f"{right_id}_nn"
    return (
        out.select("lid", "rid", F.round("raw_cos", 4).alias("cos_sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("lid").alias(left_id),
            F.col("rid").alias(out_right),
            "cos_sim",
            "rank",
        )
    )


def knn_join_ivf(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    vec_col: str,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    seed: int = 42,
) -> DataFrame:
    """APPROXIMATE kNN join via shared IVF cells — the bucketed scale
    path: train centroids once (bounded driver sample of the right
    side), assign RIGHT rows to their cell, duplicate LEFT rows to their
    ``n_probe`` nearest cells, equi-join on the cell id, per-left top-k.
    The join shuffles |L|·n_probe + |R| rows on the cell key — never
    |L|·|R| — and at rest the right side is written partitioned by
    ``centroid_id`` so probing is partition pruning. Recall vs the exact
    join is data-dependent (tested in test_llm_ops.py).
    Returns (left_id, right_id, cos_sim, rank)."""
    from pyspark.sql.functions import pandas_udf

    C = kmeans_centroids(right, vec_col, n_centroids=n_centroids, seed=seed)
    r = ivf_assign(
        right.select(F.col(right_id).alias("rid"), as_double(vec_col).alias("rv")), "rv", C
    )

    @pandas_udf("array<int>")
    def probe_cells(vs: pd.Series) -> pd.Series:
        X = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        order = np.argsort(-(X @ C.T), axis=1)[:, : min(n_probe, len(C))]
        return pd.Series(list(order.astype("int32")))

    l = left.select(F.col(left_id).alias("lid"), as_double(vec_col).alias("lv")).withColumn(
        "centroid_id", F.explode(probe_cells(F.col("lv")))
    )
    sim = cosine(F.col("lv"), F.col("rv"))
    w = Window.partitionBy("lid").orderBy(F.col("cos_sim").desc(), F.col("rid"))
    out_right = right_id if right_id != left_id else f"{right_id}_nn"
    return (
        l.join(r, "centroid_id")
        .select("lid", "rid", F.round(sim, 4).alias("cos_sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("lid").alias(left_id),
            F.col("rid").alias(out_right),
            "cos_sim",
            "rank",
        )
    )


# ---------------------------------------------------------------------------
# Product quantization (Jégou, Douze, Schmid — "Product Quantization for
# Nearest Neighbor Search", TPAMI 2011). Beyond-reference LLM-pipeline
# surface: compresses each d-dim float vector to m one-byte codes (d·4
# bytes → m bytes, 16× at d=16/m=4) while supporting approximate
# inner-product search directly on the codes via ADC (asymmetric
# distance computation: a per-query m×256 lookup table).
#
# Scale shape (100 TB of embeddings):
#  - codebooks are trained DRIVER-SIDE on a bounded sample (m · 256 · d
#    floats — KB-scale) and shipped to executors inside the UDF closure;
#  - encoding is one Arrow-batched matmul per sub-space per batch — a
#    pure projection, no shuffle; the codes column is what you persist;
#  - a query scans codes (m bytes/row instead of 4d), scores via table
#    lookup, and finishes with the same TakeOrderedAndProject top-k as
#    the exact path. Combine with IVF cells (partition pruning) for
#    sub-linear scans: IVF prunes *rows*, PQ shrinks *bytes per row*.
# ---------------------------------------------------------------------------


def pq_train_codebooks(
    df: DataFrame,
    vec_col: str,
    m: int = 4,
    n_codes: int = 16,
    iters: int = 8,
    sample_rows: int = 10_000,
    seed: int = 42,
) -> np.ndarray:
    """Train ``m`` sub-space codebooks of ``n_codes`` centroids each by
    plain (L2) k-means on a bounded driver-side sample of row-normalized
    vectors. Returns an (m, n_codes, d/m) float64 array. Deterministic:
    fixed seed + fixed sample order."""
    rows = df.select(as_double(vec_col).alias("v")).limit(sample_rows).collect()
    X = np.asarray([r["v"] for r in rows], dtype=np.float64)
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    d = X.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub = d // m
    rng = np.random.RandomState(seed)
    books = np.empty((m, n_codes, sub), dtype=np.float64)
    for j in range(m):
        S = X[:, j * sub : (j + 1) * sub]
        C = S[rng.choice(len(S), size=min(n_codes, len(S)), replace=False)]
        for _ in range(iters):
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            for c in range(len(C)):
                members = S[assign == c]
                if len(members):
                    C[c] = members.mean(axis=0)
        books[j, : len(C)] = C
        if len(C) < n_codes:  # degenerate tiny sample: pad by repetition
            books[j, len(C):] = C[0]
    return books


def pq_encode(df: DataFrame, vec_col: str, codebooks: np.ndarray) -> DataFrame:
    """Adds ``pq_code`` (array<tinyint>, length m): nearest sub-space
    centroid per block of the row-normalized vector. Arrow-batched —
    one (batch × n_codes) distance matmul per sub-space."""
    from pyspark.sql.functions import pandas_udf

    B = np.asarray(codebooks, dtype=np.float64)
    m, n_codes, sub = B.shape

    @pandas_udf("array<tinyint>")
    def encode(vs: pd.Series) -> pd.Series:
        X = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        codes = np.empty((len(X), m), dtype=np.int8)
        for j in range(m):
            S = X[:, j * sub : (j + 1) * sub]
            # ||s - c||² = ||s||² - 2s·c + ||c||²; ||s||² constant per row
            d2 = -2.0 * (S @ B[j].T) + (B[j] ** 2).sum(axis=1)[None, :]
            codes[:, j] = np.argmin(d2, axis=1).astype(np.int8)
        return pd.Series(list(codes))

    return df.withColumn("pq_code", encode(as_double(vec_col)))


def ann_pq_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec: list[float],
    k: int = 10,
    m: int = 4,
    n_codes: int = 16,
    rerank: int = 0,
    codebooks: np.ndarray | None = None,
    seed: int = 42,
) -> DataFrame:
    """PQ approximate top-k by inner product: encode the table (m bytes
    per row), score each row as the sum of per-sub-space ``query ·
    centroid[code]`` table lookups, take the top ``max(k, rerank)``
    by approximate score, then (if ``rerank`` > 0) re-score those few
    candidates exactly and return the exact-scored top ``k`` — the
    standard PQ + exact-rerank pipeline. Returns (id, cos_sim) with
    cos_sim from the APPROXIMATE score when rerank=0."""
    from pyspark.sql.functions import pandas_udf

    B = codebooks if codebooks is not None else pq_train_codebooks(
        df, vec_col, m=m, n_codes=n_codes, seed=seed
    )
    mm, n_codes_b, sub = B.shape
    qv = np.asarray(query_vec, dtype=np.float64)
    qv = qv / max(np.linalg.norm(qv), 1e-12)
    # ADC lookup table: dtable[j, c] = q_subj · codebook[j][c]
    dtable = np.stack(
        [B[j] @ qv[j * sub : (j + 1) * sub] for j in range(mm)]
    )  # (m, n_codes)

    @pandas_udf("double")
    def adc_score(codes: pd.Series) -> pd.Series:
        C = np.stack([np.asarray(c, dtype=np.int64) for c in codes])
        return pd.Series(dtable[np.arange(mm)[None, :], C].sum(axis=1))

    enc = pq_encode(df, vec_col, B)
    n_cand = max(k, rerank)
    cand = (
        enc.select(F.col(id_col).alias("id"), as_double(vec_col).alias("v"),
                   F.round(adc_score("pq_code"), 4).alias("pq_sim"))
        .orderBy(F.col("pq_sim").desc(), F.col("id"))
        .limit(n_cand)
    )
    if not rerank:
        return cand.select("id", F.col("pq_sim").alias("cos_sim"))
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        cand.select("id", F.round(cosine(F.col("v"), q), 4).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("id"))
        .limit(k)
    )
