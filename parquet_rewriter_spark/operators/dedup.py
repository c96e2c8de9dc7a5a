"""Deduplication operators for the LLM-data-pipeline surface: exact,
n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine near-dup
(SURVEY.md §2.2 LLM-pipeline table).

Scale design (100 TB): every operator here avoids the O(n²) all-pairs
join. Exact dedup is one hash shuffle. Jaccard pairs take a blocking
key. MinHash/LSH bucket by band signature so candidate generation is a
self-equi-join on the band key (shuffle on band key, pairs only within
buckets). SimHash buckets by hamming-prefix. Only candidate
verification touches full shingle sets.

MinHash math: sig_i(doc) = min over shingles s of h_i(s), with
h_i(s) = xxhash64(s, i) — Spark's built-in 64-bit hash family keyed by
seed column. P[sig_i(A) = sig_i(B)] = Jaccard(A, B); banding r rows ×
b bands gives the usual S-curve (Leskovec/Rajaraman/Ullman, Mining of
Massive Datasets ch.3).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window, functions as F

from parquet_rewriter_spark.functions.text import shingles as _shingles
from parquet_rewriter_spark.operators.util import persist

# Per-bucket member cap for LSH candidate self-joins (head/star split,
# _capped_bucket_pairs). 64 bounds any one bucket at ~2k matches + n hub
# edges while leaving buckets ≤64 with exact all-pairs semantics — on a
# real web corpus the mass-duplicate bucket is a certainty, and capping
# is the difference between O(n) and O(n²) in that bucket.
DEFAULT_BUCKET_CAP = 64


def exact_dedup(df: DataFrame, cols: Sequence[str], id_col: str) -> DataFrame:
    """Keep one row (lowest id) per distinct value of ``cols`` — the
    hash-groupBy exact dedup; one shuffle on the dedup key."""
    w = Window.partitionBy(*cols).orderBy(F.col(id_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    block_cols: Sequence[str] = (),
    shingle_n: int = 1,
) -> DataFrame:
    """All pairs with word-``shingle_n``-gram Jaccard >= threshold,
    restricted to equal ``block_cols`` (blocking keeps the join from
    going all-pairs; pass none only on small relations).

    Returns (id_a, id_b, jaccard) with id_a < id_b.
    """
    from parquet_rewriter_spark.operators.util import ensure_parallelism

    toks = ensure_parallelism(df).select(
        F.col(id_col).alias("id"),
        *[F.col(c).alias(f"b_{c}") for c in block_cols],
        _shingles(F.col(text_col), shingle_n).alias("s"),
    ).withColumn("ns", F.size("s"))
    a, b = toks.alias("a"), toks.alias("b")
    cond = F.col("a.id") < F.col("b.id")
    # size-ratio prefilter: J(A,B) >= t implies t·max(|A|,|B|) <= min —
    # evaluated on two ints before the O(|A|+|B|) set ops, it discards
    # length-mismatched pairs for pennies. On a length-HOMOGENEOUS
    # fixture it prunes little and costs ~10% (measured at sf0.1); on a
    # real corpus with heavy-tailed lengths it is the standard guard
    # that keeps a hot block from paying full quadratic set-op cost
    cond = cond & (F.col("a.ns") * threshold <= F.col("b.ns"))
    cond = cond & (F.col("b.ns") * threshold <= F.col("a.ns"))
    for c in block_cols:
        cond = cond & (F.col(f"a.b_{c}") == F.col(f"b.b_{c}"))
    inter = F.size(F.array_intersect(F.col("a.s"), F.col("b.s")))
    union = F.size(F.array_union(F.col("a.s"), F.col("b.s")))
    jac = inter.cast("double") / union
    return (
        a.join(b, cond)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(jac, 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _shingle_rows(df: DataFrame, id_col: str, text_col: str, shingle_n: int) -> DataFrame:
    """(id, sh) — one row per (document, shingle occurrence). The
    explode-based layout keeps everything downstream in whole-stage
    codegen: Spark's higher-order functions (transform/aggregate) are
    interpreted per-element, so min-hashing 48 seeds over array columns
    is 10×+ slower than hashing exploded rows inside a codegen'd
    partial aggregate.

    Shingle construction is lambda-free: ``arrays_zip`` of ``shingle_n``
    shifted slices of the token array (one vectorized array op instead
    of an interpreted per-element transform). arrays_zip pads the
    shorter shifted slices with null and concat_ws skips nulls, so a
    document shorter than ``shingle_n`` tokens naturally yields its
    whole text as the single shingle — same fallback as shingles().
    """
    tok = F.split(F.col(text_col), " ")
    k = F.greatest(F.size(tok) - (shingle_n - 1), F.lit(1))
    zipped = F.arrays_zip(*[F.slice(tok, i + 1, k) for i in range(shingle_n)])
    return df.select(F.col(id_col).alias("id"), F.explode(zipped).alias("z")).select(
        "id", F.concat_ws(" ", *[F.col("z")[str(i)] for i in range(shingle_n)]).alias("sh")
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 48,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, sig: array<long>[num_hashes]) — sig_i = min xxhash64(sh, i).

    Shape: explode shingles → groupBy(id) with one min-aggregate per
    seed. The 48 hash+min pairs run inside codegen with map-side
    partial aggregation, so the shuffle carries only 48 longs per doc
    (duplicate shingles don't affect a min, so no distinct needed).
    """
    sh = _shingle_rows(df, id_col, text_col, shingle_n)
    mins = [F.min(F.xxhash64("sh", F.lit(i))).alias(f"h{i}") for i in range(num_hashes)]
    return sh.groupBy("id").agg(*mins).select(
        "id", F.array(*[f"h{i}" for i in range(num_hashes)]).alias("sig")
    )


def _capped_bucket_pairs(
    exploded: DataFrame,
    bucket_cols: Sequence[str],
    cap: int,
    payload: Sequence[str] = (),
) -> DataFrame:
    """Bucket self-join with a per-bucket size cap — the guard against
    the LSH degenerate case: a corpus with n identical documents puts
    them all in ONE band bucket and a plain self-join materializes n²/2
    matches before any filter can run (the join condition is the bucket
    key, so the quadratic work happens inside the join itself).

    GUARDED, pay-as-you-go: a map-combined groupBy first counts bucket
    sizes (combiners collapse each bucket to one row — far cheaper
    than a window sort over the exploded relation) and keeps only the
    OVER-CAP bucket keys. A healthy corpus has none, and then the
    plain all-pairs self-join runs untouched — the default-on cap
    costs one lightweight aggregation job and nothing else. When hot
    buckets exist their keys are few by construction (each holds > cap
    members, so |hot| ≤ rows/cap), so a broadcast semi/anti join
    splits the relation without an extra shuffle; only the hot slice
    gets ranked: the first ``cap`` members pair all-with-all (full
    recall among them); members beyond the cap get a STAR edge to the
    bucket's first member instead of being dropped. Worst-case matches
    per oversized bucket: cap²/2 + n — and since near-dup consumers
    take pairs through connected components, a mass-duplicate cluster
    is still recovered whole via the star hub. Only pairs BOTH beyond
    the cap in every shared bucket are missed, and those remain
    transitively connected through the hub.

    Returns (id_a, id_b [, {c}_a, {c}_b per payload column]).
    """

    def _pairs(left: DataFrame, right: DataFrame) -> DataFrame:
        a, b = left.alias("a"), right.alias("b")
        cond = F.col("a.id") < F.col("b.id")
        for c in bucket_cols:
            cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
        return a.join(b, cond).select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            *[F.col(f"a.{c}").alias(f"{c}_a") for c in payload],
            *[F.col(f"b.{c}").alias(f"{c}_b") for c in payload],
        )

    hot_keys = persist(
        exploded.groupBy(*bucket_cols)
        .agg(F.count(F.lit(1)).alias("__bn"))
        .filter(F.col("__bn") > cap)
        .drop("__bn")
    )
    n_hot = hot_keys.count()
    if n_hot == 0:
        hot_keys.unpersist()
        return _pairs(exploded, exploded)
    # |hot| ≤ rows/cap; broadcast while that stays driver-small, fall
    # back to a shuffled split join on adversarial corpora
    joiner = F.broadcast(hot_keys) if n_hot <= 100_000 else hot_keys
    on = list(bucket_cols)
    cold = exploded.join(joiner, on=on, how="left_anti")
    hot = exploded.join(joiner, on=on, how="left_semi")

    w = Window.partitionBy(*bucket_cols).orderBy(F.col("id").asc())
    r = persist(hot.withColumn("__r", F.row_number().over(w)))
    head = r.filter(F.col("__r") <= cap)
    hub = r.filter(F.col("__r") == 1)
    tail = r.filter(F.col("__r") > cap)

    # hub.id is the bucket minimum (rank 1 by id), so hub < tail always
    # holds and the star branch loses nothing to the id ordering
    return (
        _pairs(cold, cold)
        .unionByName(_pairs(head, head))
        .unionByName(_pairs(hub, tail))
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    num_hashes: int = 48,
    bands: int = 16,
    shingle_n: int = 3,
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """Near-dup candidate pairs via banded MinHash LSH, verified with
    true Jaccard >= threshold. Returns (id_a, id_b, jaccard).

    ``bucket_cap`` guards against mass-duplicate corpora (n identical
    docs land in ONE band bucket → n²/2 join matches): see
    :func:`_capped_bucket_pairs` for the head/star split that bounds a
    bucket at cap²/2 + n matches while keeping every member reachable
    through the bucket hub. ON BY DEFAULT — at web-corpus scale a
    boilerplate page duplicated 10⁶ times is a certainty, and one such
    bucket is 5·10¹¹ join matches; buckets at or under the cap keep
    exact all-pairs semantics, so results only differ where the
    uncapped join would have blown up. Pass ``None`` for exact
    semantics on corpora known to be blowup-free.

    Pipeline: signatures → explode into ``bands`` band-keys → self-join
    on (band, band_sig) — candidates only meet inside a bucket, so the
    shuffle is on band keys, never all-pairs → distinct pairs → verify
    with exact shingle-set Jaccard.

    Band tuning: the S-curve midpoint is (1/bands)^(bands/num_hashes·…)
    ≈ (1/b)^(1/r); the 48/16 default (r=3) centers at ≈0.40 — candidates
    with Jaccard well below a 0.4-0.5 verify threshold mostly stay
    un-bucketed, so the verify join sees a small candidate set instead
    of all-pairs.
    """
    from parquet_rewriter_spark.operators.util import ensure_parallelism

    rows = num_hashes // bands
    src = ensure_parallelism(df)
    # hash each shingle string ONCE to 64 bits, then derive the
    # num_hashes family members by re-hashing the 8-byte value — the
    # string (15-30+ bytes) is digested once instead of num_hashes
    # times; xxhash64∘xxhash64 is still a uniform family, so the
    # min-sketch property is unchanged
    sh_rows = _shingle_rows(src, id_col, text_col, shingle_n).select(
        "id", F.xxhash64("sh").alias("sh64")
    )
    mins = [F.min(F.xxhash64("sh64", F.lit(i))).alias(f"h{i}") for i in range(num_hashes)]
    # signatures: num_hashes longs per doc — tiny relative to the corpus.
    # Persisted because both the bucketing branch and (via cand) the
    # verify branch hang off it; without the persist the whole
    # scan→shingle→agg pipeline runs once per consumer.
    sigs = persist(sh_rows.groupBy("id").agg(*mins))
    # band signature = one 64-bit hash of the band's r minhashes
    # (xxhash64 is variadic — no string concat, 8-byte shuffle key)
    banded = sigs.select(
        "id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(*[F.col(f"h{band * rows + r}") for r in range(rows)])
                    for band in range(bands)
                ]
            )
        ).alias("band", "band_sig"),
    )
    # Candidates: self-equi-join on (band, band_sig) — pairs only meet
    # inside a bucket, so the shuffle is on band keys, never all-pairs;
    # the join inputs re-derive from the persisted sigs, so banding is
    # recomputed from cache, not from the corpus.
    if bucket_cap is not None:
        raw = _capped_bucket_pairs(banded, ("band", "band_sig"), bucket_cap)
    else:
        a, b = banded.alias("a"), banded.alias("b")
        raw = a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.id") < F.col("b.id")),
        ).select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    # consumed twice (id side-table + verify join) — persist keeps
    # the bucket join from running twice
    cand = persist(raw.distinct())
    # Verify: exact Jaccard, but only for candidate docs — semi-join the
    # CORPUS down to candidates before shingling (the semi-join won't
    # push below the explode on its own), so both the explode and the
    # set materialization are O(candidates), not O(corpus). Sets hold
    # the 64-bit shingle hashes, not strings — array_intersect over
    # longs, and collisions at 64 bits are negligible.
    cand_ids = cand.select(F.col("id_a").alias("id")).union(
        cand.select(F.col("id_b").alias("id"))
    ).distinct()
    cand_docs = src.join(
        cand_ids.withColumnRenamed("id", id_col), id_col, "left_semi"
    )
    sets = (
        _shingle_rows(cand_docs, id_col, text_col, shingle_n)
        .groupBy("id")
        .agg(F.collect_set(F.xxhash64("sh")).alias("s"))
    )
    jac = (
        F.size(F.array_intersect(F.col("sa"), F.col("sb"))).cast("double")
        / F.size(F.array_union(F.col("sa"), F.col("sb")))
    )
    return (
        cand.join(sets.select(F.col("id").alias("id_a"), F.col("s").alias("sa")), "id_a")
        .join(sets.select(F.col("id").alias("id_b"), F.col("s").alias("sb")), "id_b")
        .select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_lsh_pairs_portable(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    num_hashes: int = 48,
    bands: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """:func:`minhash_lsh_pairs` with an ENGINE-PORTABLE hash family —
    the variant the correctness gate can replay end-to-end in SQL
    (signatures, band buckets, candidate set, verify — everything),
    upgrading MinHash from a rows-only check to a full hash-compared
    oracle. The production operator keeps xxhash64 (faster digests);
    this one pays ONE md5 per shingle occurrence and derives the
    num_hashes family members by Knuth multiplicative arithmetic on the
    31-bit base — identical expressible math in any ANSI engine:

        base  = md5_bridge(shingle) % 2^31
        h_i   = (base * 2654435761 + i + 1) % 2^32
        sig_i = min over shingles of h_i

    Same distributed shape as the production path: codegen'd exploded
    shingles → map-combining min aggregate (48 longs per doc on the
    shuffle) → band-key self-join (band key = '_'-joined minima, a
    string both engines render identically) → exact string-shingle
    Jaccard verify over the semi-join-pruned candidates.
    """
    from parquet_rewriter_spark.operators.countmin import portable_string_hash
    from parquet_rewriter_spark.operators.sampling import _KNUTH
    from parquet_rewriter_spark.operators.util import ensure_parallelism

    rows = num_hashes // bands
    src = ensure_parallelism(df)
    sh_rows = _shingle_rows(src, id_col, text_col, shingle_n)
    base = F.pmod(portable_string_hash(F.col("sh")), F.lit(2 ** 31))
    hashed = sh_rows.select("id", base.alias("b"))
    mins = [
        F.min(F.pmod(F.col("b") * F.lit(_KNUTH) + F.lit(i + 1), F.lit(2 ** 32))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    sigs = persist(hashed.groupBy("id").agg(*mins))
    banded = sigs.select(
        "id",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        "_",
                        *[F.col(f"h{band * rows + r}").cast("string") for r in range(rows)],
                    )
                    for band in range(bands)
                ]
            )
        ).alias("band", "band_key"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = persist(
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    cand_ids = cand.select(F.col("id_a").alias("id")).union(
        cand.select(F.col("id_b").alias("id"))
    ).distinct()
    cand_docs = src.join(
        cand_ids.withColumnRenamed("id", id_col), id_col, "left_semi"
    )
    # string shingle sets (portable across engines, unlike xxhash64 sets)
    sets = (
        _shingle_rows(cand_docs, id_col, text_col, shingle_n)
        .groupBy("id")
        .agg(F.collect_set("sh").alias("s"))
    )
    jac = (
        F.size(F.array_intersect(F.col("sa"), F.col("sb"))).cast("double")
        / F.size(F.array_union(F.col("sa"), F.col("sb")))
    )
    return (
        cand.join(sets.select(F.col("id").alias("id_a"), F.col("s").alias("sa")), "id_a")
        .join(sets.select(F.col("id").alias("id_b"), F.col("s").alias("sb")), "id_b")
        .select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def simhash_portable_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bits: int = 48,
    blocks: int = 4,
) -> DataFrame:
    """SimHash near-pairs with the ENGINE-PORTABLE hash family — the
    oracle-replayable twin of :func:`simhash_near_pairs` (same upgrade
    the portable MinHash got): token hashes come from the md5 bridge
    (low 60 hex-parsed bits; fingerprints use the low ``bits`` of it),
    so a SQL engine reproduces fingerprints, pigeonhole blocks,
    candidates, and Hamming distances bit-for-bit.

    Pigeonhole recall guarantee unchanged: with ``blocks`` >
    ``max_hamming``, any pair within the bound shares at least one
    intact block. Shape: exploded token rows → ``bits`` map-combining
    sign-vote aggregates (one shuffle on the doc id) → block-key
    self-join → popcount verify. Returns (id_a, id_b, hamming).
    """
    from parquet_rewriter_spark.operators.countmin import portable_string_hash
    from parquet_rewriter_spark.operators.util import ensure_parallelism

    assert bits % blocks == 0
    width = bits // blocks
    rows = ensure_parallelism(df).select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.col(text_col), " ")).alias("t"),
    )
    h = portable_string_hash(F.col("t"))
    votes = [
        F.sum(
            (F.shiftright(h, b).bitwiseAND(F.lit(1)) * 2 - 1).cast("long")
        ).alias(f"v{b}")
        for b in range(bits)
    ]
    per_doc = rows.groupBy("id").agg(*votes)
    fp = None
    for b in range(bits):
        term = F.when(
            F.col(f"v{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)
        ).otherwise(F.lit(0).cast("long"))
        fp = term if fp is None else fp.bitwiseOR(term)
    fps = persist(per_doc.select("id", fp.alias("fp")))
    mask = (1 << width) - 1
    blk = fps.select(
        "id",
        "fp",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("fp", k * width).bitwiseAND(F.lit(mask))
                    for k in range(blocks)
                ]
            )
        ).alias("blk", "bv"),
    )
    a, b2 = blk.alias("a"), blk.alias("b")
    ham = F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp")))
    return (
        a.join(
            b2,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            ham.cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 64) -> DataFrame:
    """(id, simhash: long) — 64-bit SimHash over word tokens.

    Charikar's scheme: each token hashes to 64 bits; bit b of the
    fingerprint is the sign of sum(±1 per token by token's bit b).
    Expressed as built-ins: token-hash array once, then per-bit
    aggregate — all codegen, no UDF.
    """
    from parquet_rewriter_spark.functions.text import tokens as _tokens
    from parquet_rewriter_spark.operators.util import ensure_parallelism

    # Materialize the token-hash array as a column so the 64 per-bit
    # aggregates share one computed array (same inlining hazard as
    # minhash_signatures).
    hashed = ensure_parallelism(df).select(
        F.col(id_col).alias("id"),
        F.transform(_tokens(F.col(text_col)), lambda t: F.xxhash64(t)).alias("h"),
    )

    def _vote(b: int):
        return lambda acc, h: acc + (F.shiftright(h, b).bitwiseAND(F.lit(1)) * 2 - 1).cast("int")

    bit_votes = [F.aggregate(F.col("h"), F.lit(0), _vote(b)) for b in range(bits)]
    fp = None
    for b, vote in enumerate(bit_votes):
        term = F.when(vote > 0, F.shiftleft(F.lit(1).cast("long"), b)).otherwise(F.lit(0).cast("long"))
        fp = term if fp is None else fp.bitwiseOR(term)
    return hashed.select("id", fp.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    n_blocks: int | None = None,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Pairs with SimHash hamming distance <= max_hamming — TOTAL recall
    by pigeonhole blocking (Manku/Jain/Sarma, WWW 2007): split the
    64-bit fingerprint into ``max_hamming + 1`` blocks; a pair differing
    in at most ``max_hamming`` bits can corrupt at most that many
    blocks, so AT LEAST ONE block matches exactly. Candidates therefore
    come from a self-equi-join on (block_idx, block_value) — every
    qualifying pair is guaranteed to be a candidate (no probabilistic
    prefix luck), and a random pair collides on a given block with
    probability 2^-(64/(h+1)). Each candidate is verified with the exact
    XOR popcount. Returns (id_a, id_b, hamming).

    Selectivity note: blocks get narrower as ``max_hamming`` grows
    (64/(h+1) bits); past h≈8 the blocks are so short that candidate
    mass approaches all-pairs — inherent to the guarantee, not a flaw.

    ``bucket_cap`` is OFF by default here — deliberately opposite to
    minhash_lsh_pairs. A full minhash band bucket implies its members
    are genuinely similar (they matched r minhashes), so hub edges
    preserve what matters; a full simhash BLOCK bucket mostly holds
    DISSIMILAR docs whenever blocks are narrow (width 64/(h+1) bits —
    at max_hamming=12 that is 4 bits, 16 buckets per block, every
    bucket huge), and capping there measurably drops true pairs (28%
    at h=12 on a 5k-doc corpus). Opt in only for mass-duplicate floods
    at small max_hamming, where wide blocks make over-cap buckets
    near-identical.
    """
    b = n_blocks or (max_hamming + 1)
    w = 64 // b
    fps = persist(simhash(df, id_col, text_col))
    block_vals = []
    for i in range(b):
        width = w if i < b - 1 else 64 - w * (b - 1)  # last block absorbs remainder
        mask = (1 << width) - 1 if width < 64 else -1
        block_vals.append(
            F.shiftrightunsigned("simhash", i * w).bitwiseAND(F.lit(mask))
        )
    exploded = fps.select(
        "id", "simhash", F.posexplode(F.array(*block_vals)).alias("blk", "val")
    )
    if bucket_cap is not None:
        # mass-duplicate guard — identical fingerprints share every
        # block bucket; see _capped_bucket_pairs for the head/star split
        raw = _capped_bucket_pairs(
            exploded, ("blk", "val"), bucket_cap, payload=("simhash",)
        )
        ham = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
        return (
            raw.select("id_a", "id_b", ham.alias("hamming"))
            .filter(F.col("hamming") <= max_hamming)
            .distinct()
        )
    a, bb = exploded.alias("a"), exploded.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            bb,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    chunk_rows: int = 4096,
) -> DataFrame:
    """EXACT pairs with cosine >= threshold, as a blocked matrix product
    (operators.blockmatrix) — no row-level cross join: each side is
    chunked, every (chunk, chunk) block is one BLAS matmul, shuffle is
    rows × chunk-count not rows × rows. Exact threshold search is
    inherently O(n²) FLOPs; measured on the fixtures the 0.45 threshold
    has ZERO margin (noise pairs at 0.449 vs matches at 0.452), so a
    candidate stage with total recall cannot prune — for HIGH thresholds
    where pruning does work, use embedding_near_dup_lsh.
    Returns (id_a, id_b, cos_sim) with id_a < id_b."""
    from parquet_rewriter_spark.operators.blockmatrix import block_self_pairs

    return block_self_pairs(df, id_col, vec_col, threshold, chunk_rows=chunk_rows)


def embedding_near_dup_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.8,
    target_recall: float = 0.95,
    rows_per_table: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """APPROXIMATE near-dup pairs via banded random-hyperplane LSH — the
    scale path for high thresholds. Candidates = pairs whose sign
    signatures collide in ANY of T tables of r hyperplanes (the same
    OR-of-ANDs banding as MinHash); each candidate is then verified with
    the exact cosine, so precision is total and recall ≈
    1-(1-p^r)^T with p = 1 - arccos(threshold)/π.

    (r, T) auto-tune from (threshold, target_recall): r is chosen so a
    NOISE pair (cos≈0, p=1/2) collides rarely (bucket selectivity 2^-r),
    then T is the smallest table count reaching target_recall at the
    threshold. Low thresholds make p→0.5 and T explode — that is the
    LSH impossibility, not an implementation limit; this function
    raises if the tuned plan would out-cost brute force.
    Returns (id_a, id_b, cos_sim)."""
    import math

    from parquet_rewriter_spark.functions.vector import as_double, cosine
    from parquet_rewriter_spark.operators.similarity import hyperplanes

    p = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    r = rows_per_table or 8
    t_tables = max(1, math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - p ** r)))
    # candidate mass ≈ T/2^r of all pairs (noise collision rate); if
    # that exceeds ~1, banding generates MORE work than brute force
    if t_tables / (2 ** r) >= 1.0:
        raise ValueError(
            f"LSH cannot reach recall {target_recall} at threshold {threshold} "
            f"without exceeding brute-force cost (needs {t_tables} tables of {r} planes); "
            "use embedding_near_dup_pairs (exact blocked matmul) instead"
        )
    # probe the vector dim lazily from one row? — caller data defines it;
    # hyperplanes need dim: take it from the first row (bounded action).
    dim = len(df.select(as_double(vec_col).alias("v")).first()["v"])
    planes = hyperplanes(dim, r * t_tables, seed)

    from parquet_rewriter_spark.functions.vector import dot as _dot

    v = df.select(F.col(id_col).alias("id"), as_double(vec_col).alias("v"))
    # per table: r sign bits → one long key; explode to (table, sig)
    sigs = []
    for t in range(t_tables):
        bits = []
        for b in range(r):
            plane = F.array(*[F.lit(float(x)) for x in planes[t * r + b]])
            bits.append(
                F.shiftleft(
                    F.when(_dot(F.col("v"), plane) >= 0, F.lit(1).cast("long")).otherwise(
                        F.lit(0).cast("long")
                    ),
                    b,
                )
            )
        sig = bits[0]
        for x in bits[1:]:
            sig = sig.bitwiseOR(x)
        sigs.append(sig)
    v = persist(v)
    # band keys WITHOUT the vector payload — the T-way explode and the
    # bucket self-join shuffle 3 longs per row, not the embedding
    banded = v.select("id", F.posexplode(F.array(*sigs)).alias("table", "sig"))
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.table") == F.col("b.table"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    # verify: fetch vectors for candidates only
    cos = cosine(F.col("va"), F.col("vb"))
    return (
        cand.join(v.select(F.col("id").alias("id_a"), F.col("v").alias("va")), "id_a")
        .join(v.select(F.col("id").alias("id_b"), F.col("v").alias("vb")), "id_b")
        .select("id_a", "id_b", F.round(cos, 4).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    window: int = 4,
    use_hash: bool = True,
) -> DataFrame:
    """Rolling-hash document fingerprints by winnowing (Schleimer,
    Wilkerson & Aiken, SIGMOD 2003): hash every character k-gram, slide
    a window of ``window`` consecutive gram hashes, keep each window's
    minimum — a position-robust fingerprint set whose size is
    ~2/(window+1) of the gram count, guaranteed to share fingerprints
    with any document containing a common substring of length
    k + window - 1.

    Spark shape (all built-ins, one shuffle): explode gram positions
    with sequence() → substring at each position → min over a row-frame
    window per document → distinct. Returns (id, fp).

    ``use_hash=True`` selects by xxhash64 of the gram (the production
    selector — uniform, adversary-resistant). ``use_hash=False``
    selects the lexicographic-min gram string instead: same winnowing
    structure, but portable across engines (no shared hash function
    with DuckDB), so the oracled catalog entry uses it.
    """
    n_grams = F.greatest(F.length(text_col) - (k - 1), F.lit(1))
    grams = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.sequence(F.lit(1), n_grams)).alias("pos"),
        F.col(text_col).alias("__t"),
        n_grams.alias("__n"),
    ).select(
        "id",
        "pos",
        "__n",
        F.substring(F.col("__t"), F.col("pos"), F.lit(k)).alias("gram"),
    )
    val = F.xxhash64("gram") if use_hash else F.col("gram")
    w = Window.partitionBy("id").orderBy("pos").rowsBetween(0, window - 1)
    return (
        grams.select(
            "id",
            "pos",
            "__n",
            F.min(val).over(w).alias("fp"),
        )
        # only full windows (the last window-1 positions see truncated
        # frames); short docs (< window grams) keep their single window
        .filter(F.col("pos") <= F.greatest(F.col("__n") - (window - 1), F.lit(1)))
        .select("id", "fp")
        .distinct()
    )


def winnow_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    window: int = 4,
    min_shared: int = 3,
    use_hash: bool = True,
) -> DataFrame:
    """Near-dup pairs by shared winnowing fingerprints: docs sharing >=
    ``min_shared`` fingerprints, with the shared count. The join key is
    the fingerprint itself (shuffle on fp — pairs only meet inside an
    fp bucket, never all-pairs). Returns (id_a, id_b, shared_fps)."""
    fps = winnow_fingerprints(df, id_col, text_col, k, window, use_hash)
    a, b = fps.alias("a"), fps.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


def segment_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    words_per_segment: int = 10,
    sep: str = " ",
) -> DataFrame:
    """Corpus-wide SEGMENT-level exact dedup with document
    reconstruction — the C4/RefinedWeb "repeated paragraph removal"
    step. Real corpora segment on paragraph breaks; the fixture's texts
    are single-line, so the segment unit is a fixed window of
    ``words_per_segment`` consecutive words (pass a different splitter
    upstream for \\n\\n-delimited data — the dedup core is identical).

    A segment survives only at its FIRST corpus occurrence, ordered by
    (doc id, position) — deterministic and rerun-stable. Every doc comes
    back with its surviving segments re-joined in original order (docs
    whose every segment was seen earlier come back empty — candidates
    for dropping).

    Plan shape (the 100 TB story):
    - segmentation is pure codegen: split + slice/transform — no UDF,
      no shuffle;
    - first-occurrence = one row_number window partitioned BY SEGMENT
      TEXT (hash shuffle on the segment — the only corpus-sized
      shuffle; skew only if one segment repeats millions of times, in
      which case it is exactly the boilerplate the op exists to kill);
    - reassembly = groupBy(doc) of (pos, seg) pairs — second shuffle,
      carries only SURVIVING segments.
    Returns (id, n_segs, n_kept, dedup_text).
    """
    # null text → empty string: posexplode of a null array would DROP
    # the doc from the output, breaking the every-doc-returns contract
    words = F.split(F.coalesce(F.col(text_col), F.lit("")), sep)
    n_segs = F.ceil(F.size(words) / F.lit(words_per_segment)).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), n_segs - 1),
        lambda i: F.array_join(
            F.slice(words, i * words_per_segment + 1, words_per_segment), sep
        ),
    )
    exploded = df.select(
        F.col(id_col).alias("id"), F.posexplode(segs).alias("pos", "seg")
    )
    w = Window.partitionBy("seg").orderBy("id", "pos")
    marked = exploded.withColumn("rn", F.row_number().over(w))
    kept_struct = F.array_sort(
        F.collect_list(F.when(F.col("rn") == 1, F.struct("pos", "seg")))
    )
    return (
        marked.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_segs"),
            F.count(F.when(F.col("rn") == 1, 1)).alias("n_kept"),
            F.array_join(
                F.transform(kept_struct, lambda s: s["seg"]), sep
            ).alias("dedup_text"),
        )
    )


def substring_dup_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 10,
) -> DataFrame:
    """Token spans covered by EXACT substring duplication: every
    ``window``-token gram occurring >= 2 times corpus-wide marks its
    span (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better" — exact substring dedup at token-window grain; the
    reference has no analog, this is LLM-pipeline surface).

    Returns (id, s, e): token positions [s, e) covered by a duplicated
    gram. Spans overlap; consumers union them (substring_dup_stats).

    Scale shape: positions come from the same lambda-free
    arrays_zip/posexplode layout as _shingle_rows (whole-stage codegen);
    the duplicate-gram set is one gram-keyed groupBy (map-side partial
    count) and the hit join is a gram-keyed equi-join — no all-pairs
    anything. Grams join by STRING here so the correctness gate can
    replay cell-for-cell in ANSI SQL; at corpus scale hash the gram
    first (xxhash64) to shrink the shuffle key, identical plan shape.
    """
    tok = F.split(F.col(text_col), " ")
    k = F.size(tok) - (window - 1)  # number of full grams; <=0 → none
    zipped = F.arrays_zip(
        *[F.slice(tok, i + 1, F.greatest(k, F.lit(1))) for i in range(window)]
    )
    pos_rows = (
        df.select(F.col(id_col).alias("id"), k.alias("k"),
                  F.posexplode(zipped).alias("pos", "z"))
        .filter(F.col("pos") < F.col("k"))  # drop ragged tail / short docs
        .select(
            "id", "pos",
            F.concat_ws(" ", *[F.col("z")[str(i)] for i in range(window)])
            .alias("g"),
        )
    )
    dup = pos_rows.groupBy("g").agg(F.count(F.lit(1)).alias("c")).filter(
        F.col("c") >= 2
    )
    return pos_rows.join(dup.select("g"), "g").select(
        "id", F.col("pos").alias("s"), (F.col("pos") + window).alias("e")
    )


def substring_dup_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 10,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Per-group duplication accounting over the unioned span coverage:
    (group..., n_docs, docs_with_dups, total_tokens, dup_tokens,
    dup_frac). Span union = the classic ordered-interval sweep as ONE
    window pass per doc (max-end-so-far), no per-doc loops."""
    spans = substring_dup_spans(df, id_col, text_col, window)
    w = (
        Window.partitionBy("id").orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    covered = spans.withColumn(
        "prev_e", F.coalesce(F.max("e").over(w), F.lit(0))
    ).select(
        "id",
        F.greatest(
            F.col("e") - F.greatest(F.col("s"), F.col("prev_e")), F.lit(0)
        ).alias("covered"),
    )
    per_doc = covered.groupBy("id").agg(F.sum("covered").alias("dup_tokens"))
    docs = df.select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in group_cols],
        F.size(F.split(F.col(text_col), " ")).alias("n_tok"),
    )
    joined = docs.join(per_doc, "id", "left").withColumn(
        "dup_tokens", F.coalesce("dup_tokens", F.lit(0))
    )
    return (
        joined.groupBy(*[F.col(c) for c in group_cols])
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("dup_tokens") > 0).cast("long")).alias("docs_with_dups"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
            F.sum("dup_tokens").cast("long").alias("dup_tokens"),
            F.round(F.sum("dup_tokens") / F.sum("n_tok"), 6).alias("dup_frac"),
        )
    )


def hyperplane_lsh_pairs_portable(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = 4,
    rows_per_band: int = 4,
    threshold: float = 0.45,
    quant: int = 1_000_000,
    dim: int | None = None,
) -> DataFrame:
    """Banded hyperplane (sign-random-projection) LSH with an
    ENGINE-PORTABLE construction — the embedding analogue of
    :func:`minhash_lsh_pairs_portable`, upgrading the hyperplane path
    from rows-only to a fully SQL-replayable oracle (signatures, band
    buckets, candidate set, cosine verify — cell for cell).

    Portability is exact-by-construction, not close-enough:

    * plane weights come from the md5 bridge — ``w[j][i] =
      md5_60bit('hp{j}_{i}') % 2001 − 1000`` — derivable in any engine
      (here they are folded driver-side and shipped as 64-long literal
      arrays; the oracle recomputes them in SQL from the same md5);
    * vectors are QUANTIZED to integers (round(x·10⁶)) so every dot
      product and norm is exact BIGINT arithmetic — commutative, so
      summation ORDER cannot flip a sign or a rounding boundary the way
      float reductions can (the failure mode that keeps float LSH out
      of hash-compared oracles); magnitudes stay < 2⁵³ so the final
      cosine division is the same float64 in every engine.

    Distributed shape mirrors the production hyperplane path: a
    codegen'd projection computes all bands' signatures in one pass,
    candidates come from a band-key self-join (never all-pairs), and
    the exact-cosine verify runs only on the semi-join-pruned candidate
    set. Collision probability per band for angle θ is (1−θ/π)^r — at
    cos 0.45 with 4×4 bands ≈ half the true pairs surface, which is the
    point of the query: LSH recall is measurable because the signatures
    are reproducible."""
    sigs = _hyperplane_sigs(df, id_col, vec_col, bands, rows_per_band, quant, dim)
    banded = _banded(sigs, bands)
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
        .distinct()
    )
    return _scored(sigs, cand, "a_id", "b_id").filter(
        F.col("cos_sim") >= threshold
    )


def _hyperplane_sigs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    bands: int,
    rows_per_band: int,
    quant: int,
    dim: int | None,
) -> DataFrame:
    """(id, q, nq, s0..s{bands-1}): integer-quantized vector, its exact
    squared norm, and the per-band sign signatures — the shared portable
    construction (see hyperplane_lsh_pairs_portable for why every term
    is BIGINT)."""
    import hashlib

    if dim is None:
        dim = df.select(F.size(vec_col).alias("d")).first()["d"]

    def plane(j: int) -> list[int]:
        return [
            int(hashlib.md5(f"hp{j}_{i}".encode()).hexdigest()[:15], 16) % 2001
            - 1000
            for i in range(1, dim + 1)
        ]

    q = F.transform(
        F.col(vec_col), lambda x: F.round(x.cast("double") * quant).cast("long")
    )
    base = df.select(F.col(id_col).alias("id"), q.alias("q"))
    add = lambda acc, v: acc + v  # noqa: E731
    norm = F.aggregate(
        F.transform("q", lambda e: e * e), F.lit(0).cast("long"), add
    )
    bits = []
    for j in range(bands * rows_per_band):
        w = F.array(*[F.lit(v).cast("long") for v in plane(j)])
        dot = F.aggregate(F.zip_with("q", w, lambda a, b: a * b),
                          F.lit(0).cast("long"), add)
        bits.append(F.when(dot >= 0, F.lit("1")).otherwise(F.lit("0")))
    return persist(base.select(
        "id", "q", norm.alias("nq"),
        *[
            F.concat(*bits[b * rows_per_band:(b + 1) * rows_per_band]).alias(f"s{b}")
            for b in range(bands)
        ],
    ))


def _banded(sigs: DataFrame, bands: int) -> DataFrame:
    return sigs.select(
        "id",
        F.posexplode(F.array(*[F.col(f"s{b}") for b in range(bands)])).alias(
            "band", "sig"
        ),
    )


def _scored(sigs: DataFrame, cand: DataFrame, left: str, right: str) -> DataFrame:
    """Exact quantized cosine for each candidate pair (columns ``left``,
    ``right``): the BIGINT dot over identical quantized vectors divided
    by the float64 sqrt of the exact integer norms — bit-identical in
    any engine."""
    add = lambda acc, v: acc + v  # noqa: E731
    qa = sigs.select(F.col("id").alias(left), F.col("q").alias("qa"), F.col("nq").alias("na"))
    qb = sigs.select(F.col("id").alias(right), F.col("q").alias("qb"), F.col("nq").alias("nb"))
    dot_ab = F.aggregate(
        F.zip_with("qa", "qb", lambda x, y: x * y), F.lit(0).cast("long"), add
    )
    cos = F.round(
        dot_ab.cast("double") / (F.sqrt(F.col("na")) * F.sqrt(F.col("nb"))), 4
    )
    return (
        cand.join(qa, left).join(qb, right)
        .select(left, right, cos.alias("cos_sim"))
    )


def hyperplane_ann_topk_portable(
    df: DataFrame,
    probe_ids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    bands: int = 4,
    rows_per_band: int = 4,
    quant: int = 1_000_000,
    dim: int | None = None,
) -> DataFrame:
    """Approximate nearest neighbors with a fully SQL-replayable result:
    for each probe (a corpus member named in ``probe_ids``), candidates
    are the vectors sharing at least one LSH band with it, ranked by
    the exact quantized cosine with a total tiebreak (cos desc, then
    neighbor id) — so the top-k list is DETERMINISTIC and the oracle
    replays candidates, scores, and ranks cell-for-cell. This is the
    ANN recall/latency trade made auditable: the candidate set is the
    approximation, the ranking inside it is exact. Distributed shape:
    band-key equi-join from the (tiny, broadcast) probe side — never a
    scan of corpus×probes."""
    sigs = _hyperplane_sigs(df, id_col, vec_col, bands, rows_per_band, quant, dim)
    banded = _banded(sigs, bands)
    probes = banded.filter(F.col("id").isin(list(probe_ids)))
    cand = (
        F.broadcast(probes).alias("p")
        .join(
            banded.alias("o"),
            (F.col("p.band") == F.col("o.band"))
            & (F.col("p.sig") == F.col("o.sig"))
            & (F.col("p.id") != F.col("o.id")),
        )
        .select(F.col("p.id").alias("query_id"), F.col("o.id").alias("neighbor_id"))
        .distinct()
    )
    scored = _scored(sigs, cand, "query_id", "neighbor_id")
    win = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(win).cast("long"))
        .filter(F.col("rnk") <= k)
    )


def exact_cosine_topk_portable(
    df: DataFrame,
    probe_ids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    quant: int = 1_000_000,
    dim: int | None = None,
) -> DataFrame:
    """EXACT top-k ground truth on the same integer-quantized cosine as
    :func:`hyperplane_ann_topk_portable` — the brute-force baseline a
    recall/MRR/nDCG evaluation compares the ANN path against. Every
    probe scores the FULL corpus (that is the definition of ground
    truth), so the shape is a broadcast of the tiny probe side against
    one corpus scan — |corpus|·|probes| scored rows, never corpus².
    Scores, ties, and ranks are bit-replayable in SQL (exact BIGINT
    dots, total tiebreak), which is what lets the driver hash-compare
    an evaluation harness end to end."""
    sigs = _hyperplane_sigs(df, id_col, vec_col, bands=1, rows_per_band=1,
                            quant=quant, dim=dim)
    probes = sigs.select(F.col("id").alias("query_id")).filter(
        F.col("query_id").isin(list(probe_ids))
    )
    cand = (
        F.broadcast(probes)
        .crossJoin(sigs.select(F.col("id").alias("neighbor_id")))
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    scored = _scored(sigs, cand, "query_id", "neighbor_id")
    win = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(win).cast("long"))
        .filter(F.col("rnk") <= k)
    )
