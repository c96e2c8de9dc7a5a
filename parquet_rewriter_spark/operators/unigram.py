"""Unigram-LM (maximum-likelihood) subword segmentation — the third
tokenizer family (Kudo, ACL 2018: SentencePiece's unigram model) next
to BPE (operators/bpe.py) and WordPiece (operators/wordpiece.py),
sharing their discipline: segmentation runs once per DISTINCT WORD
(vocab ≪ corpus), the piece inventory is bounded and broadcast, and
every result has an exact DuckDB replay.

Reference scope note: the reference engine has no text operators —
this module is part of the beyond-reference training-data surface.

Model: each inventory piece carries probability c(piece)/T (corpus-
weighted substring occurrence counts over the distinct-word relation;
T = inventory total), and a word's segmentation likelihood is the
product of its pieces' probabilities. Spark finds the optimum with a
Viterbi DP per distinct word (Arrow-batched pandas UDF at vocab
scale); the oracle ENUMERATES every segmentation path with a
recursive CTE and takes the max — two independent algorithms, one
function.

CROSS-ENGINE DETERMINISM is engineered, not hoped for: scores are
products of ``c/T`` doubles — IEEE division and multiplication are
exactly specified, and both engines multiply in the same left-to-
right path order, so optimal scores AND the count of optimal paths
match bit-for-bit. ``ln`` (libm, not correctly rounded) only touches
the final DISPLAY value, after the argmax, where a 1-ulp wobble is
absorbed by rounding. No tie-break rule is needed: ties are reported,
not broken (``n_opt`` = number of maximum-likelihood segmentations).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from parquet_rewriter_spark.operators.bpe import word_counts
from parquet_rewriter_spark.operators.util import cache_scope, persist


def hex_word(word_col: str = "word") -> "F.Column":
    """Uppercase hex rendering of a word's UTF-8 bytes — the
    byte-level unigram alphabet (the operators/bpe.py:_init_sym
    discipline without symbol padding): Spark ``hex(encode(w))`` ==
    DuckDB ``hex(w)`` == Python ``'%02X'``, all uppercase, so every
    byte-level relation replays bit-identically across engines."""
    return F.hex(F.encode(F.col(word_col), "UTF-8"))


def piece_stats(
    df: DataFrame,
    text_col: str,
    max_piece_len: int = 4,
    vocab_size: int = 150,
    wc: DataFrame | None = None,
    pretokenize: bool = False,
    byte_level: bool = False,
) -> DataFrame:
    """(piece, c) — the unigram inventory with corpus-weighted
    substring occurrence counts: top ``vocab_size`` multi-char pieces
    (count DESC, piece ASC — total order) plus every corpus char with
    its own count (guaranteed coverage). One vocab-scale job over the
    distinct-word relation. ``pretokenize`` selects the shared
    GPT-2-style front end (operators/bpe.py:words_expr).

    ``byte_level=True`` is SentencePiece's byte-fallback alphabet
    applied to the unigram family: pieces are BYTE-ALIGNED substrings
    of the word's UTF-8 hex rendering (even length 2·k, even offsets —
    a piece is always a whole-byte run, never a split nibble), the
    guaranteed-coverage class is single BYTES (hex pairs), and the
    multi-piece rung starts at two bytes. Because every inventory
    piece has even length and the DP/oracle both extend from offset 0,
    segmentations can never go mid-byte — alignment is structural, not
    checked."""
    if wc is None:
        wc = word_counts(df, text_col, pretokenize)
    if byte_level:
        wc = wc.select(hex_word("word").alias("word"), "cnt")
        lens = F.filter(
            F.transform(
                F.sequence(F.lit(1), F.lit(max_piece_len)),
                lambda b: b * 2,
            ),
            lambda l: F.length("word") >= l,
        )
        subs = F.flatten(
            F.transform(
                lens,
                lambda l: F.transform(
                    F.sequence(
                        F.lit(0),
                        ((F.length("word") - l) / 2).cast("int"),
                    ),
                    lambda j: F.col("word").substr(j * 2 + 1, l),
                ),
            )
        )
        min_multi = 4  # two bytes
    else:
        lens = F.filter(
            F.sequence(F.lit(1), F.lit(max_piece_len)),
            lambda l: F.length("word") >= l,
        )
        subs = F.flatten(
            F.transform(
                lens,
                lambda l: F.transform(
                    F.sequence(F.lit(1), F.length("word") - l + 1),
                    lambda i: F.col("word").substr(i, l),
                ),
            )
        )
        min_multi = 2
    counts = (
        wc.select(F.explode(subs).alias("piece"), "cnt")
        .groupBy("piece")
        .agg(F.sum("cnt").alias("c"))
    )
    topk = (
        counts.where(F.length("piece") >= min_multi)
        .orderBy(F.col("c").desc(), "piece")
        .limit(vocab_size)
    )
    chars = counts.where(F.length("piece") < min_multi)
    return topk.unionByName(chars)


def viterbi_segment_stats(
    words: DataFrame,
    pieces: DataFrame,
    word_col: str = "word",
) -> DataFrame:
    """Per-word maximum-likelihood segmentation statistics under the
    unigram model: adds ``best_ll`` (natural log of the optimal
    product-of-probabilities) and ``n_opt`` (how many segmentations
    achieve it — ties reported, never broken). Viterbi DP per row of
    the (distinct-word-scale) input; the bounded (piece → c/T) table
    is broadcast once. DP scores multiply left-to-right exactly like
    the oracle's path enumeration, so optima and tie counts agree
    bit-for-bit across engines."""
    import math

    rows = pieces.select("piece", "c").collect()
    total = float(sum(int(r["c"]) for r in rows))
    ratio = {r["piece"]: int(r["c"]) / total for r in rows}
    spark = words.sparkSession
    bc = spark.sparkContext.broadcast(
        (ratio, max((len(p) for p in ratio), default=1))
    )

    @F.pandas_udf("struct<best_ll: double, n_opt: long>")
    def vit(col: pd.Series) -> pd.DataFrame:
        rmap, lmax = bc.value

        def one(w):
            if not w:
                return (None, 0)
            n = len(w)
            best = [None] * (n + 1)
            cnt = [0] * (n + 1)
            best[0], cnt[0] = 1.0, 1
            for i in range(1, n + 1):
                for l in range(1, min(lmax, i) + 1):
                    r = rmap.get(w[i - l : i])
                    if r is None or best[i - l] is None:
                        continue
                    s = best[i - l] * r
                    if best[i] is None or s > best[i]:
                        best[i], cnt[i] = s, cnt[i - l]
                    elif s == best[i]:
                        cnt[i] += cnt[i - l]
            if best[n] is None:
                return (None, 0)
            return (math.log(best[n]), cnt[n])

        res = [one(w) for w in col]
        return pd.DataFrame(
            {"best_ll": [r[0] for r in res], "n_opt": [r[1] for r in res]}
        )

    out = words.withColumn("__v", vit(F.col(word_col)))
    return out.select(
        "*", F.col("__v.best_ll").alias("best_ll"), F.col("__v.n_opt").alias("n_opt")
    ).drop("__v")


def viterbi_segment(
    words: DataFrame,
    pieces: "DataFrame | list",
    word_col: str = "word",
    byte_level: bool = False,
) -> DataFrame:
    """Per-word maximum-likelihood SEGMENTATION (not just its score):
    adds ``pieces`` (array<string>, the optimal piece sequence) and
    ``n_pieces``. Ties on the exact product score are broken by the
    LEXICOGRAPHICALLY SMALLEST space-joined piece string — a total
    order both engines share bit-for-bit (scores are exact IEEE
    products in identical order; the joined strings of two
    segmentations of the same word first differ at a space-vs-char
    position, and ASCII space sorts below every word char in both
    Python and DuckDB's binary collation, so prefix-wise DP lexmin
    equals path-enumeration lexmin — no proper-prefix ambiguity exists
    because de-spacing any candidate yields the same word). The oracle
    (``ug_seg`` in :func:`unigram_cte_sql`) enumerates every path and
    takes max score then min string — an independent algorithm that
    must agree exactly.

    Words with NO path under the inventory (a frozen tokenizer meeting
    characters training never saw) fall back to their per-CHARACTER
    split instead of a NULL — sequences must never silently shorten
    and docs must never vanish on disjoint corpora (the BPE/WordPiece
    frozen-path contract); out-of-inventory chars then surface as
    ``unk_id`` at the id-map step (:func:`unigram_encode_docs`). On
    the training corpus itself every char is in the inventory, so the
    fallback is unreachable there and existing results are
    unchanged.

    ``byte_level=True`` segments BYTE-ALIGNED hex words (the input
    column must already be the :func:`hex_word` rendering): inventory
    pieces all have even length, so every DP extension from offset 0
    lands on a byte boundary — alignment is structural — and the
    no-path fallback splits into HEX PAIRS (single bytes), the
    SentencePiece byte-fallback: combined with a base-256 id table
    (:func:`unigram_piece_ids` ``base_bytes=True``) NO input can ever
    produce an unk."""
    rows = (
        pieces
        if isinstance(pieces, list)
        else pieces.select("piece", "c").collect()
    )
    total = float(sum(int(r["c"]) for r in rows))
    ratio = {r["piece"]: int(r["c"]) / total for r in rows}
    spark = words.sparkSession
    bc = spark.sparkContext.broadcast(
        (ratio, max((len(p) for p in ratio), default=1), bool(byte_level))
    )

    @F.pandas_udf("array<string>")
    def seg(col: pd.Series) -> pd.Series:
        rmap, lmax, as_bytes = bc.value

        def one(w):
            if not w:
                return None
            n = len(w)
            best = [None] * (n + 1)  # (score, space-joined pieces)
            best[0] = (1.0, "")
            for i in range(1, n + 1):
                for l in range(1, min(lmax, i) + 1):
                    r = rmap.get(w[i - l : i])
                    if r is None or best[i - l] is None:
                        continue
                    s = best[i - l][0] * r
                    prev = best[i - l][1]
                    cand = w[i - l : i] if not prev else prev + " " + w[i - l : i]
                    if (
                        best[i] is None
                        or s > best[i][0]
                        or (s == best[i][0] and cand < best[i][1])
                    ):
                        best[i] = (s, cand)
            if best[n] is None:
                # never drop the word: per-char fallback, per-BYTE
                # (hex-pair) in byte-level mode
                if as_bytes:
                    return [w[k : k + 2] for k in range(0, n, 2)]
                return list(w)
            return best[n][1].split(" ")

        return col.map(one)

    return words.withColumn("pieces", seg(F.col(word_col))).withColumn(
        "n_pieces", F.size("pieces")
    )


def unigram_piece_ids(pieces: DataFrame, base_bytes: bool = False) -> DataFrame:
    """(piece, piece_id): dense ids in piece order over the bounded
    unigram inventory — the artifact id map, deterministic in any
    engine (single-partition window over ≤ vocab_size + alphabet
    rows).

    ``base_bytes=True`` (byte-level inventories only) unions ALL 256
    single-byte pieces (uppercase hex pairs) into the id space — the
    operators/bpe.py:symbol_vocab(base_bytes=True) guarantee carried
    to the unigram family: a no-path holdout word byte-fallbacks into
    hex pairs (:func:`viterbi_segment`), and every hex pair has an id,
    so NO input can surface an unk."""
    from pyspark.sql import Window

    ps = pieces.select("piece")
    if base_bytes:
        base = pieces.sparkSession.range(256).select(
            F.lpad(F.upper(F.hex(F.col("id"))), 2, "0").alias("piece")
        )
        ps = ps.unionByName(base).distinct()
    w = Window.partitionBy().orderBy("piece")
    return ps.select(
        "piece", (F.row_number().over(w) - 1).alias("piece_id")
    )


def _unigram_piece_ids_local(
    spark, piece_list: list[str], base_bytes: bool = False
) -> DataFrame:
    """:func:`unigram_piece_ids` computed driver-side from an
    already-collected inventory — Python's code-point sort equals
    Spark's UTF8 binary ORDER BY, so the (piece, piece_id) relation is
    bit-identical to the window form without re-executing the
    inventory plan that produced the pieces."""
    if base_bytes:
        rows = sorted(
            set(piece_list) | {format(i, "02X") for i in range(256)}
        )
    else:
        rows = sorted(piece_list)
    return spark.createDataFrame(
        [(p, i) for i, p in enumerate(rows)], "piece string, piece_id int"
    )


def unigram_encode_docs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    pieces: DataFrame,
    broadcast_threshold: int | None = None,
    wc: DataFrame | None = None,
    unk_id: int | None = None,
    pretokenize: bool = False,
    byte_level: bool = False,
    base_bytes: bool = False,
) -> DataFrame:
    """Encode documents to unigram-LM piece-id sequences — lifecycle
    parity with operators/bpe.py:encode_docs: Viterbi-segment each
    DISTINCT word once (lexmin tie-break, vocab scale), id-map the
    pieces through the broadcast bounded piece-id relation, and
    reassemble per-doc sequences order-safely through the thresholded
    word join (bpe.assemble_doc_ids). Returns (id_col, input_ids,
    n_tokens).

    ``unk_id`` enables the FROZEN-TOKENIZER path (inventory trained on
    a different corpus): unsegmentable words char-fallback in
    :func:`viterbi_segment` and their out-of-inventory chars id-map
    through a LEFT join to ``unk_id`` — the inner-join default would
    SILENTLY DROP those occurrences and could make whole docs vanish
    (the BPE/WordPiece frozen twins' unk parity).

    ``byte_level``/``base_bytes`` are the no-unk production pair
    (must match the inventory's training): words segment as
    byte-aligned hex renderings, no-path words fall back to hex
    PAIRS, and the id table carries all 256 base bytes — so even on a
    fully disjoint corpus every sequence id-maps completely
    (``min_id`` ≥ 0, the byte-level BPE twin's guarantee)."""
    from parquet_rewriter_spark.operators.bpe import (
        BROADCAST_MAX_WORDS,
        assemble_doc_ids,
        count_with_bytes,
    )

    if broadcast_threshold is None:
        broadcast_threshold = BROADCAST_MAX_WORDS
    if wc is None:
        wc = word_counts(df, text_col, pretokenize)
    # ONE execution of the inventory plan: collect the bounded
    # (piece, c) rows, hand them to the segmenter (which would
    # otherwise collect again) and rebuild the id map driver-side
    # (which would otherwise re-run the whole inventory subtree inside
    # the id join)
    piece_rows = pieces.select("piece", "c").collect()
    if byte_level:
        # segment the hex rendering; the corpus join key stays the
        # raw word (assemble_doc_ids joins docs' words against it)
        segd = viterbi_segment(
            wc.withColumn("__hexw", hex_word("word")),
            piece_rows,
            word_col="__hexw",
            byte_level=True,
        ).drop("__hexw")
    else:
        segd = viterbi_segment(wc, piece_rows)
    pid = _unigram_piece_ids_local(
        df.sparkSession, [r["piece"] for r in piece_rows],
        base_bytes=base_bytes,
    )
    exploded = segd.select(
        "word", F.posexplode("pieces").alias("pos", "piece")
    )
    if unk_id is None:
        joined = exploded.join(F.broadcast(pid), "piece")
    else:
        joined = exploded.join(F.broadcast(pid), "piece", "left").withColumn(
            "piece_id",
            F.coalesce(F.col("piece_id"), F.lit(int(unk_id))).cast("int"),
        )
    word_ids = joined.groupBy("word").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "piece_id"))),
            lambda s: s.piece_id,
        ).alias("ids")
    )
    # ONE job: word_ids is 1:1 with wc, so counting IT delivers the
    # distinct-word count AND the byte-gate estimate the word join
    # needs (count_with_bytes) — the former count + separate sampled
    # probe paid two sequential jobs over the same subtree.
    # PERSISTED first: the gate job materializes the cache, so the
    # encode join reads it instead of re-running the distinct-word
    # aggregate + Viterbi segmentation a second time. The cache
    # belongs to the caller's cache_scope.
    word_ids = persist(word_ids)
    n_words, est = count_with_bytes(word_ids)
    return assemble_doc_ids(
        df, id_col, text_col, word_ids, n_words, broadcast_threshold,
        pretokenize=pretokenize, est_bytes=est,
    )


def _em_expected_counts(
    wc: DataFrame,
    ratio: dict,
    max_piece_len: int,
    scale: float,
) -> DataFrame:
    """One EM E-step at DISTINCT-WORD scale: per word, forward
    (alpha) and backward (beta) sums over all segmentations, then the
    expected count each inventory piece earns at each position —
    ``cnt · alpha[i]·r·beta[i+l] / alpha[n]`` — QUANTIZED per position
    to an integer (``floor(x·scale + 0.5)``). Quantizing at the
    per-position level is what makes the whole round bit-replayable in
    SQL: alpha/beta are DP recurrences both engines evaluate with the
    same left-to-right term order (terms l=1..4 added in order, exact
    IEEE), so each position's double is bit-identical, its quantum is
    bit-identical, and every downstream aggregate is EXACT integer
    arithmetic — order-free, unlike a float sum. Returns (piece, ec)."""
    import math

    spark = wc.sparkSession
    bc = spark.sparkContext.broadcast(
        (ratio, max_piece_len, float(scale))
    )

    @F.pandas_udf("array<struct<piece: string, q: long>>")
    def estep(words: pd.Series, cnts: pd.Series) -> pd.Series:
        rmap, lmax, S = bc.value

        def one(w, cnt):
            if not w:
                return []
            n = len(w)
            alpha = [0.0] * (n + 1)
            alpha[0] = 1.0
            for i in range(1, n + 1):
                s = 0.0
                for l in range(1, min(lmax, i) + 1):
                    r = rmap.get(w[i - l : i])
                    if r is not None:
                        s = s + alpha[i - l] * r
                alpha[i] = s
            an = alpha[n]
            if an == 0.0:
                return []
            beta = [0.0] * (n + 1)
            beta[n] = 1.0
            for i in range(n - 1, -1, -1):
                s = 0.0
                for l in range(1, min(lmax, n - i) + 1):
                    r = rmap.get(w[i : i + l])
                    if r is not None:
                        s = s + r * beta[i + l]
                beta[i] = s
            c = float(cnt)
            acc: dict = {}
            for i in range(n):
                for l in range(1, min(lmax, n - i) + 1):
                    piece = w[i : i + l]
                    r = rmap.get(piece)
                    if r is None:
                        continue
                    post = ((alpha[i] * r) * beta[i + l]) / an
                    q = math.floor(((post * c) * S) + 0.5)
                    if q:
                        acc[piece] = acc.get(piece, 0) + q
            return sorted(acc.items())

        return pd.Series([one(w, c) for w, c in zip(words, cnts)])

    return (
        wc.select(F.explode(estep(F.col("word"), F.col("cnt"))).alias("pq"))
        .groupBy(F.col("pq.piece").alias("piece"))
        .agg(F.sum("pq.q").alias("ec"))
    )


def unigram_em_train(
    df: DataFrame,
    text_col: str,
    max_piece_len: int = 4,
    seed_size: int = 300,
    keep_size: int = 150,
    n_rounds: int = 2,
    scale: float = 1_000_000.0,
    init_inventory: list | None = None,
) -> DataFrame:
    """Unigram-LM EM TRAINING (Kudo 2018 §3.2 — the SentencePiece
    trainer, here with expected-count pruning, the standard
    approximation to per-piece loss): seed with the top
    ``seed_size`` substring-count pieces plus the corpus alphabet,
    then for each of ``n_rounds`` rounds (1) E-step: expected piece
    counts over ALL segmentations via forward-backward at
    distinct-word scale, per-position-quantized to integers
    (:func:`_em_expected_counts`), (2) prune to the top ``keep_size``
    multi-char pieces by (expected count DESC, piece ASC) — single
    chars always survive with at least one quantum, preserving
    coverage — and (3) M-step: re-estimate probabilities as exact
    integer-count ratios ``c / T``.

    Cross-engine determinism: every round's inventory is an INTEGER
    relation, so probabilities are exact IEEE quotients of identical
    ints, the DP doubles are bit-identical, the per-position quanta
    are bit-identical, and the only rounding anywhere happens on
    identical doubles — the SQL replay (:func:`unigram_em_cte_sql`)
    reproduces the final table cell-for-cell, not approximately.

    Scale shape: each round is one Arrow-batched vocab-scale pass
    over the distinct-word relation plus a hash aggregate of
    inventory-bounded (piece, q) pairs; the inventory (≤ seed_size +
    alphabet rows) is collected/broadcast per round — the same cost
    class as BPE's per-merge collect. Returns (piece, piece_len, c,
    p) — the trained inventory with quantized expected counts and
    exact-ratio probabilities.

    ``init_inventory`` makes training RESUMABLE: pass a stored
    (piece, c) list (a previous run's output — EM's entire state IS
    the integer inventory) to skip seeding and continue from it;
    train-k-rounds → persist → reload → train-m-more is EXACTLY equal
    to one-shot k+m rounds, because every round is a pure function of
    the integer inventory (oracled)."""
    spark = df.sparkSession
    with cache_scope():  # every EM round reads the distinct-word relation
        wc = persist(word_counts(df, text_col))
        wc.count()
        if init_inventory is None:
            seed = piece_stats(df, text_col, max_piece_len, vocab_size=seed_size)
            inv = [(r["piece"], int(r["c"])) for r in seed.collect()]
        else:
            inv = [(str(p), int(c)) for p, c in init_inventory]
        chars = sorted(p for p, _ in inv if len(p) == 1)
        for _ in range(int(n_rounds)):
            total = float(sum(c for _, c in inv))
            ratio = {p: c / total for p, c in inv}
            ec_df = _em_expected_counts(wc, ratio, max_piece_len, scale)
            ec = {r["piece"]: int(r["ec"]) for r in ec_df.collect()}
            multi = sorted(
                ((p, c) for p, c in ec.items() if len(p) >= 2 and c > 0),
                key=lambda t: (-t[1], t[0]),
            )[: int(keep_size)]
            inv = multi + [(ch, max(ec.get(ch, 0), 1)) for ch in chars]
    total = float(sum(c for _, c in inv))
    out = spark.createDataFrame(
        [(p, len(p), c, c / total) for p, c in inv],
        "piece string, piece_len int, c long, p double",
    )
    return out


# --------------------------------------------------------------- SQL replay


def unigram_cte_sql(
    table: str,
    text_col: str,
    max_piece_len: int = 4,
    vocab_size: int = 150,
    include_wc: bool = True,
    pretokenize: bool = False,
) -> str:
    """DuckDB CTE chain: ``wc`` (word, cnt), ``ug_stats`` (piece, c),
    ``ug_ratio`` (piece, r = c/T) and ``ug_best`` (word, best_ll,
    n_opt). ``ug_best`` comes from ENUMERATING every segmentation with
    a recursive CTE (running product in left-to-right path order) —
    an independent algorithm from Spark's DP; optimal scores and tie
    counts must still match bit-for-bit because both engines multiply
    the same exact c/T doubles in the same order. Path count per word
    is bounded by the composition count over piece lengths 1..4 of a
    ≤~20-char word — fine for an oracle, never the production path.
    ``include_wc=False`` omits the leading ``wc`` CTE so the chain can
    compose with another family's chain that already defines it (the
    word normalization is identical across families); ``pretokenize``
    swaps the wc front end for the shared GPT-2-style run extraction
    (operators/bpe.py:words_unnest_sql)."""
    from parquet_rewriter_spark.operators.bpe import words_unnest_sql

    wc_cte = f"""wc AS (
      SELECT word, count(*) AS cnt
      FROM (
        SELECT {words_unnest_sql(text_col, pretokenize)} AS word
        FROM {table}
      ) GROUP BY word
    ),
    """ if include_wc else ""
    return f"""{wc_cte}ug_counts AS (
      SELECT substr(word, i, l) AS piece, CAST(sum(cnt) AS BIGINT) AS c
      FROM wc,
           LATERAL (SELECT unnest(generate_series(
                      1, least(len(word), {max_piece_len}))) AS l),
           LATERAL (SELECT unnest(generate_series(1, len(word) - l + 1)) AS i)
      GROUP BY 1
    ),
    ug_stats AS (
      SELECT piece, c FROM (
        SELECT piece, c FROM ug_counts WHERE len(piece) >= 2
        ORDER BY c DESC, piece LIMIT {vocab_size}
      )
      UNION ALL
      SELECT piece, c FROM ug_counts WHERE len(piece) = 1
    ),
    ug_ratio AS (
      SELECT piece, c / (SELECT CAST(sum(c) AS DOUBLE) FROM ug_stats) AS r
      FROM ug_stats
    ),
    ug_paths AS (
      WITH RECURSIVE p AS (
        SELECT word, 0 AS pos, CAST(1.0 AS DOUBLE) AS score,
               CAST('' AS VARCHAR) AS ps
        FROM wc
        UNION ALL
        SELECT p.word, p.pos + len(v.piece) AS pos, p.score * v.r AS score,
               CASE WHEN p.ps = '' THEN v.piece
                    ELSE p.ps || ' ' || v.piece END AS ps
        FROM p JOIN ug_ratio v
          ON substr(p.word, p.pos + 1, len(v.piece)) = v.piece
        WHERE p.pos < len(p.word)
      )
      SELECT word, score, ps FROM p WHERE pos = len(word)
    ),
    ug_best AS (
      SELECT word, ln(max(score)) AS best_ll,
             CAST(count(*) FILTER (WHERE score = m) AS BIGINT) AS n_opt
      FROM (SELECT word, score, max(score) OVER (PARTITION BY word) AS m
            FROM ug_paths)
      GROUP BY word
    ),
    ug_seg AS (
      -- the optimal SEGMENTATION: max exact product score, ties broken
      -- by the lexicographically smallest space-joined piece string
      -- (binary collation == Python's ASCII compare; see
      -- viterbi_segment) — the independent-path-enumeration twin of
      -- Spark's DP lexmin
      SELECT word, string_split(min(ps) FILTER (WHERE score = m), ' ') AS pieces,
             CAST(len(string_split(min(ps) FILTER (WHERE score = m), ' '))
                  AS INT) AS n_pieces
      FROM (SELECT word, score, ps, max(score) OVER (PARTITION BY word) AS m
            FROM ug_paths)
      GROUP BY word
    )"""


def unigram_em_cte_sql(
    table: str,
    text_col: str,
    max_piece_len: int = 4,
    seed_size: int = 300,
    keep_size: int = 150,
    n_rounds: int = 2,
    scale: float = 1_000_000.0,
) -> str:
    """DuckDB CTE chain replaying :func:`unigram_em_train` EXACTLY —
    not approximately: per round ``k`` it emits ``em_r{k}`` (exact
    integer-ratio probabilities), ``em_a{k}``/``em_b{k}`` (the
    forward/backward DP as recursive CTEs carrying the last
    ``max_piece_len`` values, terms added l=1..L in the SAME
    left-to-right order as the Spark kernel — every alpha/beta double
    is bit-identical), ``em_e{k}`` (per-position posteriors quantized
    with the identical ``floor(x·scale + 0.5)`` parenthesization, then
    an order-free INTEGER sum), and ``em_c{k+1}`` (prune: top
    ``keep_size`` multi-char by (ec DESC, piece ASC), chars kept with
    ≥1 quantum). ``em_final`` carries (piece, piece_len, c, p)."""
    L = int(max_piece_len)

    parts = [
        f"""wc AS (
      SELECT word, count(*) AS cnt
      FROM (
        SELECT unnest(list_filter(
                 regexp_split_to_array(lower({text_col}), '\\s+'),
                 w -> w <> '')) AS word
        FROM {table}
      ) GROUP BY word
    ),
    em_counts AS MATERIALIZED (
      SELECT substr(word, i, l) AS piece, CAST(sum(cnt) AS BIGINT) AS c
      FROM wc,
           LATERAL (SELECT unnest(generate_series(
                      1, least(len(word), {L}))) AS l),
           LATERAL (SELECT unnest(generate_series(1, len(word) - l + 1)) AS i)
      GROUP BY 1
    ),
    em_c0 AS MATERIALIZED (
      SELECT piece, c FROM (
        SELECT piece, c FROM em_counts WHERE len(piece) >= 2
        ORDER BY c DESC, piece LIMIT {int(seed_size)}
      )
      UNION ALL
      SELECT piece, c FROM em_counts WHERE len(piece) = 1
    ),
    em_chars AS MATERIALIZED (SELECT piece FROM em_c0 WHERE len(piece) = 1)"""
    ]
    for k in range(int(n_rounds)):
        # alpha[i+1] = sum_l alpha[i+1-l] * r(word[i+2-l .. i+1]),
        # terms added l=1..L in order; missing pieces/short prefixes
        # contribute an exact 0.0 (x + 0.0 == x bitwise for x >= 0).
        # Ratio lookups are LEFT JOINs, not correlated subqueries:
        # DuckDB 1.0 mis-evaluates scalar subqueries against
        # materialized CTEs inside recursive steps (observed: the l=1
        # lookup silently yields NULL on the first iteration).
        a_terms = "0.0"
        a_joins = []
        for l in range(1, L + 1):
            a_joins.append(
                f"LEFT JOIN em_r{k} r{l} "
                f"ON r{l}.piece = substr(s.word, s.i + {2 - l}, {l})"
            )
            term = f"s.a{l - 1} * coalesce(r{l}.r, 0.0)"
            if l > 1:
                term = f"CASE WHEN s.i >= {l - 1} THEN {term} ELSE 0.0 END"
            a_terms = f"({a_terms} + {term})"
        b_terms = "0.0"
        b_joins = []
        for l in range(1, L + 1):
            b_joins.append(
                f"LEFT JOIN em_r{k} r{l} "
                f"ON r{l}.piece = substr(s.word, s.i, {l})"
            )
            term = f"coalesce(r{l}.r, 0.0) * s.b{l - 1}"
            term = (
                f"CASE WHEN s.i - 1 + {l} <= len(s.word) "
                f"THEN {term} ELSE 0.0 END"
            )
            b_terms = f"({b_terms} + {term})"
        a_shift = ", ".join(f"s.a{j - 1} AS a{j}" for j in range(1, L))
        b_shift = ", ".join(f"s.b{j - 1} AS b{j}" for j in range(1, L))
        a_zeros = ", ".join(
            f"CAST(0.0 AS DOUBLE) AS a{j}" for j in range(1, L)
        )
        b_zeros = ", ".join(
            f"CAST(0.0 AS DOUBLE) AS b{j}" for j in range(1, L)
        )
        parts.append(
            f"""em_r{k} AS MATERIALIZED (
      SELECT piece, c / (SELECT CAST(sum(c) AS DOUBLE) FROM em_c{k}) AS r
      FROM em_c{k}
    )"""
        )
        parts.append(
            f"""em_a{k} AS MATERIALIZED (
      WITH RECURSIVE a AS (
        SELECT word, 0 AS i, CAST(1.0 AS DOUBLE) AS a0, {a_zeros}
        FROM wc
        UNION ALL
        SELECT s.word, s.i + 1 AS i, {a_terms} AS a0, {a_shift}
        FROM a s {' '.join(a_joins)}
        WHERE s.i < len(s.word)
      )
      SELECT word, i, a0 AS al FROM a
    )"""
        )
        parts.append(
            f"""em_b{k} AS MATERIALIZED (
      WITH RECURSIVE b AS (
        SELECT word, len(word) AS i, CAST(1.0 AS DOUBLE) AS b0, {b_zeros}
        FROM wc
        UNION ALL
        SELECT s.word, s.i - 1 AS i, {b_terms} AS b0, {b_shift}
        FROM b s {' '.join(b_joins)}
        WHERE s.i > 0
      )
      SELECT word, i, b0 AS be FROM b
    )"""
        )
        parts.append(
            f"""em_e{k} AS MATERIALIZED (
      SELECT piece, CAST(sum(q) AS BIGINT) AS ec FROM (
        SELECT r.piece AS piece,
               CAST(floor((((((a.al * r.r) * b.be) / an.al) * w.cnt)
                           * {scale!r}) + 0.5) AS BIGINT) AS q
        FROM wc w,
             LATERAL (SELECT unnest(generate_series(0, len(w.word) - 1)) AS i) li,
             LATERAL (SELECT unnest(generate_series(
                        1, least({L}, len(w.word) - li.i))) AS l) ll
        JOIN em_a{k} a ON a.word = w.word AND a.i = li.i
        JOIN em_a{k} an ON an.word = w.word AND an.i = len(w.word)
        JOIN em_b{k} b ON b.word = w.word AND b.i = li.i + ll.l
        JOIN em_r{k} r ON r.piece = substr(w.word, li.i + 1, ll.l)
        WHERE an.al > 0
      ) GROUP BY piece
    )"""
        )
        parts.append(
            f"""em_c{k + 1} AS MATERIALIZED (
      SELECT piece, c FROM (
        SELECT piece, ec AS c FROM em_e{k}
        WHERE len(piece) >= 2 AND ec > 0
        ORDER BY ec DESC, piece LIMIT {int(keep_size)}
      )
      UNION ALL
      SELECT ch.piece, CAST(greatest(coalesce(e.ec, 0), 1) AS BIGINT) AS c
      FROM em_chars ch LEFT JOIN em_e{k} e USING (piece)
    )"""
        )
    parts.append(
        f"""em_final AS (
      SELECT piece, CAST(len(piece) AS INT) AS piece_len, c,
             c / (SELECT CAST(sum(c) AS DOUBLE) FROM em_c{int(n_rounds)}) AS p
      FROM em_c{int(n_rounds)}
    )"""
    )
    return ",\n    ".join(parts)


__all__ = [
    "piece_stats",
    "viterbi_segment_stats",
    "viterbi_segment",
    "unigram_piece_ids",
    "unigram_encode_docs",
    "unigram_em_train",
    "unigram_em_cte_sql",
    "unigram_cte_sql",
]
