"""WordPiece-style tokenizer: frequency-selected subword vocabulary +
greedy longest-match segmentation (Wu et al. 2016's inference scheme;
Schuster & Nakajima 2012 lineage) — the second tokenizer family next to
operators/bpe.py, sharing its discipline: everything trains and
segments on the DISTINCT-WORD relation (vocab ≪ corpus), never the raw
text, and every step has an exact DuckDB replay.

Reference scope note: the reference engine has no text operators — this
module is part of the beyond-reference training-data surface.

Vocabulary selection is pure relational algebra: explode every
substring (length 2..max_piece_len) of every distinct word weighted by
word count, take the top-K by total weight (count DESC, piece ASC — a
total order, so selection is deterministic and SQL-replayable), and
union the corpus alphabet (all single chars) for guaranteed coverage.

Segmentation is greedy longest-match per DISTINCT WORD. Built-in
column functions cannot express an unbounded data-dependent loop, so
this is the documented Arrow-batched pandas-UDF exception — but it
runs at VOCAB scale (one call per distinct word, never per token
occurrence), with the piece set broadcast once per executor. The
DuckDB replay is a recursive CTE taking the longest matching piece at
each position (``ORDER BY len(piece) DESC LIMIT 1`` in a lateral),
bit-identical to the UDF's loop.

Corpus-scale application then reuses the BPE join discipline: word
occurrences join the segmented distinct-word relation broadcast below
a counted row threshold, hash join above (operators/bpe.py:_word_join).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from pyspark.sql import Window

from parquet_rewriter_spark.operators.util import persist

from parquet_rewriter_spark.operators.bpe import (
    BROADCAST_MAX_WORDS,
    _word_join,
    assemble_doc_ids,
    count_with_bytes,
    word_counts,
)


def substring_vocab(
    df: DataFrame,
    text_col: str,
    max_piece_len: int = 4,
    vocab_size: int = 150,
    wc: DataFrame | None = None,
) -> DataFrame:
    """(piece) — the WordPiece inventory: top ``vocab_size`` substrings
    of length 2..max_piece_len by corpus-weighted occurrence count,
    plus the full corpus alphabet. One vocab-scale job downstream of
    the single corpus scan in word_counts."""
    if wc is None:
        wc = word_counts(df, text_col)
    lens = F.filter(
        F.sequence(F.lit(2), F.lit(max_piece_len)),
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
    topk = (
        wc.select(F.explode(subs).alias("piece"), "cnt")
        .groupBy("piece")
        .agg(F.sum("cnt").alias("c"))
        .orderBy(F.col("c").desc(), "piece")
        .limit(vocab_size)
        .select("piece")
    )
    chars = wc.select(
        F.explode(F.split(F.col("word"), "(?!^)")).alias("piece")
    ).where(F.col("piece") != "").distinct()
    return topk.unionByName(chars).distinct()


def _piece_list(pieces: "DataFrame | list[str]") -> list[str]:
    """The vocab_size-bounded inventory as a driver list — collected
    once when given as a relation, passed through when the caller
    already collected it (so encode paths never re-execute the
    corpus-scale vocab plan a second time)."""
    if isinstance(pieces, list):
        return pieces
    return [r["piece"] for r in pieces.select("piece").collect()]


def _piece_ids_local(spark, piece_rows: list[str]) -> DataFrame:
    """:func:`piece_ids` computed driver-side from an already-collected
    inventory: dense ids in piece order. Python's code-point sort
    equals Spark's UTF8 binary ORDER BY for distinct strings, so the
    (piece, piece_id) relation is bit-identical to the window form —
    without re-executing the vocab plan that produced the pieces."""
    return spark.createDataFrame(
        [(p, i) for i, p in enumerate(sorted(piece_rows))],
        "piece string, piece_id int",
    )


def wordpiece_segment(
    words: DataFrame,
    pieces: "DataFrame | list[str]",
    word_col: str = "word",
) -> DataFrame:
    """Greedy longest-match segmentation of each row's ``word_col``:
    adds ``pieces`` (array<string>) and ``n_pieces``. ``pieces`` (the
    relation) is vocab_size-bounded — collected once and broadcast to
    executors; the match loop is an Arrow-batched pandas UDF over the
    (distinct-word-scale) input. A char with no piece (impossible when
    the vocab's alphabet came from the same corpus) falls back to the
    single char, keeping segmentation total."""
    piece_rows = _piece_list(pieces)
    spark = words.sparkSession
    bc = spark.sparkContext.broadcast(
        (frozenset(piece_rows), max((len(p) for p in piece_rows), default=1))
    )

    @F.pandas_udf("array<string>")
    def seg(col: pd.Series) -> pd.Series:
        pset, lmax = bc.value

        def one(w):
            if w is None:
                return None
            out, pos, n = [], 0, len(w)
            while pos < n:
                for l in range(min(lmax, n - pos), 0, -1):
                    cand = w[pos : pos + l]
                    if cand in pset:
                        out.append(cand)
                        pos += l
                        break
                else:
                    out.append(w[pos])
                    pos += 1
            return out

        return col.map(one)

    return words.withColumn("pieces", seg(F.col(word_col))).withColumn(
        "n_pieces", F.size("pieces")
    )


def wordpiece_fertility_by(
    df: DataFrame,
    text_col: str,
    group_col: str,
    pieces: DataFrame,
    broadcast_threshold: int = BROADCAST_MAX_WORDS,
    wc: DataFrame | None = None,
) -> DataFrame:
    """Tokenizer fertility per group under the WordPiece inventory:
    segment each DISTINCT word once, then word occurrences join the
    (word → n_pieces) relation — broadcast under the distinct-word
    threshold, hash join above (the BPE join discipline). Returns
    (group, n_words, n_pieces, fertility)."""
    if wc is None:
        wc = word_counts(df, text_col)
    # persisted + ONE fused count/byte-gate job (segd is 1:1 with wc):
    # the gate materializes the cache, so the fertility join reads it
    # instead of re-running the distinct-word aggregate + greedy-match
    # segmentation; the cache belongs to the caller's cache_scope
    segd = persist(wordpiece_segment(wc, pieces).select("word", "n_pieces"))
    n_words, est = count_with_bytes(segd)
    w = F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != "")
    occ = df.select(F.col(group_col).alias("grp"), F.explode(w).alias("word"))
    return (
        _word_join(occ, segd, n_words, broadcast_threshold, est_bytes=est)
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_pieces").alias("n_pieces"),
        )
        .select(
            F.col("grp").alias(group_col),
            "n_words",
            "n_pieces",
            F.round(F.col("n_pieces") / F.col("n_words"), 4).alias("fertility"),
        )
    )


def piece_ids(pieces: DataFrame) -> DataFrame:
    """The WordPiece tokenizer ARTIFACT id map: (piece, piece_id) with
    dense ids in piece order — deterministic in any engine. The
    inventory is vocab_size-bounded, so the single-partition ranking
    window is a non-issue at any scale (same cost class as
    operators/bpe.py:symbol_vocab)."""
    w = Window.partitionBy().orderBy("piece")
    return pieces.select(
        "piece", (F.row_number().over(w) - 1).alias("piece_id")
    )


def wordpiece_encode_docs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    pieces: DataFrame,
    broadcast_threshold: int = BROADCAST_MAX_WORDS,
    unk_id: int | None = None,
    wc: DataFrame | None = None,
    pretokenize: bool = False,
) -> DataFrame:
    """Encode documents to WordPiece piece-id sequences — the full
    lifecycle parity with operators/bpe.py:encode_docs: segment each
    DISTINCT word once (greedy longest-match at vocab scale), id-map
    its pieces through the broadcast vocab_size-bounded piece-id
    relation, then documents' word occurrences join the (word → ids)
    projection through the thresholded word join and reassemble
    order-safely (bpe.assemble_doc_ids). Returns (id_col, input_ids,
    n_tokens).

    ``unk_id`` enables the FROZEN-TOKENIZER path (inventory trained on
    a different corpus): the segmenter's single-char fallback can emit
    pieces outside the inventory, which the default inner id join
    would SILENTLY DROP, shortening sequences — with ``unk_id`` set,
    the join is LEFT and out-of-inventory pieces surface as that id.

    ``pretokenize`` uses the GPT-2-style shared front end
    (operators/bpe.py:words_expr) — it MUST match the normalization
    the inventory (and any passed ``wc``) was built with."""
    if wc is None:
        wc = word_counts(df, text_col, pretokenize)
    # ONE execution of the vocab plan: collect the bounded inventory,
    # hand the list to the segmenter (which would otherwise collect it
    # again) and rebuild the id map driver-side (which would otherwise
    # re-run the whole substring_vocab subtree inside the id join)
    piece_rows = _piece_list(pieces)
    segd = wordpiece_segment(wc, piece_rows)
    pid = _piece_ids_local(df.sparkSession, piece_rows)
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
    # aggregate + Arrow segmentation a second time. The cache belongs
    # to the caller's cache_scope.
    word_ids = persist(word_ids)
    n_words, est = count_with_bytes(word_ids)
    return assemble_doc_ids(
        df, id_col, text_col, word_ids, n_words, broadcast_threshold,
        pretokenize=pretokenize, est_bytes=est,
    )


# ------------------------------------------------------- marked variant

MARK = "##"


def substring_vocab_marked(
    df: DataFrame,
    text_col: str,
    max_piece_len: int = 4,
    vocab_size: int = 150,
    wc: DataFrame | None = None,
) -> DataFrame:
    """BERT-convention WordPiece inventory (Devlin et al. 2019;
    Schuster & Nakajima 2012): word-INITIAL substrings enter bare,
    word-INTERNAL substrings enter ``##``-prefixed — the marker that
    makes the id stream LOSSLESSLY decodable (a bare piece starts a
    word, a ``##`` piece continues it). Top ``vocab_size`` marked
    substrings of inner length 2..max_piece_len by corpus weight
    (count DESC, piece ASC — total order), plus the corpus alphabet in
    BOTH forms for guaranteed coverage. Assumes the corpus' words do
    not themselves contain the marker (standard WordPiece
    preprocessing strips it)."""
    if wc is None:
        wc = word_counts(df, text_col)
    lens = F.filter(
        F.sequence(F.lit(2), F.lit(max_piece_len)),
        lambda l: F.length("word") >= l,
    )
    subs = F.flatten(
        F.transform(
            lens,
            lambda l: F.transform(
                F.sequence(F.lit(1), F.length("word") - l + 1),
                lambda i: F.when(i == 1, F.col("word").substr(i, l)).otherwise(
                    F.concat(F.lit(MARK), F.col("word").substr(i, l))
                ),
            ),
        )
    )
    topk = (
        wc.select(F.explode(subs).alias("piece"), "cnt")
        .groupBy("piece")
        .agg(F.sum("cnt").alias("c"))
        .orderBy(F.col("c").desc(), "piece")
        .limit(vocab_size)
        .select("piece")
    )
    chars = wc.select(
        F.explode(F.split(F.col("word"), "(?!^)")).alias("ch")
    ).where(F.col("ch") != "").distinct()
    both = chars.select(F.col("ch").alias("piece")).unionByName(
        chars.select(F.concat(F.lit(MARK), F.col("ch")).alias("piece"))
    )
    return topk.unionByName(both).distinct()


def wordpiece_segment_marked(
    words: DataFrame,
    pieces: "DataFrame | list[str]",
    word_col: str = "word",
) -> DataFrame:
    """Position-aware greedy longest-match under the MARKED inventory:
    at word position 0 only bare pieces match, after it only ``##``
    pieces (their inner text). Adds ``pieces`` (array of marked
    strings) and ``n_pieces``; same vocab-scale Arrow-batched shape as
    :func:`wordpiece_segment`, replayed by the position-aware
    recursive CTE in :func:`wordpiece_marked_cte_sql`."""
    piece_rows = _piece_list(pieces)
    inner_max = max(
        (len(p) - len(MARK) if p.startswith(MARK) else len(p))
        for p in piece_rows
    ) if piece_rows else 1
    spark = words.sparkSession
    bc = spark.sparkContext.broadcast((frozenset(piece_rows), inner_max))

    @F.pandas_udf("array<string>")
    def seg(col: pd.Series) -> pd.Series:
        pset, lmax = bc.value

        def one(w):
            if w is None:
                return None
            out, pos, n = [], 0, len(w)
            while pos < n:
                for l in range(min(lmax, n - pos), 0, -1):
                    key = w[pos : pos + l] if pos == 0 else MARK + w[pos : pos + l]
                    if key in pset:
                        out.append(key)
                        pos += l
                        break
                else:
                    out.append(w[pos] if pos == 0 else MARK + w[pos])
                    pos += 1
            return out

        return col.map(one)

    return words.withColumn("pieces", seg(F.col(word_col))).withColumn(
        "n_pieces", F.size("pieces")
    )


def wordpiece_encode_marked(
    df: DataFrame,
    id_col: str,
    text_col: str,
    pieces: DataFrame,
    broadcast_threshold: int = BROADCAST_MAX_WORDS,
    wc: DataFrame | None = None,
) -> DataFrame:
    """Documents → marked-WordPiece piece-id sequences — the same
    shared-tail discipline as :func:`wordpiece_encode_docs`, under the
    marked inventory (so the stream decodes losslessly)."""
    if wc is None:
        wc = word_counts(df, text_col)
    # same one-execution discipline as wordpiece_encode_docs: the vocab
    # plan runs once, the id map rebuilds driver-side
    piece_rows = _piece_list(pieces)
    segd = wordpiece_segment_marked(wc, piece_rows)
    pid = _piece_ids_local(df.sparkSession, piece_rows)
    word_ids = (
        segd.select("word", F.posexplode("pieces").alias("pos", "piece"))
        .join(F.broadcast(pid), "piece")
        .groupBy("word")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "piece_id"))),
                lambda s: s.piece_id,
            ).alias("ids")
        )
    )
    # same one-pass discipline as wordpiece_encode_docs: persist, then
    # ONE fused count+byte-gate job over word_ids materializes the
    # cache (replacing the former wc.count() pass AND the word join's
    # separate sampled probe — three executions of the distinct-word +
    # segmentation subtree down to one); the cache belongs to the
    # caller's cache_scope
    word_ids = persist(word_ids)
    n_words, est = count_with_bytes(word_ids)
    return assemble_doc_ids(
        df, id_col, text_col, word_ids, n_words, broadcast_threshold,
        est_bytes=est,
    )


def wordpiece_decode_docs(
    encoded: DataFrame,
    ids_col: str,
    pieces: DataFrame,
    out_col: str = "decoded",
) -> DataFrame:
    """Detokenize a marked-WordPiece id stream back to normalized text
    (lowercase, single-space words — encode's own normalization, so
    ``decode(encode(t))`` reproduces it EXACTLY): a bare piece opens a
    new word, a ``##`` piece appends its inner text. The
    vocab-bounded piece table is collected once and inlined as a MAP
    LITERAL; the decode is pure whole-stage-codegen array arithmetic
    (transform lookup + concat_ws + ltrim) — zero shuffle, zero
    Python (the operators/bpe.py:decode_docs discipline)."""
    pid = list(enumerate(sorted(_piece_list(pieces))))
    m = F.map_from_arrays(
        F.array(*[F.lit(i) for i, _ in pid]),
        F.array(*[F.lit(p) for _, p in pid]),
    )

    def render(i):
        p = F.element_at(m, i)
        return F.when(
            F.substring(p, 1, len(MARK)) == MARK,
            F.substring(p, len(MARK) + 1, 1 << 20),
        ).otherwise(F.concat(F.lit(" "), p))

    raw = F.concat_ws("", F.transform(F.col(ids_col), render))
    return encoded.withColumn(out_col, F.ltrim(raw))


# --------------------------------------------------------------- SQL replay


def wordpiece_cte_sql(
    table: str,
    text_col: str,
    max_piece_len: int = 4,
    vocab_size: int = 150,
    pretokenize: bool = False,
) -> str:
    """DuckDB CTE chain replaying vocabulary selection AND greedy
    segmentation exactly: emits ``wc`` (word, cnt), ``wp_vocab``
    (piece) and ``wp_seg`` (word, pieces, n_pieces). The recursive
    ``seg`` CTE advances each word one greedy longest-match step per
    iteration — bit-identical to the pandas UDF's loop.
    ``pretokenize`` swaps the wc front end for the GPT-2-style run
    extraction (operators/bpe.py:words_unnest_sql)."""
    from parquet_rewriter_spark.operators.bpe import words_unnest_sql

    return f"""wc AS (
      SELECT word, count(*) AS cnt
      FROM (
        SELECT {words_unnest_sql(text_col, pretokenize)} AS word
        FROM {table}
      ) GROUP BY word
    ),
    wp_topk AS (
      SELECT piece FROM (
        SELECT substr(word, i, l) AS piece, sum(cnt) AS c
        FROM wc,
             LATERAL (SELECT unnest(generate_series(
                        2, least(len(word), {max_piece_len}))) AS l),
             LATERAL (SELECT unnest(generate_series(1, len(word) - l + 1)) AS i)
        GROUP BY 1
      ) ORDER BY c DESC, piece LIMIT {vocab_size}
    ),
    wp_chars AS (
      SELECT DISTINCT substr(word, i, 1) AS piece
      FROM wc, LATERAL (SELECT unnest(generate_series(1, len(word))) AS i)
    ),
    wp_vocab AS (
      SELECT DISTINCT piece FROM (
        SELECT piece FROM wp_topk UNION ALL SELECT piece FROM wp_chars)
    ),
    seg AS (
      WITH RECURSIVE seg_r AS (
        SELECT word, 0 AS pos, CAST([] AS VARCHAR[]) AS pieces FROM wc
        UNION ALL
        SELECT s.word, s.pos + len(p.best) AS pos,
               list_append(s.pieces, p.best) AS pieces
        FROM seg_r s,
             LATERAL (
               SELECT piece AS best FROM wp_vocab v
               WHERE substr(s.word, s.pos + 1, len(v.piece)) = v.piece
               ORDER BY len(v.piece) DESC, v.piece LIMIT 1
             ) p
        WHERE s.pos < len(s.word)
      )
      SELECT word, pieces FROM seg_r WHERE pos = len(word)
    ),
    wp_seg AS (
      SELECT word, pieces, len(pieces) AS n_pieces FROM seg
    )"""


def wordpiece_frozen_cte_sql(
    train_table: str,
    encode_table: str,
    text_col: str,
    max_piece_len: int = 4,
    vocab_size: int = 150,
) -> str:
    """FROZEN-PATH oracle CTEs: the inventory comes from
    ``train_table``, segmentation runs over ``encode_table``'s OWN
    distinct words with the UDF's single-char FALLBACK modeled in the
    lateral (a frozen tokenizer meets characters training never saw),
    and the id map is a LEFT join with −1 for out-of-inventory
    pieces. Emits ``wc2``, ``seg2``, ``fpid`` and ``word_ids`` on top
    of :func:`wordpiece_cte_sql`'s train-side CTEs."""
    base = wordpiece_cte_sql(train_table, text_col, max_piece_len, vocab_size)
    return base + f""",
    wc2 AS (
      SELECT word, count(*) AS cnt FROM (
        SELECT unnest(list_filter(
                 regexp_split_to_array(lower({text_col}), '\\s+'),
                 w -> w <> '')) AS word
        FROM {encode_table}
      ) GROUP BY word
    ),
    seg2 AS (
      WITH RECURSIVE seg_r AS (
        SELECT word, 0 AS pos, CAST([] AS VARCHAR[]) AS pieces FROM wc2
        UNION ALL
        SELECT s.word, s.pos + p.clen AS pos,
               list_append(s.pieces, p.best) AS pieces
        FROM seg_r s,
             LATERAL (
               SELECT best, clen FROM (
                 SELECT v.piece AS best, len(v.piece) AS clen, 0 AS prio
                 FROM wp_vocab v
                 WHERE substr(s.word, s.pos + 1, len(v.piece)) = v.piece
                 UNION ALL
                 SELECT substr(s.word, s.pos + 1, 1) AS best, 1 AS clen,
                        1 AS prio
               ) ORDER BY prio, clen DESC, best LIMIT 1
             ) p
        WHERE s.pos < len(s.word)
      )
      SELECT word, pieces FROM seg_r WHERE pos = len(word)
    ),
    fpid AS (
      SELECT piece, row_number() OVER (ORDER BY piece) - 1 AS piece_id
      FROM wp_vocab
    ),
    f_pos AS (
      SELECT word, i AS pos, pieces[i] AS piece
      FROM seg2, LATERAL (SELECT unnest(generate_series(1, len(pieces))) AS i)
    ),
    word_ids AS (
      SELECT w.word,
             list_transform(list_sort(list({{'p': w.pos,
                                             'i': coalesce(p.piece_id, -1)}})),
                            x -> x.i) AS ids
      FROM f_pos w LEFT JOIN fpid p USING (piece) GROUP BY w.word
    )"""


def wordpiece_marked_cte_sql(
    table: str, text_col: str, max_piece_len: int = 4, vocab_size: int = 150
) -> str:
    """DuckDB CTE chain for the MARKED family: ``wc`` (word, cnt),
    ``wpm_vocab`` (marked piece inventory) and ``wpm_seg`` (word,
    pieces, n_pieces). The recursive greedy CTE is position-aware —
    bare pieces match only at position 0, ``##`` pieces (by inner
    text) only after it — bit-identical to the marked UDF's loop."""
    ml = len(MARK)
    return f"""wc AS (
      SELECT word, count(*) AS cnt
      FROM (
        SELECT unnest(list_filter(
                 regexp_split_to_array(lower({text_col}), '\\s+'),
                 w -> w <> '')) AS word
        FROM {table}
      ) GROUP BY word
    ),
    wpm_topk AS (
      SELECT piece FROM (
        SELECT CASE WHEN i = 1 THEN substr(word, i, l)
                    ELSE '{MARK}' || substr(word, i, l) END AS piece,
               sum(cnt) AS c
        FROM wc,
             LATERAL (SELECT unnest(generate_series(
                        2, least(len(word), {max_piece_len}))) AS l),
             LATERAL (SELECT unnest(generate_series(1, len(word) - l + 1)) AS i)
        GROUP BY 1
      ) ORDER BY c DESC, piece LIMIT {vocab_size}
    ),
    wpm_chars AS (
      SELECT DISTINCT substr(word, i, 1) AS ch
      FROM wc, LATERAL (SELECT unnest(generate_series(1, len(word))) AS i)
    ),
    wpm_vocab AS (
      SELECT DISTINCT piece FROM (
        SELECT piece FROM wpm_topk
        UNION ALL SELECT ch FROM wpm_chars
        UNION ALL SELECT '{MARK}' || ch FROM wpm_chars)
    ),
    wpm_seg AS (
      WITH RECURSIVE seg_r AS (
        SELECT word, 0 AS pos, CAST([] AS VARCHAR[]) AS pieces FROM wc
        UNION ALL
        SELECT s.word, s.pos + p.clen AS pos,
               list_append(s.pieces, p.best) AS pieces
        FROM seg_r s,
             LATERAL (
               SELECT v.piece AS best,
                      CASE WHEN s.pos = 0 THEN len(v.piece)
                           ELSE len(v.piece) - {ml} END AS clen
               FROM wpm_vocab v
               WHERE CASE WHEN s.pos = 0
                      THEN v.piece NOT LIKE '{MARK}%'
                           AND substr(s.word, 1, len(v.piece)) = v.piece
                      ELSE v.piece LIKE '{MARK}%'
                           AND substr(s.word, s.pos + 1, len(v.piece) - {ml})
                               = substr(v.piece, {ml + 1})
                      END
               ORDER BY clen DESC, v.piece LIMIT 1
             ) p
        WHERE s.pos < len(s.word)
      )
      SELECT word, pieces, len(pieces) AS n_pieces FROM seg_r
      WHERE pos = len(word)
    )"""


__all__ = [
    "substring_vocab",
    "wordpiece_segment",
    "wordpiece_fertility_by",
    "piece_ids",
    "wordpiece_encode_docs",
    "wordpiece_cte_sql",
    "wordpiece_frozen_cte_sql",
    "MARK",
    "substring_vocab_marked",
    "wordpiece_segment_marked",
    "wordpiece_encode_marked",
    "wordpiece_decode_docs",
    "wordpiece_marked_cte_sql",
]
