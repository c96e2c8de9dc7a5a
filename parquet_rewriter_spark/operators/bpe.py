"""Byte-Pair Encoding tokenizer training and application (Sennrich,
Haddow & Birch, ACL 2016) as distributed relational algebra.

Reference scope note: the reference engine has no text operators — this
module is part of the beyond-reference training-data surface.

The classical algorithm, kept classical: one corpus pass aggregates the
word-frequency relation (vocab ≪ corpus — THE key size reduction; BPE
has always trained on the word dictionary, not the raw text), each word
initialized as a space-joined character-symbol string ending in the
``</w>`` marker. Each merge round is then a VOCAB-scale job, not a
corpus-scale one:

    pair counts   explode adjacent symbol pairs weighted by word count
                  (map-side combined; output ≤ distinct-pair rows)
    top pair      1 collected row (count DESC, lhs, rhs — total order,
                  so training is deterministic and SQL-replayable)
    apply merge   a literal string replace ``' l r ' → ' lr '`` over the
                  padded symbol strings (both Spark's ``replace`` and
                  ANSI ``replace`` scan left-to-right non-overlapping —
                  identical greedy semantics, pinned in tests)

The word relation is persisted once, and the merge-round lineage is
TRUNCATED every ``lineage_every`` rounds (``localCheckpoint`` — the
replace chain otherwise re-executes all prior rounds' replaces on
every pair-count pass and grows the logical plan one node per merge;
at a production vocab of 32k merges that quadratic recompute plus a
32k-deep plan kills the driver long before the data does). Training
cost is therefore genuinely 1 corpus scan + ``n_merges`` vocab-scale
rounds, each re-applying at most ``lineage_every`` replaces over the
latest snapshot.

ENCODING reuses the same insight: encode each DISTINCT word once (the
vocab relation already carries the merged symbol strings), then join
documents' exploded words against the (word → n_tokens/ids) relation.
That relation has one row per DISTINCT CORPUS WORD — merge-bounded in
symbol count but NOT in row count (typos, numbers, URLs: 10⁸–10⁹
distinct words at 100 TB) — so the join broadcasts only below a
counted row threshold and falls back to a plain hash join on ``word``
above it (one exchange of the exploded words; a forced broadcast
would remove AQE's fallback and OOM executors at scale).

Everything — char splitting (regexp ``(.) → $1␣``), pair extraction,
tie-breaks, the replace mechanics — has an exact DuckDB replay emitted
by :func:`bpe_vocab_cte_sql`, so merge rules AND downstream fertility
stats are hash-compared, not spot-checked.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from parquet_rewriter_spark.operators.util import local_checkpoint, persist, release

END = "</w>"

# GPT-2-style PRETOKENIZATION (Radford et al. 2019's pattern, reduced
# to the Java∩RE2-portable subset — the functions/pii.py discipline):
# lowercased text splits into runs of letters, runs of digits, and
# runs of other printable characters, so `word,` / `word.` / `word`
# all contribute the SAME letter run to the vocabulary instead of
# gluing punctuation into distinct entries. Whitespace is the
# explicit class [ \t\n\r\f] (Java's \s adds \x0B, RE2's drops it —
# spelling it out keeps both engines on the identical set).
PRETOK_RE = "[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\r\\f]+"

# Broadcast the (word → n_tokens/ids) relation only below this many
# distinct words; above it, a plain hash join on `word` (the relation
# is unbounded at corpus scale — see module docstring).
BROADCAST_MAX_WORDS = 2_000_000

# ... and only below this ESTIMATED serialized payload: the row gate
# alone under-protects — for encode_docs the relation carries (word,
# input_ids array), so 2M rows can be hundreds of MB to GBs, big
# enough to OOM the driver/executors the gate exists to protect, while
# a forced hint bypasses Spark's own byte-based
# autoBroadcastJoinThreshold. Above either gate the join is left
# UN-HINTED, so AQE's byte-based planner still picks a broadcast when
# the actual build side turns out small.
BROADCAST_MAX_BYTES = 64 * 1024 * 1024


# Rows sampled for the byte-gate width estimate — bounds the extra
# plan-construction job regardless of relation size.
_BYTE_GATE_SAMPLE_ROWS = 65_536


def _relation_bytes(rel: DataFrame, n_rows: int) -> int:
    """Estimated serialized payload of a per-distinct-word relation:
    average JSON-rendered row width over a DETERMINISTIC HASH-MOD
    sample (~:data:`_BYTE_GATE_SAMPLE_ROWS` rows), extrapolated by
    the already-counted row count — a close-enough proxy for
    broadcast width in a go/no-go gate. Hash-mod (xxhash64 of the
    relation's first column, a unique key in every caller) is UNBIASED
    with respect to layout, unlike the former ``LIMIT`` sample, which
    read whatever partitions answered first and could skew the width
    estimate when row width correlates with order (e.g. a
    frequency-sorted vocab whose long-tail words carry the widest id
    arrays). The modulus derives from the already-known row count, so
    the sample stays bounded; rows at or under the sample cap measure
    exactly. Only evaluated when the ROW count is already under
    BROADCAST_MAX_WORDS, so the one hash+filter pass is vocab-scale
    at worst — the same cost class as the count that produced
    ``n_rows``."""
    mod = max(1, n_rows // _BYTE_GATE_SAMPLE_ROWS)
    sample = (
        rel
        if mod == 1
        else rel.where(
            F.pmod(F.xxhash64(F.col(rel.columns[0])), F.lit(mod)) == 0
        )
    )
    row = sample.select(
        F.sum(
            F.length(F.to_json(F.struct(*[F.col(c) for c in rel.columns])))
        ).alias("b"),
        F.count(F.lit(1)).alias("n"),
    ).collect()
    b, n = int(row[0]["b"] or 0), int(row[0]["n"] or 0)
    if n == 0:
        return 0
    return int(b / n * max(n_rows, n))


def count_with_bytes(rel: DataFrame, sample_mod: int = 16) -> tuple[int, int]:
    """(row count, estimated serialized bytes) of a per-distinct-word
    relation in ONE job — the fusion of the count callers already pay
    and the byte-gate probe :func:`_word_join` would otherwise run as
    a separate sequential job (guide §1.2 — don't run two jobs where
    one does). The byte estimate is the same deterministic hash-mod
    sample as :func:`_relation_bytes` at a fixed 1/``sample_mod`` rate
    (to_json width on sampled rows only), extrapolated by the exact
    count. A zero-sample outcome (tiny relations) estimates 0 — a
    relation too small to hit the sample is trivially broadcastable."""
    row = rel.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(
                F.pmod(F.xxhash64(F.col(rel.columns[0])), F.lit(sample_mod))
                == 0,
                F.length(
                    F.to_json(F.struct(*[F.col(c) for c in rel.columns]))
                ),
            )
        ).alias("b"),
    ).collect()
    n = int(row[0]["n"] or 0)
    est = int(row[0]["b"] or 0) * sample_mod
    return n, est


def _word_join(occ: DataFrame, rel: DataFrame, n_words: int,
               broadcast_threshold: int,
               est_bytes: int | None = None) -> DataFrame:
    """Join exploded word occurrences against a per-distinct-word
    relation: force-broadcast only when BOTH the distinct-word count
    and the estimated payload bytes are under their gates; otherwise
    un-hinted (hash join, with AQE free to re-plan). ``est_bytes``
    (from :func:`count_with_bytes`) skips the byte-probe job when the
    caller already measured the relation."""
    small = n_words <= broadcast_threshold and (
        est_bytes
        if est_bytes is not None
        else _relation_bytes(rel, n_words)
    ) <= BROADCAST_MAX_BYTES
    return occ.join(F.broadcast(rel) if small else rel, "word")


def words_expr(text_col: str, pretokenize: bool = False) -> Column:
    """The SHARED word-normalization front end of every tokenizer
    family (BPE/WordPiece/unigram import it): an array of word tokens
    from ``text_col``. Default: lowercased whitespace split.
    ``pretokenize=True``: the GPT-2-style :data:`PRETOK_RE` extraction
    — letter runs, digit runs, punctuation runs — so punctuation never
    glues to words. Both forms replay identically in DuckDB
    (``regexp_split_to_array`` / ``regexp_extract_all``)."""
    if pretokenize:
        return F.regexp_extract_all(
            F.lower(F.col(text_col)), F.lit(PRETOK_RE), 0
        )
    return F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != "")


def word_counts(
    df: DataFrame, text_col: str, pretokenize: bool = False
) -> DataFrame:
    """(word, cnt) over normalized word tokens — the one corpus-scale
    pass of BPE training (see :func:`words_expr` for the two
    normalizations)."""
    return (
        df.select(F.explode(words_expr(text_col, pretokenize)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _init_sym(byte_level: bool = False) -> Column:
    """Padded initial symbol string of ``word``:
    ``' h e l l o </w> '`` — every symbol has a space on both sides so
    a merge is ONE literal replace. ``byte_level=True`` initializes to
    the word's UTF-8 BYTES as uppercase hex pairs
    (``' 68 65 6C 6C 6F </w> '``) — GPT-2's byte-level alphabet: ≤256
    base symbols, every string representable, no unk possible. Hex
    rendering is byte-identical across engines (Spark
    ``hex(encode(w))`` == DuckDB ``hex(w)``, both uppercase)."""
    if byte_level:
        body = F.regexp_replace(
            F.hex(F.encode(F.col("word"), "UTF-8")), "(..)", "$1 "
        )
    else:
        body = F.regexp_replace(F.col("word"), "(.)", "$1 ")
    return F.concat(F.lit(" "), body, F.lit(END), F.lit(" "))


def _pair_counts(vocab: DataFrame) -> DataFrame:
    """(lhs, rhs, c): adjacent-symbol pair counts weighted by word
    count. Codegen split/slice/zip/explode; map-side combined."""
    arr = F.split(F.trim(F.col("sym")), " ")
    n = F.size(arr)
    pairs = F.zip_with(
        F.slice(arr, 1, n - 1),
        F.slice(arr, 2, n - 1),
        lambda a, b: F.struct(a.alias("lhs"), b.alias("rhs")),
    )
    return (
        vocab.where(n >= 2)
        .select(F.explode(pairs).alias("p"), "cnt")
        .groupBy(F.col("p.lhs").alias("lhs"), F.col("p.rhs").alias("rhs"))
        .agg(F.sum("cnt").alias("c"))
    )


def bpe_train(
    df: DataFrame,
    text_col: str,
    n_merges: int = 6,
    lineage_every: int = 25,
    pretokenize: bool = False,
    byte_level: bool = False,
) -> tuple[list[dict], DataFrame]:
    """Learn ``n_merges`` merge rules. Returns (rules, vocab): rules as
    [{step, lhs, rhs, merged, pair_count}, ...] in learned order, vocab
    as the final (word, cnt, sym) relation with all merges applied
    (reuse it for encoding — don't retrain).

    Every ``lineage_every`` merges the vocab is snapshotted with an
    eager ``localCheckpoint``, truncating both the recompute chain
    (each pair-count pass otherwise replays EVERY prior round's
    replace over the cached base — O(n_merges²) work) and the logical
    plan (one ``withColumn`` node per merge — a 32k-production-vocab
    plan overwhelms the analyzer). Between snapshots each round
    re-applies at most ``lineage_every`` replaces; also counts the
    distinct-word relation once so encode/fertility can pick their
    join strategy without an extra job (``vocab_n_words`` attribute on
    the returned DataFrame's ``_pr_n_words``).

    ``pretokenize`` trains on GPT-2-style pretokenized runs instead of
    whitespace words; ``byte_level`` initializes symbols to UTF-8 hex
    byte pairs (see :func:`_init_sym`) — together the production
    combination: punctuation never glues to words, and EVERY string is
    losslessly encodable from a ≤256-symbol base alphabet.

    Training's caches (the base relation, the snapshots and the
    returned vocab) belong to the caller's ``util.cache_scope``."""
    base = persist(word_counts(df, text_col, pretokenize).select(
        "word", "cnt", _init_sym(byte_level).alias("sym")
    ))
    # materialize (n_merges rounds reuse the cache) and, in the SAME
    # job, sample the relation's serialized width — encode/fertility
    # callers need (count, bytes) for their broadcast gate, and reading
    # both off this one action saves them a separate sampled probe job
    # per call (guide §1.2)
    n_words, est_bytes = count_with_bytes(base)
    vocab = base
    anchor = base  # the persisted/snapshotted ancestor `vocab` derives from
    rules: list[dict] = []
    for step in range(1, n_merges + 1):
        top = (
            _pair_counts(vocab)
            .orderBy(F.col("c").desc(), F.col("lhs"), F.col("rhs"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        l, r, c = top[0]["lhs"], top[0]["rhs"], int(top[0]["c"])
        rules.append(
            {"step": step, "lhs": l, "rhs": r, "merged": l + r, "pair_count": c}
        )
        vocab = vocab.withColumn(
            "sym", F.replace(F.col("sym"), F.lit(f" {l} {r} "), F.lit(f" {l}{r} "))
        )
        if lineage_every and step % lineage_every == 0 and step < n_merges:
            # eager snapshot: plan depth and per-round recompute both
            # reset to zero; free the predecessor's cache or checkpoint
            vocab = local_checkpoint(vocab, eager=True)
            release(anchor)
            anchor = vocab
    if vocab is not anchor:
        # persisted LAZILY: the caller's first action fills it from the
        # still-cached anchor, which the owning cache_scope holds until
        # exit — both are vocab-scale, and an eager persist+count to
        # free the anchor earlier would cost one sequential job per run
        vocab = persist(vocab)
    vocab._pr_n_words = n_words  # distinct-word count, join-strategy hint
    vocab._pr_est_bytes = est_bytes  # sampled width, broadcast byte gate
    # stamp the training normalization so encode paths can refuse a
    # silent flag mismatch (unseen words would just drop through the
    # inner word join, shrinking or vanishing docs with no error)
    vocab._pr_flags = (bool(pretokenize), bool(byte_level))
    return rules, vocab


def _assert_train_flags(
    vocab: DataFrame,
    pretokenize: bool,
    byte_level: bool | None = None,
    where: str = "encode",
) -> None:
    """Refuse a train/encode normalization mismatch when the vocab
    carries its training stamp (:func:`bpe_train` sets ``_pr_flags``).
    A mismatch is otherwise SILENT — pretokenized encode words never
    match whitespace-trained vocab rows (and vice versa), so docs
    shrink or vanish through the inner word join. Vocabs without the
    stamp (e.g. reloaded from parquet) fall back to the documented
    caller contract."""
    flags = getattr(vocab, "_pr_flags", None)
    if flags is None:
        return
    t_pt, t_bl = flags
    if bool(pretokenize) != t_pt:
        raise ValueError(
            f"{where}: pretokenize={bool(pretokenize)} does not match the "
            f"vocab's training stamp pretokenize={t_pt}; unseen words would "
            "silently drop through the word join"
        )
    if byte_level is not None and bool(byte_level) != t_bl:
        raise ValueError(
            f"{where}: byte_level={bool(byte_level)} does not match the "
            f"vocab's training stamp byte_level={t_bl}; symbol alphabets "
            "would silently disagree"
        )


def rules_df(spark: SparkSession, rules: list[dict]) -> DataFrame:
    from pyspark.sql.types import (
        LongType, IntegerType, StringType, StructField, StructType,
    )

    schema = StructType(
        [
            StructField("step", IntegerType()),
            StructField("lhs", StringType()),
            StructField("rhs", StringType()),
            StructField("merged", StringType()),
            StructField("pair_count", LongType()),
        ]
    )
    return spark.createDataFrame(
        [(r["step"], r["lhs"], r["rhs"], r["merged"], r["pair_count"]) for r in rules],
        schema,
    )


def vocab_token_counts(vocab: DataFrame) -> DataFrame:
    """(word, n_tokens) under the trained merges — each distinct word
    encoded ONCE; broadcast this against the corpus."""
    return vocab.select(
        "word", F.size(F.split(F.trim(F.col("sym")), " ")).alias("n_tokens")
    )


def fertility_by(
    df: DataFrame,
    text_col: str,
    group_col: str,
    vocab: DataFrame,
    broadcast_threshold: int = BROADCAST_MAX_WORDS,
    pretokenize: bool = False,
) -> DataFrame:
    """Tokenizer fertility (tokens per word) per group: explode the
    corpus into word occurrences, join the per-distinct-word token
    counts (broadcast under ``broadcast_threshold`` distinct words,
    hash join above — the relation is corpus-unbounded), aggregate.
    (group, n_words, n_tokens, fertility). ``pretokenize`` MUST match
    the vocab's training normalization (asserted when the vocab
    carries its training stamp)."""
    _assert_train_flags(vocab, pretokenize, where="fertility_by")
    w = words_expr(text_col, pretokenize)
    occ = df.select(F.col(group_col).alias("grp"), F.explode(w).alias("word"))
    vt = vocab_token_counts(vocab)
    n_words = getattr(vocab, "_pr_n_words", None) or vocab.count()
    return (
        _word_join(occ, vt, n_words, broadcast_threshold,
                   est_bytes=getattr(vocab, "_pr_est_bytes", None))
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        .select(
            F.col("grp").alias(group_col),
            "n_words",
            "n_tokens",
            F.round(F.col("n_tokens") / F.col("n_words"), 4).alias("fertility"),
        )
    )


# --------------------------------------------------------------- SQL replay


def words_unnest_sql(text_col: str, pretokenize: bool = False) -> str:
    """DuckDB expression producing one ``word`` per row from
    ``text_col`` — the oracle twin of :func:`words_expr` (compose
    inside ``SELECT ... AS word FROM <table>``)."""
    if pretokenize:
        return (
            f"unnest(regexp_extract_all(lower({text_col}), "
            f"'{PRETOK_RE}'))"
        )
    return (
        f"unnest(list_filter(regexp_split_to_array(lower({text_col}), "
        f"'\\s+'), w -> w <> ''))"
    )


def bpe_vocab_cte_sql(
    table: str,
    text_col: str,
    n_merges: int,
    pretokenize: bool = False,
    byte_level: bool = False,
) -> str:
    """DuckDB CTE chain replaying training exactly: emits CTEs
    ``v0..v{n}`` (word, cnt, sym) and ``t1..t{n}`` (step, lhs, rhs, c).
    Compose with a final SELECT over the ``t``s (merge rules) or
    ``v{n}`` (encoded vocab). ``pretokenize``/``byte_level`` replay
    the corresponding training flags (DuckDB ``hex(word)`` hexes the
    VARCHAR's UTF-8 bytes — byte-identical to Spark's
    ``hex(encode(word))``, both uppercase)."""
    if byte_level:
        sym0 = f"' ' || regexp_replace(hex(word), '(..)', '\\1 ', 'g') || '{END} '"
    else:
        sym0 = f"' ' || regexp_replace(word, '(.)', '\\1 ', 'g') || '{END} '"
    parts = [
        f"""v0 AS (
          SELECT word, count(*) AS cnt,
                 {sym0} AS sym
          FROM (
            SELECT {words_unnest_sql(text_col, pretokenize)} AS word
            FROM {table}
          ) GROUP BY word
        )"""
    ]
    for s in range(1, n_merges + 1):
        prev = f"v{s - 1}"
        parts.append(
            f"""p{s} AS (
              SELECT ws[i] AS lhs, ws[i + 1] AS rhs, CAST(sum(cnt) AS BIGINT) AS c
              FROM (SELECT string_split(trim(sym), ' ') AS ws, cnt FROM {prev}),
                   LATERAL (SELECT unnest(generate_series(1, len(ws) - 1)) AS i)
              GROUP BY 1, 2
            )""")
        parts.append(
            f"""t{s} AS (
              SELECT {s} AS step, lhs, rhs, c FROM p{s}
              ORDER BY c DESC, lhs, rhs LIMIT 1
            )""")
        parts.append(
            f"""v{s} AS (
              SELECT word, cnt,
                     replace(sym, ' ' || t.lhs || ' ' || t.rhs || ' ',
                                  ' ' || t.lhs || t.rhs || ' ') AS sym
              FROM {prev}, t{s} t
            )""")
    return ",\n".join(parts)


__all__ = [
    "END",
    "PRETOK_RE",
    "words_expr",
    "words_unnest_sql",
    "word_counts",
    "bpe_train",
    "rules_df",
    "vocab_token_counts",
    "fertility_by",
    "symbol_vocab",
    "assemble_doc_ids",
    "encode_docs",
    "apply_merges",
    "encode_docs_with_rules",
    "decode_docs",
    "bpe_vocab_cte_sql",
]


def symbol_vocab(vocab: DataFrame, base_bytes: bool = False) -> DataFrame:
    """The tokenizer ARTIFACT: (symbol, token_id, freq) over the final
    merged symbols — ids are dense ranks in symbol order (deterministic
    in any engine), freq is the corpus-weighted occurrence count. The
    relation is bounded (≤ alphabet + n_merges + |END| symbols), so the
    single-partition ranking window is a non-issue at any scale.

    ``base_bytes=True`` (byte-level tokenizers only) unions ALL 256
    base byte symbols (uppercase hex pairs, freq 0 when unseen in
    training) into the artifact — the GPT-2 guarantee that the frozen
    tokenizer can encode EVERY string without unk: a holdout word's
    un-merged symbols are always single bytes, and every single byte
    has an id."""
    from pyspark.sql import Window

    syms = vocab.select(
        F.explode(F.split(F.trim(F.col("sym")), " ")).alias("symbol"),
        F.col("cnt"),
    )
    if base_bytes:
        spark = vocab.sparkSession
        base = spark.range(256).select(
            F.lpad(F.upper(F.hex(F.col("id"))), 2, "0").alias("symbol"),
            F.lit(0).cast("long").alias("cnt"),
        )
        # END belongs to the STRUCTURAL alphabet too: every segmented
        # word ends with it, and it only reaches the artifact through
        # training words — an EMPTY training slice would otherwise
        # leave the marker id-less and every encoded word would carry
        # one spurious unk (hypothesis-found; for any non-empty corpus
        # END is already present, so ids are unchanged)
        end = spark.range(1).select(
            F.lit(END).alias("symbol"), F.lit(0).cast("long").alias("cnt")
        )
        syms = syms.unionByName(base).unionByName(end)
    agg = syms.groupBy("symbol").agg(F.sum("cnt").alias("freq"))
    w = Window.partitionBy().orderBy("symbol")
    return agg.select(
        "symbol", (F.row_number().over(w) - 1).alias("token_id"), "freq"
    )


def assemble_doc_ids(
    df: DataFrame,
    id_col: str,
    text_col: str,
    word_ids: DataFrame,
    n_words: int,
    broadcast_threshold: int = BROADCAST_MAX_WORDS,
    pretokenize: bool = False,
    est_bytes: int | None = None,
) -> DataFrame:
    """Corpus-side half of every tokenizer family's encode path,
    shared by BPE/WordPiece/unigram: documents' word occurrences join
    a (word → ids array) relation — each DISTINCT word id-mapped ONCE
    at vocab scale by the caller — through the thresholded
    :func:`_word_join`, and per-doc sequences reassemble order-safely
    via array_sort over (position, ids) structs (never a bare
    collect_list, whose order is partition-dependent). Returns
    (id_col, input_ids, n_tokens). ``pretokenize`` MUST match the
    normalization the ``word_ids`` relation was built with."""
    wlist = words_expr(text_col, pretokenize)
    words = df.select(
        F.col(id_col).alias("id"), F.posexplode(wlist).alias("wpos", "word")
    )
    return (
        _word_join(words, word_ids, n_words, broadcast_threshold,
                   est_bytes=est_bytes)
        .groupBy("id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("wpos", "ids"))),
                    lambda s: s.ids,
                )
            ).alias("input_ids")
        )
        .select(
            F.col("id").alias(id_col),
            "input_ids",
            F.size("input_ids").alias("n_tokens"),
        )
    )


def encode_docs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    vocab: DataFrame,
    broadcast_threshold: int = BROADCAST_MAX_WORDS,
    pretokenize: bool = False,
) -> DataFrame:
    """Encode documents to BPE token-id sequences: (id, input_ids,
    n_tokens). Same discipline as fertility_by — each DISTINCT word is
    id-mapped ONCE in the vocab relation (vocab-scale), then documents'
    word occurrences join the (word → ids) projection (broadcast under
    ``broadcast_threshold`` distinct words, hash join above) and the
    per-doc sequence reassembles order-safely via array_sort over
    (position, ids) structs (never a bare collect_list, whose order is
    partition-dependent). The SYMBOL-id relation stays force-broadcast
    — it is merge-count-bounded (≤ alphabet + n_merges + 1 rows),
    unlike the distinct-word relation."""
    _assert_train_flags(vocab, pretokenize, where="encode_docs")
    sid = symbol_vocab(vocab)
    word_syms = vocab.select(
        "word",
        F.posexplode(F.split(F.trim(F.col("sym")), " ")).alias("pos", "symbol"),
    )
    word_ids = (
        word_syms.join(F.broadcast(sid.select("symbol", "token_id")), "symbol")
        .groupBy("word")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "token_id"))),
                lambda s: s.token_id,
            ).alias("ids")
        )
    )
    n_words = getattr(vocab, "_pr_n_words", None) or vocab.count()
    # byte gate from training's fused sample (same row count; the vocab
    # row's sym string bounds the ids array's width) — avoids a
    # separate sampled probe job per encode call; reloaded vocabs
    # without the stamp fall back to the probe
    return assemble_doc_ids(
        df, id_col, text_col, word_ids, n_words, broadcast_threshold,
        pretokenize=pretokenize,
        est_bytes=getattr(vocab, "_pr_est_bytes", None),
    )


def apply_merges(
    words: DataFrame,
    rules: list[dict],
    word_col: str = "word",
    byte_level: bool = False,
) -> DataFrame:
    """Apply TRAINED merge rules to new distinct words — the frozen-
    tokenizer path: encoding a corpus the tokenizer was NOT trained on
    (the production shape: train once, encode firehoses forever).
    Each word initializes to its padded symbol string and replays the
    rules in learned order as literal string replaces — Python
    ``str.replace`` scans left-to-right non-overlapping exactly like
    Spark's ``replace`` and ANSI ``replace``, so the result is
    bit-identical to training's own application and to the SQL replay.
    Arrow-batched at DISTINCT-WORD scale (n_merges replaces per
    distinct word, never per occurrence); the rule list is
    merge-count-bounded and broadcast. Adds ``sym``. ``byte_level``
    MUST match training's (hex-pair initialization, bit-identical to
    :func:`_init_sym`: Python ``'%02X'`` == Spark/DuckDB ``hex``)."""
    seq = [
        (f" {r['lhs']} {r['rhs']} ", f" {r['lhs']}{r['rhs']} ") for r in rules
    ]
    spark = words.sparkSession
    bc = spark.sparkContext.broadcast((seq, bool(byte_level)))

    @F.pandas_udf("string")
    def app(col: pd.Series) -> pd.Series:
        rs, as_bytes = bc.value

        def one(w):
            if w is None:
                return None
            syms = (
                ["%02X" % b for b in w.encode("utf-8")] if as_bytes else list(w)
            )
            s = " " + " ".join(syms) + " " + END + " "
            for old, new in rs:
                s = s.replace(old, new)
            return s

        return col.map(one)

    return words.withColumn("sym", app(F.col(word_col)))


def encode_docs_with_rules(
    df: DataFrame,
    id_col: str,
    text_col: str,
    rules: list[dict],
    train_vocab: DataFrame | None = None,
    unk_id: int = -1,
    broadcast_threshold: int = BROADCAST_MAX_WORDS,
    symbol_ids: DataFrame | None = None,
    pretokenize: bool = False,
    byte_level: bool = False,
    base_bytes: bool = False,
) -> DataFrame:
    """Encode ANY corpus — including one disjoint from the training
    corpus — under a frozen tokenizer: the merge rules re-segment this
    corpus' OWN distinct words (:func:`apply_merges`), symbols id-map
    through the training vocab's bounded symbol table with ``unk_id``
    for symbols outside the training alphabet (a LEFT join — an inner
    join would silently shorten sequences), and per-doc reassembly
    uses the shared thresholded tail. ``encode_docs`` remains the
    fast path when the corpus IS the training corpus (its vocab
    relation already carries the merged symbols). Pass either
    ``train_vocab`` (the symbol table is derived) or a precomputed
    ``symbol_ids`` (symbol, token_id) relation — the frozen-artifact
    form the streaming twin broadcasts once.

    ``pretokenize``/``byte_level`` MUST match training's flags;
    ``base_bytes=True`` (byte-level only, with ``train_vocab``)
    derives the symbol table with all 256 base bytes so NO unk is
    possible — every un-merged holdout symbol is a single byte and
    every byte has an id."""
    if train_vocab is not None:
        _assert_train_flags(
            train_vocab, pretokenize, byte_level,
            where="encode_docs_with_rules",
        )
    sid = (
        symbol_ids
        if symbol_ids is not None
        else symbol_vocab(train_vocab, base_bytes=base_bytes)
    )
    wc = word_counts(df, text_col, pretokenize)
    seg = apply_merges(wc, rules, byte_level=byte_level)
    word_syms = seg.select(
        "word",
        F.posexplode(F.split(F.trim(F.col("sym")), " ")).alias("pos", "symbol"),
    )
    word_ids = (
        word_syms.join(
            F.broadcast(sid.select("symbol", "token_id")), "symbol", "left"
        )
        .withColumn(
            "token_id",
            F.coalesce(F.col("token_id"), F.lit(int(unk_id))).cast("int"),
        )
        .groupBy("word")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "token_id"))),
                lambda s: s.token_id,
            ).alias("ids")
        )
    )
    # ONE job: word_ids is 1:1 with wc, so counting IT delivers the
    # distinct-word count AND the byte-gate estimate the word join
    # needs (count_with_bytes) — the former count + separate sampled
    # probe paid two sequential jobs over the same subtree.
    # PERSISTED first: the gate job materializes the cache, so the
    # encode join (and any later consumer of the returned plan) reads
    # the distinct-word relation from storage instead of re-running
    # the corpus-scale segmentation subtree (scan → word explode →
    # distinct-word aggregate → n_merges replaces) a second time — at
    # 100 TB that second pass is a full corpus shuffle. The cache
    # belongs to the caller's cache_scope, which must stay open until
    # the returned plan has run.
    word_ids = persist(word_ids)
    n_words, est = count_with_bytes(word_ids)
    return assemble_doc_ids(
        df, id_col, text_col, word_ids, n_words, broadcast_threshold,
        pretokenize=pretokenize, est_bytes=est,
    )


def decode_docs(
    encoded: DataFrame,
    ids_col: str,
    vocab: DataFrame | None = None,
    out_col: str = "decoded",
    byte_level: bool = False,
    symbol_ids: DataFrame | None = None,
    base_bytes: bool = False,
) -> DataFrame:
    """Detokenize: map each token id back to its symbol and reassemble
    the normalized text (lowercased, single-space word separation —
    encode's own normalization, so ``decode(encode(t))`` reproduces it
    EXACTLY; the round-trip query oracles a 100% reconstruction rate).

    Scale shape: the symbol table is merge-count-bounded (≤ alphabet +
    n_merges + 1 rows, ≤ +256 with ``base_bytes``), so it is collected
    once — the same cost class as the broadcast it replaces — and
    inlined as a MAP LITERAL; the decode itself is pure
    whole-stage-codegen array arithmetic (``transform`` lookup +
    ``concat_ws`` + one ``replace``): zero shuffle, zero Python, never
    an explode of the corpus' tokens.

    ``byte_level=True`` decodes a BYTE-LEVEL stream: the concatenated
    symbols form a hex string with ``</w>`` word markers — replace
    the marker with the space byte ``20``, ``unhex``, decode UTF-8
    (both engines bit-identical), so ``decode(encode(t))`` reproduces
    the pretokenized normalization of ANY input exactly. Pass either
    ``vocab`` (table derived, ``base_bytes`` honored) or a frozen
    ``symbol_ids`` relation."""
    sid_df = (
        symbol_ids
        if symbol_ids is not None
        else symbol_vocab(vocab, base_bytes=base_bytes)
    )
    sid = sorted(
        (int(r["token_id"]), r["symbol"])
        for r in sid_df.select("token_id", "symbol").collect()
    )
    m = F.map_from_arrays(
        F.array(*[F.lit(t) for t, _ in sid]),
        F.array(*[F.lit(s) for _, s in sid]),
    )
    raw = F.concat_ws(
        "", F.transform(F.col(ids_col), lambda i: F.element_at(m, i))
    )
    if byte_level:
        return encoded.withColumn(
            out_col,
            F.rtrim(
                F.decode(
                    F.unhex(F.replace(raw, F.lit(END), F.lit("20"))), "UTF-8"
                )
            ),
        )
    return encoded.withColumn(
        out_col, F.rtrim(F.replace(raw, F.lit(END), F.lit(" ")))
    )
