"""Round-11 additions: production pretokenization + byte-level BPE,
stream/batch CUSUM rounding parity, unigram frozen-path unk parity,
seasonal-naive full-horizon semantics, and catalog cache hygiene."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F


# ------------------------------------------------------- pretokenization


def test_pretok_words_expr_matches_duckdb(spark):
    """The Java∩RE2-portable pretokenizer must produce the IDENTICAL
    token runs in Spark and DuckDB — including unicode letters (which
    land in the 'other' run class), digit runs, punctuation runs, and
    control characters around the explicit whitespace class."""
    from parquet_rewriter_spark.operators.bpe import PRETOK_RE, words_expr

    texts = [
        "Hello, world! 42 times",
        "a,b;;c--d 1.5e3 #tag",
        "naïve café über 9µm",
        "tabs\tand\nnewlines\rhere",
        "glued:words(everywhere)!!",
        "",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i long, t string")
    got = {
        r["i"]: list(r["ws"])
        for r in df.select("i", words_expr("t", pretokenize=True).alias("ws"))
        .collect()
    }
    con = duckdb.connect()
    want = {
        i: con.execute(
            f"SELECT regexp_extract_all(lower(?), '{PRETOK_RE}')", [t]
        ).fetchone()[0]
        for i, t in enumerate(texts)
    }
    assert got == want


def test_bytelevel_apply_merges_matches_init_sym(spark):
    """apply_merges' Python '%02X' hex initialization must be
    bit-identical to training's _init_sym (Spark hex(encode(w))) —
    including multibyte UTF-8."""
    from parquet_rewriter_spark.operators.bpe import _init_sym, apply_merges

    words = [("héllo",), ("x",), ("café9",), ("µ~",)]
    df = spark.createDataFrame(words, "word string")
    via_udf = {
        r["word"]: r["sym"]
        for r in apply_merges(df, [], byte_level=True).collect()
    }
    via_expr = {
        r["word"]: r["sym"]
        for r in df.select("word", _init_sym(byte_level=True).alias("sym"))
        .collect()
    }
    assert via_udf == via_expr


def test_bytelevel_frozen_encode_no_unk_and_roundtrips(spark):
    """The 256-base-byte artifact guarantee: a frozen byte-level
    tokenizer encodes text containing bytes TRAINING NEVER SAW with
    no unk (every id >= 0) and decodes it back exactly."""
    from parquet_rewriter_spark.operators.bpe import (
        PRETOK_RE,
        bpe_train,
        decode_docs,
        encode_docs_with_rules,
    )

    train = spark.createDataFrame(
        [(0, "plain ascii words only here"), (1, "more plain words")],
        "doc_id long, text string",
    )
    rules, vocab = bpe_train(
        train, "text", n_merges=3, pretokenize=True, byte_level=True
    )
    hold = spark.createDataFrame(
        [(2, "Übermaß! 加油 🚀 #42, done.")], "doc_id long, text string"
    )
    enc = encode_docs_with_rules(
        hold, "doc_id", "text", rules, vocab, unk_id=-1,
        pretokenize=True, byte_level=True, base_bytes=True,
    )
    row = enc.collect()[0]
    assert min(row["input_ids"]) >= 0  # no unk anywhere
    dec = decode_docs(
        enc, "input_ids", vocab, byte_level=True, base_bytes=True
    ).collect()[0]["decoded"]
    norm = hold.select(
        F.concat_ws(
            " ", F.regexp_extract_all(F.lower("text"), F.lit(PRETOK_RE), 0)
        ).alias("n")
    ).collect()[0]["n"]
    assert dec == norm


def test_pretok_kills_punctuation_gluing(spark):
    """The regression the pretokenizer exists for: under whitespace
    normalization 'word,' and 'word' are DISTINCT vocab entries; under
    pretokenization they share one letter run."""
    from parquet_rewriter_spark.operators.bpe import word_counts

    df = spark.createDataFrame(
        [(0, "word stop word, stop. word! stop")], "doc_id long, text string"
    )
    ws = {
        r["word"]: r["cnt"]
        for r in word_counts(df, "text", pretokenize=False).collect()
    }
    assert ws["word"] == 1 and ws["word,"] == 1 and ws["word!"] == 1
    pt = {
        r["word"]: r["cnt"]
        for r in word_counts(df, "text", pretokenize=True).collect()
    }
    assert pt["word"] == 3 and pt["stop"] == 3
    assert "," in pt and "!" in pt and "word," not in pt


# ------------------------------------------------- unigram unk parity


def test_viterbi_segment_char_fallback(spark):
    """A word with characters outside the frozen inventory must return
    its per-char split, never NULL — doc rows must not vanish."""
    from parquet_rewriter_spark.operators.unigram import viterbi_segment

    pieces = spark.createDataFrame(
        [("a", 5), ("b", 3), ("ab", 4)], "piece string, c long"
    )
    words = spark.createDataFrame([("ab",), ("aqb",)], "word string")
    got = {
        r["word"]: list(r["pieces"])
        for r in viterbi_segment(words, pieces).collect()
    }
    assert got["ab"] in (["ab"], ["a", "b"])  # segmentable: a real path
    assert got["aqb"] == ["a", "q", "b"]  # unsegmentable: char fallback


def test_unigram_frozen_encode_surfaces_unk_not_drops(spark):
    """Frozen unigram encode with unk_id: docs whose words carry
    out-of-inventory chars keep their full length with unk ids — the
    inner-join default would silently drop occurrences (and whole
    docs)."""
    from parquet_rewriter_spark.operators.unigram import (
        piece_stats,
        unigram_encode_docs,
    )

    train = spark.createDataFrame(
        [(0, "abc abd cab")], "doc_id long, text string"
    )
    inv = piece_stats(train, "text", max_piece_len=3, vocab_size=10)
    hold = spark.createDataFrame(
        [(1, "abc zzz"), (2, "zzz")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: (list(r["input_ids"]), r["n_tokens"])
        for r in unigram_encode_docs(
            hold, "doc_id", "text", inv, unk_id=-1
        ).collect()
    }
    assert set(out) == {1, 2}  # doc 2 (all-unknown) must NOT vanish
    ids1, n1 = out[1]
    assert -1 in ids1 and n1 == len(ids1)
    ids2, n2 = out[2]
    assert ids2 == [-1, -1, -1] and n2 == 3  # per-char fallback of 'zzz'


# ------------------------------------------------- stream CUSUM rounding


def test_stream_cusum_half_up_rounding_matches_batch(spark, tmp_path):
    """Values ON the rounding grid's midpoint (2.675 at round_to=2 —
    exact-binary .5 cases where Python's banker's round diverges from
    Spark's HALF_UP) must still drain bit-for-bit equal to the batch
    operator."""
    from parquet_rewriter_spark.operators.timeseries import cusum_by
    from parquet_rewriter_spark.streaming.ops import stream_cusum

    vals = [2.675, 2.665, 2.685, 2.995, 3.005, 2.675, 2.5, 3.0, 2.675, 2.875]
    rows = [("s", t, v) for t, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "grp string, t long, v double")
    stats = [
        (r["grp"], float(r["mu"]), float(r["sigma"]))
        for r in df.groupBy("grp")
        .agg(
            F.round(F.avg("v"), 2).alias("mu"),
            F.round(F.stddev_samp("v"), 2).alias("sigma"),
        )
        .collect()
    ]
    src = tmp_path / "src"
    df.coalesce(1).write.parquet(str(src))
    stream = spark.readStream.schema(df.schema).parquet(str(src))
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    stream_cusum(
        stream, "grp", "t", "v", stats, sink, ckpt, k=0.5, round_to=2
    )
    got = {
        r["t"]: (r["sp"], r["sn"])
        for r in spark.read.parquet(sink).collect()
    }
    want = {
        r["t"]: (r["cusum_pos"], r["cusum_neg"])
        for r in cusum_by(df, "grp", "t", "v", k=0.5, round_to=2).collect()
    }
    assert got == want  # bit-identical on midpoint values


# ------------------------------------------------- seasonal-naive filter


def test_seasonal_naive_drops_short_train_groups(spark):
    """A group whose train prefix is shorter than one period must DROP
    entirely — a partial-horizon average would be a metric that looks
    complete but isn't."""
    from parquet_rewriter_spark.operators.timeseries import (
        seasonal_naive_backtest,
    )

    rows = []
    for t in range(10):  # long: n_train = 8 >= period 4
        rows.append(("long", t, float(10 + t % 4)))
    for t in range(5):  # short: n_train = 3 < period 4
        rows.append(("short", t, float(t)))
    df = spark.createDataFrame(rows, "g string, t long, v double")
    out = seasonal_naive_backtest(df, "g", "t", "v", period=4, horizon=2)
    got = {r["g"]: r["n_train"] for r in out.collect()}
    assert "long" in got and got["long"] == 8
    assert "short" not in got


# ------------------------------------------------- EOS + doc spans


def test_packed_windows_eos_and_spans_invariants(spark):
    """with_eos + materialize_packed(doc_col=...): every doc's stream
    ends with the EOS id, spans tile each window exactly (start
    offsets chain, lengths sum to n_tokens, equal piece_lengths), and
    every window but a shard's last is exactly M tokens."""
    from parquet_rewriter_spark.operators.packing import (
        materialize_packed,
        pack_sequences,
        with_eos,
    )

    EOS, M = 99, 8
    rows = [(i, list(range(i + 1))) for i in range(12)]  # lens 1..12
    df = spark.createDataFrame(rows, "doc_id long, input_ids array<int>")
    enc = with_eos(df, "input_ids", EOS)
    p = pack_sequences(
        enc, "doc_id", F.size("input_ids"), max_tokens=M,
        shard_col=F.pmod(F.col("doc_id"), F.lit(2)),
    )
    win = materialize_packed(p, "input_ids", M, doc_col="doc_id").collect()
    assert win
    # reconstruct each doc's stream from the spans: must end with EOS
    per_doc: dict = {}
    for r in win:
        ids, spans = list(r["input_ids"]), r["doc_spans"]
        assert [s["len"] for s in spans] == list(r["piece_lengths"])
        assert sum(s["len"] for s in spans) == r["n_tokens"] == len(ids)
        off = 0
        for s in spans:
            assert s["start"] == off  # spans tile the window exactly
            frag = ids[off : off + s["len"]]
            per_doc.setdefault(s["doc"], []).append(frag)
            off += s["len"]
    for doc, frags in per_doc.items():
        stream = [x for f in frags for x in f]
        assert stream == list(range(doc + 1)) + [EOS], doc
    # full windows are exactly M
    by_shard: dict = {}
    for r in win:
        by_shard.setdefault(r["shard"], []).append(r)
    for shard, ws in by_shard.items():
        ws.sort(key=lambda r: r["seq_id"])
        for r in ws[:-1]:
            assert r["n_tokens"] == M, (shard, r["seq_id"])


def test_materialize_packed_without_doc_col_unchanged(spark):
    """The doc_col extension must not change the default output: same
    schema, same windows."""
    from parquet_rewriter_spark.operators.packing import (
        materialize_packed,
        pack_sequences,
    )

    rows = [(i, list(range(3 * i, 3 * i + 5))) for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, input_ids array<int>")
    p = pack_sequences(
        df, "doc_id", F.size("input_ids"), max_tokens=4,
        shard_col=F.pmod(F.col("doc_id"), F.lit(2)),
    )
    out = materialize_packed(p, "input_ids", 4)
    assert out.columns == [
        "shard", "seq_id", "input_ids", "n_tokens", "n_pieces",
        "piece_lengths",
    ]
    withdoc = materialize_packed(p, "input_ids", 4, doc_col="doc_id")
    a = {(r["shard"], r["seq_id"]): list(r["input_ids"]) for r in out.collect()}
    b = {
        (r["shard"], r["seq_id"]): list(r["input_ids"])
        for r in withdoc.collect()
    }
    assert a == b


# ------------------------------------------------- token-count sidecar


def test_token_stats_refresh_is_churn_proportional(spark, sf_dir, tmp_path):
    """The token-count sidecar's maintenance contract: the first build
    covers every file; after a merge touching a small key range, the
    refresh builds rows ONLY for the churned files; the fold equals
    the from-scratch scan exactly (integer rows, order-free)."""
    from parquet_rewriter_spark.operators.merge import merge_into_table
    from parquet_rewriter_spark.operators.tokenstats import (
        build_token_stats,
        token_stats,
    )
    from parquet_rewriter_spark.sources.readers import load_table
    from parquet_rewriter_spark.table import SortedTable
    from parquet_rewriter_spark.operators.bpe import words_expr

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    t = SortedTable.create(
        spark, str(tmp_path / "tok"), d.filter(F.col("doc_id") >= 20),
        key="doc_id", max_records_per_file=60,
    )
    n_files = len(t.manifest().files)
    assert build_token_stats(t) == n_files
    assert build_token_stats(t) == 0  # idempotent: nothing to do

    head = d.filter(F.col("doc_id") < 20).withColumn("op", F.lit("UPSERT"))
    merge_into_table(t, head, allow_splice=False)
    churn = build_token_stats(t)
    assert 0 < churn < len(t.manifest().files)  # ∝ churn, never the table

    got = {
        r["source"]: (r["n_docs"], r["n_tokens"])
        for r in token_stats(t).collect()
    }
    want = {
        r["source"]: (r["n_docs"], r["n_tokens"])
        for r in d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(words_expr("text")).cast("long")).alias("n_tokens"),
        )
        .collect()
    }
    assert got == want  # sidecar fold == from-scratch scan, exactly
