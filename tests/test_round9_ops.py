"""Round-9 operators: BPE decode/round-trip, streaming packing."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Row

from parquet_rewriter_spark.sources.readers import load_table


def test_bpe_decode_roundtrips_exactly(spark, sf_dir):
    """decode(encode(t)) must reproduce encode's normalization of t for
    EVERY document — the oracle hash-match proves engines agree; this
    pins the stronger claim that the id stream is lossless."""
    from parquet_rewriter_spark.operators.bpe import (
        bpe_train,
        decode_docs,
        encode_docs,
    )

    d = load_table(spark, sf_dir, "documents")
    rules, vocab = bpe_train(d, "text", n_merges=3)
    enc = encode_docs(d, "doc_id", "text", vocab)
    dec = decode_docs(enc, "input_ids", vocab)
    norm = d.select(
        "doc_id",
        F.concat_ws(
            " ",
            F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != ""),
        ).alias("expect"),
    )
    j = dec.join(norm, "doc_id")
    n_docs = j.count()
    n_exact = j.filter(F.col("decoded") == F.col("expect")).count()
    assert n_docs > 0 and n_exact == n_docs


def test_bpe_decode_is_pure_codegen_no_shuffle(spark):
    """Decode adds ZERO exchanges and zero Python to the encoded
    relation: the bounded symbol table is a map literal, the lookup a
    codegen transform."""
    from parquet_rewriter_spark.operators.bpe import (
        bpe_train,
        decode_docs,
    )
    from parquet_rewriter_spark.plans.inspect import plan_of

    docs = spark.createDataFrame(
        [Row(doc_id=0, text="low lower lowest"), Row(doc_id=1, text="new newer")]
    )
    rules, vocab = bpe_train(docs, "text", n_merges=2)
    enc = spark.createDataFrame([Row(doc_id=0, input_ids=[0, 1, 2])])
    p = plan_of(decode_docs(enc, "input_ids", vocab))
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_bpe_decode_hand_example(spark):
    from parquet_rewriter_spark.operators.bpe import (
        bpe_train,
        decode_docs,
        encode_docs,
    )

    docs = spark.createDataFrame(
        [Row(doc_id=0, text="Ab ab  AB"), Row(doc_id=1, text="ba")]
    )
    rules, vocab = bpe_train(docs, "text", n_merges=1)
    enc = encode_docs(docs, "doc_id", "text", vocab)
    got = {
        r["doc_id"]: r["decoded"]
        for r in decode_docs(enc, "input_ids", vocab).collect()
    }
    # encode normalizes: lowercase, single-space separation
    assert got == {0: "ab ab ab", 1: "ba"}


def test_stream_pack_sequences_continues_offsets_across_batches(spark, tmp_path):
    """Three files, maxFilesPerTrigger=1 → three micro-batches; each
    shard's token offset must CONTINUE where the previous batch
    stopped. With ascending ids per file and mtimes forcing arrival
    order, the streamed assignment equals the batch packer's on the
    static union — including seq_ids that straddle batch boundaries."""
    import os
    import time

    from parquet_rewriter_spark.operators.packing import pack_sequences
    from parquet_rewriter_spark.streaming.ops import stream_pack_sequences

    src = tmp_path / "src"
    src.mkdir()
    rows = [(i, "w " * (3 + i % 7)) for i in range(30)]
    df_all = spark.createDataFrame(rows, "doc_id long, text string")
    for k in range(3):
        part = df_all.filter(
            (F.col("doc_id") >= 10 * k) & (F.col("doc_id") < 10 * (k + 1))
        )
        p = str(src / f"f{k}.parquet")
        part.coalesce(1).write.mode("overwrite").parquet(p)
        t = time.time() - 300 + 60 * k
        for root, _dirs, files in os.walk(p):
            for f in files:
                os.utime(os.path.join(root, f), (t, t))
        os.utime(p, (t, t))

    schema = df_all.schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/f[012].parquet")
    )
    toks = F.size(F.filter(F.split(F.col("text"), " "), lambda t: t != ""))
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    stream_pack_sequences(
        stream, "doc_id", toks, max_tokens=16, sink_dir=sink,
        checkpoint_dir=ckpt, shard_col=F.lit(0),
    )
    got = {
        r["id"]: (r["seq_id"], r["seq_offset"], r["spans_boundary"])
        for r in spark.read.parquet(sink).collect()
    }
    want_df = pack_sequences(
        df_all, "doc_id", toks, max_tokens=16, shard_col=F.lit(0)
    )
    want = {
        r["doc_id"]: (r["seq_id"], r["seq_offset"], r["spans_boundary"])
        for r in want_df.collect()
    }
    assert len(got) == 30
    assert got == want


def test_incremental_pack_equals_one_shot_over_three_increments(spark):
    """pack → offsets → pack → offsets → pack over three id-ordered
    increments must equal the one-shot pack of the union, with the
    default xxhash64 shards (not just the oracle's modulo shards)."""
    from parquet_rewriter_spark.operators.packing import (
        pack_sequences,
        shard_next_offsets,
    )

    rows = [(i, 2 + (i * 7) % 11) for i in range(90)]
    df = spark.createDataFrame(rows, "doc_id long, tok long")
    parts = [
        df.filter((F.col("doc_id") >= 30 * k) & (F.col("doc_id") < 30 * (k + 1)))
        for k in range(3)
    ]
    offs = None
    got = {}
    for part in parts:
        p = pack_sequences(
            part, "doc_id", "tok", max_tokens=16, num_shards=4,
            start_offsets=offs,
        )
        for r in p.collect():
            got[r["doc_id"]] = (r["shard"], r["seq_id"], r["seq_offset"],
                                r["spans_boundary"])
        offs = shard_next_offsets(
            part, "doc_id", "tok", num_shards=4, start_offsets=offs
        )
    want = {
        r["doc_id"]: (r["shard"], r["seq_id"], r["seq_offset"],
                      r["spans_boundary"])
        for r in pack_sequences(
            df, "doc_id", "tok", max_tokens=16, num_shards=4
        ).collect()
    }
    assert len(got) == 90 and got == want


def test_incremental_pack_offsets_join_is_broadcast(spark):
    """The offsets manifest is num_shards rows — its join onto the
    increment must be broadcast, never a shuffle of the corpus."""
    from parquet_rewriter_spark.operators.packing import (
        pack_sequences,
        shard_next_offsets,
    )
    from parquet_rewriter_spark.plans.inspect import plan_of

    df = spark.createDataFrame(
        [(i, 3) for i in range(40)], "doc_id long, tok long"
    )
    offs = shard_next_offsets(df, "doc_id", "tok", num_shards=4)
    p = plan_of(
        pack_sequences(
            df, "doc_id", "tok", max_tokens=16, num_shards=4,
            start_offsets=offs,
        )
    )
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_wordpiece_greedy_hand_example(spark):
    from parquet_rewriter_spark.operators.wordpiece import wordpiece_segment

    words = spark.createDataFrame([("hello",), ("help",), ("qx",)], ["word"])
    pieces = spark.createDataFrame(
        [("hell",), ("he",), ("l",), ("o",), ("p",), ("h",), ("e",)], ["piece"]
    )
    got = {
        r["word"]: (list(r["pieces"]), r["n_pieces"])
        for r in wordpiece_segment(words, pieces).collect()
    }
    assert got["hello"] == (["hell", "o"], 2)
    assert got["help"] == (["he", "l", "p"], 3)
    # chars missing from the inventory fall back to themselves
    assert got["qx"] == (["q", "x"], 2)


def test_wordpiece_vocab_covers_alphabet(spark, sf_dir):
    """Every corpus char must be in the inventory — total segmentation
    by construction."""
    from parquet_rewriter_spark.operators.bpe import word_counts
    from parquet_rewriter_spark.operators.wordpiece import substring_vocab

    d = load_table(spark, sf_dir, "documents")
    vocab = substring_vocab(d, "text", max_piece_len=3, vocab_size=20)
    chars = {
        r["c"]
        for r in word_counts(d, "text")
        .select(F.explode(F.split("word", "(?!^)")).alias("c"))
        .where(F.col("c") != "")
        .distinct()
        .collect()
    }
    pieces = {r["piece"] for r in vocab.collect()}
    assert chars <= pieces


def test_wordpiece_segmentation_reconstructs_words(spark, sf_dir):
    """Concatenating a word's pieces must reproduce the word, for every
    distinct corpus word (segmentation is a partition of the chars)."""
    from parquet_rewriter_spark.operators.bpe import word_counts
    from parquet_rewriter_spark.operators.wordpiece import (
        substring_vocab,
        wordpiece_segment,
    )

    d = load_table(spark, sf_dir, "documents")
    vocab = substring_vocab(d, "text", max_piece_len=4, vocab_size=50)
    segd = wordpiece_segment(word_counts(d, "text"), vocab)
    bad = segd.filter(
        F.concat_ws("", F.col("pieces")) != F.col("word")
    ).count()
    assert bad == 0


def test_unigram_viterbi_matches_bruteforce(spark):
    """DP optimum + tie count vs a pure-Python enumeration of every
    segmentation — independent of the DuckDB oracle."""
    import itertools
    import math

    from parquet_rewriter_spark.operators.unigram import viterbi_segment_stats

    pieces = [("a", 4), ("b", 2), ("ab", 3), ("ba", 3), ("aba", 1)]
    ratio = {p: c / 13.0 for p, c in pieces}

    def brute(w):
        best, n = None, 0
        def paths(rem):
            if not rem:
                yield 1.0
                return
            for l in range(1, min(3, len(rem)) + 1):
                if rem[:l] in ratio:
                    for s in paths(rem[l:]):
                        # left-to-right product order
                        yield ratio[rem[:l]] * s
        # recompute in strict left-to-right order
        def paths_lr(pos, acc):
            if pos == len(w):
                yield acc
                return
            for l in range(1, min(3, len(w) - pos) + 1):
                p = w[pos : pos + l]
                if p in ratio:
                    yield from paths_lr(pos + l, acc * ratio[p])
        for s in paths_lr(0, 1.0):
            if best is None or s > best:
                best, n = s, 1
            elif s == best:
                n += 1
        return (math.log(best), n)

    words = ["aba", "abab", "bab", "aabba"]
    wdf = spark.createDataFrame([(w,) for w in words], ["word"])
    pdf = spark.createDataFrame(pieces, ["piece", "c"])
    got = {
        r["word"]: (r["best_ll"], r["n_opt"])
        for r in viterbi_segment_stats(wdf, pdf).collect()
    }
    for w in words:
        bll, n = brute(w)
        assert got[w][1] == n, (w, got[w], n)
        assert abs(got[w][0] - bll) < 1e-12, (w, got[w], bll)


def test_unigram_tie_count_exact(spark):
    """Symmetric inventory: 'abba' as ab|ba, a|bb|a, ab|b|a, a|b|ba,
    a|b|b|a — equal-probability pieces make the per-path products
    exactly equal doubles, so n_opt counts every optimal path."""
    import math

    from parquet_rewriter_spark.operators.unigram import viterbi_segment_stats

    # all pieces share c=1 → identical ratios; fewest pieces wins and
    # the two 2-piece segmentations (ab|ba) tie... compute expectation
    # by brute force to keep the assertion honest
    pieces = [("a", 1), ("b", 1), ("ab", 1), ("ba", 1), ("bb", 1)]
    ratio = {p: 1 / 5.0 for p, _ in pieces}

    def paths(w, pos=0, acc=1.0):
        if pos == len(w):
            yield acc
            return
        for l in (1, 2):
            p = w[pos : pos + l]
            if p in ratio:
                yield from paths(w, pos + l, acc * ratio[p])

    scores = list(paths("abba"))
    best = max(scores)
    want = sum(1 for s in scores if s == best)
    wdf = spark.createDataFrame([("abba",)], ["word"])
    pdf = spark.createDataFrame(pieces, ["piece", "c"])
    r = viterbi_segment_stats(wdf, pdf).collect()[0]
    assert r["n_opt"] == want
    assert abs(r["best_ll"] - math.log(best)) < 1e-12


def test_holt_winters_matches_python_reference(spark):
    """The fold must reproduce the textbook additive Holt-Winters
    recurrence exactly (same init, same update order)."""
    import math

    from parquet_rewriter_spark.operators.timeseries import holt_winters_by

    P, A, B, G = 4, 0.3, 0.1, 0.2
    ys = [float(10 + 3 * math.sin(t * math.pi / 2) + 0.5 * t) for t in range(14)]

    def ref(ys, h):
        l = sum(ys[:P]) / P
        b = (sum(ys[P : 2 * P]) - sum(ys[:P])) / (P * P)
        s = [y - l for y in ys[:P]]
        for t in range(P, len(ys)):
            i = t % P
            l_new = A * (ys[t] - s[i]) + (1 - A) * (l + b)
            b = B * (l_new - l) + (1 - B) * b
            s[i] = G * (ys[t] - l_new) + (1 - G) * s[i]
            l = l_new
        n = len(ys)
        return [l + k * b + s[(n + k - 1) % P] for k in range(1, h + 1)]

    df = spark.createDataFrame(
        [("x", t, v) for t, v in enumerate(ys)], "grp string, t int, v double"
    )
    got = {
        r["h"]: r["yhat"]
        for r in holt_winters_by(
            df, "grp", "t", "v", period=P, horizon=3
        ).collect()
    }
    want = ref(ys, 3)
    for k in range(1, 4):
        assert abs(got[k] - want[k - 1]) < 1e-9, (k, got[k], want[k - 1])


def test_holt_winters_drops_short_series_and_is_jvm_side(spark):
    from parquet_rewriter_spark.operators.timeseries import holt_winters_by
    from parquet_rewriter_spark.plans.inspect import plan_of

    rows = [("long", t, float(t)) for t in range(10)] + [
        ("short", t, float(t)) for t in range(5)
    ]
    df = spark.createDataFrame(rows, "grp string, t int, v double")
    hw = holt_winters_by(df, "grp", "t", "v", period=3, horizon=2)
    got = {r["grp"] for r in hw.collect()}
    assert got == {"long"}  # short has < 2*period points
    p = plan_of(hw)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p


def test_seasonal_decompose_recovers_planted_cycle(spark):
    """A clean planted series (trend + exact period-4 cycle) must come
    back decomposed: seasonal ≈ the planted cycle (centered), remainder
    ≈ 0, and a large injected spike flags as the ONLY anomaly."""
    from parquet_rewriter_spark.operators.timeseries import seasonal_decompose_by

    cycle = [5.0, -2.0, -4.0, 1.0]  # sums to 0
    rows = []
    for t in range(40):
        y = 100.0 + 0.5 * t + cycle[t % 4]
        if t == 21:
            y += 60.0  # the spike
        rows.append(("s", t, y))
    df = spark.createDataFrame(rows, "grp string, t int, v double")
    dec = seasonal_decompose_by(df, "grp", "t", "v", period=4).collect()
    mid = [r for r in dec if r["trend"] is not None]
    assert len(mid) == 36  # 2 edge rows lost each side (period 4, even)
    anomalies = [r["t"] for r in mid if r["is_anomaly"]]
    assert anomalies == [21]
    # the spike leaks into ITS slot's seasonal mean (classical
    # decomposition is not outlier-robust: every slot-1 row absorbs
    # -spike/n_slot), so judge only rows outside the spike's slot and
    # trend neighborhood; the spike's own residual must dwarf them
    spike = {r["t"]: r["remainder"] for r in mid}[21]
    clean = [
        r for r in mid
        if r["t"] % 4 != 21 % 4 and not (19 <= r["t"] <= 23)
    ]
    assert clean
    for r in clean:
        assert abs(r["remainder"]) < 3.0, (r["t"], r["remainder"])
    assert spike > 30.0


def test_seasonal_decompose_robust_isolates_spike(spark):
    """robust=True: the planted spike no longer leaks into its slot's
    seasonal (median, not mean) and no longer masks itself via an
    inflated stddev (MAD scale) — every clean row, INCLUDING the
    spike's own slot, has a small residual, and only the spike
    flags."""
    from parquet_rewriter_spark.operators.timeseries import seasonal_decompose_by

    cycle = [5.0, -2.0, -4.0, 1.0]
    rows = []
    for t in range(40):
        y = 100.0 + 0.5 * t + cycle[t % 4]
        if t == 21:
            y += 60.0
        rows.append(("s", t, y))
    df = spark.createDataFrame(rows, "grp string, t int, v double")
    dec = seasonal_decompose_by(df, "grp", "t", "v", period=4, robust=True).collect()
    mid = [r for r in dec if r["trend"] is not None]
    anomalies = [r["t"] for r in mid if r["is_anomaly"]]
    assert 21 in anomalies
    # clean rows AWAY from the spike's trend window: tiny residuals,
    # slot 1 included (the classical variant leaves them at ~-5)
    clean = [r for r in mid if not (19 <= r["t"] <= 23)]
    for r in clean:
        assert abs(r["remainder"]) < 1.0, (r["t"], r["remainder"])


def test_stream_holt_winters_matches_batch_across_batches(spark, tmp_path):
    """Three time-ordered files, maxFilesPerTrigger=1: the drained
    streaming state must equal the batch fold bit-for-bit — the
    warmup buffer, initialization, and every update cross micro-batch
    boundaries without drift."""
    import math
    import os
    import time

    from parquet_rewriter_spark.operators.timeseries import holt_winters_by
    from parquet_rewriter_spark.streaming.ops import stream_holt_winters

    P = 4
    rows = [
        ("s", t, float(100 + 3 * math.sin(t * math.pi / 2) + 0.7 * t))
        for t in range(30)
    ]
    df = spark.createDataFrame(rows, "grp string, t long, v double")
    src = tmp_path / "src"
    src.mkdir()
    for k in range(3):
        part = df.filter((F.col("t") >= 10 * k) & (F.col("t") < 10 * (k + 1)))
        p = str(src / f"f{k}.parquet")
        part.coalesce(1).write.mode("overwrite").parquet(p)
        ts = time.time() - 300 + 60 * k
        for root, _dirs, files in os.walk(p):
            for f in files:
                os.utime(os.path.join(root, f), (ts, ts))
        os.utime(p, (ts, ts))
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/f[012].parquet")
    )
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    stream_holt_winters(stream, "grp", "t", "v", sink, ckpt, period=P)
    fitted = spark.read.parquet(sink)
    last = max(fitted.collect(), key=lambda r: r["t"])
    want = {
        r["h"]: r["yhat"]
        for r in holt_winters_by(df, "grp", "t", "v", period=P, horizon=3).collect()
    }
    n = last["t"]
    for h in (1, 2, 3):
        got = (
            last["level"] + h * last["trend"]
            + last["seas"][(n + h - 1) % P]
        )
        assert got == want[h], (h, got, want[h])  # bit-identical
