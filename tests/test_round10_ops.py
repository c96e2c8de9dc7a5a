"""Round-10 regressions and operators.

The two Arrow-chunking regressions pin a failure class fixture-scale
tests cannot reach by default: ``applyInPandasWithState`` feeds each
group-batch to the kernel as an ITERATOR of Arrow chunks of at most
``spark.sql.execution.arrow.maxRecordsPerBatch`` rows (default ~10k),
arriving in shuffle order. A kernel that sorts per chunk instead of
per group-batch silently diverges from its batch twin the moment a
group exceeds one chunk. These tests shrink the chunk size to 4 and
feed deliberately reverse-ordered input, so chunk-local sorting can
never reproduce the global order by accident.
"""

from __future__ import annotations

import contextlib
import math
import os
import time

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Row


@contextlib.contextmanager
def _arrow_chunk_size(spark, n: int):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, None)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def test_stream_pack_sequences_sorts_across_arrow_chunks(spark, tmp_path):
    """One micro-batch, one shard, ids written in DESCENDING order,
    Arrow chunk size 4 → the 30-row group spans ~8 chunks whose
    chunk-local ascending sort is maximally different from the global
    id order. The streamed assignment must still equal the batch
    packer's (global id order), proving the kernel concatenates the
    whole group-batch before sorting."""
    from parquet_rewriter_spark.operators.packing import pack_sequences
    from parquet_rewriter_spark.streaming.ops import stream_pack_sequences

    rows = [(i, 2 + (i * 5) % 9) for i in range(29, -1, -1)]
    df = spark.createDataFrame(rows, "doc_id long, tok long")
    src = str(tmp_path / "src")
    df.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    with _arrow_chunk_size(spark, 4):
        stream_pack_sequences(
            stream, "doc_id", "tok", max_tokens=16, sink_dir=sink,
            checkpoint_dir=ckpt, shard_col=F.lit(0),
        )
    got = {
        r["id"]: (r["seq_id"], r["seq_offset"], r["spans_boundary"])
        for r in spark.read.parquet(sink).collect()
    }
    want = {
        r["doc_id"]: (r["seq_id"], r["seq_offset"], r["spans_boundary"])
        for r in pack_sequences(
            df, "doc_id", "tok", max_tokens=16, shard_col=F.lit(0)
        ).collect()
    }
    assert len(got) == 30
    assert got == want


def test_stream_holt_winters_sorts_across_arrow_chunks(spark, tmp_path):
    """One micro-batch, one group, points written in DESCENDING time
    order, Arrow chunk size 4: the drained state must still equal the
    batch fold bit-for-bit — a per-chunk sort would replay updates out
    of time order."""
    from parquet_rewriter_spark.operators.timeseries import holt_winters_by
    from parquet_rewriter_spark.streaming.ops import stream_holt_winters

    P = 4
    rows = [
        ("s", t, float(100 + 3 * math.sin(t * math.pi / 2) + 0.7 * t))
        for t in range(29, -1, -1)
    ]
    df = spark.createDataFrame(rows, "grp string, t long, v double")
    src = str(tmp_path / "src")
    df.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    with _arrow_chunk_size(spark, 4):
        stream_holt_winters(stream, "grp", "t", "v", sink, ckpt, period=P)
    last = max(spark.read.parquet(sink).collect(), key=lambda r: r["t"])
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


def test_word_join_byte_gate_blocks_fat_broadcast(spark, sf_dir, monkeypatch):
    """The word-relation broadcast is gated on ESTIMATED BYTES, not
    just row count: with the byte cap forced to 1, even a
    fixture-sized (word -> ids) relation must fall back to an
    un-hinted shuffle join (auto-broadcast off), while the bounded
    symbol-id relation stays force-broadcast."""
    from parquet_rewriter_spark.operators import bpe
    from parquet_rewriter_spark.plans.inspect import plan_of
    from parquet_rewriter_spark.sources.readers import load_table

    d = load_table(spark, sf_dir, "documents")
    rules, vocab = bpe.bpe_train(d, "text", n_merges=2)
    monkeypatch.setattr(bpe, "BROADCAST_MAX_BYTES", 1)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p = plan_of(bpe.encode_docs(d, "doc_id", "text", vocab))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p
    assert "BroadcastHashJoin" in p  # the merge-bounded symbol-id join
    assert "CartesianProduct" not in p


def test_unigram_viterbi_segment_matches_bruteforce_lexmin(spark):
    """viterbi_segment's DP (max exact-product score, lexicographic-
    min piece-string tie-break) must equal brute-force path
    enumeration applying the same rule — including words engineered to
    TIE on the optimum ('aa' with p(a)^2 == p(aa) when counts align),
    where only the lexmin rule decides."""
    from parquet_rewriter_spark.operators.unigram import viterbi_segment

    # hand-built inventory with exact-tie potential: p = c / T
    inv = [("a", 4), ("b", 2), ("aa", 2), ("ab", 1), ("ba", 1), ("aab", 2)]
    T = float(sum(c for _, c in inv))
    rmap = {p: c / T for p, c in inv}
    lmax = max(len(p) for p in rmap)

    def brute(w):
        best = []  # (score, joined)

        def rec(pos, score, parts):
            if pos == len(w):
                best.append((score, " ".join(parts)))
                return
            for l in range(1, min(lmax, len(w) - pos) + 1):
                piece = w[pos : pos + l]
                r = rmap.get(piece)
                if r is not None:
                    rec(pos + l, score * r, parts + [piece])

        rec(0, 1.0, [])
        if not best:
            return None
        m = max(s for s, _ in best)
        return min(ps for s, ps in best if s == m).split(" ")

    words = ["aa", "aab", "aaba", "abab", "baab", "aaaa", "b", "abba"]
    df = spark.createDataFrame([(w,) for w in words], "word string")
    pieces = spark.createDataFrame(inv, "piece string, c long")
    got = {
        r["word"]: list(r["pieces"])
        for r in viterbi_segment(df, pieces).collect()
    }
    for w in words:
        assert got[w] == brute(w), (w, got[w], brute(w))
        assert "".join(got[w]) == w  # segmentation is total and exact


def test_tokenizer_families_share_packing_materializer(spark, sf_dir):
    """All three families' encode outputs are drop-in inputs to
    pack_sequences/materialize_packed: every non-final window is
    exactly M tokens and the id streams concatenate losslessly."""
    from parquet_rewriter_spark.operators.packing import (
        materialize_packed,
        pack_sequences,
    )
    from parquet_rewriter_spark.operators.unigram import (
        piece_stats,
        unigram_encode_docs,
    )
    from parquet_rewriter_spark.operators.wordpiece import (
        substring_vocab,
        wordpiece_encode_docs,
    )
    from parquet_rewriter_spark.sources.readers import load_table

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    M = 32
    encs = {
        "wordpiece": wordpiece_encode_docs(
            d, "doc_id", "text", substring_vocab(d, "text", 4, 80)
        ),
        "unigram": unigram_encode_docs(
            d, "doc_id", "text", piece_stats(d, "text", 4, 80)
        ),
    }
    for fam, enc in encs.items():
        p = pack_sequences(
            enc, "doc_id", F.size("input_ids"), max_tokens=M,
            shard_col=F.pmod(F.col("doc_id"), F.lit(2)),
        )
        win = materialize_packed(p, "input_ids", M).collect()
        assert win, fam
        total = {r["doc_id"]: r["n_tokens"] for r in enc.collect()}
        packed_total = sum(r["n_tokens"] for r in win)
        assert packed_total == sum(total.values()), fam
        last = {
            s: max(r["seq_id"] for r in win if r["shard"] == s)
            for s in {r["shard"] for r in win}
        }
        for r in win:
            if r["seq_id"] != last[r["shard"]]:
                assert r["n_tokens"] == M, (fam, r["shard"], r["seq_id"])


def test_unigram_em_train_matches_python_reference(spark):
    """Two EM rounds on a hand corpus must reproduce an INDEPENDENT
    pure-Python forward-backward implementation exactly — inventory,
    quantized expected counts, and exact-ratio probabilities."""
    from parquet_rewriter_spark.operators.unigram import unigram_em_train

    texts = [
        "the cat sat on the mat",
        "the bat and the cat",
        "a cat a mat a bat",
        "on and on and on",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id long, text string")
    L, SEED, KEEP, ROUNDS, S = 4, 20, 8, 2, 1_000_000.0

    # --- independent reference ------------------------------------
    import math
    from collections import Counter

    wc = Counter(w for t in texts for w in t.lower().split())

    def seed_inventory():
        sub = Counter()
        for w, c in wc.items():
            for l in range(1, min(L, len(w)) + 1):
                for i in range(len(w) - l + 1):
                    sub[w[i : i + l]] += c
        multi = sorted(
            ((p, c) for p, c in sub.items() if len(p) >= 2),
            key=lambda t: (-t[1], t[0]),
        )[:SEED]
        chars = [(p, c) for p, c in sub.items() if len(p) == 1]
        return multi + chars

    def em(inv, chars):
        total = float(sum(c for _, c in inv))
        rmap = {p: c / total for p, c in inv}
        ec = Counter()
        for w, cnt in wc.items():
            n = len(w)
            alpha = [0.0] * (n + 1)
            alpha[0] = 1.0
            for i in range(1, n + 1):
                s = 0.0
                for l in range(1, min(L, i) + 1):
                    r = rmap.get(w[i - l : i])
                    if r is not None:
                        s = s + alpha[i - l] * r
                alpha[i] = s
            if alpha[n] == 0.0:
                continue
            beta = [0.0] * (n + 1)
            beta[n] = 1.0
            for i in range(n - 1, -1, -1):
                s = 0.0
                for l in range(1, min(L, n - i) + 1):
                    r = rmap.get(w[i : i + l])
                    if r is not None:
                        s = s + r * beta[i + l]
                beta[i] = s
            for i in range(n):
                for l in range(1, min(L, n - i) + 1):
                    piece = w[i : i + l]
                    r = rmap.get(piece)
                    if r is None:
                        continue
                    post = ((alpha[i] * r) * beta[i + l]) / alpha[n]
                    q = math.floor(((post * float(cnt)) * S) + 0.5)
                    if q:
                        ec[piece] += q
        multi = sorted(
            ((p, c) for p, c in ec.items() if len(p) >= 2 and c > 0),
            key=lambda t: (-t[1], t[0]),
        )[:KEEP]
        return multi + [(ch, max(ec.get(ch, 0), 1)) for ch in chars]

    inv = seed_inventory()
    chars = sorted(p for p, _ in inv if len(p) == 1)
    for _ in range(ROUNDS):
        inv = em(inv, chars)
    total = float(sum(c for _, c in inv))
    want = {p: (c, c / total) for p, c in inv}

    got_df = unigram_em_train(
        df, "text", max_piece_len=L, seed_size=SEED, keep_size=KEEP,
        n_rounds=ROUNDS, scale=S,
    )
    got = {r["piece"]: (r["c"], r["p"]) for r in got_df.collect()}
    assert got == want  # bit-identical, including the exact p doubles


def test_holt_winters_backtest_scores_clean_series_better(spark):
    """A noiseless trend+seasonal series must backtest near-zero MAPE;
    the same series with heavy noise in the holdout must score worse —
    and n_train reflects the held-out points."""
    import math

    from parquet_rewriter_spark.operators.timeseries import (
        holt_winters_backtest,
    )

    P, N, H = 4, 40, 3
    rows = []
    for t in range(N):
        clean = 100.0 + 2.0 * t + 10.0 * math.sin(t * math.pi / 2)
        rows.append(("clean", t, clean))
        noisy = clean + (80.0 if t >= N - H else 0.0)
        rows.append(("noisy", t, noisy))
    df = spark.createDataFrame(rows, "grp string, t long, v double")
    bt = {
        r["grp"]: r
        for r in holt_winters_backtest(
            df, "grp", "t", "v", period=P, horizon=H
        ).collect()
    }
    assert bt["clean"]["n_train"] == N - H
    assert bt["clean"]["mape"] < 0.05
    assert bt["noisy"]["mape"] > 5 * bt["clean"]["mape"]
    assert 0.0 <= bt["clean"]["smape"] <= 2.0


def test_wordpiece_marked_decode_roundtrips_and_is_codegen(spark):
    """Marked-WordPiece decode must reproduce encode's normalization
    exactly (the marker carries word boundaries through the id
    stream) and stay pure codegen — zero exchanges, zero Python."""
    from parquet_rewriter_spark.operators.wordpiece import (
        substring_vocab_marked,
        wordpiece_decode_docs,
        wordpiece_encode_marked,
    )
    from parquet_rewriter_spark.plans.inspect import plan_of

    docs = spark.createDataFrame(
        [
            Row(doc_id=0, text="Unaffable  unable Fable"),
            Row(doc_id=1, text="able unable  ab"),
        ]
    )
    pieces = substring_vocab_marked(docs, "text", max_piece_len=4, vocab_size=30)
    enc = wordpiece_encode_marked(docs, "doc_id", "text", pieces)
    dec = wordpiece_decode_docs(enc, "input_ids", pieces)
    got = {r["doc_id"]: r["decoded"] for r in dec.collect()}
    assert got == {0: "unaffable unable fable", 1: "able unable ab"}
    # decode adds no exchange and no Python on top of the encoded rows
    stub = spark.createDataFrame([Row(doc_id=0, input_ids=[0, 1, 2])])
    p = plan_of(wordpiece_decode_docs(stub, "input_ids", pieces))
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_wordpiece_marked_segmentation_position_aware(spark):
    """Bare pieces must match only word-initially and ## pieces only
    internally: with 'ab' bare and '##ab' both in the inventory, the
    word 'abab' segments [ab, ##ab], never [ab, ab]."""
    from parquet_rewriter_spark.operators.wordpiece import (
        wordpiece_segment_marked,
    )

    words = spark.createDataFrame([("abab",), ("ba",)], "word string")
    pieces = spark.createDataFrame(
        [("ab",), ("##ab",), ("a",), ("b",), ("##a",), ("##b",)],
        "piece string",
    )
    got = {
        r["word"]: list(r["pieces"])
        for r in wordpiece_segment_marked(words, pieces).collect()
    }
    assert got["abab"] == ["ab", "##ab"]
    assert got["ba"] == ["b", "##a"]


def test_frozen_tokenizer_encodes_unseen_corpus_with_unk(spark):
    """encode_docs_with_rules must (a) reproduce the training-path
    encoding exactly on training-corpus words and (b) map symbols
    outside the training alphabet to unk_id instead of silently
    dropping them."""
    from parquet_rewriter_spark.operators.bpe import (
        bpe_train,
        encode_docs,
        encode_docs_with_rules,
    )

    train = spark.createDataFrame(
        [Row(doc_id=0, text="low lower lowest low low"),
         Row(doc_id=1, text="new newer newest")]
    )
    rules, vocab = bpe_train(train, "text", n_merges=3)
    # (a) same corpus: rule application == vocab-relation encoding
    want = {
        r["doc_id"]: (r["n_tokens"],)
        for r in encode_docs(train, "doc_id", "text", vocab).collect()
    }
    got_df = encode_docs_with_rules(train, "doc_id", "text", rules, vocab)
    got = {r["doc_id"]: (r["n_tokens"],) for r in got_df.collect()}
    assert got == want
    # (b) disjoint corpus with a char ('z', 'q') the training never saw
    new = spark.createDataFrame([Row(doc_id=9, text="low quiz")])
    out = encode_docs_with_rules(
        new, "doc_id", "text", rules, vocab, unk_id=-1
    ).collect()[0]
    enc_train = {
        r["doc_id"]: r
        for r in encode_docs(train, "doc_id", "text", vocab).collect()
    }
    ids = list(out["input_ids"])
    assert -1 in ids  # unseen chars surfaced, not dropped
    assert out["n_tokens"] == len(ids)
    known = [i for i in ids if i >= 0]
    assert known  # 'low' still encodes through trained symbols


def test_cusum_detects_small_persistent_shift(spark):
    """A small persistent mean shift must trip the CUSUM alarm while
    never exceeding a 3-sigma per-point threshold — the exact failure
    mode of per-point anomaly flags; the pre-shift region stays
    quiet. Deterministic series: ±0.1 alternation around 10.0, then a
    +2.0 step at t=160 (well under 3 sigma of the bimodal series)."""
    rows = []
    for t in range(200):
        base = 10.0 + (0.1 if t % 2 == 0 else -0.1)
        if t >= 160:
            base += 2.0
        rows.append(("s", t, base))
    df = spark.createDataFrame(rows, "grp string, t long, v double")
    from parquet_rewriter_spark.operators.timeseries import cusum_by

    out = sorted(
        cusum_by(df, "grp", "t", "v", k=0.5, h=5.0).collect(),
        key=lambda r: r["t"],
    )
    alarms = [r["t"] for r in out if r["alarm"]]
    assert alarms, "shift never detected"
    assert min(alarms) >= 160  # no false alarm before the shift
    assert min(alarms) <= 175  # detected within ~15 points
    # per-point 3-sigma on the same series misses the shift entirely
    vals = [v for _, _, v in rows]
    mu = sum(vals) / len(vals)
    sd = (sum((x - mu) ** 2 for x in vals) / (len(vals) - 1)) ** 0.5
    assert all(abs(v - mu) < 3 * sd for _, t, v in rows if t >= 160)


def test_holt_linear_matches_python_and_handles_short_series(spark):
    """The linear-trend fold must equal a pure-Python reference
    bit-for-bit, fit a 2-point series (the seasonal fitter needs
    2*period), and extrapolate a clean linear series exactly."""
    from parquet_rewriter_spark.operators.timeseries import holt_linear_by

    a, b = 0.3, 0.1
    ys = [5.0, 7.5, 9.0, 13.0, 14.5, 18.0, 19.5]
    rows = [("s", t, y) for t, y in enumerate(ys)]
    rows += [("tiny", 0, 4.0), ("tiny", 1, 6.0)]
    rows += [("lin", t, 2.0 + 3.0 * t) for t in range(5)]
    df = spark.createDataFrame(rows, "grp string, t long, v double")
    got = {
        (r["grp"], r["h"]): r["yhat"]
        for r in holt_linear_by(df, "grp", "t", "v", horizon=2).collect()
    }
    level, trend = ys[1], ys[1] - ys[0]  # textbook: l2=y2, b2=y2-y1
    for y in ys[2:]:
        lvl_new = a * y + (1 - a) * (level + trend)
        trend = b * (lvl_new - level) + (1 - b) * trend
        level = lvl_new
    for h in (1, 2):
        assert got[("s", h)] == level + h * trend  # bit-identical
    assert got[("tiny", 1)] == 6.0 + 1 * 2.0  # l=y2, b=y2-y1, no updates
    # a perfectly linear series extrapolates EXACTLY on the line —
    # the probe that catches an off-by-one l=y1 init
    assert abs(got[("lin", 1)] - 17.0) < 1e-9


def test_stream_cusum_continues_state_across_batches(spark, tmp_path):
    """Three time-ordered files, maxFilesPerTrigger=1: the one-sided
    sums must CONTINUE across micro-batches — the drained sink equals
    the batch operator row-for-row, bit-for-bit, including points
    whose alarm state straddles a batch boundary."""
    import os
    import time

    from parquet_rewriter_spark.operators.timeseries import cusum_by
    from parquet_rewriter_spark.streaming.ops import stream_cusum

    rows = []
    for t in range(90):
        v = 10.0 + (0.1 if t % 2 == 0 else -0.1) + (2.0 if t >= 60 else 0.0)
        rows.append(("s", t, v))
    df = spark.createDataFrame(rows, "grp string, t long, v double")
    stats = [
        (r["grp"], float(r["mu"]), float(r["sigma"]))
        for r in df.groupBy("grp")
        .agg(
            F.round(F.avg("v"), 4).alias("mu"),
            F.round(F.stddev_samp("v"), 4).alias("sigma"),
        )
        .collect()
    ]
    src = tmp_path / "src"
    src.mkdir()
    for kf in range(3):
        part = df.filter((F.col("t") >= 30 * kf) & (F.col("t") < 30 * (kf + 1)))
        p = str(src / f"f{kf}.parquet")
        part.coalesce(1).write.mode("overwrite").parquet(p)
        ts = time.time() - 300 + 60 * kf
        for root, _dirs, files in os.walk(p):
            for fl in files:
                os.utime(os.path.join(root, fl), (ts, ts))
        os.utime(p, (ts, ts))
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/f[012].parquet")
    )
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    stream_cusum(stream, "grp", "t", "v", stats, sink, ckpt, k=0.5)
    got = {
        r["t"]: (r["sp"], r["sn"])
        for r in spark.read.parquet(sink).collect()
    }
    want = {
        r["t"]: (r["cusum_pos"], r["cusum_neg"])
        for r in cusum_by(df, "grp", "t", "v", k=0.5, h=5.0).collect()
    }
    assert len(got) == 90
    assert got == want  # bit-identical states across batch boundaries


def test_new_timeseries_ops_are_jvm_side(spark):
    """holt_linear_by, cusum_by, and seasonal_naive_backtest must stay
    whole-stage-codegen territory: no Python eval, no cartesian."""
    from parquet_rewriter_spark.operators.timeseries import (
        cusum_by,
        holt_linear_by,
        seasonal_naive_backtest,
    )
    from parquet_rewriter_spark.plans.inspect import plan_of

    rows = [("g", t, float(10 + t % 5)) for t in range(30)]
    df = spark.createDataFrame(rows, "grp string, t long, v double")
    for op in (
        holt_linear_by(df, "grp", "t", "v", horizon=2),
        cusum_by(df, "grp", "t", "v"),
        seasonal_naive_backtest(df, "grp", "t", "v", period=5, horizon=2),
    ):
        p = plan_of(op)
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
        assert "CartesianProduct" not in p


def test_seasonal_naive_backtest_exact_on_periodic_series(spark):
    """A perfectly periodic series is predicted EXACTLY by the
    seasonal-naive baseline (MAPE 0), while a drifting series is not —
    and the holdout indexing lines up with the last season."""
    from parquet_rewriter_spark.operators.timeseries import (
        seasonal_naive_backtest,
    )

    P, H = 4, 2
    rows = [("per", t, float(10 + (t % P))) for t in range(20)]
    rows += [("drift", t, float(10 + (t % P) + 0.5 * t)) for t in range(20)]
    df = spark.createDataFrame(rows, "grp string, t long, v double")
    got = {
        r["grp"]: r
        for r in seasonal_naive_backtest(
            df, "grp", "t", "v", period=P, horizon=H
        ).collect()
    }
    assert got["per"]["mape"] == 0.0
    assert got["per"]["n_train"] == 18
    assert got["drift"]["mape"] > 0.05


def test_cusum_and_holt_linear_property_match_python(spark):
    """Property check over randomized series shapes: the codegen folds
    must equal pure-Python folds BIT-FOR-BIT (same grid-rounding, same
    operation order) — many series in one job, varied lengths and
    scales, deterministic seed."""
    import random

    from parquet_rewriter_spark.operators.timeseries import (
        cusum_by,
        holt_linear_by,
    )

    rng = random.Random(1234)
    rows = []
    series = {}
    for g in range(12):
        n = rng.randint(2, 40)
        # INTEGER-valued series (the CUSUM catalog contract: counts):
        # sums of integers are exact in any order, so mu is an exact
        # ratio — fractional values can land the mean exactly on a
        # rounding midpoint where sum-order ulps flip round(mu, 4)
        # (cusum_by documents that sensitivity; the rate queries avoid
        # it by construction, and so does this fixture)
        scalev = 10 ** rng.randint(0, 3)
        ys = [float(rng.randint(1, 2 * scalev)) for _ in range(n)]
        series[f"g{g}"] = ys
        rows += [(f"g{g}", t, y) for t, y in enumerate(ys)]
    df = spark.createDataFrame(rows, "grp string, t long, v double")

    # --- Holt linear ------------------------------------------------
    a, b = 0.3, 0.1
    got = {
        (r["grp"], r["h"]): r["yhat"]
        for r in holt_linear_by(df, "grp", "t", "v", horizon=2).collect()
    }
    for g, ys in series.items():
        level, trend = ys[1], ys[1] - ys[0]
        for y in ys[2:]:
            lvl_new = a * y + (1 - a) * (level + trend)
            trend = b * (lvl_new - level) + (1 - b) * trend
            level = lvl_new
        for h in (1, 2):
            assert got[(g, h)] == level + h * trend, (g, h)

    # --- CUSUM ------------------------------------------------------
    out = {}
    for r in cusum_by(df, "grp", "t", "v", k=0.5, h=4.0).collect():
        out[(r["grp"], r["t"])] = (r["cusum_pos"], r["cusum_neg"], r["alarm"])
    import statistics
    from decimal import ROUND_HALF_UP, Decimal

    def r4(x: float) -> float:
        # Spark's round() is HALF_UP over the double's shortest decimal
        # repr (BigDecimal.valueOf) — Python's built-in round is
        # banker's and disagrees exactly on .00005 boundaries
        return float(
            Decimal(repr(x)).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)
        )

    for g, ys in series.items():
        if len(ys) < 2:
            continue
        mu = r4(sum(ys) / len(ys))
        sigma = r4(statistics.stdev(ys))
        sp = sn = 0.0
        for t, y in enumerate(ys):
            x = r4(y)
            sp = max(0.0, sp + ((x - mu) - 0.5 * sigma))
            sn = max(0.0, sn + ((mu - x) - 0.5 * sigma))
            want_alarm = sp > 4.0 * sigma or sn > 4.0 * sigma
            assert out[(g, t)] == (sp, sn, want_alarm), (g, t)
