"""Property-based round-11 invariants (hypothesis): the packing span
algebra and the byte-level no-unk round trip must hold for ARBITRARY
shapes, not just the unit-test fixtures. Per-example Spark jobs are
expensive, so examples are capped and replay through the session
(the test_merge_property discipline); a pure-Python reference packer
checks the distributed result exactly.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

doc_lens = st.lists(
    st.integers(min_value=0, max_value=37), min_size=1, max_size=40
)
m_vals = st.integers(min_value=2, max_value=17)
shard_counts = st.integers(min_value=1, max_value=4)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(lens=doc_lens, m=m_vals, shards=shard_counts)
def test_packed_spans_tile_and_reconstruct(spark, lens, m, shards):
    """For arbitrary doc lengths / window size / shard count: spans
    tile each window exactly, every full window is exactly M, EOS ends
    every doc's reconstructed stream, and the concatenation per shard
    equals the pure-Python concat-and-cut reference."""
    from parquet_rewriter_spark.operators.packing import (
        materialize_packed,
        pack_sequences,
        with_eos,
    )

    EOS = -1
    rows = [
        (i, list(range(100 * i, 100 * i + ln))) for i, ln in enumerate(lens)
    ]
    df = spark.createDataFrame(rows, "doc_id long, input_ids array<int>")
    enc = with_eos(df, "input_ids", EOS)
    p = pack_sequences(
        enc, "doc_id", F.size("input_ids"), max_tokens=m,
        shard_col=F.pmod(F.col("doc_id"), F.lit(shards)),
    )
    win = materialize_packed(p, "input_ids", m, doc_col="doc_id").collect()

    # pure-Python reference: per shard, concatenate docs in id order
    # (each + EOS) and cut every m tokens
    streams: dict[int, list[int]] = {s: [] for s in range(shards)}
    for i, ln in enumerate(lens):
        streams[i % shards].extend(list(range(100 * i, 100 * i + ln)) + [EOS])
    want: dict[tuple[int, int], list[int]] = {}
    for s, stream in streams.items():
        for w in range(0, (len(stream) + m - 1) // m):
            want[(s, w)] = stream[w * m : (w + 1) * m]

    got = {(r["shard"], r["seq_id"]): list(r["input_ids"]) for r in win}
    assert got == want
    for r in win:
        spans = r["doc_spans"]
        off = 0
        for sp in spans:
            assert sp["start"] == off
            off += sp["len"]
        assert off == r["n_tokens"] == len(r["input_ids"])
        assert [s["len"] for s in spans] == list(r["piece_lengths"])


texts = st.lists(
    st.text(min_size=0, max_size=60), min_size=1, max_size=8
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=texts)
def test_bytelevel_roundtrip_any_unicode(spark, texts):
    """Byte-level pretokenized BPE round-trips ARBITRARY unicode with
    zero unks: train on one slice, frozen-encode everything with the
    256-base-byte artifact, decode equals the pretokenized
    normalization exactly."""
    from parquet_rewriter_spark.operators.bpe import (
        PRETOK_RE,
        bpe_train,
        decode_docs,
        encode_docs_with_rules,
    )
    from parquet_rewriter_spark.operators.util import cache_scope

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with cache_scope():  # one scope per example
        rules, vocab = bpe_train(
            df.filter(F.col("doc_id") % 2 == 0), "text",
            n_merges=2, pretokenize=True, byte_level=True,
        )
        enc = encode_docs_with_rules(
            df, "doc_id", "text", rules, vocab, unk_id=-1,
            pretokenize=True, byte_level=True, base_bytes=True,
        )
        dec = decode_docs(
            enc, "input_ids", vocab, byte_level=True, base_bytes=True
        )
        norm = df.select(
            "doc_id",
            F.concat_ws(
                " ",
                F.regexp_extract_all(F.lower("text"), F.lit(PRETOK_RE), 0),
            ).alias("norm"),
        )
        out = dec.join(norm, "doc_id").select(
            "doc_id", "decoded", "norm",
            F.array_min("input_ids").alias("mn"),
        ).collect()
        # docs whose pretokenization is empty produce no row (no words
        # to encode) — every produced row must round-trip with no unk
        for r in out:
            assert r["mn"] is None or r["mn"] >= 0, r
            assert r["decoded"] == r["norm"], r
