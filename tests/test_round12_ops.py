"""Round-12 additions: frozen-tokenizer token accounting, ADVICE-r11
hardening (empty-aggregate scalars, CUSUM grid on non-finite/huge
values, train/encode flag stamps, span doc-type preservation,
unbiased byte-gate sampling)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

SF = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


# --------------------------- frozen-tokenizer token accounting


def _seed_table(spark, tmp_path, docs):
    from parquet_rewriter_spark.table import SortedTable

    return SortedTable.create(
        spark, str(tmp_path / "t"), docs, key="doc_id",
        max_records_per_file=max(1, docs.count() // 4),
    )


def test_token_stats_tokenizer_unit_matches_frozen_encode(spark, tmp_path):
    """The sidecar's frozen-token totals must equal summing the frozen
    encoder's own per-doc n_tokens — the unit the mixture planner
    budgets."""
    from parquet_rewriter_spark.operators.bpe import (
        bpe_train,
        encode_docs_with_rules,
        rules_df,
    )
    from parquet_rewriter_spark.operators.tokenstats import (
        TokenizerRef,
        build_token_stats,
        token_stats,
    )

    d = (
        spark.read.parquet(os.path.join(SF, "documents.parquet"))
        .select("doc_id", "source", "text")
        .limit(120)
    )
    rules, vocab = bpe_train(d, "text", n_merges=4)
    rp = str(tmp_path / "rules")
    rules_df(spark, rules).write.parquet(rp)
    ref = TokenizerRef(rp)

    t = _seed_table(spark, tmp_path, d)
    built = build_token_stats(t, tokenizer=ref)
    assert built == len(t.manifest().files)

    got = {
        r["source"]: (int(r["n_docs"]), int(r["n_tokens"]))
        for r in token_stats(t, tokenizer=ref).collect()
    }
    enc = encode_docs_with_rules(d, "doc_id", "text", rules, vocab, unk_id=-1)
    want = {
        r["source"]: (int(r["n_docs"]), int(r["n_tokens"]))
        for r in enc.join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        .collect()
    }
    assert got == want


def test_token_stats_tokenizer_spec_heals_via_maintenance(spark, tmp_path):
    """A tokenizer accounting is SELF-DESCRIBING: after a merge with
    no explicit build call, heal_token_stats reloads the frozen rules
    from the spec-embedded artifact path and rebuilds only the
    churned files."""
    from parquet_rewriter_spark.operators.bpe import bpe_train, rules_df
    from parquet_rewriter_spark.operators.merge import merge_into_table
    from parquet_rewriter_spark.operators.tokenstats import (
        TokenizerRef,
        build_token_stats,
        heal_token_stats,
        token_stats,
    )

    d = (
        spark.read.parquet(os.path.join(SF, "documents.parquet"))
        .select("doc_id", "source", "text")
        .limit(120)
    )
    rules, vocab = bpe_train(d, "text", n_merges=3)
    rp = str(tmp_path / "rules")
    rules_df(spark, rules).write.parquet(rp)
    ref = TokenizerRef(rp)

    seed = d.filter((F.col("doc_id") < 40) | (F.col("doc_id") >= 60))
    t = _seed_table(spark, tmp_path, seed)
    build_token_stats(t, tokenizer=ref)
    full_before = {
        r["source"]: int(r["n_tokens"])
        for r in token_stats(t, tokenizer=ref).collect()
    }

    muts = d.filter(
        (F.col("doc_id") >= 40) & (F.col("doc_id") < 60)
    ).withColumn("op", F.lit("UPSERT"))
    merge_into_table(t, muts, allow_splice=False)
    built = heal_token_stats(t)  # no explicit build_token_stats call
    assert 0 < built < len(t.manifest().files)

    # healed totals cover the whole table now — strictly more tokens
    full_after = {
        r["source"]: int(r["n_tokens"])
        for r in token_stats(t, tokenizer=ref).collect()
    }
    assert sum(full_after.values()) > sum(full_before.values())

    # and a fresh one-table build over the union reproduces them
    t2 = _seed_table(spark, tmp_path / "fresh", d)
    build_token_stats(t2, tokenizer=ref)
    fresh = {
        r["source"]: int(r["n_tokens"])
        for r in token_stats(t2, tokenizer=ref).collect()
    }
    assert full_after == fresh


def test_tokenizer_ref_rejects_pipe_in_path():
    from parquet_rewriter_spark.operators.tokenstats import TokenizerRef

    with pytest.raises(ValueError):
        TokenizerRef("/tmp/a|b")


def test_token_spec_roundtrip():
    from parquet_rewriter_spark.operators.tokenstats import (
        TokenizerRef,
        _parse_spec,
        _spec_id,
    )

    ref = TokenizerRef("/tmp/x/rules", pretokenize=True, byte_level=True)
    sid = _spec_id("source", "text", True, ref)
    ps, pt_col, pretok, tok = _parse_spec(sid)
    assert (ps, pt_col, pretok) == ("source", "text", True)
    assert tok == ref
    # word-unit specs parse back with no tokenizer
    sid2 = _spec_id("source", "text", False)
    assert _parse_spec(sid2) == ("source", "text", False, None)


# --------------------------- ADVICE r11: train/encode flag stamps


def test_encode_refuses_flag_mismatch(spark):
    from parquet_rewriter_spark.operators.bpe import (
        bpe_train,
        encode_docs,
        encode_docs_with_rules,
        fertility_by,
    )

    d = spark.createDataFrame(
        [(0, "hello world", "a"), (1, "Hello, world!", "b")],
        "doc_id long, text string, lang string",
    )
    rules, vocab = bpe_train(d, "text", n_merges=2, pretokenize=True)
    with pytest.raises(ValueError, match="pretokenize"):
        encode_docs(d, "doc_id", "text", vocab)  # default False
    with pytest.raises(ValueError, match="pretokenize"):
        fertility_by(d, "text", "lang", vocab)
    with pytest.raises(ValueError, match="byte_level"):
        encode_docs_with_rules(
            d, "doc_id", "text", rules, vocab,
            pretokenize=True, byte_level=True,  # trained char-level
        )
    # matching flags pass
    assert (
        encode_docs(d, "doc_id", "text", vocab, pretokenize=True).count()
        == 2
    )


def test_encode_unstamped_vocab_falls_back_to_contract(spark, tmp_path):
    """A vocab reloaded from storage has no stamp — the documented
    caller contract applies, no assertion fires."""
    from parquet_rewriter_spark.operators.bpe import bpe_train, encode_docs

    d = spark.createDataFrame(
        [(0, "hello world"), (1, "world hello hello")],
        "doc_id long, text string",
    )
    rules, vocab = bpe_train(d, "text", n_merges=2)
    p = str(tmp_path / "vocab")
    vocab.select("word", "cnt", "sym").write.parquet(p)
    stored = spark.read.parquet(p)
    assert encode_docs(d, "doc_id", "text", stored).count() == 2


# --------------------------- ADVICE r11: CUSUM grid hardening


def test_cusum_grid_survives_nonfinite_and_huge_values():
    """The streaming CUSUM grid must propagate NaN/±Inf (as Spark's
    F.round does) and quantize huge magnitudes without
    InvalidOperation — one bad sensor value must not kill the
    micro-batch."""
    import math
    from decimal import ROUND_HALF_UP, Decimal, localcontext

    R = 2
    quantum = Decimal(1).scaleb(-R)

    def r_grid(x: float) -> float:
        if not math.isfinite(x):
            return x
        with localcontext() as ctx:
            ctx.prec = 400
            return float(
                Decimal(repr(x)).quantize(quantum, rounding=ROUND_HALF_UP)
            )

    assert r_grid(2.675) == 2.68  # HALF_UP at the binary midpoint
    assert math.isnan(r_grid(float("nan")))
    assert r_grid(float("inf")) == float("inf")
    assert r_grid(float("-inf")) == float("-inf")
    assert r_grid(1e300) == 1e300
    assert r_grid(-1.7976931348623157e308) == -1.7976931348623157e308


# --------------------------- ADVICE r11: span doc-type preservation


def test_doc_spans_keep_string_doc_ids(spark):
    """materialize_packed(doc_col=...) must keep the doc column's
    original type — a uuid/string doc id must survive into doc_spans
    instead of silently becoming NULL."""
    from parquet_rewriter_spark.operators.packing import (
        materialize_packed,
        pack_sequences,
    )

    docs = spark.createDataFrame(
        [("u-1", 0, [1, 2, 3]), ("u-2", 1, [4, 5]), ("u-3", 2, [6])],
        "doc string, ord long, input_ids array<int>",
    )
    p = pack_sequences(
        docs, "ord", F.size("input_ids"), max_tokens=4,
        shard_col=F.lit(0),
    )
    win = materialize_packed(p, "input_ids", 4, doc_col="doc")
    spans = [
        s for r in win.orderBy("seq_id").collect() for s in r["doc_spans"]
    ]
    assert all(s["doc"] is not None for s in spans)
    assert {s["doc"] for s in spans} == {"u-1", "u-2", "u-3"}


# --------------------------- ADVICE r11: unbiased byte-gate sample


def test_relation_bytes_hash_mod_sample_is_layout_unbiased(spark):
    """Estimate on a width-skewed relation (width correlates with the
    sort/partition order): the hash-mod sample must land within 2× of
    the true total where a LIMIT-prefix sample would see only narrow
    rows (~10× under)."""
    from parquet_rewriter_spark.operators.bpe import _relation_bytes

    n = 200_000
    # first half: 1-char payloads; second half: ~100-char payloads —
    # a LIMIT sample reading early partitions sees only narrow rows
    rel = (
        spark.range(n)
        .select(
            F.col("id").alias("word"),
            F.when(F.col("id") < n // 2, F.lit("x"))
            .otherwise(F.lpad(F.lit(""), 100, "y"))
            .alias("payload"),
        )
        .sortWithinPartitions("word")
    )
    true_bytes = rel.select(
        F.sum(
            F.length(F.to_json(F.struct(F.col("word"), F.col("payload"))))
        )
    ).first()[0]
    est = _relation_bytes(rel, n)
    assert true_bytes / 2 <= est <= true_bytes * 2


# --------------------------- real image header parsing


def test_parse_dims_handles_real_and_hostile_bytes():
    import struct
    import zlib

    from parquet_rewriter_spark.sources.multimodal import _parse_dims

    # a REAL minimal PNG built independently (correct CRC and all)
    ihdr = struct.pack(">II5B", 640, 480, 8, 2, 0, 0, 0)
    png = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13)
        + b"IHDR"
        + ihdr
        + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr))
    )
    assert _parse_dims(png) == ("png", 640, 480)

    # a REAL JPEG marker stream: SOI, APP0(JFIF), COM, SOF0, EOI
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x02\x00" + b"\x00" * 6
    com = b"\xff\xfe" + struct.pack(">H", 9) + b"comment"
    sof = (
        b"\xff\xc0"
        + struct.pack(">H", 17)
        + b"\x08"
        + struct.pack(">HH", 333, 222)  # height, width
        + b"\x03\x01\x11\x00\x02\x11\x01\x03\x11\x01"
    )
    jpg = b"\xff\xd8" + app0 + com + sof + b"\xff\xd9"
    assert _parse_dims(jpg) == ("jpeg", 222, 333)

    # progressive SOF2 also counts
    jpg2 = jpg.replace(b"\xff\xc0", b"\xff\xc2")
    assert _parse_dims(jpg2) == ("jpeg", 222, 333)

    # hostile inputs degrade to NULLs, never raise
    assert _parse_dims(b"") == (None, None, None)
    assert _parse_dims(b"\x89PNG\r\n\x1a\n1234") == ("png", None, None)
    assert _parse_dims(b"\xff\xd8\x00garbage") == ("jpeg", None, None)
    assert _parse_dims(b"\xff\xd8\xff\xfe\xff\xff") == ("jpeg", None, None)
    assert _parse_dims(b"plain text payload") == (None, None, None)


def test_packed_headers_parse_blind(spark):
    """Constructed headers must round-trip through the blind parser."""
    from pyspark.sql import functions as F

    from parquet_rewriter_spark.sources.multimodal import (
        decode_dims,
        pack_jpeg_header,
        pack_png_header,
    )

    d = spark.range(20).select(F.col("id").alias("media_id"))
    w = (F.lit(16) + (F.col("media_id") * 7) % 97).cast("int")
    h = (F.lit(16) + (F.col("media_id") * 13) % 83).cast("int")
    com = (F.col("media_id") % 5 + 1).cast("int")
    media = d.select(
        "media_id",
        F.when(F.col("media_id") % 2 == 0, pack_png_header(w, h))
        .otherwise(pack_jpeg_header(w, h, com))
        .alias("payload"),
    )
    got = {
        r["media_id"]: (r["fmt"], r["width"], r["height"])
        for r in decode_dims(media).collect()
    }
    for i in range(20):
        fmt = "png" if i % 2 == 0 else "jpeg"
        assert got[i] == (fmt, 16 + i * 7 % 97, 16 + i * 13 % 83)


# --------------------------- packed-shard persistence + order


def test_persist_packed_tag_survives_compact_and_vacuum(spark, tmp_path):
    from pyspark.sql import functions as F

    from parquet_rewriter_spark.operators.compact import compact
    from parquet_rewriter_spark.operators.packing import (
        materialize_packed,
        pack_sequences,
        persist_packed,
    )

    docs = spark.range(60).select(
        F.col("id").alias("doc_id"),
        F.sequence(F.lit(0), (F.col("id") % 9 + 1).cast("int")).alias(
            "input_ids"
        ),
    )
    p = pack_sequences(
        docs, "doc_id", F.size("input_ids"), max_tokens=8,
        shard_col=F.pmod(F.col("doc_id"), F.lit(3)),
    )
    win = materialize_packed(p, "input_ids", 8)
    t = persist_packed(
        win, str(tmp_path / "shards"), tag="train-v1",
        max_records_per_file=5,
    )
    before = {
        (r["shard"], r["seq_id"]): r["ids_digest"]
        for r in t.read("train-v1").collect()
    }
    compact(t, max_records_per_file=50)
    t.vacuum(retain_versions=1)
    after = {
        (r["shard"], r["seq_id"]): r["ids_digest"]
        for r in t.read("train-v1").collect()
    }
    assert before == after and len(after) > 0


def test_training_order_is_deterministic_and_salt_sensitive(spark):
    from pyspark.sql import functions as F

    from parquet_rewriter_spark.operators.packing import training_order

    win = spark.range(50).select(
        (F.col("id") % 4).alias("shard"), (F.col("id") / 4).cast("long").alias("seq_id")
    )
    o1 = [r["order_key"] for r in training_order(win, salt=0).orderBy("shard", "seq_id").collect()]
    o2 = [r["order_key"] for r in training_order(win, salt=0).orderBy("shard", "seq_id").collect()]
    o3 = [r["order_key"] for r in training_order(win, salt=1).orderBy("shard", "seq_id").collect()]
    assert o1 == o2          # reproducible
    assert o1 != o3          # a new salt is a new epoch order
    assert len(set(o1)) == len(o1)  # injective on (shard, seq_id)
    # portable: md5 of the same rendering in Python
    import hashlib

    want = hashlib.md5(b"0:0:0").hexdigest()
    got = training_order(
        win.where((F.col("shard") == 0) & (F.col("seq_id") == 0)), salt=0
    ).first()["order_key"]
    assert got == want


# --------------------------- byte-level unigram


def test_unigram_bytelevel_never_unks_on_alien_text(spark):
    """Inventory trained on plain ASCII; encode emoji/CJK/control
    chars — byte fallback + base-256 ids must id-map everything."""
    from pyspark.sql import functions as F

    from parquet_rewriter_spark.operators.unigram import (
        piece_stats,
        unigram_encode_docs,
    )

    train = spark.createDataFrame(
        [(0, "hello world packing tokens"), (1, "the quick brown fox")],
        "doc_id long, text string",
    )
    stats = piece_stats(train, "text", max_piece_len=4, vocab_size=50,
                        byte_level=True)
    alien = spark.createDataFrame(
        [(0, "héllo ☃ 世界"), (1, "emoji 🎉 mixed café")],
        "doc_id long, text string",
    )
    out = unigram_encode_docs(
        alien, "doc_id", "text", stats, unk_id=-1,
        byte_level=True, base_bytes=True,
    ).collect()
    assert len(out) == 2
    for r in out:
        assert r["n_tokens"] > 0
        assert min(r["input_ids"]) >= 0  # the no-unk guarantee


def test_unigram_bytelevel_pieces_stay_byte_aligned(spark):
    """Every inventory piece is whole bytes (even hex length), so no
    segmentation can split a byte."""
    from pyspark.sql import functions as F

    from parquet_rewriter_spark.operators.unigram import (
        hex_word,
        piece_stats,
        viterbi_segment,
    )

    train = spark.createDataFrame(
        [(0, "abba abab baab"), (1, "ababab bbbb")],
        "doc_id long, text string",
    )
    stats = piece_stats(train, "text", max_piece_len=3, vocab_size=20,
                        byte_level=True)
    for r in stats.collect():
        assert len(r["piece"]) % 2 == 0 and len(r["piece"]) >= 2
    words = spark.createDataFrame([("abba",), ("zzz",)], "word string")
    seg = viterbi_segment(
        words.withColumn("hw", hex_word("word")), stats,
        word_col="hw", byte_level=True,
    ).collect()
    for r in seg:
        joined = "".join(r["pieces"])
        assert joined == r["hw"]  # lossless
        assert all(len(p) % 2 == 0 for p in r["pieces"])


# --------------------------- incremental packed-shard append


def test_append_packed_equals_one_shot_pack(spark, tmp_path):
    """persist(A) then append(B with start_offsets) must equal the
    one-shot pack of A∪B — including the boundary window that splices
    fragments from both batches."""
    from parquet_rewriter_spark.operators.packing import (
        append_packed,
        materialize_packed,
        pack_sequences,
        persist_packed,
        shard_next_offsets,
    )

    docs = spark.range(80).select(
        F.col("id").alias("doc_id"),
        F.sequence(F.lit(0), (F.col("id") % 6 + 1).cast("int")).alias(
            "input_ids"
        ),
    )
    shard = F.pmod(F.col("doc_id"), F.lit(3))
    a = docs.filter(F.col("doc_id") < 40)
    b = docs.filter(F.col("doc_id") >= 40)

    p_a = pack_sequences(a, "doc_id", F.size("input_ids"), 16, shard_col=shard)
    win_a = materialize_packed(p_a, "input_ids", 16, doc_col="doc_id")
    t = persist_packed(win_a, str(tmp_path / "t"), max_records_per_file=4)
    offs = shard_next_offsets(a, "doc_id", F.size("input_ids"), shard_col=shard)
    p_b = pack_sequences(
        b, "doc_id", F.size("input_ids"), 16, shard_col=shard,
        start_offsets=offs,
    )
    win_b = materialize_packed(p_b, "input_ids", 16, doc_col="doc_id")
    rep = append_packed(t, win_b)
    assert rep["files_written"] > 0

    got = {
        (r["shard"], r["seq_id"]): (
            list(r["input_ids"]),
            list(r["piece_lengths"]),
            [(s["doc"], s["start"], s["len"]) for s in r["doc_spans"]],
        )
        for r in t.read().collect()
    }
    p_all = pack_sequences(
        docs, "doc_id", F.size("input_ids"), 16, shard_col=shard
    )
    want = {
        (r["shard"], r["seq_id"]): (
            list(r["input_ids"]),
            list(r["piece_lengths"]),
            [(s["doc"], s["start"], s["len"]) for s in r["doc_spans"]],
        )
        for r in materialize_packed(p_all, "input_ids", 16, doc_col="doc_id")
        .collect()
    }
    assert got == want
    # at least one boundary window genuinely spliced (old + new pieces)
    boundary = [
        k for k in want
        if any(s[0] < 40 for s in want[k][2]) and any(s[0] >= 40 for s in want[k][2])
    ]
    assert boundary, "fixture produced no cross-batch window"


def test_merge_accepts_nullability_variant_complex_types(spark, tmp_path):
    """array<int> columns whose nullability flags differ (transform vs
    concat lineage) must merge — the values are identical in parquet."""
    from pyspark.sql.types import ArrayType, IntegerType, LongType, StructField, StructType

    from parquet_rewriter_spark.operators.merge import (
        _eq_ignore_nullability,
        merge_into_table,
    )
    from parquet_rewriter_spark.table import SortedTable

    assert _eq_ignore_nullability(
        ArrayType(IntegerType(), True), ArrayType(IntegerType(), False)
    )
    assert not _eq_ignore_nullability(
        ArrayType(IntegerType(), True), ArrayType(LongType(), True)
    )

    base = spark.createDataFrame(
        [(0, [1, 2]), (1, [3])],
        StructType([
            StructField("k", LongType()),
            StructField("ids", ArrayType(IntegerType(), containsNull=True)),
        ]),
    )
    t = SortedTable.create(spark, str(tmp_path / "t"), base, key="k")
    muts = spark.createDataFrame(
        [(1, [9, 9]), (2, [7])],
        StructType([
            StructField("k", LongType()),
            StructField("ids", ArrayType(IntegerType(), containsNull=False)),
        ]),
    ).withColumn("op", F.lit("UPSERT"))
    merge_into_table(t, muts, allow_splice=False)
    got = {r["k"]: list(r["ids"]) for r in t.read().collect()}
    assert got == {0: [1, 2], 1: [9, 9], 2: [7]}


# --------------------------- SFT loss-mask spans


def test_completion_loss_spans_handles_boundary_crossing_docs(spark):
    """A doc whose prompt/completion boundary falls in one window and
    whose completion continues into the next must mask correctly in
    BOTH fragments — the doc_off field is what makes that local."""
    from parquet_rewriter_spark.operators.packing import (
        completion_loss_spans,
        materialize_packed,
        pack_sequences,
    )

    # one shard, doc 0: 10 tokens (prompt 4), doc 1: 6 tokens (prompt 2);
    # M=8 → doc 0 spans windows 0..1 with its boundary inside window 0
    docs = spark.createDataFrame(
        [(0, list(range(10)), 4), (1, list(range(100, 106)), 2)],
        "doc_id long, input_ids array<int>, prompt_len long",
    ).withColumn("docref", F.struct("doc_id", "prompt_len"))
    p = pack_sequences(
        docs, "doc_id", F.size("input_ids"), max_tokens=8,
        shard_col=F.lit(0),
    )
    win = completion_loss_spans(
        materialize_packed(p, "input_ids", 8, doc_col="docref")
    )
    rows = {r["seq_id"]: r for r in win.collect()}
    # window 0: doc0[0:8] — loss = positions 4..7 (completion within)
    assert [(s["start"], s["len"]) for s in rows[0]["loss_spans"]] == [(4, 4)]
    # window 1: doc0[8:10] at pos 0 (all completion) + doc1[0:6] at pos 2
    # (prompt 2 → loss from pos 4, len 4)
    assert [(s["start"], s["len"]) for s in rows[1]["loss_spans"]] == [
        (0, 2),
        (4, 4),
    ]
    assert int(rows[0]["n_loss_tokens"]) == 4
    assert int(rows[1]["n_loss_tokens"]) == 6
    # loss tokens are exactly the completion ids
    ids0, ids1 = rows[0]["input_ids"], rows[1]["input_ids"]
    got = [ids0[s["start"]:s["start"]+s["len"]] for s in rows[0]["loss_spans"]]
    got += [ids1[s["start"]:s["start"]+s["len"]] for s in rows[1]["loss_spans"]]
    flat = [x for f in got for x in f]
    assert flat == [4, 5, 6, 7, 8, 9, 102, 103, 104, 105]


def test_packed_table_point_reads_prune_files(spark, tmp_path):
    """append_packed's boundary fetch is num_shards zone-map point
    reads — a single-pack_key read_where must scan a small file
    subset, not the table."""
    from parquet_rewriter_spark.operators.packing import (
        materialize_packed,
        pack_sequences,
        persist_packed,
    )

    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.sequence(F.lit(0), (F.col("id") % 7 + 1).cast("int")).alias(
            "input_ids"
        ),
    )
    p = pack_sequences(
        docs, "doc_id", F.size("input_ids"), max_tokens=16,
        shard_col=F.pmod(F.col("doc_id"), F.lit(4)),
    )
    win = materialize_packed(p, "input_ids", 16)
    t = persist_packed(win, str(tmp_path / "t"), max_records_per_file=8)
    n_files = len(t.manifest().files)
    assert n_files >= 6  # the pin is meaningless on a 1-file table
    k = int(
        t.read().agg(F.max("pack_key")).first()[0]
    )  # a real key: the last window of the highest shard
    # one key hits exactly one row...
    assert t.read_where({"pack_key": (k, k)}).count() == 1
    # ...and driver-side zone pruning keeps range-disjoint files out
    # of the plan entirely (zone_keep IS read_where's pruning decision)
    m = t.manifest()
    kept = [
        e.name for e in m.files
        if t.zone_keep(m, e, {"pack_key": (k, k)})
    ]
    assert len(kept) < n_files / 2, (len(kept), n_files)


def test_parse_dims_gif_bmp_real_and_hostile():
    import struct

    from parquet_rewriter_spark.sources.multimodal import _parse_dims

    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\xf7\x00\x00"
    assert _parse_dims(gif) == ("gif", 320, 200)
    gif87 = b"GIF87a" + struct.pack("<HH", 1, 65535) + b"\x00\x00\x00"
    assert _parse_dims(gif87) == ("gif", 1, 65535)
    # BITMAPINFOHEADER, including the top-down negative-height form
    def bmp(w, h, hdr=40):
        return (
            b"BM" + struct.pack("<IHHI", 54, 0, 0, 54)
            + struct.pack("<Iii", hdr, w, h)
        )
    assert _parse_dims(bmp(640, 480)) == ("bmp", 640, 480)
    assert _parse_dims(bmp(640, -480)) == ("bmp", 640, 480)
    core = b"BM" + struct.pack("<IHHI", 26, 0, 0, 26) + struct.pack(
        "<IHH", 12, 99, 77
    )
    assert _parse_dims(core) == ("bmp", 99, 77)
    assert _parse_dims(b"GIF89a\x01") == ("gif", None, None)
    assert _parse_dims(b"BMxx") == ("bmp", None, None)


def test_packed_gif_bmp_headers_parse_blind(spark):
    from parquet_rewriter_spark.sources.multimodal import (
        decode_dims,
        pack_bmp_header,
        pack_gif_header,
    )

    d = spark.range(10).select(F.col("id").alias("media_id"))
    w = (F.lit(20) + F.col("media_id") * 3).cast("int")
    h = (F.lit(30) + F.col("media_id") * 5).cast("int")
    media = d.select(
        "media_id",
        F.when(F.col("media_id") % 2 == 0, pack_gif_header(w, h))
        .otherwise(pack_bmp_header(w, h))
        .alias("payload"),
    )
    got = {
        r["media_id"]: (r["fmt"], r["width"], r["height"])
        for r in decode_dims(media).collect()
    }
    for i in range(10):
        fmt = "gif" if i % 2 == 0 else "bmp"
        assert got[i] == (fmt, 20 + i * 3, 30 + i * 5)


def test_heal_skips_missing_rules_artifact(spark, tmp_path):
    """A tokenizer spec whose rules artifact was deleted must not
    poison maintenance: heal warns, skips that accounting, and still
    heals the word-unit spec."""
    import shutil
    import warnings

    from parquet_rewriter_spark.operators.bpe import bpe_train, rules_df
    from parquet_rewriter_spark.operators.merge import merge_into_table
    from parquet_rewriter_spark.operators.tokenstats import (
        TokenizerRef,
        build_token_stats,
        heal_token_stats,
    )

    d = (
        spark.read.parquet(os.path.join(SF, "documents.parquet"))
        .select("doc_id", "source", "text")
        .limit(80)
    )
    rules, vocab = bpe_train(d, "text", n_merges=2)
    rp = str(tmp_path / "rules")
    rules_df(spark, rules).write.parquet(rp)
    ref = TokenizerRef(rp)

    seed = d.filter(F.col("doc_id") < 60)
    t = _seed_table(spark, tmp_path, seed)
    build_token_stats(t)                      # word-unit spec
    build_token_stats(t, tokenizer=ref)       # tokenizer spec
    shutil.rmtree(rp)                         # the artifact vanishes

    muts = d.filter(F.col("doc_id") >= 60).withColumn("op", F.lit("UPSERT"))
    merge_into_table(t, muts, allow_splice=False)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        built = heal_token_stats(t)
    assert built > 0                          # the word spec healed
    assert any("rules artifact missing" in str(x.message) for x in w)


# --------------------------- stupid-backoff LM quality (lm_quality.py)


def _py_backoff_ce(ref_texts, text, alpha=0.4):
    """Independent pure-Python replay of score_docs_backoff for one
    doc: stupid-backoff bigram scores, HALF_UP micro-nat quantization,
    integer mean."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    uni: dict[str, int] = {}
    bi: dict[tuple[str, str], int] = {}
    n = 0
    for t in ref_texts:
        ws = t.split(" ")
        n += len(ws)
        for w in ws:
            uni[w] = uni.get(w, 0) + 1
        for a, b in zip(ws, ws[1:]):
            bi[(a, b)] = bi.get((a, b), 0) + 1
    qs = []
    ws = text.split(" ")
    for a, b in zip(ws, ws[1:]):
        if (a, b) in bi:
            p = bi[(a, b)] / uni[a]
        elif b in uni:
            p = alpha * uni[b] / float(n)
        else:
            p = alpha / float(n)
        qs.append(int(
            Decimal(repr(math.log(p) * 1_000_000.0))
            .quantize(Decimal("1"), rounding=ROUND_HALF_UP)
        ))
    return len(qs), (-sum(qs)) // len(qs)


def test_backoff_lm_matches_python_reference(spark):
    """Spark's relational train+score reproduces an independently
    written Python implementation bit-for-bit, covering all three
    backoff branches (seen bigram, unseen bigram with seen unigram,
    double OOV)."""
    from parquet_rewriter_spark.operators.lm_quality import (
        score_docs_backoff,
        train_backoff_lm,
    )

    ref_texts = [
        "the cat sat on the mat",
        "the dog sat on the log",
        "a cat and a dog sat",
    ]
    cand = [
        (1, "the cat sat on the log"),      # all bigrams seen
        (2, "mat the dog zzz unseen cat"),  # backoff + double-OOV
        (3, "zzz qqq"),                     # double-OOV only
    ]
    ref = spark.createDataFrame([(t,) for t in ref_texts], ["text"])
    docs = spark.createDataFrame(cand, ["doc_id", "text"])
    uni, bi, n = train_backoff_lm(ref, "text")
    got = {
        r["doc_id"]: (r["n_bigrams"], r["ce_micro"])
        for r in score_docs_backoff(
            docs, uni, bi, n, "doc_id", "text"
        ).collect()
    }
    for doc_id, text in cand:
        assert got[doc_id] == _py_backoff_ce(ref_texts, text), doc_id


def test_perplexity_buckets_are_an_ordering(spark):
    """Within each group, every bucket-1 ce <= every bucket-2 ce <=
    every bucket-3 ce, and bucket sizes differ by at most one."""
    from parquet_rewriter_spark.operators.lm_quality import (
        perplexity_buckets,
    )

    rows = [("g1", i, (i * 37) % 100) for i in range(10)]
    rows += [("g2", 100 + i, (i * 53) % 100) for i in range(7)]
    scored = spark.createDataFrame(rows, ["lang", "doc_id", "ce_micro"])
    bk = perplexity_buckets(scored, "lang", "doc_id", k=3).collect()
    for g in ("g1", "g2"):
        per = {}
        for r in bk:
            if r["lang"] == g:
                per.setdefault(r["bucket"], []).append(r["ce_micro"])
        assert max(per[1]) <= min(per[2]) and max(per[2]) <= min(per[3])
        sizes = [len(v) for _, v in sorted(per.items())]
        assert max(sizes) - min(sizes) <= 1
        assert sizes == sorted(sizes, reverse=True)  # ntile front-loads


# --------------------------- epoch-aware mixture planning


def _plan(spark, stats_rows, total, me):
    from parquet_rewriter_spark.operators.tokenstats import (
        plan_epoch_mixture,
    )

    stats = spark.createDataFrame(
        stats_rows, ["source", "n_tokens", "weight"]
    )
    return {
        r["source"]: r
        for r in plan_epoch_mixture(
            stats, total, max_epochs_micro=me
        ).collect()
    }


def test_plan_epoch_mixture_waterfill_properties(spark):
    """The allocation is feasible, near-exhausts the budget, is
    weight-fair among unsaturated sources, and saturates exactly the
    sources the threshold says it should — on a mixed case that
    includes a ratio TIE."""
    rows = [
        ("a", 1000, 1),
        ("b", 1000, 8),    # high weight, saturates
        ("c", 4000, 2),
        ("d", 1000, 8),    # exact ratio tie with b
        ("e", 500, 1),
    ]
    me = 2_000_000  # 2 epochs -> caps = 2 * n_tokens
    total = 12_000  # < tot_cap (15_000), > unconstrained fair share
    plan = _plan(spark, rows, total, me)
    caps = {s: 2 * n for s, n, _ in rows}
    alloc = {s: plan[s]["allocated"] for s in plan}
    assert all(alloc[s] <= caps[s] for s in alloc)
    spent = sum(alloc.values())
    n_unsat = sum(1 for s in plan if not plan[s]["saturated"])
    assert spent <= total and total - spent <= max(n_unsat, 1)
    # weight-fairness among unsaturated: alloc ~ t* x w (same t*)
    unsat = [s for s in plan if not plan[s]["saturated"]]
    ts = [alloc[s] / plan[s]["weight"] for s in unsat]
    assert max(ts) - min(ts) < 1.0  # floor() jitter only
    # the tied pair behaves identically
    assert plan["b"]["saturated"] == plan["d"]["saturated"]
    assert alloc["b"] == alloc["d"]
    # epochs in integer micro-units
    for s in plan:
        n_tok = dict((x[0], x[1]) for x in rows)[s]
        assert plan[s]["epochs_micro"] == (alloc[s] * 1_000_000) // n_tok


def test_plan_epoch_mixture_degenerate_cases(spark):
    """Budget >= total capped supply -> every source saturates at its
    cap; enormous caps -> nobody saturates and allocations are
    weight-proportional within floor jitter."""
    rows = [("a", 100, 1), ("b", 200, 3), ("c", 300, 2)]
    # infeasible: caps are 2x tokens = 1200 total, ask for more
    plan = _plan(spark, rows, 5_000, 2_000_000)
    assert all(plan[s]["saturated"] for s in plan)
    assert {plan[s]["allocated"] for s in plan} == {200, 400, 600}
    assert all(plan[s]["epochs_micro"] == 2_000_000 for s in plan)
    # unconstrained: caps 1000x tokens, budget tiny
    plan = _plan(spark, rows, 600, 1_000_000_000)
    assert not any(plan[s]["saturated"] for s in plan)
    ts = [plan[s]["allocated"] / plan[s]["weight"] for s in plan]
    assert max(ts) - min(ts) < 1.0
    assert 600 - sum(plan[s]["allocated"] for s in plan) <= 3


def test_sample_with_epochs_exactness(spark):
    """Emitted stream = full copies of every doc for each whole epoch
    plus the exact greedy prefix of the remainder: epoch ids dense,
    token mass never over the allocation and under by less than one
    document, full-epoch multiplicity uniform across docs."""
    from parquet_rewriter_spark.operators.tokenstats import (
        sample_with_epochs,
    )

    docs = spark.createDataFrame(
        [(i, "a", 10 + (i % 3)) for i in range(6)]
        + [(10 + i, "b", 5) for i in range(4)],
        ["doc_id", "source", "n_tokens"],
    )
    # a: supply 66, allocate 150 -> 2 full epochs + 18-token prefix
    # b: supply 20, allocate 12  -> 0 full epochs + 12-token prefix
    plan = spark.createDataFrame(
        [("a", 66, 150), ("b", 20, 12)],
        ["source", "n_tokens", "allocated"],
    )
    sel = sample_with_epochs(docs, plan).collect()
    for src, supply, alloc in (("a", 66, 150), ("b", 20, 12)):
        rows = [r for r in sel if r["source"] == src]
        full = alloc // supply
        by_epoch = {}
        for r in rows:
            by_epoch.setdefault(r["epoch"], []).append(r)
        assert set(by_epoch) <= set(range(full + 1))
        n_docs = len([r for r in sel if r["source"] == src
                      and r["epoch"] == 0]) if full else None
        for e in range(full):  # whole passes carry every doc once
            assert sorted(r["doc_id"] for r in by_epoch[e]) == sorted(
                r["doc_id"] for r in rows if r["epoch"] == 0
            )
            assert len(by_epoch[e]) == (6 if src == "a" else 4)
        emitted = sum(r["n_tokens"] for r in rows)
        gap = alloc - emitted
        assert 0 <= gap < max(r["n_tokens"] for r in rows) + 1
        # fractional pass is a strict subset of one full pass
        frac = by_epoch.get(full, [])
        assert len({r["doc_id"] for r in frac}) == len(frac)
        assert sum(r["n_tokens"] for r in frac) <= alloc - full * supply


def test_trigram_backoff_matches_python_reference(spark):
    """Trigram stupid backoff reproduces an independent Python
    implementation bit-for-bit across all four branches (seen trigram,
    bigram backoff, unigram backoff, double-alpha OOV)."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from parquet_rewriter_spark.operators.lm_quality import (
        score_docs_backoff3,
        train_backoff_lm,
        trigram_counts,
    )

    ref_texts = [
        "the cat sat on the mat",
        "the dog sat on the log",
        "a cat and a dog sat",
    ]
    cand = [
        (1, "the cat sat on the log"),        # seen trigrams + backoffs
        (2, "mat the dog zzz unseen cat on"), # all lower branches
        (3, "zzz qqq rrr"),                   # double-alpha OOV only
    ]
    ref = spark.createDataFrame([(t,) for t in ref_texts], ["text"])
    docs = spark.createDataFrame(cand, ["doc_id", "text"])
    uni, bi, n = train_backoff_lm(ref, "text")
    tri = trigram_counts(ref, "text")
    got = {
        r["doc_id"]: (r["n_trigrams"], r["ce_micro"])
        for r in score_docs_backoff3(
            docs, uni, bi, tri, n, "doc_id", "text"
        ).collect()
    }

    unid, bid, trid, ntot = {}, {}, {}, 0
    for t in ref_texts:
        ws = t.split(" ")
        ntot += len(ws)
        for w in ws:
            unid[w] = unid.get(w, 0) + 1
        for a, b in zip(ws, ws[1:]):
            bid[(a, b)] = bid.get((a, b), 0) + 1
        for a, b, c in zip(ws, ws[1:], ws[2:]):
            trid[(a, b, c)] = trid.get((a, b, c), 0) + 1
    for doc_id, text in cand:
        ws = text.split(" ")
        qs = []
        for a, b, c in zip(ws, ws[1:], ws[2:]):
            if (a, b, c) in trid:
                p = trid[(a, b, c)] / bid[(a, b)]
            elif (b, c) in bid:
                p = 0.4 * bid[(b, c)] / unid[b]
            elif c in unid:
                p = 0.4 * 0.4 * unid[c] / float(ntot)
            else:
                p = 0.4 * 0.4 / float(ntot)
            qs.append(int(
                Decimal(repr(math.log(p) * 1_000_000.0))
                .quantize(Decimal("1"), rounding=ROUND_HALF_UP)
            ))
        assert got[doc_id] == (len(qs), (-sum(qs)) // len(qs)), doc_id


def test_backoff_scorers_refuse_empty_reference(spark):
    from parquet_rewriter_spark.operators.lm_quality import (
        score_docs_backoff,
        score_docs_backoff3,
        train_backoff_lm,
    )

    empty = spark.createDataFrame([], "text string")
    uni, bi, n = train_backoff_lm(empty, "text")
    assert n == 0
    docs = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    import pytest as _pt
    with _pt.raises(ValueError, match="empty reference"):
        score_docs_backoff(docs, uni, bi, n, "doc_id", "text")
    with _pt.raises(ValueError, match="empty reference"):
        score_docs_backoff3(docs, uni, bi, uni, n, "doc_id", "text")


def test_bytelevel_base_artifact_covers_end_marker(spark):
    """The hypothesis-found hole: a byte-level artifact frozen from an
    EMPTY training slice must still encode everything unk-free — the
    END marker is structural alphabet, not a training observation."""
    from pyspark.sql import functions as F2
    from parquet_rewriter_spark.operators.bpe import (
        bpe_train,
        decode_docs,
        encode_docs_with_rules,
    )

    df = spark.createDataFrame(
        [(0, ""), (1, "0")], "doc_id long, text string"
    )
    rules, vocab = bpe_train(
        df.filter(F2.col("doc_id") % 2 == 0), "text",
        n_merges=2, pretokenize=True, byte_level=True,
    )
    enc = encode_docs_with_rules(
        df, "doc_id", "text", rules, vocab, unk_id=-1,
        pretokenize=True, byte_level=True, base_bytes=True,
    )
    rows = enc.collect()
    assert len(rows) == 1 and rows[0]["doc_id"] == 1
    assert min(rows[0]["input_ids"]) >= 0  # no unk, END included
    assert rows[0]["n_tokens"] == 2        # byte '30' + END
    dec = decode_docs(
        enc, "input_ids", vocab, byte_level=True, base_bytes=True
    ).collect()
    assert dec[0]["decoded"] == "0"


def test_quantile_cutoffs_match_python_reference(spark):
    """Exact discrete lower-quantile cutoffs (computed over distinct
    values only) match a per-row sorted Python reference, including a
    heavy TIE straddling a boundary; threshold buckets then partition
    by value with ties co-located."""
    import math

    from parquet_rewriter_spark.operators.lm_quality import (
        perplexity_buckets_by_cutoff,
        quantile_cutoffs,
    )

    vals = {"g1": [5, 5, 5, 5, 7, 9, 11, 13], "g2": [1, 2, 2, 2, 2, 3]}
    rows = [
        (g, i, v)
        for g, vs in vals.items()
        for i, v in enumerate(vs)
    ]
    df = spark.createDataFrame(rows, ["lang", "doc_id", "ce_micro"])
    cuts = {
        (r["lang"], r["q"]): r["cutoff"]
        for r in quantile_cutoffs(df, "lang", "ce_micro", k=3).collect()
    }
    for g, vs in vals.items():
        s = sorted(vs)
        for j in (1, 2):
            want = s[math.ceil(j * len(s) / 3) - 1]  # rank ceil(j*n/k)
            assert cuts[(g, j)] == want, (g, j, cuts[(g, j)], want)
    bk = perplexity_buckets_by_cutoff(df, "lang", "ce_micro", k=3).collect()
    for g, vs in vals.items():
        per = {}
        for r in bk:
            if r["lang"] == g:
                per.setdefault(r["bucket"], []).append(r["ce_micro"])
        assert sum(len(v) for v in per.values()) == len(vs)
        got = sorted(per)
        for a, b in zip(got, got[1:]):  # value-ordered partition
            assert max(per[a]) < min(per[b])
        # ties co-locate: every occurrence of a value shares a bucket
        seen = {}
        for b, vs2 in per.items():
            for v in vs2:
                assert seen.setdefault(v, b) == b


def test_per_group_scorer_consistent_with_scalar_scorer(spark):
    """score_docs_backoff_by restricted to one group must equal the
    scalar scorer run on that group alone — per-group keying changes
    the model's partitioning, never its arithmetic."""
    from parquet_rewriter_spark.operators.lm_quality import (
        score_docs_backoff,
        score_docs_backoff_by,
        train_backoff_lm,
        train_backoff_lm_by,
    )

    rows = [
        (0, "en", "the cat sat on the mat"),
        (1, "en", "the dog sat on the log"),
        (2, "de", "der hund sitzt auf dem baum"),
        (3, "de", "der baum sitzt auf dem hund"),
    ]
    d = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    uni, bi, totals = train_backoff_lm_by(d, "text", "lang")
    got = {
        (r["lang"], r["doc_id"]): (r["n_bigrams"], r["ce_micro"])
        for r in score_docs_backoff_by(
            d, uni, bi, totals, "doc_id", "text", "lang"
        ).collect()
    }
    for lg in ("en", "de"):
        sub = d.where(F.col("lang") == lg)
        u1, b1, n1 = train_backoff_lm(sub, "text")
        want = {
            r["doc_id"]: (r["n_bigrams"], r["ce_micro"])
            for r in score_docs_backoff(
                sub, u1, b1, n1, "doc_id", "text"
            ).collect()
        }
        for doc_id, v in want.items():
            assert got[(lg, doc_id)] == v, (lg, doc_id)


def test_contrastive_preference_pairs_properties(spark):
    """Pairing is a cyclic derangement within each group: every doc
    appears exactly once as chosen-owner, rejected completions are a
    permutation of the group's completions with NO fixed point, and
    singleton groups drop."""
    from parquet_rewriter_spark.operators.preference import (
        contrastive_preference_pairs,
        prompt_completion_split,
    )

    rows = [
        (i, "g1", "p q r s t " + " ".join(f"w{i}_{j}" for j in range(4)))
        for i in range(6)
    ] + [(100, "solo", "a b c d e f g h")]
    d = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    sp = prompt_completion_split(d, "doc_id", "text", 5)
    pairs = contrastive_preference_pairs(sp, "doc_id", "lang", salt=3)
    got = pairs.collect()
    assert all(r["lang"] == "g1" for r in got)  # singleton dropped
    assert sorted(r["doc_id"] for r in got) == list(range(6))
    chosen = {r["doc_id"]: r["chosen"] for r in got}
    rejected = {r["doc_id"]: r["rejected"] for r in got}
    assert sorted(rejected.values()) == sorted(chosen.values())
    assert all(rejected[i] != chosen[i] for i in chosen)  # derangement
    # a different salt re-pairs (cyclic order depends on the hash)
    pairs2 = contrastive_preference_pairs(sp, "doc_id", "lang", salt=4)
    rej2 = {r["doc_id"]: r["rejected"] for r in pairs2.collect()}
    assert rej2 != rejected


def test_prompt_completion_split_word_exact(spark):
    from parquet_rewriter_spark.operators.preference import (
        prompt_completion_split,
    )

    d = spark.createDataFrame(
        [(0, "a b c d e f g"), (1, "a b c")], ["doc_id", "text"]
    )
    got = {r["doc_id"]: r for r in
           prompt_completion_split(d, "doc_id", "text", 3).collect()}
    assert set(got) == {0}  # doc 1 has no completion -> drops
    assert got[0]["prompt"] == "a b c"
    assert got[0]["completion"] == "d e f g"
    assert got[0]["prompt"] + " " + got[0]["completion"] == "a b c d e f g"


# ---------------- round-12 optimization: one-execution encode paths


def test_encode_word_ids_cached_and_join_reads_cache(spark):
    """The frozen encode persists its distinct-word word_ids relation:
    the byte-gate job materializes the cache, and the assembled encode
    plan must READ it (InMemoryTableScan / InMemoryRelation) instead of
    re-running the distinct-word + segmentation subtree — at scale that
    second pass is a full corpus shuffle."""
    from parquet_rewriter_spark.operators.bpe import (
        bpe_train,
        encode_docs_with_rules,
    )
    from parquet_rewriter_spark.operators.util import cache_scope

    from tests.test_cache_scope import _rdd_ids

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma{i % 3} delta") for i in range(20)],
        "doc_id long, text string",
    )
    before = _rdd_ids(spark)
    with cache_scope():
        rules, vocab = bpe_train(docs.filter(F.col("doc_id") % 2 == 0),
                                 "text", n_merges=2)
        enc = encode_docs_with_rules(
            docs, "doc_id", "text", rules, vocab, unk_id=-1
        )
        plan = enc._jdf.queryExecution().executedPlan().toString()
        assert "InMemory" in plan, plan[:2000]
        # the persisted cache is real (new persistent RDD exists) ...
        assert _rdd_ids(spark) - before
        # ... and the encode result is unchanged by the caching
        got = {(r["doc_id"], tuple(r["input_ids"])) for r in enc.collect()}
        assert len(got) == 20
        assert all(len(ids) > 0 for _, ids in got)
    assert _rdd_ids(spark) == before  # the scope released every cache
