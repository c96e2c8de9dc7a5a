"""Property-based branch correctness (hypothesis): arbitrary mutation
sets on a branch AND on diverged main, then rebase + fast-forward, must
equal a dict-model replay where main's mutations land first and the
branch's delta lands last (branch wins overlapping keys). Also the
pure-Python BPE reference check: the distributed trainer must learn the
exact merge sequence the classical in-memory algorithm learns.
"""

from __future__ import annotations

import collections

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row, functions as F

from parquet_rewriter_spark.operators.branch import (
    create_branch,
    delete_branch,
    fast_forward,
    get_branch,
    rebase_branch,
)
from parquet_rewriter_spark.operators.merge import merge_into_table
from parquet_rewriter_spark.table import SortedTable

keysets = st.sets(st.integers(min_value=0, max_value=80), min_size=3, max_size=40)
mut_keys = st.sets(st.integers(min_value=-10, max_value=95), max_size=15)


def _mk(spark, tmp, keys):
    df = spark.createDataFrame([Row(k=int(x), v=float(x)) for x in sorted(keys)])
    return SortedTable.create(spark, str(tmp / "t"), df, key="k",
                              max_records_per_file=16)


def _muts(spark, ups, dels, val):
    rows = [Row(k=int(x), v=float(val), op="UPSERT") for x in sorted(ups)] + [
        Row(k=int(x), v=None, op="DELETE") for x in sorted(dels)
    ]
    return spark.createDataFrame(rows, "k long, v double, op string")


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(base=keysets, b_ups=mut_keys, b_dels=mut_keys, m_ups=mut_keys, m_dels=mut_keys)
def test_rebase_publish_equals_dict_model(
    spark, tmp_path_factory, base, b_ups, b_dels, m_ups, m_dels
):
    b_dels, m_dels = b_dels - b_ups, m_dels - m_ups  # batch ops disjoint by key
    tmp = tmp_path_factory.mktemp("brprop")
    t = _mk(spark, tmp, base)
    create_branch(t, "p")
    merge_into_table(get_branch(t, "p"), _muts(spark, b_ups, b_dels, 111.0))
    merge_into_table(t, _muts(spark, m_ups, m_dels, 222.0))
    rebase_branch(t, "p")
    fast_forward(t, "p")
    delete_branch(t, "p")
    # dict model: base -> main's mutations -> branch DELTA last.
    # The delta is vs the fork snapshot: a branch DELETE of an absent
    # key emits nothing (no-op), mirroring CDC semantics.
    model = {k: float(k) for k in base}
    for k in m_ups:
        model[k] = 222.0
    for k in m_dels:
        model.pop(k, None)
    for k in b_ups:
        model[k] = 111.0
    for k in b_dels & set(base):
        model.pop(k, None)
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got == model


# ------------------------------------------------------- BPE vs pure Python


def _bpe_reference(texts, n_merges):
    """Sennrich's algorithm verbatim on a dict — the in-memory oracle."""
    wc = collections.Counter(
        w for t in texts for w in t.lower().split() if w
    )
    vocab = {w: " ".join(list(w)) + " </w>" for w in wc}
    rules = []
    for _ in range(n_merges):
        pairs = collections.Counter()
        for w, syms in vocab.items():
            s = syms.split(" ")
            for i in range(len(s) - 1):
                pairs[(s[i], s[i + 1])] += wc[w]
        if not pairs:
            break
        # count DESC, lhs, rhs — the trainer's documented total order
        (l, r), c = min(pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        rules.append((l, r, l + r, c))
        pat, rep = f" {l} {r} ", f" {l}{r} "
        vocab = {
            w: (" " + s + " ").replace(pat, rep).strip()
            for w, s in vocab.items()
        }
    return rules


words_st = st.lists(
    st.text(alphabet="abcd", min_size=1, max_size=5), min_size=1, max_size=30
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(words=words_st)
def test_bpe_train_matches_pure_python_reference(spark, words):
    from parquet_rewriter_spark.operators.bpe import bpe_train
    from parquet_rewriter_spark.operators.util import cache_scope

    texts = [" ".join(words[: len(words) // 2 + 1]), " ".join(words[len(words) // 2:])]
    texts = [t for t in texts if t.strip()]
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )
    with cache_scope():  # one scope per example
        rules, _ = bpe_train(docs, "text", n_merges=4)
    got = [(r["lhs"], r["rhs"], r["merged"], r["pair_count"]) for r in rules]
    want = _bpe_reference(texts, 4)
    assert got == want


def test_bpe_train_deep_merges_bounded_lineage(spark):
    """merges ≫ lineage_every: 64 rounds with a snapshot every 8 must
    (a) learn exactly the pure-Python reference's rules — the
    localCheckpoint lineage truncation is invisible to semantics — and
    (b) keep the final plan SHALLOW: at most lineage_every replace
    nodes survive above the last snapshot (without truncation the plan
    carries all 64 and every round recomputes its predecessors —
    the O(k²) recompute the round-8 audit flagged)."""
    from pyspark.sql import Row

    from parquet_rewriter_spark.operators.bpe import bpe_train

    # long repetitive words so 64 distinct merges exist
    texts = [
        " ".join(
            f"{a}{b}{a}{b}{c}{a}{b}" for a in "abcdef" for b in "abcdef"
            for c in "ab"
        )
        for _ in range(2)
    ]
    docs = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in enumerate(texts)])
    rules, vocab = bpe_train(docs, "text", n_merges=64, lineage_every=8)
    got = [(r["lhs"], r["rhs"], r["merged"], r["pair_count"]) for r in rules]
    want = _bpe_reference(texts, 64)
    plan = vocab._jdf.queryExecution().analyzed().toString()
    assert got == want[: len(got)] and len(got) == len(want)
    assert plan.count("replace(") <= 8, plan.count("replace(")
