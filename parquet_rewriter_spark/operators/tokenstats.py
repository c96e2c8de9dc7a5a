"""Per-file TOKEN-COUNT zone maps — the mixture planner's sidecar.

Reference scope note: the reference engine has no text operators; this
module is part of the beyond-reference training-data surface. The
mechanism is the engine's own per-file sidecar discipline
(operators/sidecar.py, like ``_driftstats/``) applied to token
accounting: every immutable data file carries one (file, source,
n_docs, n_tokens) row per source, maintained at CHURN cost — so a
mixture planner (temperature weights, token budgets, sampling rates)
answers "how many tokens does each source hold?" with a manifest-scale
fold over the sidecar, never a 100-TB corpus re-scan. This is the
Iceberg-count(*)-from-metadata idea extended to token totals: counts
the format does not keep, the engine's sidecar does.

TWO accounting units:

- WORD counts (default): ``n_tokens`` = pretokenized word count via
  the shared front end (operators/bpe.py:words_expr) — cheap, purely
  JVM-side, tokenizer-free.
- FROZEN-TOKENIZER TOKEN counts (``tokenizer=``): ``n_tokens`` = the
  number of tokens the frozen BPE artifact actually emits for each
  doc. A production mixture planner budgets in tokenizer TOKENS, not
  words — fertility varies ~1.1–2× across sources/languages, so
  word-budgets systematically misallocate exactly where mixtures
  matter most. Counting needs ONLY the ordered merge rules (a word's
  token count is its re-segmented symbol count — id-mapping and unk
  resolution never change sequence LENGTH, by the frozen-path
  contract of operators/bpe.py:encode_docs_with_rules), so the spec
  carries a RULES-ARTIFACT PATH and the per-file build re-segments
  each churned file's DISTINCT words once (Arrow-batched
  apply_merges, vocab ≪ corpus) and folds symbol counts back through
  the thresholded word join.

Maintenance contract (shared with the drift/bloom/HLL sidecars):
``build_token_stats`` computes rows only for LIVE files missing one
under the spec — after a merge that is the churn, never the table —
and readers filter to the current snapshot's files via the
broadcast-semi-join helper, so the plan stays O(1) in file count.
Rows are additive integers, so folds are exact and order-free in any
engine. The sidecar is SELF-DESCRIBING for BOTH units: every row
carries its spec, and a tokenizer spec embeds the artifact path, so
``maintain()``'s heal step reloads the frozen rules and rebuilds
unaccounted files with no manifest field and no retraining.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from parquet_rewriter_spark.operators.bpe import words_expr
from parquet_rewriter_spark.operators.sidecar import (
    SIDECARS,
    have_files,
    semi_join_files,
)

TOKEN_DIR = SIDECARS["tokenstats"].dirname


@dataclass(frozen=True)
class TokenizerRef:
    """A FROZEN tokenizer for token accounting: ``rules_path`` is a
    parquet relation of ordered merge rules (step, lhs, rhs, merged —
    operators/bpe.py:rules_df's schema; a tokenizer-registry
    SortedTable's data directory works too, rules are append-only),
    ``pretokenize``/``byte_level`` are the training normalization
    flags. The path is embedded in the sidecar spec (no ``|`` or
    newlines), making tokenizer accountings heal-able from the
    sidecar alone."""

    rules_path: str
    pretokenize: bool = False
    byte_level: bool = False

    def __post_init__(self):
        if "|" in self.rules_path or "\n" in self.rules_path:
            raise ValueError(
                "tokenizer rules_path must not contain '|' or newlines "
                "(it is embedded in the sidecar spec string)"
            )


def _sidecar(table) -> str:
    return os.path.join(table.path, TOKEN_DIR)


def _spec_id(
    source_col: str,
    text_col: str,
    pretokenize: bool,
    tokenizer: TokenizerRef | None = None,
) -> str:
    base = f"{source_col}|{text_col}|pt={int(bool(pretokenize))}"
    if tokenizer is not None:
        base += (
            f"|bl={int(bool(tokenizer.byte_level))}|tok={tokenizer.rules_path}"
        )
    return base


def _load_rules(spark, rules_path: str) -> list[dict]:
    """Reload the frozen merge rules from their artifact path, in
    learned order — the artifact is rule-count-bounded (≤ n_merges
    rows), so the collect is the same cost class as training's own
    per-merge collect."""
    rows = (
        spark.read.parquet(rules_path)
        .select("step", "lhs", "rhs")
        .collect()
    )
    # learned order restored DRIVER-side: an .orderBy before the collect
    # costs a whole extra AQE exchange job (3 sequential jobs total to
    # fetch a rule-count-bounded relation); Python sorts the ≤n_merges
    # rows in microseconds
    rows.sort(key=lambda r: int(r["step"]))
    return [
        {"step": int(r["step"]), "lhs": r["lhs"], "rhs": r["rhs"],
         "merged": r["lhs"] + r["rhs"]}
        for r in rows
    ]


def _build_for(
    table,
    names: list[str],
    pt: str,
    ps: str,
    pretokenize: bool,
    sid: str,
    tokenizer: TokenizerRef | None = None,
) -> int:
    if not names:
        return 0
    spark = table.spark
    base = spark.read.parquet(
        *[os.path.join(table.path, n) for n in names]
    ).select(
        F.element_at(F.split(F.input_file_name(), "/"), -1).alias("file"),
        F.col(ps).alias("source"),
        words_expr(pt, pretokenize).alias("__words"),
    )
    if tokenizer is None:
        rows = (
            base.select(
                "file", "source", F.size("__words").cast("long").alias("__tok")
            )
            .groupBy("file", "source")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("__tok").alias("n_tokens"),
            )
            .withColumn("spec", F.lit(sid))
        )
        rows.write.mode("append").parquet(_sidecar(table))
        return len(names)
    from parquet_rewriter_spark.operators.bpe import apply_merges

    rules = _load_rules(spark, tokenizer.rules_path)
    occ = base.select("file", "source", F.explode("__words").alias("word"))
    wc = occ.select("word").distinct()
    seg = apply_merges(wc, rules, byte_level=tokenizer.byte_level)
    wtok = seg.select(
        "word",
        F.size(F.split(F.trim(F.col("sym")), " "))
        .cast("long")
        .alias("__ntw"),
    )
    # UN-HINTED word join: the segmented relation is consumed by exactly
    # one plan (the sidecar write below), so the former persist +
    # count_with_bytes byte-gate — two extra SEQUENTIAL jobs plus a
    # cache round-trip, run once per build — bought nothing but the
    # broadcast decision, which AQE makes at runtime from the ACTUAL
    # built size (small churn → broadcast; a 10⁹-distinct-word table
    # build → shuffled join), strictly better informed than a sampled
    # estimate. One action total: the write executes scan → Arrow
    # re-segmentation → join → both aggregates in a single job.
    toks = (
        occ.join(wtok, "word")
        .groupBy("file", "source")
        .agg(F.sum("__ntw").alias("n_tokens"))
    )
    docs = base.groupBy("file", "source").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    rows = (
        docs.join(toks, ["file", "source"], "left")
        .select(
            "file",
            "source",
            "n_docs",
            F.coalesce(F.col("n_tokens"), F.lit(0))
            .cast("long")
            .alias("n_tokens"),
        )
        .withColumn("spec", F.lit(sid))
    )
    rows.write.mode("append").parquet(_sidecar(table))
    return len(names)


def build_token_stats(
    table,
    text_col: str = "text",
    source_col: str = "source",
    pretokenize: bool = False,
    tokenizer: TokenizerRef | None = None,
) -> int:
    """(file, source, n_docs, n_tokens) rows for every LIVE file
    missing one under this spec. Returns the number of files built —
    after a merge this is the churn, never the table. ``pretokenize``
    selects the shared GPT-2-style word normalization
    (operators/bpe.py:words_expr) so the accounting matches whichever
    tokenizer front end the pipeline trains with. ``tokenizer``
    switches the unit from WORDS to FROZEN-TOKENIZER TOKENS (see
    module docstring): its ``pretokenize`` flag overrides the word
    normalization so occurrence words always match what the artifact
    was trained on."""
    m = table.manifest()
    pt = table.to_physical(text_col, m)
    ps = table.to_physical(source_col, m)
    if tokenizer is not None:
        pretokenize = tokenizer.pretokenize
    sid = _spec_id(ps, pt, pretokenize, tokenizer)
    have = have_files(table, TOKEN_DIR, where=F.col("spec") == sid)
    todo = [e.name for e in m.files if e.name not in have]
    return _build_for(table, todo, pt, ps, pretokenize, sid, tokenizer)


def _parse_spec(sid: str) -> tuple[str, str, bool, TokenizerRef | None]:
    """Invert :func:`_spec_id` — the sidecar is SELF-DESCRIBING: every
    row carries its spec, so maintenance can heal all registered
    accountings without a manifest field (column names must not
    contain ``|``, same contract as the drift-spec JSON). Tokenizer
    specs additionally carry the flags and rules-artifact path needed
    to reload the frozen tokenizer."""
    tok: TokenizerRef | None = None
    tok_path = None
    if "|tok=" in sid:
        sid, tok_path = sid.split("|tok=", 1)
        sid, bl = sid.rsplit("|bl=", 1)
        byte_level = bl == "1"
    body, pt = sid.rsplit("|pt=", 1)
    ps, pt_col = body.split("|", 1)
    pretokenize = pt == "1"
    if tok_path is not None:
        tok = TokenizerRef(tok_path, pretokenize, byte_level)
    return ps, pt_col, pretokenize, tok


def heal_token_stats(table, m=None) -> int:
    """Build (file, source, n_docs, n_tokens) rows for live files
    missing them under EVERY spec the sidecar already holds — the
    ``maintain()`` heal step (the distinct-sketch "whatever the
    sidecar holds" discipline): compactions, DV rewrites, and merges
    all stay accounted without explicit ``build_token_stats`` calls,
    for word AND frozen-tokenizer accountings alike (tokenizer specs
    reload their rules from the embedded artifact path). Cost ∝
    unaccounted files, zero when current. ``m`` defaults to the
    current snapshot. Returns files built."""
    specs = sorted(have_files(table, TOKEN_DIR, cols=("spec",)))
    if not specs:
        return 0
    m = m or table.manifest()
    live = [e.name for e in m.files]
    built = 0
    for sid in specs:
        ps, pt_col, pretokenize, tok = _parse_spec(sid)
        have = have_files(table, TOKEN_DIR, where=F.col("spec") == sid)
        todo = [n for n in live if n not in have]
        if tok is not None and not _rules_readable(table.spark, tok):
            # a tokenizer spec whose rules artifact was deleted must
            # not poison maintenance for the whole table: skip it
            # (its sidecar rows go stale-but-harmless — readers of
            # that spec fail loudly at their own _load_rules) and
            # keep healing every other accounting
            import warnings

            warnings.warn(
                f"tokenstats heal: rules artifact missing for spec "
                f"{sid!r}; skipping this accounting",
                stacklevel=2,
            )
            continue
        built += _build_for(table, todo, pt_col, ps, pretokenize, sid, tok)
    return built


def _rules_readable(spark, tok: TokenizerRef) -> bool:
    """True iff the spec's rules artifact still exists and reads — the
    heal step's guard against a vacuumed/relocated artifact."""
    try:
        spark.read.parquet(tok.rules_path).select("step").limit(1).collect()
        return True
    except Exception:  # noqa: BLE001 - any read failure means skip
        return False


def token_stats(
    table,
    text_col: str = "text",
    source_col: str = "source",
    pretokenize: bool = False,
    tokenizer: TokenizerRef | None = None,
) -> DataFrame:
    """(source, n_docs, n_tokens) for the CURRENT snapshot — a
    manifest-scale fold over the sidecar (live-file semi-join, one
    integer sum per source), zero corpus I/O. Exact: the per-file rows
    are integers, so the fold is order-free and equals the from-scratch
    scan bit-for-bit. Pass the same ``tokenizer`` the stats were built
    with to read the frozen-token accounting."""
    m = table.manifest()
    pt = table.to_physical(text_col, m)
    ps = table.to_physical(source_col, m)
    if tokenizer is not None:
        pretokenize = tokenizer.pretokenize
    sid = _spec_id(ps, pt, pretokenize, tokenizer)
    sc = table.spark.read.parquet(_sidecar(table)).where(
        F.col("spec") == sid
    )
    live = semi_join_files(sc, [e.name for e in m.files])
    return live.groupBy("source").agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
    )


def token_budget_plan(stats: DataFrame, budget_tokens: int) -> DataFrame:
    """Allocate a total token budget across sources proportionally to
    their token mass — the mixture planner's driver-side fold over the
    |sources|-row stats relation. INTEGER arithmetic throughout
    (``(budget · n_tokens) div total``): exact, order-free, and
    bit-replayable in any engine — no float pow/normalize whose last
    ulp could differ. Returns (source, n_docs, n_tokens,
    token_budget)."""
    B = int(budget_tokens)
    total = stats.agg(F.sum("n_tokens").alias("__total"))
    return (
        stats.crossJoin(F.broadcast(total))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.expr(f"({B} * n_tokens) div __total").alias("token_budget"),
        )
    )


def sample_to_token_budget(
    docs: DataFrame,
    plan: DataFrame,
    key_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    source_col: str = "source",
    salt: int = 0,
) -> DataFrame:
    """EXACT budget sampling — the planner's allocation turned into an
    actual document selection: within each source, docs line up in
    deterministic portable-hash order (operators/sampling.py:
    portable_unit — replayable in any engine; the hash is affine in
    the key, so a new ``salt`` ROTATES the ring: the selected prefix
    window moves substantially, but relative cyclic order is
    preserved — use an md5 order key when true order-independence
    matters) and the greedy prefix whose RUNNING token
    total stays ≤ the source's ``token_budget`` is kept. Deterministic,
    engine-portable, and tight: kept tokens never exceed the budget,
    and no further doc could be added without exceeding it.

    Scale shape: ONE hash exchange on source + a per-source running
    sum — sequential within a source, so a single 100-TB source
    serializes through one task. That is inherent to EXACT prefix
    selection; at that scale use :func:`sample_at_token_rate` (pure
    projection, expected-value accuracy) or pre-shard sources. Returns
    the kept docs plus ``cum_tokens``."""
    from pyspark.sql import Window

    from parquet_rewriter_spark.operators.sampling import portable_unit

    w = (
        Window.partitionBy(source_col)
        .orderBy(portable_unit(F.col(key_col), salt), F.col(key_col))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    budget = plan.select(source_col, "token_budget")
    return (
        docs.join(F.broadcast(budget), source_col)
        .withColumn("cum_tokens", F.sum(tokens_col).over(w))
        .where(F.col("cum_tokens") <= F.col("token_budget"))
    )


def sample_at_token_rate(
    docs: DataFrame,
    plan: DataFrame,
    key_col: str = "doc_id",
    source_col: str = "source",
    salt: int = 0,
) -> DataFrame:
    """RATE-BASED budget sampling — the 100-TB path: each source's
    keep probability is ``token_budget / n_tokens`` (both integers
    from the plan, so the IEEE quotient is bit-identical in any
    engine) and a doc is kept iff its portable-hash unit value falls
    under it. PURE PROJECTION after a broadcast join: no window, no
    per-source sequential scan, embarrassingly parallel; kept token
    mass hits the budget in expectation with O(√N) relative error —
    the standard accounting tolerance for mixture sampling at scale.
    Adds ``keep_rate``."""
    from parquet_rewriter_spark.operators.sampling import portable_unit

    rate = (
        F.col("token_budget").cast("double")
        / F.col("n_tokens").cast("double")
    )
    rates = plan.select(
        source_col, F.least(rate, F.lit(1.0)).alias("keep_rate")
    )
    return docs.join(F.broadcast(rates), source_col).where(
        portable_unit(F.col(key_col), salt) < F.col("keep_rate")
    )


def plan_epoch_mixture(
    stats: DataFrame,
    total_tokens: int,
    max_epochs_micro: int = 1_000_000,
    weight_col: str = "weight",
    source_col: str = "source",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """EPOCH-AWARE mixture allocation — the planner step between "how
    many tokens does each source have" (the sidecar) and "how many
    tokens does each source CONTRIBUTE to the run". A training mixture
    wants tokens ∝ weight, but a source can only repeat so many times
    before repetition hurts (the standard multi-epoch cap, e.g.
    Muennighoff et al. 2023 "Scaling Data-Constrained Language
    Models"): each source is capped at
    ``cap = (max_epochs_micro · n_tokens) div 1e6`` tokens, and budget
    that would exceed a cap WATER-FILLS into the uncapped sources,
    still ∝ weight.

    The fill threshold has the classic closed form: sort sources by
    ``ratio = cap / weight`` ascending; sources saturate in exactly
    that order, so the pivot — the first UNsaturated source — is the
    row where ``t = (T − Σcap_before) / (Σw_total − Σw_before)`` first
    falls below the row's own ratio (and not below its predecessor's).
    One window pass over the |sources|-row stats relation + one
    scalar fold: planner-scale work, nothing touches the corpus.

    Weights must be POSITIVE integers (integer weights keep every
    cumulative sum exact; a zero weight degenerates gracefully — the
    source sorts last by infinite ratio and allocates zero — but the
    contract is positive).

    Engine-portable by construction: caps and cumulative sums are
    integer arithmetic; ``t`` is an IEEE quotient of two exact
    integers; per-source allocation is ``min(cap, floor(t · w))`` with
    integer weights, and ``epochs_micro = (allocated · 1e6) div
    n_tokens`` — every step replays bit-for-bit in SQL. If the budget
    exceeds the total capped supply, every source saturates at its cap
    (the plan is infeasible and says so: Σ allocated < T). Returns
    (source, n_tokens, weight, cap_tokens, allocated, epochs_micro,
    saturated)."""
    from pyspark.sql import Window

    T = int(total_tokens)
    me = int(max_epochs_micro)
    base = stats.select(
        source_col,
        F.col(tokens_col).cast("long").alias("n_tokens"),
        F.col(weight_col).cast("long").alias("weight"),
        F.expr(f"({me} * CAST({tokens_col} AS BIGINT)) div 1000000")
        .alias("cap_tokens"),
    ).withColumn(
        "ratio",
        F.col("cap_tokens").cast("double") / F.col("weight").cast("double"),
    )
    tot = base.agg(
        F.sum("cap_tokens").alias("tot_cap"), F.sum("weight").alias("tot_w")
    )
    w = Window.orderBy("ratio", source_col)
    cum = (
        base.crossJoin(F.broadcast(tot))
        .withColumn(
            "cap_before",
            F.coalesce(
                F.sum("cap_tokens").over(
                    w.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0).cast("long"),
            ),
        )
        .withColumn(
            "w_before",
            F.coalesce(
                F.sum("weight").over(
                    w.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0).cast("long"),
            ),
        )
        .withColumn("prev_ratio", F.lag("ratio").over(w))
        .withColumn(
            "t_row",
            (F.lit(T).cast("double") - F.col("cap_before").cast("double"))
            / (F.col("tot_w") - F.col("w_before")).cast("double"),
        )
    )
    # the unique pivot row (first unsaturated source); empty when the
    # budget covers every cap, in which case everything saturates
    t_star = cum.where(
        (F.col("ratio") > F.col("t_row"))
        & (F.coalesce(F.col("prev_ratio"), F.lit(float("-inf")))
           <= F.col("t_row"))
        & (F.lit(T) < F.col("tot_cap"))
    ).agg(F.min("t_row").alias("t_star"))
    alloc = F.when(F.lit(T) >= F.col("tot_cap"), F.col("cap_tokens")).when(
        F.col("ratio") <= F.col("t_star"), F.col("cap_tokens")
    ).otherwise(
        F.floor(F.col("t_star") * F.col("weight").cast("double"))
    )
    return (
        cum.crossJoin(F.broadcast(t_star))
        .withColumn("allocated", alloc.cast("long"))
        .select(
            source_col,
            "n_tokens",
            "weight",
            "cap_tokens",
            "allocated",
            F.expr("(allocated * 1000000) div n_tokens")
            .alias("epochs_micro"),
            (F.col("allocated") >= F.col("cap_tokens")).alias("saturated"),
        )
    )


def sample_with_epochs(
    docs: DataFrame,
    plan: DataFrame,
    key_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    source_col: str = "source",
    salt: int = 0,
) -> DataFrame:
    """EXECUTE an epoch plan (:func:`plan_epoch_mixture`) as an actual
    repeated-document selection: a source allocated ``allocated``
    tokens out of an ``n_tokens``-token supply contributes
    ``full = allocated div n_tokens`` COMPLETE passes over its docs
    plus a FRACTIONAL pass — the exact greedy prefix (deterministic
    portable-hash order, same discipline as
    :func:`sample_to_token_budget`) whose running token total stays
    within the ``allocated - full·n_tokens`` remainder. Emits one row
    per (doc, epoch) with ``epoch`` ∈ [0, full] — epoch ids are stable
    input to :func:`operators.packing.training_order`-style per-epoch
    reshuffles.

    Scale shape: the full-pass fan-out is ``explode(sequence(0,
    full-1))`` over a broadcast-joined plan — a PURE PROJECTION, zero
    exchange, because repeating every doc needs no coordination; only
    the fractional prefix pays the per-source window
    (sample_to_token_budget's documented cost — rate-sample the
    remainder instead if a source's residual is itself huge).
    Deterministic and engine-portable end to end; total emitted tokens
    per source never exceed the allocation, and undershoot it by less
    than one document."""
    pl = plan.select(
        source_col,
        F.expr("allocated div n_tokens").alias("__full"),
        F.expr("allocated - (allocated div n_tokens) * n_tokens")
        .alias("token_budget"),  # the fractional remainder
    )
    base = docs.join(F.broadcast(pl), source_col)
    full = base.select(
        *[F.col(c) for c in docs.columns],
        F.explode(
            F.expr(
                "CASE WHEN __full > 0 THEN sequence(0L, __full - 1) "
                "ELSE CAST(array() AS array<bigint>) END"
            )
        ).alias("epoch"),
    )
    frac = sample_to_token_budget(
        docs,
        pl.select(source_col, "token_budget"),
        key_col=key_col,
        tokens_col=tokens_col,
        source_col=source_col,
        salt=salt,
    ).join(F.broadcast(pl.select(source_col, "__full")), source_col)
    frac = frac.select(
        *[F.col(c) for c in docs.columns],
        F.col("__full").cast("long").alias("epoch"),
    )
    return full.unionByName(frac)


__all__ = [
    "TOKEN_DIR",
    "TokenizerRef",
    "build_token_stats",
    "heal_token_stats",
    "token_stats",
    "token_budget_plan",
    "sample_to_token_budget",
    "sample_at_token_rate",
    "plan_epoch_mixture",
    "sample_with_epochs",
]
