"""Merge / upsert / delete — the reference's core semantics, Spark-first.

Reference semantics being reproduced (SURVEY.md §2.1 composite contract,
ParquetRewriterTests.java:215-244):
- upsert of an existing key REPLACES the record (ParquetRewriter.java:157-167
  + merge cursor ParquetBlockMutator.java:202-211);
- upsert of an absent key INSERTS at its sorted position, including
  before the first / after the last file (insertTest,
  ParquetRewriterTests.java:285-296);
- delete removes the record; delete of an absent key is a NO-OP
  (ParquetBlockMutator.java:184-185);
- untouched data passes through untouched (noChangesTest,
  ParquetRewriterTests.java:318-323) — here at file granularity: clean
  files are not rewritten, not even read;
- output stays key-sorted with no duplicate keys.

Architecture (NOT the reference's single-pass cursor — that design is
an artifact of single-threaded streaming; SURVEY.md §1.1 row 5):
- logical merge = union(mutations, base) + one window dedup, which
  Catalyst executes as a partial-agg-free single shuffle; mutations are
  order-free, so no ascending-key discipline is imposed
  (the reference throws on out-of-order keys, ParquetRewriter.java:256-258);
- physical pruning = zone-map dirty-file planning (the analog of
  seekToKey's stats pruning, ParquetRewriter.java:253-301): only files
  whose [key_min, key_max] contains a mutation key are read+rewritten.

Scale: mutation keys are mapped to files with a vectorized
``np.searchsorted`` over the (broadcast, sorted) file ranges — O(log F)
per key, no O(keys × files) nested-loop join. Mutation keys never
collect to the driver.
"""

from __future__ import annotations

import dataclasses
import datetime
from typing import Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from parquet_rewriter_spark.table import Manifest, ManifestEntry, SortedTable

OP_COLUMN = "op"
# plan_dirty_files plans driver-side when the mutation batch is at most
# this many rows (one bounded toPandas of the KEY column only)
# Below this many mutation keys, dirty-file planning runs entirely on
# the driver: one bounded limit+toPandas fetch of the KEY column, then
# numpy searchsorted against the manifest bounds (microseconds at this
# size — 128k longs is ~1 MB over Arrow). The distributed mapInPandas
# pass only pays off when the key set is genuinely huge; below the cap
# it costs an extra Spark job plus a one-time codegen compile.
SMALL_PLAN_KEYS = 131_072
# Above this many DIRTY BYTES, the merge write partitions by manifest-
# derived bucket ids instead of a range exchange: RangePartitioning's
# sampling job re-executes the whole union (a second full-width read of
# every dirty file + a second run of the mutation plan) just to learn
# bounds the manifest already knows. The crossover is a BYTES question:
# a fresh bucketed plan costs ~0.3-0.5 s (literal-bearing codegen or the
# Arrow stage), so re-reading less than ~1 GiB — seconds on object
# storage, near-free from page cache — is cheaper than avoiding it.
# Cluster deployments reading remote storage may tune this down.
BUCKET_WRITE_MIN_BYTES = 1 << 30
# A bucketed merge falls back to the range exchange when any single
# bucket expects more than this many OUTPUT FILES of mutation rows — a
# bucket is one task, so a bulk insert aimed at one file's key range
# would serialize there, and splitting it is exactly what the sampling
# pass is good at.
SKEW_BUCKET_FACTOR = 8
OP_UPSERT = "UPSERT"
OP_DELETE = "DELETE"

_PRIORITY = "__src_priority"
_RN = "__rn"
# Bucket column for manifest-derived merge partitioning. No leading
# underscore: it becomes a `prs_bucket=N` partition DIRECTORY inside the
# staging tree, and list_parquet_files prunes "_"-prefixed dirs.
_BUCKET = "prs_bucket"


def _np_bounds(spark: SparkSession, vals: list) -> "pd.Series":
    """Render manifest key bounds as a numpy array comparable with the
    values Arrow hands Python workers: timestamp bounds from parquet
    footers are tz-AWARE (isAdjustedToUTC) while Arrow delivers tz-naive
    session-local values — convert; everything else passes through
    pandas' dtype coercion (object for date/Decimal/str/bytes)."""
    tz = spark.conf.get("spark.sql.session.timeZone", None) or "UTC"
    s = pd.Series(vals)
    if isinstance(s.dtype, pd.DatetimeTZDtype):
        s = s.dt.tz_convert(tz).dt.tz_localize(None)
    return s.to_numpy()


# A cut list at most this long becomes a pure-JVM binary-search WHEN
# tree (log2(B) codegen'd comparisons per row, zero Python); longer
# lists use the Arrow searchsorted UDF — the expression tree is O(B)
# nodes with fresh literals every merge, and measured at B=1024 its
# per-plan analysis+codegen (~0.9 s) outgrows the UDF's fixed ~0.25 s
# Arrow-stage overhead (crossover ≈ 256).
JVM_BUCKET_MAX_CUTS = 256


def _murmur3_int32(x, seed: int = 42):
    """Spark's Murmur3_x86_32.hashInt (the hash behind HashPartitioning
    and ``F.hash`` for IntegerType, seed 42), vectorized in numpy.
    Pinned against ``F.hash`` in tests — if a Spark upgrade ever changed
    it (it can't without breaking Spark's own bucketed tables), the
    identity remap below would degrade to imperfect balance, never to
    wrong results."""
    import numpy as np

    def rotl(v, r):
        return (v << np.uint32(r)) | (v >> np.uint32(32 - r))

    with np.errstate(over="ignore"):
        k = np.asarray(x).astype(np.uint32)
        k = k * np.uint32(0xCC9E2D51)
        k = rotl(k, 15)
        k = k * np.uint32(0x1B873593)
        h = np.uint32(seed) ^ k
        h = rotl(h, 13)
        h = h * np.uint32(5) + np.uint32(0xE6546B64)
        h = h ^ np.uint32(4)  # fmix: length in bytes
        h = h ^ (h >> np.uint32(16))
        h = h * np.uint32(0x85EBCA6B)
        h = h ^ (h >> np.uint32(13))
        h = h * np.uint32(0xC2B2AE35)
        h = h ^ (h >> np.uint32(16))
    return h.view(np.int32)


def _identity_remap(n: int):
    """v[b] for b in 0..n-1 with pmod(murmur3(v[b]), n) == b — bucket id
    b rendered as the constant v[b] makes Spark's HashPartitioning an
    EXACT partitioner: one bucket per shuffle partition, the balance of
    a range exchange without its sampling job. Spark's Pmod on a
    negative hash matches numpy's divisor-sign mod."""
    import numpy as np

    out = np.full(n, -1, dtype=np.int64)
    lo = 0
    for _ in range(16):  # 64n candidates/round; ~ln(n) rounds suffice
        cand = np.arange(lo, lo + 64 * n, dtype=np.int64)
        r = np.mod(_murmur3_int32(cand).astype(np.int64), n)
        residues, first = np.unique(r, return_index=True)
        fill = out[residues] < 0
        out[residues[fill]] = cand[first[fill]]
        if not (out < 0).any():
            return out
        lo += 64 * n
    # Unreached in practice (P(residue missed) < e^-1000): reuse an
    # assigned VALUE for leftover buckets. Sharing a value only merges
    # two buckets into one partition (imperfect balance); a fresh value
    # with an uncontrolled residue could instead co-locate two DISTINCT
    # values, whose (bucket, key) write order would break in-file key
    # order.
    donor = out[out >= 0][0]
    out[out < 0] = donor
    return out


def _bucket_expr(key: str, key_type, cuts, remap) -> "F.Column":
    """Pure-JVM bucket id: a balanced binary-search tree of WHEN
    comparisons over the sorted cut literals — semantically
    ``remap[np.searchsorted(cuts, key, side="left")]``. Whole-stage
    codegen executes log2(B) comparisons per row; no sampling job, no
    Python worker, no Arrow transfer. Literals are cast to the key
    column's exact type so timestamp cuts (rendered naive session-local
    by _np_bounds) compare correctly against LTZ and NTZ keys alike.
    Leaves emit the identity-remapped constants so the downstream hash
    exchange places each bucket on its own partition."""
    cuts_py = list(cuts.tolist() if hasattr(cuts, "tolist") else cuts)
    n = len(remap)
    col = F.col(key)

    def lit(v):
        if isinstance(v, datetime.datetime) and v.tzinfo is None:
            # _np_bounds renders timestamp cuts naive in the SESSION
            # zone, but F.lit(naive datetime) converts via the Python
            # PROCESS zone (time.mktime) — when the two differ every
            # cut shifts (and diverges from the _bucket_udf path). A
            # string literal parses in the session zone for LTZ and
            # tz-independently for NTZ: correct for both key flavors.
            return F.lit(v.isoformat(sep=" ")).cast(key_type)
        return F.lit(v).cast(key_type)

    def build(lo: int, hi: int):
        # candidate searchsorted positions lo..hi (hi == len(cuts) means
        # "beyond every cut" — the tail bucket)
        if lo >= hi:
            return F.lit(int(remap[lo % n]))
        mid = (lo + hi) // 2
        return F.when(col <= lit(cuts_py[mid]), build(lo, mid)).otherwise(
            build(mid + 1, hi)
        )

    return build(0, len(cuts_py))


def _bucket_udf(spark: SparkSession, cuts, remap):
    """Vectorized key → bucket id: ``searchsorted`` over the (sorted,
    broadcast) cut points — O(log F) per key however large the manifest,
    the same discipline as plan_dirty_files. Buckets replace the range
    shuffle's SAMPLING JOB: RangePartitioning must re-execute its whole
    child (a second full-width read of every dirty file plus a second
    run of the mutation plan) just to learn partition bounds the
    manifest already knows. One narrow Arrow pass of the key column
    costs far less than re-reading the data."""
    import numpy as np

    tz = spark.conf.get("spark.sql.session.timeZone", None) or "UTC"
    bc = spark.sparkContext.broadcast((cuts, np.asarray(remap)))

    @F.pandas_udf("int")
    def bucket_of(s: pd.Series) -> pd.Series:
        cut_arr, lut = bc.value
        if isinstance(s.dtype, pd.DatetimeTZDtype):
            s = s.dt.tz_convert(tz).dt.tz_localize(None)
        idx = np.searchsorted(cut_arr, s.to_numpy(), side="left")
        return pd.Series(lut[idx % len(lut)].astype("int32"))

    return bucket_of


def bucket_partition_by_key(df: DataFrame, key: str, cuts) -> tuple[DataFrame, int]:
    """Shared zero-sampling partitioner: stamp ``_BUCKET`` (searchsorted
    position among ``cuts``, identity-remapped) and hash-exchange once —
    each bucket lands on its own partition, with a range exchange's
    balance and none of its sampling job. Returns the bucketed frame and
    the partition count; write with
    ``_write_sorted(..., bucket_col=_BUCKET)``. ``cuts`` must be sorted
    and deduplicated (e.g. ``np.unique(_np_bounds(...))``)."""
    spark = df.sparkSession
    if _BUCKET in df.columns:
        # withColumn would silently REPLACE a user column of this name
        raise ValueError(
            f"column name {_BUCKET!r} is reserved by the bucketed writer"
        )
    n = len(cuts) + 1
    remap = _identity_remap(n)
    if len(cuts) <= JVM_BUCKET_MAX_CUTS:
        bucket_col = _bucket_expr(key, df.schema[key].dataType, cuts, remap)
    else:
        bucket_col = _bucket_udf(spark, cuts, remap)(F.col(key))
    out = df.withColumn(_BUCKET, bucket_col).repartition(n, F.col(_BUCKET))
    return out, n


def compaction_cuts(entries, target_rows: int, spark: SparkSession):
    """Output-file cut points for a re-chunk of ``entries`` (manifest
    rows sorted by key range): walk the cumulative row counts and cut at
    the file boundary where each ``target_rows`` multiple is crossed.
    The manifest already knows every file's row count and key range, so
    output files come out size-balanced (± one input file) without
    RangePartitioning's sampling pass — which would re-read the entire
    table a second time just to rediscover these bounds. Tombstoned
    (DV) rows inflate counts slightly; cuts are balance heuristics, so
    that skew is bounded by the DV fraction and never affects
    correctness."""
    import numpy as np

    ordered = sorted(entries, key=lambda e: (e.key_min, e.key_max))
    cuts, cum, next_cut = [], 0, target_rows
    for e in ordered[:-1]:  # last file's tail is the final bucket
        cum += e.rows
        if cum >= next_cut:
            cuts.append(e.key_max)
            next_cut = (cum // target_rows + 1) * target_rows
    if not cuts:
        return None
    return np.unique(_np_bounds(spark, cuts))


def apply_mutations(
    base: DataFrame,
    mutations: DataFrame,
    key: str,
    seq_col: str | None = None,
    range_partition: bool = False,
    num_partitions: int | None = None,
    bucket_cuts=None,
) -> DataFrame:
    """Logical merge: mutations win over base rows on key collision.

    ``mutations`` = base schema + an ``op`` column in {UPSERT, DELETE}.
    Pure DataFrame expression (union + window), so Catalyst plans one
    hash shuffle on ``key``; no Python in the hot path.

    Duplicate keys WITHIN one mutation batch: the reference rejects such
    input outright (ascending-strict key discipline,
    ParquetRewriter.java:256-258); we accept it but resolve it
    deterministically rather than by arbitrary partition order — pass
    ``seq_col`` (higher sequence wins, e.g. a CDC offset) for
    caller-defined order, else the tiebreak is (DELETE over UPSERT, then
    row-hash): a fixed, rerun-stable winner with zero extra shuffles.
    """
    base_cols = base.columns
    mut = mutations
    if OP_COLUMN not in mut.columns:
        mut = mut.withColumn(OP_COLUMN, F.lit(OP_UPSERT))
    else:
        # op validation INSIDE the plan (raise_error folds into codegen —
        # no extra job): a typo'd op ("delete", "D") would otherwise be
        # silently treated as an upsert by the != DELETE filter below,
        # resurrecting rows the caller meant to remove
        mut = mut.withColumn(
            OP_COLUMN,
            F.when(
                F.col(OP_COLUMN).isin(OP_UPSERT, OP_DELETE), F.col(OP_COLUMN)
            ).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            f"invalid mutation op (expected {OP_UPSERT!r} "
                            f"or {OP_DELETE!r}): "
                        ),
                        F.col(OP_COLUMN),
                    )
                )
            ),
        )
    # The tiebreak only discriminates among MUTATION rows (base keys are
    # unique by table invariant, and _PRIORITY already ranks mutations
    # before base), so the per-row hash / seq is computed on the small
    # mutation side only; base rows carry a constant — at scale this
    # skips hashing every column of the big side.
    _TB = "__tiebreak"
    if seq_col is not None:
        tiebreak = [F.col(seq_col).desc_nulls_last()]
        mut_cols = [*base_cols, OP_COLUMN, seq_col]
        unioned = mut.select(*mut_cols).withColumn(_PRIORITY, F.lit(0))
        base_u = base.withColumn(OP_COLUMN, F.lit(OP_UPSERT)).withColumn(_PRIORITY, F.lit(1))
        base_u = base_u.withColumn(
            seq_col, F.lit(None).cast(unioned.schema[seq_col].dataType)
        )
    else:
        tiebreak = [F.col(OP_COLUMN), F.col(_TB)]
        unioned = (
            mut.select(*base_cols, OP_COLUMN)
            .withColumn(_PRIORITY, F.lit(0))
            .withColumn(_TB, F.xxhash64(*base_cols))
        )
        base_u = (
            base.withColumn(OP_COLUMN, F.lit(OP_UPSERT))
            .withColumn(_PRIORITY, F.lit(1))
            .withColumn(_TB, F.lit(0).cast("long"))
        )
    unioned = unioned.unionByName(base_u)
    if bucket_cuts is not None and len(bucket_cuts) > 0:
        # Manifest-derived partitioning (the zero-sampling merge write):
        # each row's bucket id is its searchsorted position among the
        # dirty files' key_max cut points — a deterministic, MONOTONE
        # function of the key, so bucket ranges never overlap. One hash
        # exchange on the bucket id serves the dedup window (same key ⇒
        # same bucket, and HashPartitioning(bucket) satisfies the
        # window's ClusteredDistribution(bucket, key)) AND the sorted
        # staging write — with NO range-sampling job re-executing the
        # union. The bucket column rides along in the output for the
        # writer's (bucket, key) sort, which Catalyst elides against the
        # window's identical ordering; the writer drops it before bytes
        # hit disk.
        spark = base.sparkSession
        if _BUCKET in base_cols:
            raise ValueError(
                f"column name {_BUCKET!r} is reserved by the bucketed writer"
            )
        n = num_partitions or (len(bucket_cuts) + 1)
        # Identity remap: bucket b is emitted as the constant remap[b],
        # chosen so pmod(murmur3(remap[b]), n) == b — Spark's hash
        # exchange becomes an EXACT one-bucket-per-partition partitioner
        # (a range exchange's balance without its sampling job). With an
        # explicit partition count AQE never coalesces this exchange, so
        # the mapping holds at execution time.
        remap = _identity_remap(n)
        if len(bucket_cuts) <= JVM_BUCKET_MAX_CUTS:
            bucket_col = _bucket_expr(
                key, unioned.schema[key].dataType, bucket_cuts, remap
            )
        else:
            bucket_col = _bucket_udf(spark, bucket_cuts, remap)(F.col(key))
        unioned = unioned.withColumn(_BUCKET, bucket_col)
        unioned = unioned.repartition(n, F.col(_BUCKET))
        w = Window.partitionBy(_BUCKET, key).orderBy(F.col(_PRIORITY), *tiebreak)
        return (
            unioned.withColumn(_RN, F.row_number().over(w))
            .filter((F.col(_RN) == 1) & (F.col(OP_COLUMN) != OP_DELETE))
            .select(*base_cols, _BUCKET)
        )
    if range_partition:
        # One exchange serves the dedup window AND the sorted write:
        # RangePartitioning(key) satisfies the window's clustered-by-key
        # requirement (all rows of a key land in one partition), so
        # Catalyst plans range-exchange → local sort → window with NO
        # hash exchange, and the output comes out key-clustered and
        # key-sorted — exactly what the sorted file write needs. Without
        # this the merge shuffles twice: hash for the window, then range
        # (plus its sampling job) for the write.
        # Partition count scales with the DIRTY span (merge passes the
        # dirty file count): a 10%-dirty merge runs ~10% of the write
        # tasks a full rewrite runs, so scheduling and writer overhead
        # track the dirty fraction the way the reference's row-group
        # costs do — instead of every merge paying the same fixed
        # spark.sql.shuffle.partitions regardless of how little it
        # rewrites.
        if num_partitions:
            unioned = unioned.repartitionByRange(num_partitions, F.col(key))
        else:
            unioned = unioned.repartitionByRange(F.col(key))
    w = Window.partitionBy(key).orderBy(F.col(_PRIORITY), *tiebreak)
    return (
        unioned.withColumn(_RN, F.row_number().over(w))
        .filter((F.col(_RN) == 1) & (F.col(OP_COLUMN) != OP_DELETE))
        .select(*base_cols)
    )


def delete_where(
    table: SortedTable,
    condition,
    prune: dict | None = None,
    changelog: bool = False,
) -> dict:
    """Predicate delete: remove every current row matching ``condition``
    (a Column or SQL string) — retention/TTL sweeps, GDPR erasure.

    The victim scan is a normal snapshot read, so the predicate pushes
    into the parquet scan; pass ``prune`` (read_where ranges, e.g.
    ``{"ts": (None, cutoff)}``) to ALSO drop non-matching files on the
    driver when the table tracks zone maps for the predicate columns —
    a retention sweep then reads only the aged files. The delete itself
    is a merge: only files containing victims are rewritten.
    """
    cond = F.expr(condition) if isinstance(condition, str) else condition
    src = table.read_where(prune) if prune else table.read()
    victims = src.filter(cond).withColumn(OP_COLUMN, F.lit(OP_DELETE))
    return merge_into_table(table, victims, changelog=changelog)


def update_where(
    table: SortedTable,
    condition,
    assignments: dict,
    prune: dict | None = None,
    changelog: bool = False,
) -> dict:
    """Predicate UPDATE (the mutation triad's third leg next to
    merge-upsert and delete_where): set ``assignments`` (col → Column
    or SQL string) on every current row matching ``condition``.

    Same cost contract as delete_where: the victim scan pushes the
    predicate into the parquet scan (plus optional ``prune`` ranges for
    driver-side zone-map file pruning), and the write is a normal merge
    — only victim-bearing files rewrite. Updating the table key is
    refused: an upsert under a NEW key would insert a copy and leave
    the old row in place — that operation is a delete+insert, and
    silently doing it here would corrupt the uniqueness invariant."""
    m = table.manifest()
    logical_key = (m.rename_map or {}).get(m.key, m.key)
    if any(c in (m.key, logical_key) for c in assignments):
        raise ValueError(
            f"cannot UPDATE the table key {logical_key!r}; "
            "delete the old row and insert the new one instead"
        )
    cond = F.expr(condition) if isinstance(condition, str) else condition
    src = table.read_where(prune) if prune else table.read()
    victims = src.filter(cond)
    for c, e in assignments.items():
        victims = victims.withColumn(c, F.expr(e) if isinstance(e, str) else e)
    victims = victims.withColumn(OP_COLUMN, F.lit(OP_UPSERT))
    return merge_into_table(table, victims, changelog=changelog)


def merge_with_retry(
    table: SortedTable,
    mutations: DataFrame,
    attempts: int = 3,
    **kwargs,
) -> dict:
    """merge_into_table under optimistic concurrency: on
    CommitConflictError, re-plan against the winner's manifest and
    retry. Safe to repeat because a merge is a pure function of
    (current manifest, mutation set) — the losing attempt's orphan
    files are unreferenced and vacuumable.
    """
    from parquet_rewriter_spark.table import CommitConflictError

    last: Exception | None = None
    for _ in range(max(1, attempts)):
        try:
            return merge_into_table(table, mutations, **kwargs)
        except CommitConflictError as e:  # noqa: PERF203 - retry loop
            last = e
    raise last  # type: ignore[misc]


def upsert(base: DataFrame, updates: DataFrame, key: str) -> DataFrame:
    """R3: replace-or-insert by key (updates win)."""
    return apply_mutations(base, updates.withColumn(OP_COLUMN, F.lit(OP_UPSERT)), key)


def delete_keys(base: DataFrame, deletes: DataFrame, key: str) -> DataFrame:
    """R4/R11: drop rows whose key appears in ``deletes`` (anti-join).

    Absent keys are silently ignored — the reference's no-op delete
    (ParquetBlockMutator.java:184-185).
    """
    return base.join(deletes.select(key).distinct(), on=key, how="left_anti")


# ---------------- dirty-file planning (zone-map pruning) ----------------


def _widens(narrow, wide) -> bool:
    """True iff reading parquet written as ``narrow`` under schema
    ``wide`` is a lossless up-cast the vectorized reader performs."""
    from pyspark.sql.types import (
        DoubleType,
        FloatType,
        IntegerType,
        LongType,
        ShortType,
    )

    ladder = [
        (ShortType, IntegerType, LongType),
        (FloatType, DoubleType),
        (IntegerType, LongType, DoubleType),
    ]
    for chain in ladder:
        ni = wi = None
        for i, t in enumerate(chain):
            if isinstance(narrow, t) and ni is None:
                ni = i
            if isinstance(wide, t):
                wi = i
        if ni is not None and wi is not None and ni < wi:
            return True
    return False


def _same_family(a, b) -> bool:
    """Datetime-family variants Spark's set-operation coercion resolves
    losslessly (ltz/ntz timestamps, date) — not a widening, but not a
    reason to refuse the merge either."""
    from pyspark.sql.types import DateType, TimestampNTZType, TimestampType

    fam = (TimestampType, TimestampNTZType, DateType)
    return isinstance(a, fam) and isinstance(b, fam)


def _eq_ignore_nullability(a, b) -> bool:
    """Type equality modulo nullability at EVERY nesting level —
    ``array<int>`` with ``containsNull=false`` (a ``transform`` over a
    non-null array) must merge into a table column written with
    ``containsNull=true`` (a ``concat``/``when`` lineage), and vice
    versa: parquet stores the values identically and the union in
    apply_mutations coerces nullability anyway. Without this, two
    columns that both print ``array<int>`` refuse to merge."""

    def norm(j):
        if isinstance(j, dict):
            return {
                k: (True if k in ("nullable", "containsNull",
                                  "valueContainsNull") else norm(v))
                for k, v in j.items()
            }
        if isinstance(j, list):
            return [norm(x) for x in j]
        return j

    return norm(a.jsonValue()) == norm(b.jsonValue())


def plan_dirty_files(
    spark: SparkSession,
    manifest: Manifest,
    mutations: DataFrame,
    return_keys: bool = False,
):
    """Split manifest files into (dirty, clean) against the mutation key set.

    A file is dirty iff some mutation key k satisfies
    ``key_min <= k <= key_max`` — exactly the reference's seek decision
    (ParquetRewriter.java:263-283), lifted from row-group to file.

    The test is per-FILE, not per-key: sort each batch's keys once, then
    file i is dirty iff a key lands inside [key_min_i, key_max_i], i.e.
    ``searchsorted(keys, key_min, "left") < searchsorted(keys, key_max,
    "right")``. Two binary searches per file — exact for arbitrarily
    overlapping/nested ranges (which gap-inserting merges do produce),
    with no overlap-depth heuristic to undershoot, and O(F log K) per
    batch however pathological the manifest.
    """
    key = manifest.key
    entries = sorted(manifest.files, key=lambda e: (e.key_min, e.key_max))
    if not entries:
        return [], []

    import numpy as np

    # pd.Series (not np.asarray) so typed keys coerce to the same dtype
    # family the Arrow batches produce (datetime64 for timestamps,
    # object for date/Decimal) — mixed-dtype searchsorted is UB.
    # Timestamp bounds from parquet footers are tz-AWARE (isAdjustedToUTC)
    # while Arrow hands the executor tz-NAIVE session-local values, so
    # render bounds naive in the session zone before shipping them.
    def _bounds(vals: list) -> "pd.Series":
        return _np_bounds(spark, vals)

    # torrent-broadcast the bounds (one copy per EXECUTOR) rather than
    # capturing them in the task closure (one serialized copy per TASK:
    # at 10^6 manifest entries that is ~16 MB × every task — measured
    # 11 s vs ~1 s at local[32])
    bcast = spark.sparkContext.broadcast(
        (_bounds([e.key_min for e in entries]), _bounds([e.key_max for e in entries]))
    )
    n_files = len(entries)

    def find_dirty(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        mins_arr, maxs_arr = bcast.value
        hit = np.zeros(n_files, dtype=bool)
        for pdf in batches:
            ks = np.unique(pdf["k"].dropna().to_numpy())
            if len(ks) == 0:
                continue
            lo = np.searchsorted(ks, mins_arr, side="left")
            hi = np.searchsorted(ks, maxs_arr, side="right")
            hit |= lo < hi
        yield pd.DataFrame({"file_idx": np.nonzero(hit)[0].astype("int64")})

    # No pre-distinct on keys (that would be a full shuffle of the
    # mutation set just to dedupe searchsorted probes) and no
    # post-distinct on file indices (each partition already emits a
    # unique set; the driver-side set comprehension dedupes the rest) —
    # the whole plan is one shuffle-free mapInPandas pass.
    keys_df = mutations.select(F.col(key).alias("k"))

    # Small-batch fast path: a bounded limit+toPandas proves the batch
    # is small AND delivers its keys in one lightweight job (Spark stops
    # scanning once the limit is met), so planning runs the same
    # searchsorted on the driver instead of a 32-task distributed pass —
    # a 1-row streaming upsert plans in ~100 ms, not seconds. Overflow
    # (cap+1 rows) falls through to the distributed pass.
    cap = SMALL_PLAN_KEYS
    head = keys_df.limit(cap + 1).toPandas()
    keys_out = None
    if len(head) <= cap:
        mins_arr, maxs_arr = bcast.value
        ks = np.unique(pd.Series(head["k"]).dropna().to_numpy())
        keys_out = ks
        if len(ks) == 0:
            dirty_idx = set()
        else:
            lo = np.searchsorted(ks, mins_arr, side="left")
            hi = np.searchsorted(ks, maxs_arr, side="right")
            dirty_idx = set(np.nonzero(lo < hi)[0].tolist())
    else:
        dirty_idx = {
            int(r.file_idx)
            for r in keys_df.mapInPandas(find_dirty, schema="file_idx long").collect()
        }
    bcast.unpersist()  # bounds are single-use; free executor copies eagerly
    dirty = [e for i, e in enumerate(entries) if i in dirty_idx]
    clean = [e for i, e in enumerate(entries) if i not in dirty_idx]
    if return_keys:
        # the (unique, sorted) mutation keys when the small-batch path
        # already fetched them — None on the distributed path. Callers
        # use them for free skew statistics (no extra job).
        return dirty, clean, keys_out
    return dirty, clean


class ConstraintViolationError(ValueError):
    """A merge's mutation batch broke a declared CHECK constraint; the
    table was not touched. ``violations`` maps rule → count."""

    def __init__(self, violations: dict[str, int]):
        self.violations = violations
        super().__init__(f"merge rejected by CHECK constraints: {violations}")


def merge_into_table(
    table: SortedTable,
    mutations: DataFrame,
    max_records_per_file: int | None = None,
    allow_splice: bool = True,
    changelog: bool = False,
    txn: tuple[str, int] | None = None,
    constraints: dict[str, str] | None = None,
    seq_col: str | None = None,
    bucket_write_min_bytes: int | None = None,
) -> dict:
    """R3+R4+R5+R6+R13: merge a mutation stream into a SortedTable.

    Plan: zone-map split files into dirty/clean → read ONLY dirty files
    → union+window merge with mutations → sorted write of new files →
    manifest flip keeping clean entries verbatim (file-granularity raw
    passthrough: clean bytes are never read, the analog of
    ``writer.appendRowGroup(raw)`` at ParquetRewriter.java:317).

    ``changelog=True`` appends this commit's row-level changes (full
    preimage CDF form) to the table's ``_changelog/`` after the manifest
    flip — see operators/cdc.py:write_changelog / stream_changes.

    Small merges take the ROW-GROUP-granularity driver fast path
    (operators/splice.py — the reference's appendRowGroup trick): when
    the mutation batch is small and the dirty files are range-disjoint,
    only the row groups a key actually hits are merged, with no Spark
    job at all. Every precondition failure falls back to the
    distributed path; ``allow_splice=False`` forces it off.

    Returns merge metrics: file/row counts plus per-phase wall-times
    (``t_plan_s`` / ``t_write_s`` / ``t_sidecar_s`` / ``t_commit_s``),
    mirroring the reference's phase counters
    (ParquetRewriter.java:349-359). "Write" covers read-merge-write —
    Spark executes the lazy merge plan inside the write job, so the
    phases aren't separable without breaking the pipeline. "Sidecar" is
    the commit's upkeep of registered sidecars for the files written.

    ``bucket_write_min_bytes`` overrides ``BUCKET_WRITE_MIN_BYTES`` for
    this merge (0 forces the zero-sampling bucketed write; None uses
    the module default).

    ``constraints`` (rule name → SQL predicate over the mutation
    columns) is the hard CHECK gate: UPSERT rows must satisfy every
    predicate or the whole merge raises ``ConstraintViolationError``
    BEFORE any file is touched — one extra aggregation over the
    (batch-sized) mutation stream, the inline complement of the staged
    write-audit-publish flow (operators/wap.py) and the quarantine
    splitter (operators/quality.py). DELETE rows are exempt (their
    payload columns are not being written).
    """
    import time

    spark = table.spark
    m = table.manifest()
    if m.rename_map:
        # renamed tables: mutations arrive with LOGICAL column names;
        # everything below (planning, splice, write, schema pinning)
        # lives in PHYSICAL name space — translate once at the boundary.
        # Runs after nothing: constraints below reference mutation
        # columns by the names the CALLER used, i.e. logical — so the
        # constraint check reads the logical frame captured here first.
        logical_mutations = mutations
        rev = {logical: phys for phys, logical in m.rename_map.items()}
        mutations = mutations.select(
            *[F.col(c).alias(rev.get(c, c)) for c in mutations.columns]
        )
    else:
        logical_mutations = mutations
    if constraints:
        from parquet_rewriter_spark.operators.quality import check_constraints

        checked = logical_mutations
        if OP_COLUMN in logical_mutations.columns:
            checked = logical_mutations.filter(F.col(OP_COLUMN) != OP_DELETE)
        bad = {
            r["rule"]: r["n_violations"]
            for r in check_constraints(checked, constraints).collect()
            # empty batch (e.g. all-DELETE) aggregates to NULL counts
            if (r["n_violations"] or 0) > 0
        }
        if bad:
            raise ConstraintViolationError(bad)
    if txn is not None:
        # exactly-once idempotence: (app, epoch) at or below the table's
        # recorded watermark has already been applied — a foreachBatch
        # replay after a crash must be a no-op, even for non-idempotent
        # mutation streams (signed deltas). The watermark commits in the
        # SAME manifest flip as the data, so there is no torn state.
        app, epoch = txn
        last = m.txns.get(app)
        if last is not None and epoch <= last:
            return {
                "version": m.version,
                "files_total": len(m.files),
                "files_dirty": 0,
                "files_clean_passthrough": len(m.files),
                "files_written": 0,
                "rows_rewritten": 0,
                "skipped_txn_replay": True,
                "path": "txn_skip",
            }
    key = m.key

    # ---- additive schema evolution ----
    # Mutations must carry every existing column (the reference's
    # full-record upsert contract); EXTRA mutation columns evolve the
    # table schema. Only dirty files are rewritten with the wider
    # schema — clean files keep their bytes, and read() null-fills the
    # new columns via the manifest's stored schema.
    import json as _json

    from pyspark.sql.types import StructField, StructType

    table_schema = (
        StructType.fromJson(_json.loads(m.schema_json)) if m.schema_json else None
    )
    new_fields: list[StructField] = []
    widened_any = False
    if table_schema is not None:
        base_names = {f.name for f in table_schema.fields}
        mut_data = [c for c in mutations.columns
                    if c != OP_COLUMN and c != seq_col]
        missing = [f.name for f in table_schema.fields if f.name not in mut_data]
        if missing:
            raise ValueError(
                f"mutations must carry every table column; missing {missing} "
                "(upserts are full records — the reference's contract)"
            )
        new_fields = [
            StructField(f.name, f.dataType, True)
            for f in mutations.schema.fields
            if f.name not in base_names
            and f.name != OP_COLUMN
            and f.name != seq_col  # ordering metadata, not table data
        ]
        # ---- type widening ----
        # A mutation column arriving WIDER than the table's (int→long,
        # float→double) widens the whole table: clean files stay as
        # written (the parquet reader up-casts them against the pinned
        # wider schema — verified vectorized-reader behavior), dirty
        # files rewrite wide. Narrowing is rejected: silent truncation.
        mut_types = {f.name: f.dataType for f in mutations.schema.fields}
        widened_fields: list[StructField] = []
        for f in table_schema.fields:
            mt = mut_types.get(f.name)
            if (
                mt is not None
                and mt != f.dataType
                and not _eq_ignore_nullability(mt, f.dataType)
            ):
                if _widens(f.dataType, mt):
                    widened_fields.append(StructField(f.name, mt, True))
                    widened_any = True
                elif _widens(mt, f.dataType) or _same_family(mt, f.dataType):
                    # narrower mutation, or a same-family variant (ntz
                    # vs ltz timestamps, date vs timestamp): keep the
                    # table type — the union in apply_mutations coerces
                    # the mutation side, preserving pre-widening
                    # behavior for sessions that read fixtures as NTZ
                    widened_fields.append(f)
                else:
                    raise ValueError(
                        f"mutation column {f.name!r} type {mt.simpleString()} "
                        f"is incompatible with table type "
                        f"{f.dataType.simpleString()}"
                    )
            else:
                widened_fields.append(f)
        # always pin the (possibly widened) stored schema: files written
        # before a previous ADD COLUMN need it to null-fill on read
        read_schema = StructType(widened_fields + new_fields)
        m_read = dataclasses.replace(m, schema_json=read_schema.json())
    else:
        read_schema, m_read = None, m
    # The mutation stream is consumed twice — a key-only planning pass,
    # then the merge itself. Do NOT persist the full mutation rows for
    # that: caching materializes every column before planning can start,
    # and the wide cache write+read costs more than it saves (measured:
    # t_plan 1.2-2.4 s vs 0.3 s at sf0.1 — it flattened the dirty-
    # fraction curve the BASELINE contract grades). The planning pass
    # instead runs on the raw plan, where Catalyst column-prunes the
    # scan to the key column; an expensive upstream recomputes once more
    # but only through that pruned projection. Callers with genuinely
    # expensive wide upstreams should persist BEFORE calling merge.
    t0 = time.monotonic()
    dirty, clean, plan_keys = plan_dirty_files(
        spark, m, mutations, return_keys=True
    )
    t_plan = time.monotonic() - t0
    mrpf = max_records_per_file or max((e.rows for e in m.files), default=1_000_000)

    # Tombstoned dirty files (merge-on-read DVs) disqualify the splice
    # fast path — it copies row groups verbatim and would resurrect
    # deleted rows; the distributed path applies + retires their DVs.
    if (
        allow_splice
        and seq_col is None
        and dirty
        and not new_fields
        and not widened_any
        and not any(e.dv_rows for e in dirty)
    ):
        res = _try_splice(table, m, dirty, clean, mutations, key, t_plan, txn=txn)
        if res is not None:
            if changelog:
                from parquet_rewriter_spark.operators.cdc import write_changelog

                write_changelog(table, m.version, res["version"])
            return res

    if dirty:
        # the dirty files minus their tombstones, read with the widened
        # schema — the rewrite makes those deletes physical (their DV
        # entries retire at commit below)
        base_dirty = table.read_physical(m=m_read, entries=dirty)
        min_bytes = (
            BUCKET_WRITE_MIN_BYTES
            if bucket_write_min_bytes is None
            else bucket_write_min_bytes
        )
        use_buckets = sum(e.bytes for e in dirty) > min_bytes
        attempted_buckets = use_buckets  # before the skew gate's say
        n_mut = 0  # mutation-row estimate, learned by the skew gate
        max_bucket_mut = None  # hottest bucket's mutation count
        if use_buckets:
            import numpy as np

            # Bucket cuts = the dirty files' key_max values (sorted —
            # nested ranges from past gap-inserting merges can unsort
            # the raw sequence). Bucket i inherits dirty file i's upper
            # bound, so output files track the input file geography;
            # keys above the global max get their own tail bucket.
            cuts = np.sort(_np_bounds(spark, [e.key_max for e in dirty]))
            # SKEW GATE: a bucket is one task — a mutation batch that
            # dumps many files' worth of rows into ONE file's range
            # (bulk insert into a narrow key region) would serialize
            # there, where a range exchange's sampling splits it. Count
            # mutations per bucket (free from the planning pass's keys
            # when the batch was small; one narrow count job otherwise)
            # and fall back to the range exchange when any bucket
            # expects more than SKEW_BUCKET_FACTOR output files of rows
            # — exactly the case where sampling earns its second read.
            n_mut = 0
            if plan_keys is not None and len(plan_keys):
                per_bucket = np.bincount(
                    np.searchsorted(cuts, plan_keys, side="left"),
                    minlength=len(cuts) + 1,
                )
                n_mut = int(len(plan_keys))
                max_bucket_mut = int(per_bucket.max())
                use_buckets = max_bucket_mut <= SKEW_BUCKET_FACTOR * mrpf
            elif plan_keys is None:
                probe = _bucket_udf(
                    spark, cuts, np.arange(len(cuts) + 1, dtype=np.int64)
                )
                stats = (
                    mutations.select(probe(F.col(key)).alias("__b"))
                    .groupBy("__b")
                    .count()
                    .agg(
                        F.max("count").alias("mx"),
                        F.sum("count").alias("total"),
                    )
                    .first()
                )
                n_mut = int(stats.total or 0)
                max_bucket_mut = int(stats.mx or 0)
                use_buckets = not stats.mx or (
                    stats.mx <= SKEW_BUCKET_FACTOR * mrpf
                )
        if use_buckets:
            write_partitioner = "bucketed"
            n_buckets = len(dirty) + 1
            merged = apply_mutations(base_dirty, mutations, key,
                                     seq_col=seq_col,
                                     bucket_cuts=cuts,
                                     num_partitions=len(dirty) + 1)
        else:
            # gate trips are otherwise invisible in production — record
            # whether this range exchange is the byte-threshold default
            # or the skew gate rejecting a pathological bucket
            write_partitioner = (
                "range_skew_boost" if attempted_buckets else "range"
            )
            n_buckets = None
            # Below the byte threshold the fused RANGE exchange stays:
            # its sampling job re-reads little enough that a fresh
            # bucketed plan (literal-bearing codegen / Arrow stage)
            # would cost more than the re-read it avoids. Above it the
            # economics flip: the sampling pass re-reads every dirty
            # byte full-width plus re-runs the mutation plan, which the
            # manifest-derived buckets avoid entirely. When the SKEW
            # gate tripped (n_mut > 0), boost the partition count past
            # the dirty-file count so the sampling exchange can split
            # the hot range across tasks — that split is the reason for
            # the fallback.
            n_parts = max(len(dirty), -(-n_mut // mrpf) if n_mut else 0)
            merged = apply_mutations(base_dirty, mutations, key,
                                     seq_col=seq_col,
                                     range_partition=True,
                                     num_partitions=n_parts)
    else:
        # Pure-insert merge (all keys fall in gaps / head / tail).
        # Runs through apply_mutations against an EMPTY base: a batch
        # carrying the same NEW key twice would otherwise insert BOTH
        # rows (the window dedup only guarded the dirty branch), and
        # seq_col ordering must resolve such duplicates here too.
        mut = mutations
        if OP_COLUMN not in mut.columns:
            mut = mut.withColumn(OP_COLUMN, F.lit(OP_UPSERT))
        base_cols = (
            [f.name for f in read_schema.fields]
            if read_schema is not None
            else [c for c in mut.columns if c != OP_COLUMN]
        )
        empty_base = mut.select(*base_cols).limit(0)
        # Pure inserts read NO dirty bytes, so the range exchange's
        # sampling pass only re-runs the mutation plan — cheaper than a
        # fresh bucketed plan at any realistic batch size.
        write_partitioner, n_buckets, max_bucket_mut = "range", None, None
        merged = apply_mutations(empty_base, mutations, key,
                                 seq_col=seq_col, range_partition=True)

    # No isEmpty() pre-check (an extra Spark action): an empty merge
    # writes an empty staging dir and _adopt_staged drops zero-row
    # files, so the empty case costs nothing extra on the common path.
    t0 = time.monotonic()
    # BOTH branches above partitioned in apply_mutations (manifest
    # buckets, or a range exchange for the empty-table insert), so the
    # writer never re-shuffles; bucketed output splits into per-bucket
    # staging dirs so each output file covers exactly one bucket range.
    bucketed = _BUCKET in merged.columns
    staging = table._write_sorted(
        merged, key, mrpf, prepartitioned=True,
        bucket_col=_BUCKET if bucketed else None,
    )
    new_entries = table._adopt_staged(staging, key)
    n_new_rows = sum(e.rows for e in new_entries)
    t_write = time.monotonic() - t0

    t0 = time.monotonic()
    t_sidecar = 0.0
    if dirty or new_entries:
        t_sidecar = table._commit_rewrite(
            m, dirty, new_entries,
            schema_json=m_read.schema_json or merged.drop(_BUCKET).schema.json(),
            operation="merge",
            txns={**m.txns, **dict([txn] if txn else ())},
        )
        version = m.version + 1
    else:
        # nothing changed (e.g. an empty streaming micro-batch): no new
        # snapshot version — keeps foreachBatch heartbeats from churning
        # time-travel history
        version = m.version
    t_commit = time.monotonic() - t0 - t_sidecar
    if changelog and version != m.version:
        from parquet_rewriter_spark.operators.cdc import write_changelog

        write_changelog(table, m.version, version)
    return {
        "version": version,
        "files_total": len(m.files),
        "files_dirty": len(dirty),
        "files_clean_passthrough": len(clean),
        "files_written": len(new_entries),
        "rows_rewritten": n_new_rows,
        # per-phase instrumentation (the reference's counter surface,
        # ParquetRewriter.java:349-359, at Spark's natural grain):
        # t_plan_s = dirty-file planning, t_write_s = the read+merge+
        # write job (one fused Spark job — a finer read/write split
        # would require materializing between stages), t_sidecar_s =
        # registered sidecar rows for the new files, t_commit_s =
        # manifest commit; rows/bytes_read are the dirty inputs, *_
        # written the produced files — all driver-side arithmetic.
        "rows_read": sum(e.rows for e in dirty),
        "bytes_read": sum(e.bytes for e in dirty),
        "bytes_written": sum(e.bytes for e in new_entries),
        "t_plan_s": round(t_plan, 4),
        "t_write_s": round(t_write, 4),
        "t_sidecar_s": round(t_sidecar, 4),
        "t_commit_s": round(t_commit, 4),
        # which write partitioner actually ran — "bucketed" (manifest
        # cuts, zero sampling), "range" (byte threshold kept the fused
        # range exchange / pure insert), or "range_skew_boost" (the
        # skew gate rejected a pathological bucket and boosted the
        # range exchange's partition count); gate trips are production-
        # observable here instead of only via test monkeypatches
        "write_partitioner": write_partitioner,
        "n_buckets": n_buckets,
        "max_bucket_mutations": max_bucket_mut,
        "path": "distributed",
    }


def _try_splice(table, m, dirty, clean, mutations, key, t_plan, txn=None) -> dict | None:
    """Row-group fast path; returns metrics dict or None to fall back."""
    import time

    from parquet_rewriter_spark.operators import splice as sp

    if not sp.splice_preconditions(dirty, 0):
        return None  # structural checks first (file count, disjointness)
    try:
        t0 = time.monotonic()
        # one action fetches the batch AND proves it is small: cap+1
        # rows of overflow sentinel — no separate count() job
        mut_pdf = mutations.limit(sp.MAX_SPLICE_MUTATIONS + 1).toPandas()
        if len(mut_pdf) > sp.MAX_SPLICE_MUTATIONS:
            return None
        new_entries, rg_stats = sp.splice_merge(table, dirty, mut_pdf, key)
        t_write = time.monotonic() - t0
    except Exception:
        return None  # any dtype/stats/overlap surprise → distributed path

    t0 = time.monotonic()
    # splice is only taken when no DIRTY file is tombstoned, so every
    # dv'd file survives and the sidecar list carries over
    t_sidecar = table._commit_rewrite(
        m, dirty, new_entries, operation="merge (rowgroup-splice)",
        txns={**m.txns, **dict([txn] if txn else ())},
    )
    t_commit = time.monotonic() - t0 - t_sidecar
    return {
        "version": m.version + 1,
        "files_total": len(m.files),
        "files_dirty": len(dirty),
        "files_clean_passthrough": len(clean),
        "files_written": len(new_entries),
        "rows_rewritten": sum(e.rows for e in new_entries),
        "rows_read": sum(e.rows for e in dirty),
        "bytes_read": sum(e.bytes for e in dirty),
        "bytes_written": sum(e.bytes for e in new_entries),
        "t_plan_s": round(t_plan, 4),
        "t_write_s": round(t_write, 4),
        "t_sidecar_s": round(t_sidecar, 4),
        "t_commit_s": round(t_commit, 4),
        "path": "rowgroup_splice",
        **rg_stats,
    }
