"""Physical-plan quality gates — the 100 TB story enforced in CI.

Each assertion pins a property that matters at scale and silently
degrades otherwise: filters reaching the Parquet scan, dimension joins
broadcasting, global top-k as TakeOrderedAndProject (per-partition heap,
not a full sort), column pruning in ReadSchema, and shuffle counts for
the merge path (one hash exchange, not N).
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from parquet_rewriter_spark.catalog import get
from parquet_rewriter_spark.operators.merge import apply_mutations
from parquet_rewriter_spark.operators.util import local_checkpoint
from parquet_rewriter_spark.plans import count_exchanges, plan_of, plan_report
from parquet_rewriter_spark.sources.readers import load_table


def test_filter_pushdown_reaches_parquet_scan(spark, sf_dir):
    p = plan_of(get("pricing_summary").fn(spark, sf_dir))
    assert "PushedFilters: [" in p
    assert "l_shipdate" in p.split("PushedFilters")[1].split("]")[0]


def test_column_pruning_in_read_schema(spark, sf_dir):
    p = plan_of(get("doc_token_stats").fn(spark, sf_dir))
    read_schema = p.split("ReadSchema")[1].splitlines()[0]
    assert "text" in read_schema and "doc_id" in read_schema
    assert "lang" not in read_schema and "source" not in read_schema


def test_dimension_joins_broadcast(spark, sf_dir):
    p = plan_of(get("revenue_by_nation").fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p  # dims must not shuffle the fact table


def test_global_topk_is_take_ordered(spark, sf_dir):
    for q in ("top_orders_by_revenue", "cosine_topk_bruteforce"):
        p = plan_of(get(q).fn(spark, sf_dir))
        assert "TakeOrderedAndProject" in p, q
        # no global Sort node feeding a limit
        assert "GlobalLimit" not in p, q


def test_merge_is_single_shuffle(spark, sf_dir):
    """union + window dedup must plan exactly one hash exchange on the
    key (plus nothing else) — the merge's scale contract."""
    base = load_table(spark, sf_dir, "orders")
    muts = base.filter(F.col("o_orderkey") % 17 == 0).withColumn("op", F.lit("UPSERT"))
    p = plan_of(apply_mutations(base, muts, "o_orderkey"))
    n_exchanges = p.count("Arguments: hashpartitioning")
    assert n_exchanges == 1, p
    assert "Arguments: SinglePartition" not in p  # nothing collapses to one task


def test_zorder_has_no_global_window_sort(spark, sf_dir):
    """zorder_by must not rank-normalize through a Window.orderBy —
    that funnels the table into ONE partition per z-ordered column. The
    quantile-boundary + codegen binary-search shape plans zero Window
    nodes and zero single-partition exchanges."""
    from parquet_rewriter_spark.operators.zorder import zorder_by

    orders = load_table(spark, sf_dir, "orders")
    p = plan_of(zorder_by(orders, ["o_custkey", "o_totalprice"], bits=8))
    assert "Window" not in p, p
    assert "SinglePartition" not in p, p
    assert "Exchange" not in p, p  # bucket assignment is shuffle-free


def test_asof_join_has_no_cartesian(spark, sf_dir):
    p = plan_of(get("purchase_asof_click").fn(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_range_join_is_equi_join_plus_filter(spark, sf_dir):
    p = plan_of(get("events_within_5min_pairs").fn(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p) or ("BroadcastHashJoin" in p)


def test_aggregation_has_map_side_combine(spark, sf_dir):
    """The scan-side partial HashAggregate must exist — the shuffle
    carries one row per (group, partition), not one per input row."""
    df = get("pricing_summary").fn(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    p = buf.getvalue()
    assert "partial_sum" in p and p.count("HashAggregate") >= 2, p
    # exactly one shuffle for the whole aggregation
    assert p.count("Exchange hashpartitioning") == 1


def test_correlated_subqueries_decorrelate(spark, sf_dir):
    """EXISTS / correlated-scalar subqueries must plan as joins
    (decorrelated), never as per-row subquery re-execution, and the
    EXISTS must be a semi join."""
    p = plan_of(get("orders_with_big_lineitem").fn(spark, sf_dir))
    assert "LeftSemi" in p, p
    p2 = plan_of(get("min_price_part_suppliers").fn(spark, sf_dir))
    assert "Join" in p2 and "CartesianProduct" not in p2


def test_pivot_has_no_distinct_values_job(spark, sf_dir):
    """Pivot with an explicit value list: exactly the two hash
    exchanges of Spark's two-phase pivot aggregate (pre-agg +
    pivotfirst) — the implicit-values variant would add a separate
    distinct-values collect job before planning."""
    df = get("status_pivot_by_priority").fn(spark, sf_dir)
    assert count_exchanges(df) == 2, plan_of(df)


def test_relational_queries_stay_jvm_side(spark, sf_dir):
    """No Python evaluation nodes in the built-in relational plans —
    UDFs are the slow path and these queries must not regress onto it."""
    for q in ("pricing_summary", "revenue_by_nation", "rolling_30d_revenue",
              "customer_balance_deciles", "user_event_type_map"):
        r = plan_report(get(q).fn(spark, sf_dir))
        assert r["python_evals"] == 0, q


def test_plan_report_shape(spark, sf_dir):
    r = plan_report(get("revenue_by_nation").fn(spark, sf_dir))
    assert r["broadcast_join"] is True
    assert r["pushed_filters"]  # scan-side predicate present
    assert isinstance(r["read_schema"], list) and r["read_schema"]


def test_chunking_is_shuffle_free(spark, sf_dir):
    """Chunk explode must plan as a generator inside the scan stage —
    zero exchanges; a chunker that shuffles cannot chunk 100 TB."""
    from parquet_rewriter_spark.functions.chunk import chunk_text

    d = load_table(spark, sf_dir, "documents")
    p = plan_of(chunk_text(d, "text", size=100, overlap=20))
    assert "Exchange" not in p, p
    assert "Generate" in p  # the explode is a generator, not a join


def test_contamination_benchmark_side_broadcasts(spark, sf_dir):
    """The held-out gram set must broadcast — a shuffled join of grams
    against grams re-shuffles the whole training corpus."""
    p = plan_of(get("contamination_check").fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p, p


def test_pii_redaction_stays_jvm_side(spark, sf_dir):
    """regexp count/replace must not fall back to Python evaluation."""
    p = plan_of(get("pii_redaction_stats").fn(spark, sf_dir))
    for marker in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF"):
        assert marker not in p, p


def test_matview_delta_is_single_aggregate_exchange(spark, tmp_path):
    """The refresh's delta plan: one hash exchange for the group-by of
    the change rows (plus the joins' broadcast) — the delta must never
    re-shuffle proportionally to the base table."""
    from parquet_rewriter_spark.operators.cdc import CHANGE_TYPE_COL, snapshot_diff
    from parquet_rewriter_spark.operators.merge import OP_COLUMN, merge_into_table
    from parquet_rewriter_spark.table import SortedTable

    df = spark.range(0, 5_000).select(
        F.col("id"), (F.col("id") % 40).alias("grp"), F.lit(1.0).alias("val")
    )
    t = SortedTable.create(
        spark, str(tmp_path / "pv"), df, key="id", max_records_per_file=1_000
    )
    muts = (
        df.filter(F.col("id").between(100, 199))
        .withColumn("val", F.lit(2.0))
        .withColumn(OP_COLUMN, F.lit("UPSERT"))
    )
    merge_into_table(t, muts)
    changes = snapshot_diff(t, 0, 1, include_preimage=True)
    sign = F.when(
        F.col(CHANGE_TYPE_COL).isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))
    delta = changes.groupBy("grp").agg(F.sum(sign * F.col("val")).alias("d"))
    p = plan_of(delta)
    # one aggregate exchange on grp; the diff's full-outer join may add
    # its own key exchange — but nothing single-partition, no cartesian
    assert "SinglePartition" not in p, p
    assert "CartesianProduct" not in p, p
    assert p.count("Arguments: hashpartitioning(grp") == 1, p


def test_bucketed_join_query_only_exchanges_for_agg(spark, sf_dir):
    """bucketed_colocated_join: the fact-fact join itself is co-located
    (no exchange on either input); the only exchange left belongs to the
    post-join aggregation."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = get("bucketed_colocated_join").fn(spark, sf_dir)
        p = plan_of(df)
        n_exchanges = count_exchanges(df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in p
    assert p.count("Bucketed: true") == 2, p  # both scans read bucketed
    # the aggregation's exchange is the ONLY one — the join itself is
    # satisfied by the co-located bucketed scans
    assert n_exchanges == 1, p


def test_hot_key_split_join_broadcasts_hot_half(spark, sf_dir):
    p = plan_of(get("hot_key_split_join").fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p  # the hot half never shuffles
    assert "CartesianProduct" not in p


def test_cluster_round_is_two_exchanges(spark):
    """One connected-components round = edge-label join + min-agg: the
    label state must never funnel through a single partition."""
    edges = spark.range(0, 1000).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    labels = spark.range(0, 1001).select("id", F.col("id").alias("comp"))
    sym = edges.select(F.col("src").alias("a"), F.col("dst").alias("b")).unionByName(
        edges.select(F.col("dst").alias("a"), F.col("src").alias("b"))
    )
    nbr = (
        sym.join(labels.withColumnRenamed("id", "b"), "b")
        .groupBy(F.col("a").alias("id"))
        .agg(F.min("comp").alias("nbr_comp"))
    )
    p = plan_of(nbr)
    assert "SinglePartition" not in p
    assert "CartesianProduct" not in p


def test_packing_window_is_sharded_not_global(spark, sf_dir):
    """pack_training_sequences: the running-sum window partitions by
    shard — a global (unpartitioned) window sort would be the
    single-partition scale-killer."""
    p = plan_of(get("pack_training_sequences").fn(spark, sf_dir))
    assert "SinglePartition" not in p, p
    assert "partitionBy" not in p or "shard" in p
    assert "Window" in p


def test_tpch_q7_facts_never_broadcast_never_cartesian(spark, sf_dir):
    """Q7's two-sided nation filter must reach the fact scans through
    broadcast dims; the lineitem⨝orders join stays a shuffle join and
    nothing degenerates to a cartesian product."""
    p = plan_of(get("q7_volume_shipping").fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_tpch_q11_single_lineitem_scan(spark, sf_dir):
    """The global-total scalar subquery must re-aggregate the per-part
    partials, not rescan lineitem: exactly one lineitem scan in the
    plan."""
    p = plan_of(get("q11_important_parts").fn(spark, sf_dir))
    assert p.count("lineitem.parquet") <= 1, p


def test_tpch_q17_avg_broadcasts_back(spark, sf_dir):
    """The correlated per-part avg decorrelates to a broadcast join —
    no shuffle of the brand-filtered fact against its own aggregate."""
    p = plan_of(get("q17_small_quantity_revenue").fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_tpch_q21_exists_via_windows_no_self_join_explosion(spark, sf_dir):
    """EXISTS/NOT EXISTS decorrelate to windows over l_orderkey: the
    plan must contain window nodes and no nested-loop/cartesian join."""
    p = plan_of(get("q21_last_shipper").fn(spark, sf_dir))
    assert "Window" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "TakeOrderedAndProject" in p  # ORDER BY+LIMIT as top-k heap


def test_tpch_q9_all_dims_broadcast_one_shuffle(spark, sf_dir):
    """Q9's three dimension joins (part, supplier, nation) must all
    broadcast; the only exchange is the final (nation, year) aggregate's
    — the fact table moves exactly once."""
    p = plan_of(get("q9_profit_by_nation_year").fn(spark, sf_dir))
    assert p.count("BroadcastHashJoin") >= 3, p
    assert "SortMergeJoin" not in p
    assert p.count("Arguments: hashpartitioning") == 1, p


def test_tpch_q10_topk_is_take_ordered_orders_broadcast(spark, sf_dir):
    """The quarter-filtered orders side must broadcast into the fact
    join, and the ORDER BY + LIMIT 20 must plan as a top-k heap, not a
    global sort."""
    p = plan_of(get("q10_returned_revenue").fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p
    assert "GlobalLimit" not in p


def test_tpch_q19_brand_disjunction_pushed_to_part_scan(spark, sf_dir):
    """The factored brand-IN implication of the three OR brackets must
    reach the part parquet scan as a pushed filter (Catalyst can't infer
    it from the cross-table OR — the query factors it manually)."""
    p = plan_of(get("q19_bracketed_disjunction_revenue").fn(spark, sf_dir))
    part_scan = [seg for seg in p.split("Scan parquet")[1:] if "part.parquet" in seg.split("Location")[0] or "part.parquet" in seg]
    assert part_scan, p
    assert "p_brand" in part_scan[0].split("PushedFilters")[1].split("]")[0], p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_tpch_q20_nested_agg_reuses_partitioning(spark, sf_dir):
    """The per-part total joins back to the per-(supplier, part) sums on
    l_partkey without a cartesian/nested-loop degeneration, and the
    qualifying-supplier set semi-joins supplier."""
    p = plan_of(get("q20_dominant_shippers").fn(spark, sf_dir))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "LeftSemi" in p or "left_semi" in p.lower(), p


def test_cms_lookup_broadcasts_sketch(spark, sf_dir):
    """Point-frequency lookups must broadcast the (tiny) sketch, never
    shuffle the probe side against it."""
    from parquet_rewriter_spark.operators.countmin import (
        countmin_build,
        countmin_lookup,
    )

    tok = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("t"))
    )
    sketch = countmin_build(tok, "t", 3, 256)
    probes = tok.groupBy("t").count().limit(10)
    p = plan_of(countmin_lookup(sketch, probes, "t", 3, 256))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_scalar_crossjoins_broadcast_by_construction(spark, sf_dir):
    """Cross joins against 1-row aggregates (grand totals, percentile
    stats) must broadcast in the plan itself — not rely on AQE noticing
    the tiny side at runtime — so the plan shape is stable however the
    session is configured."""
    for q in ("quantity_benford_screen", "join_skew_report"):
        p = plan_of(get(q).fn(spark, sf_dir))
        assert "BroadcastNestedLoopJoin" in p, q
        assert "CartesianProduct" not in p, q


def test_ks_drift_scans_corpus_once_without_fanout(spark, sf_dir):
    """Drift statistics must read the corpus EXACTLY ONCE — one
    map-side-combined aggregate (partial count directly above the
    scan, before its exchange) — and must never expand it row-wise:
    the G-way expansion is an explode of the group list over the
    per-distinct-value relation, and the group list itself comes from
    that relation's maps (a separate distinct() would re-scan the
    group column corpus-wide). Every shuffle after the first is
    bounded by |V|·G however large the corpus; the only
    single-partition stage is the window over the |V|-row relation,
    and that stage is GUARDED: the same window asserts
    |V| ≤ max_distinct (assert_true riding __gs) and fails pointing at
    quantize= rather than serializing on a near-unique continuous
    column (test_drift.py::test_max_distinct_guard_fires...)."""
    from parquet_rewriter_spark.operators.drift import (
        chi2_drift_by_group,
        ks_drift_by_group,
        psi_drift_by_group,
        w1_drift_by_group,
    )

    d = load_table(spark, sf_dir, "documents")
    for fn in (ks_drift_by_group, psi_drift_by_group, chi2_drift_by_group,
               w1_drift_by_group):
        p = plan_of(fn(d, "n_chars", "source"), "simple")
        assert "CartesianProduct" not in p, fn.__name__
        assert "BroadcastNestedLoopJoin" not in p, fn.__name__
        assert p.count("FileScan") == 1, (fn.__name__, p)
        lines = p.splitlines()
        scan_at = next(j for j, l in enumerate(lines) if "FileScan" in l)
        assert "partial_count" in lines[scan_at - 1], (fn.__name__, p)
        # (g,v) counts + per-value fold + the per-group stage
        assert p.count("Exchange hashpartitioning") == 3, (fn.__name__, p)
        # exactly the one |V|-row window exchange, nothing corpus-width
        assert p.count("Exchange SinglePartition") == 1, (fn.__name__, p)
        assert "Exchange rangepartitioning" not in p, fn.__name__


def test_negative_sampling_candidates_are_projection(spark, sf_dir):
    """Candidate generation must be a generate/explode (no shuffle
    before the attribute-fetch join); the only exchanges are the equi
    join and the per-anchor rank window."""
    from parquet_rewriter_spark.operators.sampling import negative_samples

    d = load_table(spark, sf_dir, "documents")
    anchors = d.select("doc_id", "lang").filter(F.col("doc_id") % 97 == 0)
    items = d.select("doc_id", F.col("lang").alias("neg_lang"))
    out = negative_samples(
        anchors, items, "doc_id", 1000, k=3,
        reject=F.col("neg_lang") == F.col("lang"),
    )
    p = plan_of(out)
    assert "Generate" in p  # posexplode candidate fan-out
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_interval_join_is_binned_not_cartesian(spark, sf_dir):
    p = plan_of(get("purchase_error_overlap").fn(spark, sf_dir))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "Explode" in p or "Generate" in p  # bin fan-out present


def test_unpivot_is_expand_no_shuffle_after_agg(spark, sf_dir):
    p = plan_of(get("lineitem_unpivot_measures").fn(spark, sf_dir))
    assert "Expand" in p
    # only the aggregate's exchange: the melt adds none
    assert p.count("Exchange") <= 2


def test_runtime_bloom_filter_injects_on_selective_join(spark, sf_dir):
    """The session enables runtime bloom-filter join pruning
    (session.py). With the size thresholds lowered to local scale,
    a selective filter on one shuffle-join side must inject a bloom
    filter of its join keys into the other side's scan — the rows that
    cannot match die before the shuffle. (At the default thresholds the
    rule only fires on 10 GB+ application sides, i.e. real clusters.)"""
    from parquet_rewriter_spark.sources.readers import load_table
    from pyspark.sql import functions as F

    assert spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        p = plan_of(j)
        assert "bloomfilter" in p.lower() or "bloom_filter" in p.lower(), p
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_partitioned_scan_prunes_directories(spark, sf_dir):
    """The hive-partitioned scan must carry the status predicate as a
    PartitionFilter (resolved against directory names at planning time)
    and read only the matching partition's files."""
    df = get("partition_pruned_scan").fn(spark, sf_dir)
    p = plan_of(df)
    pf = p.split("PartitionFilters", 1)
    assert len(pf) == 2, p
    # the equality literal must be IN the partition filter (planning-time
    # directory pruning), not just a post-scan Filter node
    assert "o_orderstatus" in pf[1][:200] and "F" in pf[1][:200], p
    # and the data filter must NOT re-appear as a pushed data predicate —
    # partition columns aren't stored in the data files at all
    assert "EqualTo(o_orderstatus" not in p.split("PushedFilters", 1)[-1][:200], p


def test_gopher_filter_is_two_hash_aggs_one_wide_exchange(spark, sf_dir):
    """The rule metrics ride ONE explode + token-level and doc-level
    hash aggs; only the doc_id exchange is wide (the token-level agg
    keys contain doc_id, so Catalyst reuses the same partitioning)."""
    df = get("gopher_quality_flags").fn(spark, sf_dir)
    p = plan_of(df)
    assert "Generate" in p and "explode" in p
    assert count_exchanges(df) <= 2
    assert "CartesianProduct" not in p


def test_badword_filter_has_no_preagg_shuffle(spark, sf_dir):
    """arrays_overlap is a codegen projection — the only exchange is
    the per-lang summary aggregation's."""
    df = get("badword_filter_summary").fn(spark, sf_dir)
    p = plan_of(df)
    assert count_exchanges(df) <= 1
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_training_order_is_take_ordered(spark, sf_dir):
    """Epoch-order head must be per-partition heaps, not a global sort
    of the corpus."""
    p = plan_of(get("corpus_training_order").fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in p


def test_pagerank_iterations_have_no_cartesian_or_python(spark, sf_dir):
    p = plan_of(get("part_copurchase_pagerank").fn(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_entity_resolution_join_is_blocked_not_cartesian(spark, sf_dir):
    p = plan_of(get("part_entity_resolution").fn(spark, sf_dir))
    assert "CartesianProduct" not in p


def test_hidden_partitioning_derives_partition_filters(spark, sf_dir, tmp_path):
    """Base-column predicates must surface as PartitionFilters on the
    DERIVED partition columns (planning-time directory pruning), not
    only as data filters."""
    import datetime as dt

    from parquet_rewriter_spark.sources.partitioning import (
        read_hidden_partitioned,
        write_hidden_partitioned,
    )

    ev = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "hp")
    write_hidden_partitioned(ev, path, [("day", "ts"), ("bucket", "user_id", 8)])
    df = read_hidden_partitioned(
        spark,
        path,
        eq={"user_id": 7},
        ranges={"ts": (dt.datetime(2024, 1, 2), dt.datetime(2024, 1, 4))},
    )
    p = plan_of(df)
    pf = p.split("PartitionFilters: [")[1].split("]")[0]
    assert "p_day_ts" in pf and "p_bucket_user_id" in pf
    # and the pruning is real: the files the query ACTUALLY reads span
    # only the 3 probed days (inputFiles() ignores filters — ask the
    # executed scan instead)
    scanned = {
        r[0].split("p_day_ts=")[1].split("/")[0]
        for r in df.select(F.input_file_name()).distinct().collect()
    }
    # (a day×bucket dir can be absent at tiny SF — subset, non-empty)
    assert scanned and scanned <= {"2024-01-02", "2024-01-03", "2024-01-04"}


def test_relational_division_decorrelates(spark, sf_dir):
    """Double-NOT-EXISTS division must run as aggregates + broadcasts —
    no correlated per-row probing, no cartesian, no Python."""
    df = get("suppliers_covering_brand").fn(spark, sf_dir)
    p = plan_of(df)
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p


def test_mad_outliers_broadcasts_group_stats(spark, sf_dir):
    """The per-group median/MAD relations are 1-row-per-group — they
    must broadcast back into the fact scan, never shuffle it."""
    df = get("order_price_mad_outliers").fn(spark, sf_dir)
    p = plan_of(df)
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_merge_range_partitioned_is_still_single_exchange(spark, sf_dir):
    """The write-fused merge shape: range-partitioning the union BEFORE
    the dedup window must satisfy the window's clustering requirement,
    so the plan carries exactly ONE exchange (range), zero hash
    exchanges — the window and the sorted file write share it."""
    base = load_table(spark, sf_dir, "orders")
    muts = base.filter(F.col("o_orderkey") % 17 == 0).withColumn("op", F.lit("UPSERT"))
    p = plan_of(
        apply_mutations(base, muts, "o_orderkey",
                        range_partition=True, num_partitions=8)
    )
    assert p.count("Arguments: rangepartitioning") == 1, p
    assert "Arguments: hashpartitioning" not in p, p
    assert "Window" in p, p


def test_attribution_band_join_is_equi_not_cartesian(spark, sf_dir):
    p = plan_of(get("u_shape_attribution").fn(spark, sf_dir))
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


def test_substring_dup_gram_count_has_map_side_combine(spark, sf_dir):
    """The duplicated-gram count must partial-aggregate before its
    shuffle — the shuffle carries (gram, partial count), not one row
    per gram occurrence."""
    from parquet_rewriter_spark.operators.dedup import substring_dup_spans
    from parquet_rewriter_spark.sources.readers import load_table

    d = load_table(spark, sf_dir, "documents")
    p = plan_of(substring_dup_spans(d, "doc_id", "text", window=10))
    assert "partial_count" in p, p


def test_transition_matrix_single_user_shuffle(spark, sf_dir):
    """lag + count: one hash exchange on user_id for the sequence pass;
    the 25-row normalization window adds its own tiny exchange but no
    SinglePartition collapse."""
    p = plan_of(get("event_transition_matrix").fn(spark, sf_dir))
    assert "SinglePartition" not in p, p


def test_dpp_join_prunes_fact_partitions(spark, sf_dir):
    """dpp_partitioned_join's fact scan must carry a runtime partition
    filter (dynamicpruningexpression) derived from the broadcast dim —
    the whole point of the query; without it the fact reads all months."""
    p = plan_of(get("dpp_partitioned_join").fn(spark, sf_dir))
    assert "dynamicpruning" in p.lower()
    assert "BroadcastHashJoin" in p


def test_pca_projection_is_map_only(spark, sf_dir):
    """pca_project's data pass must be a single map stage: the component
    matrix rides the closure, so no Exchange belongs in the plan."""
    from parquet_rewriter_spark.operators.pca import pca_project

    df = load_table(spark, sf_dir, "embeddings")
    p = plan_of(pca_project(df, 3))
    assert "MapInPandas" in p
    assert "Exchange" not in p, p


def test_matjoin_build_broadcasts_dim(spark, tmp_path, sf_dir):
    """The join view's dim side must broadcast — a shuffled fact join
    for a dimension lookup is the classic plan smell at scale."""
    from parquet_rewriter_spark.operators.matjoin import create_join_view
    from parquet_rewriter_spark.table import SortedTable

    orders = load_table(spark, sf_dir, "orders").limit(800)
    cust = load_table(spark, sf_dir, "customer")
    fact = SortedTable.create(spark, str(tmp_path / "pf"), orders,
                              key="o_orderkey", max_records_per_file=400)
    dim = SortedTable.create(spark, str(tmp_path / "pd"), cust,
                             key="c_custkey", max_records_per_file=400)
    view = create_join_view(spark, str(tmp_path / "pv"), fact, dim,
                            fk="o_custkey", max_records_per_file=400)
    from parquet_rewriter_spark.operators.matjoin import _joined

    p = plan_of(_joined(fact.read(), dim, "o_custkey"))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert view.read().count() > 0


def test_update_where_victim_scan_pushes_predicate(spark, tmp_path, sf_dir):
    """The UPDATE's victim scan must push its predicate into the parquet
    reader — updating a segment must not decode the whole table."""
    from parquet_rewriter_spark.table import SortedTable

    orders = load_table(spark, sf_dir, "orders")
    t = SortedTable.create(spark, str(tmp_path / "updplan"), orders,
                           key="o_orderkey", max_records_per_file=400)
    victims = t.read().filter(F.col("o_custkey") < 100)
    p = plan_of(victims)
    assert "PushedFilters: [" in p
    assert "o_custkey" in p.split("PushedFilters")[1].split("]")[0]


def test_iterative_join_reuses_prepartitioned_cached_edges(spark, sf_dir):
    """Exchange-reuse discipline for iterative graph queries (pagerank,
    label propagation): the edge relation is repartitioned on the join
    key BEFORE the persist, so InMemoryTableScan carries
    hashpartitioning(join key) and each iteration's join shuffles only
    the small per-node state — zero Exchange above the cached edge
    scan. Broadcast is disabled for the window because at 100 TB the
    per-node state is NOT broadcastable — the SMJ shape is the one that
    matters (at fixture scale Spark would broadcast and hide it)."""
    li = load_table(spark, sf_dir, "lineitem").limit(20_000)
    items = li.select("l_orderkey", "l_partkey").distinct()
    a, b = items.alias("a"), items.alias("b")
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") != F.col("b.l_partkey"))
        .select(F.col("a.l_partkey").alias("src"),
                F.col("b.l_partkey").alias("dst"))
        .distinct()
    )
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    e = edges.repartition(F.col("src")).persist()
    try:
        e.count()  # materialize the cache
        pr = e.select(F.col("src").alias("id")).distinct().withColumn(
            "pr", F.lit(1.0)
        )
        contrib = (
            e.join(pr, e.src == pr.id)
            .groupBy("dst").agg(F.sum("pr").alias("mass"))
        )
        # "simple" mode inlines Exchange arguments; "formatted" hides
        # them in a detail section the substring test cannot anchor on
        p = plan_of(contrib, "simple")
        assert "InMemoryTableScan" in p, p
        # the cached plan legitimately shows ITS OWN upfront shuffle
        # (REPARTITION_BY_COL); what must be absent is a fresh
        # planner-inserted (ENSURE_REQUIREMENTS) shuffle of the edges
        # at join time
        import re
        iter_shuffles = re.findall(
            r"Exchange hashpartitioning\(src#\d+L?, \d+\), ENSURE_REQUIREMENTS", p
        )
        assert not iter_shuffles, p

        # vacuity guard: WITHOUT the pre-partitioned persist the same
        # join does re-shuffle the edge relation
        e2 = edges.persist()
        try:
            e2.count()
            pr2 = e2.select(F.col("src").alias("id")).distinct().withColumn(
                "pr", F.lit(1.0)
            )
            c2 = (e2.join(pr2, e2.src == pr2.id)
                  .groupBy("dst").agg(F.sum("pr").alias("mass")))
            assert re.findall(
                r"Exchange hashpartitioning\(src#\d+L?, \d+\), ENSURE_REQUIREMENTS",
                plan_of(c2, "simple"),
            )
        finally:
            e2.unpersist()
    finally:
        e.unpersist()
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)


def test_quantize_is_pure_projection_no_exchange(spark, sf_dir):
    """Quantize/dequantize must stay map-only: codes are zip_with
    expressions against broadcast-sized calibration literals, so the
    plan over a scan is exchange-free and Python-free — what makes the
    4x byte shrink a projection you can bolt onto any write, not a job."""
    from parquet_rewriter_spark.operators.quantize import (
        calibrate_minmax,
        quantize_table,
    )

    e = load_table(spark, sf_dir, "embeddings")
    lo, hi = calibrate_minmax(e, "embedding")
    df = quantize_table(e, "embedding", lo, hi, code_col="q8", recon_col="r")
    assert count_exchanges(df) == 0
    p = plan_of(df)
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_temperature_weights_single_scan_bounded_window(spark, sf_dir):
    """The mixture planner reads the corpus ONCE — one map-side-combined
    aggregate to per-source mass; the normalization terms ride an
    unpartitioned window over the bounded |sources|-row result (an
    aggregate-over-aggregate would re-execute the subplan and scan the
    corpus twice — the regression this pin catches)."""
    from parquet_rewriter_spark.operators.sampling import temperature_weights

    d = load_table(spark, sf_dir, "documents")
    df = temperature_weights(d, "source", "n_chars", alpha=0.5, total_budget=1e6)
    p = plan_of(df)
    # formatted explain names each scan twice (tree node + details)
    assert p.count("Scan parquet") == 2
    assert count_exchanges(df) == 2  # agg shuffle + G-row window exchange
    assert "CartesianProduct" not in p


def test_hybrid_rrf_fusion_has_no_cartesian(spark, sf_dir):
    """RRF fusion joins two k-row ranked lists — the plan must show the
    rankers' own shapes (postings aggregation, top-k) and a join of the
    bounded lists, with every cross join broadcast-wrapped (the 1-row
    BM25 stats side) and no CartesianProduct anywhere."""
    df = get("hybrid_rrf_search").fn(spark, sf_dir)
    p = plan_of(df)
    assert "CartesianProduct" not in p
    assert "TakeOrderedAndProject" in p  # the cosine ranker's top-k heap


def test_sketch_overlap_pairs_join_is_broadcast(spark, sf_dir):
    """The |G|-row sketch relation self-joins into |G|^2/2 pairs — a
    KB-blob pairing that must broadcast, never shuffle (and at corpus
    scale never touch row-level data twice: one scan feeds the sketch
    aggregate)."""
    from parquet_rewriter_spark.operators.distinct_sketch import sketch_overlap

    o = load_table(spark, sf_dir, "orders").select("o_orderpriority", "o_custkey")
    p = plan_of(sketch_overlap(o, "o_orderpriority", "o_custkey"))
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p
    # the sketch relation is persisted: both join sides read the cache
    # (one corpus scan at execution), never two parquet aggregates
    assert p.count("InMemoryTableScan") >= 2


def test_length_bucket_batches_single_window_exchange(spark, sf_dir):
    """Bucket/shard/padding assignment is projection; the ONLY exchange
    is the (bucket_len, shard) window shuffle — one hash exchange, no
    sort beyond the window's own, no Python."""
    from parquet_rewriter_spark.operators.packing import length_bucket_batches

    d = load_table(spark, sf_dir, "documents")
    tok = F.size(F.filter(F.split(F.col("text"), " "), lambda x: x != ""))
    df = length_bucket_batches(
        d.select("doc_id", tok.alias("tok")), "doc_id", "tok", batch_tokens=512,
        shard_col=F.pmod(F.col("doc_id"), F.lit(4)),
    )
    assert count_exchanges(df) == 1
    p = plan_of(df)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_dsir_fit_is_one_scan_mapside_combined(spark, sf_dir):
    """The DSIR fit pass reads the corpus ONCE and partial-aggregates
    to <= B buckets per map partition before the shuffle (a two-branch
    raw/target plan would scan twice; an un-combined explode would push
    token-scale rows into the exchange)."""
    from parquet_rewriter_spark.operators.dsir import dsir_bucket_ratios

    d = load_table(spark, sf_dir, "documents")
    lam = dsir_bucket_ratios(d, "text", F.col("lang") == "en", n_buckets=64)
    p = plan_of(lam)
    assert p.count("Scan parquet") == 2  # formatted explain: node + details
    assert "partial_count" in p          # map-side combine before the exchange
    assert "CartesianProduct" not in p


def test_dsir_scoring_broadcasts_lambda(spark, sf_dir):
    """Pass 2 must broadcast the B-row lambda relation into the
    exploded corpus — a shuffle join here repartitions token-scale
    rows by bucket (B-way skew at 100 TB)."""
    from parquet_rewriter_spark.operators.dsir import (
        dsir_bucket_ratios,
        dsir_score_with_ratios,
    )

    d = load_table(spark, sf_dir, "documents")
    lam = dsir_bucket_ratios(d, "text", F.col("lang") == "en", n_buckets=64)
    w = dsir_score_with_ratios(d, "doc_id", "text", lam, 64)
    p = plan_of(w)
    assert "BroadcastHashJoin" in p
    assert "partial_count" in p  # per-doc sum map-side combined too


def test_bpe_pair_counts_mapside_combined(spark, sf_dir):
    """Each BPE merge round aggregates adjacent-pair counts over the
    VOCAB relation with map-side combine — the shuffle carries distinct
    pairs, not pair occurrences."""
    from parquet_rewriter_spark.operators.bpe import _pair_counts, _init_sym, word_counts

    d = load_table(spark, sf_dir, "documents")
    vocab = word_counts(d, "text").select("word", "cnt", _init_sym().alias("sym"))
    p = plan_of(_pair_counts(vocab))
    assert "partial_sum" in p
    assert "CartesianProduct" not in p


def test_bpe_fertility_broadcasts_vocab(spark, sf_dir):
    """Encoding never character-explodes the corpus: below the
    distinct-word threshold the plan joins the corpus' word
    occurrences against the once-encoded vocab via broadcast."""
    from parquet_rewriter_spark.operators.bpe import bpe_train, fertility_by

    d = load_table(spark, sf_dir, "documents")
    rules, vocab = bpe_train(d, "text", n_merges=2)
    f = fertility_by(d, "text", "lang", vocab)
    p = plan_of(f)
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    # above-threshold: the word relation is corpus-unbounded, so the
    # word join MUST NOT be force-broadcast (a forced hint on 10⁸+
    # distinct words removes AQE's fallback and OOMs executors). With
    # auto-broadcast off, only forced hints broadcast — the plan must
    # show a shuffle join, still no cartesian.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p0 = plan_of(fertility_by(d, "text", "lang", vocab, broadcast_threshold=0))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in p0 or "ShuffledHashJoin" in p0
    assert "CartesianProduct" not in p0


def test_bpe_encode_broadcasts_word_ids_no_cartesian(spark, sf_dir):
    """Encoding joins the corpus' word occurrences against the
    once-encoded vocab via BROADCAST below the distinct-word threshold
    (the common case: vocab ≪ corpus), and falls back to a hash join
    on `word` above it — the word relation has one row per distinct
    corpus word, which is NOT merge-bounded at 100 TB. The symbol-id
    relation (alphabet + merges rows) stays broadcast in both shapes."""
    from parquet_rewriter_spark.operators.bpe import bpe_train, encode_docs

    d = load_table(spark, sf_dir, "documents")
    rules, vocab = bpe_train(d, "text", n_merges=2)
    p = plan_of(encode_docs(d, "doc_id", "text", vocab))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    # above-threshold with auto-broadcast off: only FORCED hints
    # broadcast, so the word join must shuffle while the bounded
    # symbol-id join stays broadcast
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p0 = plan_of(encode_docs(d, "doc_id", "text", vocab, broadcast_threshold=0))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in p0 or "ShuffledHashJoin" in p0
    assert "BroadcastHashJoin" in p0  # the bounded symbol-id join
    assert "CartesianProduct" not in p0


def test_materialize_packed_is_span_math_plus_one_aggregate(spark, sf_dir):
    """The window materializer is pure codegen span arithmetic + ONE
    (shard, window) hash aggregate over the exploded pieces — no
    Python, no cartesian, no join at all downstream of pack's window."""
    from parquet_rewriter_spark.operators.packing import (
        materialize_packed,
        pack_sequences,
    )

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), " ").alias("input_ids")
    )
    p = pack_sequences(d, "doc_id", F.size("input_ids"), max_tokens=64,
                       shard_col=F.pmod(F.col("doc_id"), F.lit(4)))
    plan = plan_of(materialize_packed(p, "input_ids", 64))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # window exchange (pack) + aggregate exchange (materialize) only
    df = materialize_packed(p, "input_ids", 64)
    assert count_exchanges(df) <= 2


def test_contamination_matrix_no_cartesian(spark, sf_dir):
    """The source×source rollup stays sketch-bounded: banded candidate
    join + two source lookups + one hash aggregate — no cartesian
    anywhere."""
    from parquet_rewriter_spark.catalog import REGISTRY

    df = REGISTRY["cross_source_contamination_matrix"].fn(spark, sf_dir)
    p = plan_of(df)
    assert "CartesianProduct" not in p


def test_wordpiece_segmentation_python_only_at_vocab_scale(spark, sf_dir):
    """The greedy-match pandas UDF runs on the DISTINCT-WORD relation:
    exactly one Arrow eval in the fertility plan (vocab side), zero
    row-at-a-time Python, no cartesian."""
    from parquet_rewriter_spark.operators.wordpiece import (
        substring_vocab,
        wordpiece_fertility_by,
    )

    d = load_table(spark, sf_dir, "documents")
    vocab = substring_vocab(d, "text", max_piece_len=3, vocab_size=30)
    p = plan_of(wordpiece_fertility_by(d, "text", "lang", vocab))
    # r12 optimization: the segmented relation is persisted (the
    # fused count/gate job materialized it), so the fertility join
    # reads the CACHE — the Arrow eval lives only inside the
    # InMemoryRelation's cached plan, executed once, never in the
    # corpus-side join path
    assert "InMemoryTableScan" in p
    top = p.split("InMemoryRelation")[0]
    assert "ArrowEvalPython" not in top
    assert "BatchEvalPython" not in p
    assert "CartesianProduct" not in p


def test_unigram_viterbi_python_only_at_vocab_scale(spark, sf_dir):
    from parquet_rewriter_spark.operators.bpe import word_counts
    from parquet_rewriter_spark.operators.unigram import (
        piece_stats,
        viterbi_segment_stats,
    )

    d = load_table(spark, sf_dir, "documents")
    stats = piece_stats(d, "text", max_piece_len=3, vocab_size=30)
    p = plan_of(viterbi_segment_stats(word_counts(d, "text"), stats))
    assert p.count(") ArrowEvalPython") == 1
    assert "BatchEvalPython" not in p
    assert "CartesianProduct" not in p


def test_bytelevel_decode_is_zero_exchange_codegen(spark, sf_dir):
    """Byte-level decode (symbol map literal → hex concat → unhex →
    UTF-8) must stay pure whole-stage codegen over the encoded
    relation: zero shuffles, zero Python — the map literal replaces
    the join a naive decode would shuffle on."""
    from parquet_rewriter_spark.operators.bpe import (
        bpe_train,
        decode_docs,
        encode_docs,
    )

    d = load_table(spark, sf_dir, "documents")
    rules, vocab = bpe_train(
        d, "text", n_merges=2, pretokenize=True, byte_level=True
    )
    enc = local_checkpoint(  # pin: decode's own plan only
        encode_docs(d, "doc_id", "text", vocab, pretokenize=True), eager=True
    )
    p = plan_of(decode_docs(enc, "input_ids", vocab, byte_level=True))
    assert "Exchange" not in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_token_stats_fold_never_scans_the_corpus(spark, sf_dir, tmp_path):
    """The mixture planner's whole point: token totals come from the
    per-file sidecar (manifest-scale rows), never a corpus re-scan —
    the fold's plan must not reference the table's data files."""
    from parquet_rewriter_spark.operators.tokenstats import (
        build_token_stats,
        token_stats,
    )
    from parquet_rewriter_spark.table import SortedTable

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    t = SortedTable.create(
        spark, str(tmp_path / "tok"), d, key="doc_id",
        max_records_per_file=100,
    )
    build_token_stats(t)
    p = plan_of(token_stats(t))
    # exactly ONE scanned location, and it is the sidecar — the
    # live-file names may appear as In-literal FILTER values (the
    # ≤256-name isin fast path), but never as a scanned location
    assert p.count("Location:") == 1, p
    loc = p.split("Location:")[1].splitlines()[0]
    assert "_tokenstats" in loc, loc
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_materialize_packed_spans_single_aggregate(spark):
    """The doc-span flavor keeps the materializer's shape: one window
    exchange (pack) + one hash-aggregate exchange (windows) — the span
    output must not add a shuffle, a Python eval, or a cartesian."""
    from parquet_rewriter_spark.operators.packing import (
        materialize_packed,
        pack_sequences,
        with_eos,
    )
    from pyspark.sql import functions as F

    rows = [(i, list(range(5))) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, input_ids array<int>")
    p4 = pack_sequences(
        with_eos(df, "input_ids", 99), "doc_id", F.size("input_ids"),
        max_tokens=8, shard_col=F.pmod(F.col("doc_id"), F.lit(2)),
    )
    plain = plan_of(materialize_packed(p4, "input_ids", 8))
    spans = plan_of(materialize_packed(p4, "input_ids", 8, doc_col="doc_id"))
    assert spans.count("Exchange") == plain.count("Exchange")
    assert "CartesianProduct" not in spans
    assert "ArrowEvalPython" not in spans and "BatchEvalPython" not in spans


def test_training_order_is_pure_projection(spark):
    """The per-epoch shuffle key must add ZERO exchanges and ZERO
    Python over the windows it decorates — it is a sort KEY, not a
    materialized rank."""
    from parquet_rewriter_spark.operators.packing import training_order

    win = local_checkpoint(spark.range(100).select(
        (F.col("id") % 4).alias("shard"),
        (F.col("id") / 4).cast("long").alias("seq_id"),
    ), eager=True)
    base = plan_of(win)
    ordered = plan_of(training_order(win, salt=3))
    assert ordered.count("Exchange") == base.count("Exchange")
    assert "ArrowEvalPython" not in ordered and "BatchEvalPython" not in ordered


def test_tokenizer_token_stats_fold_never_scans_the_corpus(spark, sf_dir, tmp_path):
    """The frozen-token accounting keeps the sidecar discipline: the
    READ-side fold scans only the sidecar, never the table's data
    files or the rules artifact."""
    from parquet_rewriter_spark.operators.bpe import bpe_train, rules_df
    from parquet_rewriter_spark.operators.tokenstats import (
        TokenizerRef,
        build_token_stats,
        token_stats,
    )
    from parquet_rewriter_spark.table import SortedTable

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    ).limit(200)
    rules, vocab = bpe_train(d, "text", n_merges=2)
    rp = str(tmp_path / "rules")
    rules_df(spark, rules).write.parquet(rp)
    ref = TokenizerRef(rp)
    t = SortedTable.create(
        spark, str(tmp_path / "tok"), d, key="doc_id",
        max_records_per_file=50,
    )
    build_token_stats(t, tokenizer=ref)
    p = plan_of(token_stats(t, tokenizer=ref))
    assert p.count("Location:") == 1, p
    loc = p.split("Location:")[1].splitlines()[0]
    assert "_tokenstats" in loc, loc
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_image_header_constructors_are_codegen(spark):
    """pack_png_header / pack_jpeg_header build real bytes as pure
    projection — no shuffle, no Python, no UDF."""
    from parquet_rewriter_spark.sources.multimodal import (
        pack_jpeg_header,
        pack_png_header,
    )

    d = spark.range(50).select(F.col("id").alias("media_id"))
    w = (F.lit(16) + (F.col("media_id") * 7) % 97).cast("int")
    h = (F.lit(16) + (F.col("media_id") * 13) % 83).cast("int")
    p = plan_of(
        d.select(
            F.when(F.col("media_id") % 2 == 0, pack_png_header(w, h))
            .otherwise(pack_jpeg_header(w, h, (F.col("media_id") % 7 + 1).cast("int")))
            .alias("payload")
        )
    )
    assert "Exchange" not in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_lm_scorer_is_udf_free_token_keyed(spark, sf_dir):
    """The backoff scorer must plan zero Python evals (pure codegen +
    joins) — the LM quality gate's JVM-side contract."""
    from parquet_rewriter_spark.operators.lm_quality import (
        score_docs_backoff,
        train_backoff_lm,
    )

    d = load_table(spark, sf_dir, "documents")
    uni, bi, n = train_backoff_lm(d.filter(F.col("lang") == "en"), "text")
    p = plan_of(score_docs_backoff(d, uni, bi, n, "doc_id", "text"))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_sample_with_epochs_full_passes_add_no_exchange(spark, sf_dir):
    """The whole-epoch fan-out is explode over a broadcast-joined
    sequence: beyond the broadcast itself, the full-pass branch must
    add NO exchange over a plain scan (repeating every doc needs no
    coordination). The fractional branch pays the documented
    per-source window; the union's exchanges must all belong to it."""
    from parquet_rewriter_spark.operators.tokenstats import (
        sample_with_epochs,
    )

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    # literal plan relation: isolates the CORPUS-side shape (in the
    # catalog queries the computed plan is persisted, so its planner
    # subtree is equally trivial at execution time)
    plan = spark.createDataFrame(
        [("src0", 1000, 900), ("src1", 1200, 2500)],
        "source string, n_tokens long, allocated long",
    )
    p = plan_of(sample_with_epochs(d, plan))
    # exactly ONE hash exchange on source — the fractional prefix's
    # window; the full-pass side contributes only broadcast exchanges
    assert p.count("hashpartitioning(source") == 1, p


def test_cutoff_bucketing_has_no_per_row_sort(spark, sf_dir):
    """perplexity_buckets_by_cutoff must plan NO window over the
    per-row relation — the cutoffs' window runs over the aggregated
    distinct-value relation and bucketing is a broadcast join + CASE.
    A per-row Sort before a Window would be the ntile shape this op
    exists to avoid."""
    from parquet_rewriter_spark.operators.lm_quality import (
        perplexity_buckets_by_cutoff,
    )

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        (F.col("n_chars") % 97).cast("long").alias("ce_micro"),
    )
    p = plan_of(perplexity_buckets_by_cutoff(d, "lang", "ce_micro", k=3))
    # the only window functions run post-aggregation (distinct values);
    # scoring rows reach their bucket through joins, never a window
    import re
    wins = re.findall(r"Window \[.*?\]", p)
    assert all("ntile" not in w for w in wins), wins
    # and the row-side relation joins broadcast cutoffs
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p, p
