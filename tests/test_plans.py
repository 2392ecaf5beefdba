"""Physical-plan regression tests: the plan shapes that make the engine
scale must not silently regress (SURVEY.md §4 — pushdown, broadcast,
top-k, partial aggregation are the 100 TB load-bearing properties)."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry
from etl_io_spark import caching
from tests.conftest import graph_path

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = entry.queries()[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    plan = _plan(spark, "select_project_filter")
    assert "PushedFilters" in plan
    assert "In(c_nationkey" in plan and "EqualTo(c_mktsegment,BUILDING)" in plan


def test_column_pruning(spark):
    plan = _plan(spark, "select_project_filter")
    # projection must reach the parquet reader: no extra columns read
    assert "ReadSchema: struct<c_custkey:bigint,c_name:string" in plan


def test_dim_joins_broadcast(spark):
    plan = _plan(spark, "dim_join_label")
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_semi_join_stays_semi_and_broadcasts(spark):
    plan = _plan(spark, "semi_join_filter")
    assert "LeftSemi" in plan and "BroadcastHashJoin" in plan


def test_global_topk_avoids_full_sort(spark):
    plan = _plan(spark, "top_k_orders")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan  # no global sort shuffle


def test_agg_is_partial_then_final(spark):
    plan = _plan(spark, "pricing_summary")
    # two HashAggregate levels around one exchange = map-side combine
    assert plan.count("HashAggregate") >= 2


def test_minhash_single_shuffle_signature(spark):
    """The wide MinHash aggregation must not explode shingles×perms: the
    plan has exactly one aggregate over the shingle rows (16 min() columns),
    not a posexplode feeding the aggregation."""
    from etl_io_spark.catalog import TableCatalog
    from etl_io_spark.operators import dedup

    docs = TableCatalog(spark, SF).table("documents")
    plan = (
        dedup.minhash_signatures_wide(docs, "doc_id", "text")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "posexplode" not in plan.lower()


def test_pivot_fused_single_exchange(spark):
    """Known-category pivot must compile to ONE conditional aggregation
    (one Exchange), not Spark's two-phase pivot plan."""
    plan = _plan(spark, "pivot_returnflag")
    assert plan.count("Exchange") == 1
    assert "pivotfirst" not in plan.lower()


def test_one_hot_fused_single_exchange(spark):
    plan = _plan(spark, "one_hot_priority")
    assert plan.count("Exchange") == 1


def test_shingle_dedup_has_no_post_explode_distinct(spark):
    """Shingle uniquification happens map-side (array_distinct before the
    explode): the Jaccard plan must not contain a distinct aggregate keyed
    by (doc, shingle) upstream of the inverted-index join."""
    from etl_io_spark.catalog import TableCatalog
    from etl_io_spark.operators import dedup

    docs = TableCatalog(spark, SF).table("documents")
    plan = (
        dedup.shingle_sets(docs, "doc_id", "text")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan  # fully map-side until consumers aggregate
    assert "array_distinct" in plan


def test_asof_join_single_shuffle_no_range_join(spark):
    plan = _plan(spark, "asof_join_events")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # one hashpartitioning exchange for the window (plus AQE reuse nodes)
    assert "Window" in plan


def test_asof_forward_single_shuffle_no_range_join(spark):
    plan = _plan(spark, "asof_forward_events")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan


def test_weighted_percentiles_bucket_targeting_plan(spark):
    plan = _plan(spark, "weighted_percentiles_prices")
    # histogram-refinement targeting (r11): stats/subtotal passes are
    # map-side partial aggregates, intermediates join back via
    # BROADCAST, and the fact is never exchanged for a window — the
    # only windows run over broadcast-sized or target-bucket slivers
    assert plan.count("HashAggregate") >= 2
    assert "BroadcastHashJoin" in plan
    assert "Window" in plan
    assert "CartesianProduct" not in plan


def test_rolling_dau_sweep_no_fanout_no_join(spark):
    plan = _plan(spark, "rolling_dau_events")
    # the interval sweep replaced the cover-day fan-out (r11): no
    # explode/generator, no join at all, no count_distinct expand —
    # just keyed windows and partial-aggregable groupBys
    assert "Generate" not in plan  # explode is gone
    assert "Join" not in plan
    assert "Expand" not in plan  # count_distinct rewrite is gone
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_range_join_is_hash_join(spark):
    plan = _plan(spark, "range_join_attribution")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan


def test_brute_force_similarity_broadcasts_queries(spark):
    plan = _plan(spark, "similarity_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # the corpus side must NOT shuffle before scoring
    assert "Exchange hashpartitioning(vec_id" not in plan


def test_tfidf_no_cartesian_beyond_scalar_broadcast(spark):
    plan = _plan(spark, "tfidf_top_terms")
    # the only nested-loop allowed is the 1-row doc-count broadcast
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "CartesianProduct" not in plan


def test_pmi_topk_avoids_full_sort(spark):
    plan = _plan(spark, "pmi_collocations")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_exact_percentiles_sort_based(spark):
    plan = _plan(spark, "percentiles_by_flag")
    # spillable window sort, not the hash-buffer percentile() aggregate
    assert "Window" in plan
    assert "percentile(" not in plan


def test_funnel_pushes_step_filters_to_scan(spark):
    plan = _plan(spark, "funnel_view_click_purchase")
    # each step's event-type equality must reach the parquet reader
    assert "EqualTo(event_type,view)" in plan
    assert "EqualTo(event_type,click)" in plan
    assert "EqualTo(event_type,purchase)" in plan
    assert "CartesianProduct" not in plan


def test_retention_aggregates_partially(spark):
    plan = _plan(spark, "retention_cohorts")
    assert "partial_" in plan  # map-side combine before both shuffles
    assert "CartesianProduct" not in plan


def test_merge_upsert_never_shuffles_target(spark):
    plan = _plan(spark, "merge_upsert_customer")
    # keep/update/delete and insert detection all ride broadcasts; a full
    # outer join here would shuffle the (100 TB) target
    assert "Exchange hashpartitioning" not in plan
    assert "BroadcastExchange" in plan


def test_zorder_code_is_pure_map(spark):
    plan = _plan(spark, "zorder_code_orders")
    assert "Exchange" not in plan.replace("BroadcastExchange", "")
    assert "BatchEvalPython" not in plan


def test_interval_join_no_cartesian(spark):
    plan = _plan(spark, "stream_interval_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q17_decorrelates_to_window_not_self_join(spark):
    plan = _plan(spark, "small_quantity_revenue")
    # the correlated per-part AVG must reuse the broadcast-filtered fact via
    # a window, not rejoin lineitem against itself
    assert "BroadcastHashJoin" in plan
    assert plan.count("FileScan parquet") == 2  # lineitem + part, each once
    assert "Window" in plan


def test_q21_no_lineitem_self_join(spark):
    plan = _plan(spark, "sole_late_suppliers")
    # EXISTS/NOT-EXISTS pair collapsed into a two-level aggregation:
    # lineitem scanned once, no semi/anti join against a second scan of it
    assert plan.count("FileScan parquet") == 3  # lineitem, orders, supplier
    # round-6: the countDistinct pair was replaced by per-(order, supp)
    # then per-order aggregates — the Expand-based distinct plan (which
    # doubled the joined row stream) must stay gone, and both levels run
    # on the join's partitioning (join strategy itself is AQE's choice:
    # broadcast at test SFs, shuffle at fact scale)
    assert "Expand" not in plan


def test_q8_dims_broadcast_single_fact_join(spark):
    plan = _plan(spark, "market_share_nation")
    # part, supplier+nation, customer+nation+region chains all broadcast;
    # the only shuffle-scale join is lineitem |x| orders
    assert plan.count("BroadcastHashJoin") >= 4
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 1


def test_q13_left_join_keeps_zero_bucket(spark):
    plan = _plan(spark, "customer_order_distribution")
    assert "LeftOuter" in plan
    # priority filter must NOT reach the join as a post-filter on the
    # stream side (it lives in the ON clause -> pushed to the orders scan)
    assert "PushedFilters: [IsNotNull(o_orderpriority), Not(EqualTo(o_orderpriority" in plan


# -- round-8 TPC-H completion (Q2/Q4/Q6/Q9/Q11/Q12/Q14/Q15/Q16/Q19/Q20/Q22)


def test_q2_argmin_decorrelates_to_window(spark):
    plan = _plan(spark, "min_cost_supplier")
    # the correlated per-part MIN must reuse the aggregated supply
    # relation via a window — not rescan lineitem for the subquery
    assert plan.count("FileScan parquet") == 5  # li, part, supp, nation, region
    assert "Window" in plan
    assert "BroadcastHashJoin" in plan


def test_q4_exists_becomes_inner_join_with_envelope(spark):
    plan = _plan(spark, "order_priority_check")
    # the EXISTS runs as inner join + per-order dedup, NOT left-semi: a
    # semi join can only build right, forcing a full lineitem shuffle
    # even when the quarter-of-orders side is broadcastable (4x measured)
    assert "LeftSemi" not in plan
    # quarter filter pushed to the orders scan; implied shipdate
    # envelope pushed to the lineitem scan
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert "GreaterThan(l_shipdate" in plan


def test_q6_pure_scan_filter_agg(spark):
    plan = _plan(spark, "forecast_revenue")
    # all three predicates reach the parquet scan; no join anywhere
    # toString truncates PushedFilters mid-list; assert on the Filter node
    assert ">= 0.05)" in plan and "<= 0.07)" in plan  # discount BETWEEN
    assert "< 24.0)" in plan  # quantity bound
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_q9_dims_broadcast_single_fact_join(spark):
    plan = _plan(spark, "product_type_profit")
    # part prefix + supplier/nation chains broadcast; only li |x| orders
    # can be shuffle-scale
    assert "StringStartsWith(p_name,red)" in plan
    assert plan.count("BroadcastHashJoin") >= 3
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 1


def test_q12_single_join_conditional_agg(spark):
    plan = _plan(spark, "late_shipment_priority")
    assert "GreaterThanOrEqual(l_shipdate" in plan  # ship-year at the scan
    assert plan.count("HashAggregate") >= 2


def test_q16_complaints_anti_join_broadcasts(spark):
    plan = _plan(spark, "supplier_part_counts")
    assert "LeftAnti" in plan and "BroadcastHashJoin" in plan
    # brand/type/size filters reach the part scan
    assert "Not(EqualTo(p_brand,Brand#5))" in plan
    assert "p_size#" in plan and " IN (1,4,9,14,19,23,36,49)" in plan


def test_q19_envelopes_push_before_residual_or(spark):
    plan = _plan(spark, "discounted_revenue_disjunct")
    # quantity union-range envelope reaches the lineitem side; the part
    # side broadcasts only the (brand, size) boxes
    assert "(l_quantity#" in plan and ">= 1.0)" in plan and "<= 30.0)" in plan
    assert "BroadcastHashJoin" in plan
    assert " OR " in plan  # the residual disjunction survives post-join


def test_q20_having_drives_semi_join(spark):
    plan = _plan(spark, "potential_part_promotion")
    assert "LeftSemi" in plan
    assert "StringStartsWith(p_name,red)" in plan


def test_q11_threshold_is_one_row_broadcast(spark):
    plan = _plan(spark, "important_part_values")
    # the scalar threshold rides as a one-row broadcast relation over
    # the per-part aggregate — never a driver collect, never cartesian
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q14_single_conditional_agg_no_self_join(spark):
    plan = _plan(spark, "promo_revenue_pct")
    # one part broadcast + one SUM(CASE)/SUM aggregate; the ratio must
    # not plan a second lineitem pass
    assert "BroadcastHashJoin" in plan
    assert plan.count("FileScan parquet") == 2  # lineitem + part
    assert plan.count("HashAggregate") >= 2


def test_q15_max_is_one_row_broadcast_over_persisted_rev(spark):
    plan = _plan(spark, "top_supplier")
    # the scalar MAX rides as a one-row broadcast; the shared revenue
    # aggregate is persisted (ReuseExchange cannot dedup its two
    # differently-pruned consumers), shown as InMemoryTableScan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "InMemoryTableScan" in plan
    assert "CartesianProduct" not in plan


def test_money_sql_oracles_use_canonical_e4_arithmetic():
    """Drift tripwire for the integer-exact money discipline: every
    oracle that rounds l_extendedprice to cents must use the exact
    canonical fragment (pipelines.MONEY_E4_SQL / DISC_E4_SQL) — a
    hand-edited variant in ONE oracle would silently reintroduce the
    cross-engine cent-flip class the helpers eliminated."""
    import re

    from etl_io_spark.plans import pipelines as pl

    def norm(s: str) -> str:
        return re.sub(r"\s+", " ", s)

    canon = {norm(pl.MONEY_E4_SQL), norm(pl.DISC_E4_SQL)}
    import __spark_entry__ as entry

    for name, sql in entry.oracle_sql().items():
        n = norm(sql)
        hits = n.count("ROUND(l_extendedprice * 100")
        if not hits:
            continue
        ok = sum(n.count(c) for c in canon)
        assert ok == hits, (
            f"{name}: {hits} cents-rounding sites, only {ok} match the "
            "canonical MONEY_E4_SQL/DISC_E4_SQL fragments"
        )


def test_q22_anti_join_and_one_row_avg(spark):
    plan = _plan(spark, "dormant_customer_balance")
    assert "LeftAnti" in plan
    # the scalar AVG rides as a one-row broadcast, never a driver collect
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def _graph_edges(spark, n=200):
    from pyspark.sql import Row

    # ring + chords: every node a src (symmetric)
    rows = []
    for i in range(n):
        rows.append(Row(src=i, dst=(i + 1) % n))
        rows.append(Row(src=(i + 1) % n, dst=i))
        rows.append(Row(src=i, dst=(i + 7) % n))
        rows.append(Row(src=(i + 7) % n, dst=i))
    return spark.createDataFrame(rows)


def _df_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _runtime_stages(df):
    """Execute and count the DISTINCT runtime shuffle/broadcast stages in
    the final adaptive plan — the honest fusion metric (static plans
    re-print cached subtrees per reference and show pre-AQE exchanges
    that the runtime elides)."""
    import re

    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    return (
        len(set(re.findall(r"ShuffleQueryStage (\d+)", plan))),
        len(set(re.findall(r"BroadcastQueryStage (\d+)", plan))),
    )


def test_lpa_runs_one_shuffle_total(spark, tmp_path):
    """Round-4 fusion contract, measured at RUNTIME: three LPA rounds of
    the Catalyst loop execute exactly ONE shuffle stage (the edge
    pre-partition) plus one broadcast stage per round — the pre-fusion
    plan shuffled twice per round. Both a parquet edge list (file stats)
    and a createDataFrame one (no size stats: label_propagation sizes it
    by caching it at construction, so the per-round hint is static
    rather than an AQE race) keep that shape on every one of 8 runs."""
    from etl_io_spark.operators import graph

    path = str(tmp_path / "edges")
    _graph_edges(spark).write.parquet(path)
    for edges in (spark.read.parquet(path), _graph_edges(spark)):
        for _ in range(8):
            with graph_path(False):
                lpa = graph.label_propagation(edges, rounds=3)
            assert _runtime_stages(lpa) == (1, 3)
            caching.drain_persisted()


def test_pagerank_runs_constant_shuffles(spark, tmp_path):
    """PageRank's shuffle count must not grow with iteration count:
    the fan pre-partition (+ bounded setup stages), with one broadcast
    per iteration after the first. Both a createDataFrame edge list
    (no size stats: pagerank sizes it by building its edge cache) and a
    parquet one (file stats) must keep that shape."""
    from etl_io_spark.operators import graph

    path = str(tmp_path / "edges")
    _graph_edges(spark).write.parquet(path)
    for edges in (_graph_edges(spark), spark.read.parquet(path)):
        with graph_path(False):
            pr4 = graph.pagerank(edges, iterations=4, assume_symmetric=True)
            pr6 = graph.pagerank(edges, iterations=6, assume_symmetric=True)
        s4, b4 = _runtime_stages(pr4)
        s6, b6 = _runtime_stages(pr6)
        caching.drain_persisted()
        # <=5: fan pre-partition + bounded setup stages + the one-row
        # nconst global agg (round 7 — 1/N rides as a broadcast relation
        # instead of a construction-time nodes.count(), costing one
        # CONSTANT |V|->1-row exchange). The load-bearing invariant is
        # iteration-INDEPENDENCE.
        assert s4 <= 5 and s6 == s4, (s4, s6)
        assert b6 - b4 == 2  # exactly one broadcast per extra iteration


@pytest.mark.parametrize(
    "op, kw",
    [
        ("pagerank", "iterations"),
        ("k_core", "rounds"),
        ("hits", "iterations"),
        ("label_propagation", "rounds"),
        ("triangle_stats", None),
        ("degree_assortativity", None),
    ],
)
def test_graph_solver_runs_one_shuffle(spark, tmp_path, op, kw):
    """Below the broadcast budget every graph operator runs in one task:
    the parquet edge list is gathered into one partition without a
    shuffle, so the executed plan holds a ``MapInArrow`` node and no
    exchange at all (no shuffle, no broadcast), whatever the iteration
    count, and the gate reads only leaf stats, so construction runs no
    job."""
    from etl_io_spark.operators import graph

    path = str(tmp_path / "edges")
    _graph_edges(spark).write.parquet(path)
    edges = spark.read.parquet(path)
    extra_kw = {"k": 3} if op == "k_core" else {}
    sc = spark.sparkContext
    sc.setJobGroup("solver_construction", "solver construction")
    try:
        built = [
            getattr(graph, op)(edges, **({kw: n} if kw else {}), **extra_kw)
            for n in ((4, 6) if kw else (None,))
        ]
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup("solver_construction")) == []
    for df in built:
        df.collect()
        plan = _df_plan(df)
        assert "Exchange" not in plan, plan
        assert "MapInArrow" in plan
    caching.drain_persisted()


def test_triangle_count_is_map_side_intersection(spark):
    """On the Catalyst path, triangle counting is the forward
    algorithm over broadcast adjacency arrays: the edge pass joins the
    adjacency table via BroadcastHashJoin and the O(m^1.5) wedge work
    happens inside array_intersect — the plan must contain NO wedge-pair
    exchange and no row-multiplying self-join of the oriented edges
    (the only allowed shuffles are the adjacency groupBy and the final
    1-row aggregates)."""
    from etl_io_spark.operators import graph

    with graph_path(False):
        out = graph.triangle_stats(_graph_edges(spark))
    r = out.collect()[0]
    plan = _df_plan(out)
    assert "array_intersect" in plan
    assert "LeftSemi" not in plan  # the closure semi-join is gone
    # the oriented edge list must not self-join into a wedge row stream
    assert "Exchange hashpartitioning(u#" not in plan or plan.count(
        "BroadcastHashJoin"
    ) >= 2  # adjacency joins broadcast; only the groupBy(u) exchanges
    assert r["n_triangles"] >= 0 and r["n_nodes"] == 200
    caching.drain_persisted()


def test_prefix_jaccard_beats_all_pairs_on_boilerplate(spark):
    """Regression guard for the strongest 100 TB evidence in the repo
    (tools/boilerplate_probe.py): on a corpus where one boilerplate
    sentence appears in EVERY document, the all-pairs inverted-index
    plan must join sum(df^2) rows per shingle (|corpus|^2 for EACH of
    the ~33 boilerplate shingles) while the rarity-ordered prefix plan
    never joins the ubiquitous shingles at all. The corpus is sf0.01
    documents replicated 8x with distinct ids (4000 docs -> ~0.5B
    all-pairs join rows); threshold 0.6 sits above the boilerplate
    overlap so the replica pairs are the only true pairs and both plans
    must agree on them. Asserts the prefix plan is no slower — at this
    shape the real gap is multiples (all-pairs DNF >520s vs prefix 37s
    at 10x sf0.1, 32 threads)."""
    import time

    from pyspark.sql import functions as F

    from etl_io_spark.operators import dedup

    boiler = (
        " this document is provided as is without warranty of any kind"
        " either express or implied including but not limited to the"
        " implied warranties of merchantability and fitness"
    )
    base = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    docs = None
    for i in range(8):
        rep = base.select(
            (F.col("doc_id") + F.lit(i * 1_000_000)).alias("doc_id"),
            F.concat(F.col("text"), F.lit(boiler)).alias("text"),
        )
        docs = rep if docs is None else docs.unionAll(rep)
    docs = docs.cache()
    docs.count()

    t0 = time.perf_counter()
    prefix_pairs = sorted(
        map(
            tuple,
            dedup.jaccard_pairs_prefix(
                docs, "doc_id", "text", threshold=0.6
            ).collect(),
        )
    )
    t_prefix = time.perf_counter() - t0

    t0 = time.perf_counter()
    all_pairs = sorted(
        map(
            tuple,
            dedup.ngram_jaccard_pairs(
                docs, "doc_id", "text", threshold=0.6
            ).collect(),
        )
    )
    t_all = time.perf_counter() - t0
    docs.unpersist()

    assert prefix_pairs == all_pairs and len(prefix_pairs) > 0
    # Perf guard, not a benchmark (ADVICE r5): a strict t_prefix<=t_all
    # is flaky under load even when both plans are correct. At this
    # corpus shape the structural gap is multiples (all-pairs joins
    # |corpus|^2 rows per boilerplate shingle; prefix joins none), so a
    # 1.5x tolerance absorbs scheduler noise while still failing if the
    # prefix plan ever degenerates to all-pairs behaviour.
    assert t_prefix <= t_all * 1.5, (t_prefix, t_all)


def test_rake_plan_has_no_window_sort(spark):
    """Round-5 rewrite guard: RAKE's phrase segmentation is map-side
    (sentinel + array_join + split), so the plan must contain NO Window
    node and at most 3 runtime shuffle stages (word stats, phrase-score
    agg, final dedup-agg) — the old formulation ran two doc-keyed window
    sorts over every token row."""
    from pyspark.sql import Row

    from etl_io_spark.operators import text as t

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox is a very lazy dog"),
            Row(doc_id=2, text="quick brown fox and lazy dog again"),
        ]
    )
    out = t.rake_keywords(docs, "doc_id", "text", top_k=5)
    rows = out.collect()
    plan = _df_plan(out)
    # the final top-k row_number window over the tiny phrase aggregate is
    # allowed (and may re-print in the adaptive plan); what must be GONE
    # is any window PARTITIONED BY the doc — the old running-stopword
    # and phrase-length windows
    assert "windowspecdefinition(__doc" not in plan, plan
    assert len(rows) > 0
    caching.drain_persisted()


def test_pagerank_edge_cache_partitions_bounded(spark):
    """Round-5 guard: the persisted symmetrized edge list must be
    coalesced to the shuffle parallelism — the old code persisted the
    union at its UPSTREAM partition count (2-4x shuffle.partitions tiny
    partitions), and every pass over the cache then paid a task wave
    per core-count. Feed pagerank edges pre-repartitioned to 150
    partitions and assert no persisted RDD keeps that count."""
    from etl_io_spark.operators import graph

    edges = _graph_edges(spark).repartition(150)
    sym = graph.symmetrize(edges.select("src", "dst"))
    with graph_path(False):
        ranks = graph.pagerank(sym, iterations=2)
    ranks.collect()
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    counts = []
    it = jmap.entrySet().iterator()
    while it.hasNext():
        counts.append(it.next().getValue().getNumPartitions())
    caching.drain_persisted()
    assert counts and max(counts) < 150, counts


#: the ONLY keys whose CONSTRUCTION may run driver-synchronized Spark
#: jobs: iterative fixed-point loops whose per-round results feed the
#: next round's plan (and whose localCheckpoint under AQE executes its
#: subtree's stages eagerly). Every OTHER registry key must build its
#: plan with ZERO jobs — eager construction hides query cost outside
#: bench.py's timed window (the round-6 bench-vs-baseline divergence,
#: documented in both files) and runs work even for callers that never
#: execute the plan. Round-6 cleanups this test locks in: oov_rate's
#: vocab collect() and quantile_normalize's df.count() both became
#: one-row broadcast relations.
CONSTRUCTION_MAY_RUN_JOBS = {
    # Only the connected-components family remains: its pointer-jumping
    # loop reads a driver-side convergence count per round, which is
    # inherent to loop-until-converged. Round 7 made pagerank / bfs /
    # kcore / hits fully lazy (node-count → one-row broadcast relation;
    # localCheckpoint → persist: the plan→RDD conversion under AQE runs
    # every upstream stage eagerly at construction).
    "dedup_clusters",
    "fuzzy_dedup_keep_best",
    "entity_resolution",
    "entity_resolution_scalable",  # same CC tail, FastSS candidate gen
    "curation_pipeline",  # composes fuzzy_dedup_keep_best's CC rounds
    # BPE training collects a 1-row argmax per merge round (the merged
    # pair must become a literal in the next round's replace — a lazy
    # unrolled plan would nest the vocab subtree twice per round, a 2^R
    # logical-plan blowup), the same class as the CC convergence count.
    "bpe_train_merges",
    "bpe_token_counts_docs",  # trains (collects) before applying
}


def test_registry_construction_is_lazy(spark):
    from etl_io_spark import caching, registry

    st = spark.sparkContext.statusTracker()
    qs = registry.queries()
    # warm the memoized catalog first: the first key's construction pays
    # the one-time per-session view registration (parquet schema-probe
    # jobs), which is session setup, not query cost
    qs["pricing_summary"](spark, "/root/testdata/sf0.001")
    caching.drain_persisted()
    spark.catalog.clearCache()
    eager = []
    for key in qs:
        if key in CONSTRUCTION_MAY_RUN_JOBS:
            continue
        before = set(st.getJobIdsForGroup())
        qs[key](spark, "/root/testdata/sf0.001")
        caching.drain_persisted()
        spark.catalog.clearCache()
        new_jobs = set(st.getJobIdsForGroup()) - before
        if new_jobs:
            eager.append((key, len(new_jobs)))
    assert eager == [], f"plan construction ran Spark jobs: {eager}"
