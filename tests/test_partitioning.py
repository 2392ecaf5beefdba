"""Tests for the two construction-time policies in ``partitioning``.

One test per row of ``parallelize``'s decision table:
  * tiny input -> ``df`` itself (an exchange would cost more than it buys;
    measured 2-8x slower on the sf0.1 bench when spread unconditionally);
  * starved input -> round-robin to min(defaultParallelism, bytes // floor);
  * scale input -> ``df`` itself without keys, an AQE-sized keyed
    repartition with keys;
  * keyed input below the scale gate -> an explicit count capped by
    defaultParallelism, whatever spark.sql.shuffle.partitions says;
and one per row of ``broadcaster``'s:
  * leaves within the budget -> ``F.broadcast``;
  * broadcast disabled (``-1``) -> identity;
  * leaves over the budget -> identity;
neither policy runs a Spark job at plan construction; every registry
key that reaches ``broadcaster``, or that once carried a bare hint,
returns the same rows with broadcast disabled; every graph key with the
one-task solver (sized by the same ``fits_budget`` rule) returns the same
rows from the solver and from its distributed loop; and no
``F.broadcast`` outside ``partitioning`` bypasses the policy.
"""

from __future__ import annotations

from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from etl_io_spark.partitioning import broadcaster, leaf_scan_bytes, parallelize
from tests.conftest import SF_CORRECT, SF_SMOKE, graph_path


@pytest.fixture(scope="module")
def sf_dir():
    return "/root/testdata/sf0.01"


def _explicit_count(df):
    """The top repartition node's explicit partition count (None when AQE
    sizes it)."""
    node = df._jdf.queryExecution().analyzed()
    if node.nodeName() == "Repartition":
        return node.numPartitions()
    assert node.nodeName() == "RepartitionByExpression", node.nodeName()
    opt = node.optNumPartitions()
    return None if opt.isEmpty() else opt.get()


def test_parallelize_noop_on_tiny_input(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert parallelize(docs) is docs  # identity, not just equal partitioning


def test_parallelize_starved_input_spreads_to_cores(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = parallelize(docs, floor=1)
    target = spark.sparkContext.defaultParallelism
    assert _explicit_count(out) == target
    assert out.rdd.getNumPartitions() == target
    # row-preserving: a pure round-robin exchange
    assert out.count() == docs.count()


def test_parallelize_scale_input_round_robin_noop(spark):
    big = spark.range(1 << 28)  # 2 GiB estimate, no data needed
    assert parallelize(big) is big
    assert parallelize(big, floor=1) is big


def test_parallelize_scale_input_keyed_aqe_sized(spark):
    big = spark.range(1 << 28)
    out = parallelize(big, keys=["id"])
    assert out is not big
    assert _explicit_count(out) is None


def test_parallelize_keyed_count_capped_at_cores(spark, sf_dir):
    """A stock cluster's 200 shuffle partitions must not pin a small
    relation to 200 tasks exempt from AQE coalescing."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, "200")
    try:
        out = parallelize(docs, keys=[F.col("doc_id")])
    finally:
        spark.conf.set(key, old)
    assert _explicit_count(out) == spark.sparkContext.defaultParallelism


def test_parallelize_runs_no_jobs_at_construction(spark, sf_dir):
    """Probe-free: over an exchange-bearing plan, a partition-count probe
    (``.rdd``) would execute the upstream AQE stage as a job."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    agg = docs.groupBy("lang").count()
    sc = spark.sparkContext
    sc.setJobGroup("parallelize_construction", "parallelize construction")
    try:
        out = parallelize(agg, floor=1)
        jobs = sc.statusTracker().getJobIdsForGroup("parallelize_construction")
    finally:
        sc.setJobGroup(None, None)
    assert out is not agg  # the starved branch ran, not the no-op
    assert list(jobs) == []


def test_leaf_scan_bytes_tracks_file_size(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    size = leaf_scan_bytes(docs)
    assert 0 < size < 1 << 40  # real stat, not the unknown sentinel


def test_parallelize_result_correct_when_forced(spark, sf_dir):
    """Aggregation results are invariant under the added exchange."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    k = (F.col("doc_id") % 7).alias("k")
    base = docs.groupBy(k).count()
    spread = parallelize(docs, floor=1)
    keyed = parallelize(docs, keys=["doc_id"])
    for out in (spread, keyed):
        got = out.groupBy(k).count().collect()
        assert sorted(base.collect()) == sorted(got)


def test_bucketed_join_plans_no_exchange(spark, sf_dir):
    """Two tables bucketed on the join key join WITHOUT any shuffle
    exchange (and without sorts, thanks to sortBy) — the write-once /
    join-many layout contract write_bucketed exists for."""
    from etl_io_spark.catalog import TableCatalog
    from etl_io_spark.sources.writers import write_bucketed

    cat = TableCatalog(spark, sf_dir)
    try:
        write_bucketed(
            cat.table("orders").select("o_custkey", "o_totalprice"),
            "t_orders_b",
            "o_custkey",
            n_buckets=4,
        )
        write_bucketed(
            cat.table("customer").select("c_custkey", "c_nationkey"),
            "t_cust_b",
            "c_custkey",
            n_buckets=4,
        )
        a = spark.table("t_orders_b")
        b = spark.table("t_cust_b")
        joined = a.join(b, a["o_custkey"] == b["c_custkey"]).groupBy(
            "c_nationkey"
        ).count()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # the join itself must not exchange; the only allowed exchange is
        # the final single-partition/groupBy on c_nationkey
        join_part = plan.split("SortMergeJoin")[-1] if "SortMergeJoin" in plan else plan
        assert "Exchange hashpartitioning(o_custkey" not in plan
        assert "Exchange hashpartitioning(c_custkey" not in plan
        n = joined.count()
        assert n > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_cust_b")


def test_dynamic_partition_pruning_fires(spark, sf_dir, tmp_path):
    """A table partitioned on the join key prunes its partitions at
    RUNTIME from the dim side's filter (DPP): the scan's PartitionFilters
    must carry a dynamicpruning subquery rather than reading all
    partitions."""
    from pyspark.sql import Row, functions as F

    from etl_io_spark.catalog import TableCatalog

    path = str(tmp_path / "orders_by_prio")
    TableCatalog(spark, sf_dir).table("orders").write.mode(
        "overwrite"
    ).partitionBy("o_orderpriority").parquet(path)
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [Row(prio="1-URGENT", label="u"), Row(prio="2-HIGH", label="h")]
    ).where(F.col("label") == "u")
    joined = fact.join(dim, fact["o_orderpriority"] == dim["prio"]).agg(
        F.count(F.lit(1)).alias("n")
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    n = joined.collect()[0]["n"]
    # matches only the 1-URGENT partition's rows
    urgent = fact.where(F.col("o_orderpriority") == "1-URGENT").count()
    assert n == urgent > 0


def test_broadcast_budget_bytes_parsing(spark):
    """Suffixed conf forms, plain ints, and the disabled sentinel all
    parse; unparsable values gate conservatively to 0 (ADVICE r7 — the
    lm model-broadcast decision rides this)."""
    from etl_io_spark.partitioning import broadcast_budget_bytes

    df = spark.range(1)
    key = "spark.sql.autoBroadcastJoinThreshold"
    orig = spark.conf.get(key)
    try:
        for raw, want in [
            ("10485760", 10485760),
            ("10MB", 10 * 1024**2),
            ("64m", 64 * 1024**2),
            ("1g", 1024**3),
            ("-1", 0),
        ]:
            spark.conf.set(key, raw)
            assert broadcast_budget_bytes(df) == want, raw
    finally:
        spark.conf.set(key, orig)

    # vanilla Spark's conf validator rejects non-numeric values, but some
    # distributions accept "auto" — the helper must still gate to 0
    class _Conf:
        def get(self, k, d=None):
            return "auto"

    class _Sess:
        conf = _Conf()

    class _Df:
        sparkSession = _Sess()

    assert broadcast_budget_bytes(_Df()) == 0


@contextmanager
def _broadcast_disabled(spark):
    key = "spark.sql.autoBroadcastJoinThreshold"
    orig = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        yield
    finally:
        spark.conf.set(key, orig)


def _broadcast_hints(df) -> int:
    """``F.broadcast`` hints in the ANALYZED plan. The optimizer folds each
    ``ResolvedHint`` node into its join's hint fields, so the optimized
    plan never prints one."""
    return df._jdf.queryExecution().analyzed().toString().count(
        "ResolvedHint (strategy=broadcast)"
    )


def test_broadcaster_hints_small_input(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert broadcaster(docs) is F.broadcast


def test_broadcaster_identity_when_disabled(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    with _broadcast_disabled(spark):
        bc = broadcaster(docs)
    assert bc is not F.broadcast
    assert bc(docs) is docs


def test_broadcaster_identity_over_budget(spark):
    big = spark.range(1 << 28)  # 2 GiB estimate, no data needed
    bc = broadcaster(big)
    assert bc is not F.broadcast
    assert bc(big) is big


def test_broadcaster_runs_no_jobs_at_construction(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    agg = docs.groupBy("lang").count()
    sc = spark.sparkContext
    sc.setJobGroup("broadcaster_construction", "broadcaster construction")
    try:
        bc = broadcaster(agg)
        jobs = sc.statusTracker().getJobIdsForGroup("broadcaster_construction")
    finally:
        sc.setJobGroup(None, None)
    assert bc is F.broadcast
    assert list(jobs) == []


def test_lm_broadcast_gate_scale_safe(spark, tmp_path):
    """lm_cross_entropy's model-broadcast is SIZE-GATED (ADVICE r7):
    identical scores whether the model table is broadcast or
    shuffle-joined, and with broadcast disabled the model-side hint is
    gone (the one-row total carries no hint: Catalyst sizes it). The corpus goes
    through parquet so its leaf stats are known (a createDataFrame leaf
    reads as unknown-large and never takes the hint)."""
    from etl_io_spark.operators import text as txt

    spark.createDataFrame(
        [(i, f"tok{i % 7} tok{(i + 1) % 7} tok{i % 5} common words")
         for i in range(60)],
        "doc_id int, text string",
    ).write.parquet(str(tmp_path / "docs"))
    df = spark.read.parquet(str(tmp_path / "docs"))
    on_df = txt.lm_cross_entropy(df, "doc_id", "text")
    on = sorted(map(tuple, on_df.collect()))
    with _broadcast_disabled(spark):
        off_df = txt.lm_cross_entropy(df, "doc_id", "text")
        off = sorted(map(tuple, off_df.collect()))
    assert on == off and len(on) == 60
    assert _broadcast_hints(on_df) == _broadcast_hints(off_df) + 1 == 1


#: every registry key whose plan reaches ``partitioning.broadcaster``
BROADCASTER_KEYS = [
    "bfs_trade_reach",
    "ccnet_buckets_docs",
    "dedup_jaccard_prefix",
    "dedup_lsh_exact",
    "dim_join_label",
    "hits_trade_graph",
    "lm_cross_entropy_docs",
    "lpa_communities_trade",
    "pagerank_trade_graph",
    "quantile_normalize_chars",
    "triangle_count_cosuppliers",
]


#: every registry key that carried a bare ``F.broadcast`` hint before the
#: hints went to Catalyst's threshold or to ``broadcaster``
FORMERLY_HINTED_KEYS = [
    "audience_overlap",
    "awards_pipeline",
    "basket_rules_parts",
    "bloom_gate_orders",
    "bm25_search",
    "ccnet_buckets_docs",
    "chisq_priority_month",
    "countmin_users_events",
    "decayed_counts_events",
    "decontaminate_benchmark",
    "discounted_revenue_disjunct",
    "dormant_customer_balance",
    "dsir_weights_docs",
    "embedding_neardup",
    "embedding_top_pc",
    "hard_negatives",
    "histogram2d_events",
    "histogram_price",
    "hits_trade_graph",
    "important_part_values",
    "incremental_agg_orders",
    "item_similarity",
    "kmeans_embeddings",
    "large_order_customers",
    "leadlag_correlation",
    "lm_cross_entropy_docs",
    "market_share_nation",
    "merge_upsert_customer",
    "min_cost_supplier",
    "mode_priority_by_segment",
    "mom_revenue_growth",
    "mutual_information_flags",
    "nations_trade_volume",
    "oov_rate_docs",
    "pagerank_trade_graph",
    "pmi_collocations",
    "potential_part_promotion",
    "product_type_profit",
    "profile_lineitem",
    "programs_pipeline",
    "promo_revenue_pct",
    "quantile_normalize_chars",
    "quote_spans_docs",
    "rake_keywords_docs",
    "regional_revenue",
    "returned_customers",
    "revenue_share_by_nation",
    "rfm_segments",
    "robust_anomaly_events",
    "rollup_geo",
    "semdedup_kmeans",
    "session_entry_exit",
    "shipping_priority",
    "similarity_ann_lsh",
    "similarity_ivf",
    "similarity_topk",
    "skew_lineitem_suppkey",
    "small_quantity_revenue",
    "sole_late_suppliers",
    "stl_decompose_events",
    "supplier_hhi",
    "supplier_part_counts",
    "survival_curve_censored_users",
    "survival_curve_users",
    "temperature_mix_langs",
    "tfidf_top_terms",
    "top_supplier",
    "topn_other_nations",
    "translate_crosswalk",
    "units_count_pipeline",
    "vocab_drift_sources",
    "weighted_percentiles_prices",
    "winsorize_prices",
    "winsorize_prices_approx",
]


#: every registry key whose operator has the one-task graph solver
SOLVER_KEYS = [
    "assortativity_trade",
    "hits_trade_graph",
    "kcore_trade_graph",
    "lpa_communities_trade",
    "pagerank_trade_graph",
    "triangle_count_cosuppliers",
]


def _runs_solver(df) -> bool:
    return "MapInArrow" in df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize(
    "key", sorted({*BROADCASTER_KEYS, *FORMERLY_HINTED_KEYS, *SOLVER_KEYS})
)
def test_broadcast_config_invariance(spark, key):
    """Same rows under the session default and with broadcast disabled
    (one-row cross joins then plan as a cartesian product or sort-merge
    join instead of a broadcast); a graph key then also leaves its
    one-task solver for the distributed loop."""
    from etl_io_spark import caching
    from etl_io_spark.registry import queries

    fn = queries()[key]
    # at sf0.001 the two nations it filters trade nothing, and the trade
    # graph has no k-core
    sf = SF_CORRECT if key in ("nations_trade_volume", "kcore_trade_graph") else SF_SMOKE
    try:
        default = fn(spark, sf)
        rows = sorted(repr(tuple(r)) for r in default.collect())
        caching.drain_persisted()
        with _broadcast_disabled(spark):
            disabled = fn(spark, sf)
            rows_off = sorted(repr(tuple(r)) for r in disabled.collect())
    finally:
        caching.drain_persisted()
        spark.catalog.clearCache()
    assert rows == rows_off and len(rows) > 0
    if key in SOLVER_KEYS:
        assert _runs_solver(default) and not _runs_solver(disabled)


@pytest.mark.parametrize("key", SOLVER_KEYS)
def test_graph_solver_matches_loop(spark, key):
    """A graph key returns the same rows from the one-task solver (the
    default below the broadcast budget) and from the distributed loop
    (forced by failing the size rule graph.py reads)."""
    from etl_io_spark import caching
    from etl_io_spark.registry import queries

    fn = queries()[key]
    try:
        solver = fn(spark, SF_CORRECT)
        rows = sorted(repr(tuple(r)) for r in solver.collect())
        caching.drain_persisted()
        with graph_path(False):
            loop = fn(spark, SF_CORRECT)
        rows_loop = sorted(repr(tuple(r)) for r in loop.collect())
    finally:
        caching.drain_persisted()
        spark.catalog.clearCache()
    assert _runs_solver(solver) and not _runs_solver(loop)
    assert rows == rows_loop and len(rows) > 0


def test_single_parallelism_policy_source_guard():
    """Source scan, no Spark session: a second parallelism policy must not
    creep back. Fails on (a) an ``.rdd`` access in operators/ or
    partitioning.py (a partition-count probe runs upstream AQE stages as
    jobs at plan construction), (b) any use of the retired helpers, (c) an
    explicit-count ``.repartition(n, ...)`` outside partitioning.py.
    sources/writers.py is exempt from (c): it sizes output FILE counts, a
    layout decision rather than added parallelism. (d) a literal
    ``coalesce(1)`` or ``repartition(1)`` outside partitioning.py: a
    one-task gather goes through ``partitioning.gather``. A computed
    count (``compact_parquet``'s ``coalesce(n)``) is not matched."""
    import ast
    import io
    import pathlib
    import tokenize

    root = pathlib.Path(__file__).resolve().parent.parent
    pkg = root / "etl_io_spark"
    retired = {"spread", "spread_text", "spread_small", "pin_keyed"}
    count_exempt = {pkg / "partitioning.py", pkg / "sources" / "writers.py"}

    def is_column_arg(node):
        # a key column (name, F.col/F.expr call, *keys), not a count
        if isinstance(node, ast.Starred):
            return True
        if isinstance(node, ast.Constant):
            return isinstance(node.value, str)
        if isinstance(node, ast.Call):
            fn = node.func
            name = getattr(fn, "attr", getattr(fn, "id", ""))
            return name in {"col", "expr", "column"}
        return False

    bad = []
    for path in sorted(pkg.rglob("*.py")):
        src = path.read_text()
        rel = path.relative_to(root)
        if path.parent == pkg / "operators" or path.name == "partitioning.py":
            toks = [
                t for t in tokenize.generate_tokens(io.StringIO(src).readline)
                if t.type in (tokenize.OP, tokenize.NAME)
            ]
            for prev, t in zip(toks, toks[1:]):
                if prev.string == "." and t.string == "rdd":
                    bad.append(f"{rel}:{t.start[0]}: .rdd")
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, ast.ImportFrom):
                bad += [
                    f"{rel}:{node.lineno}: imports {a.name}"
                    for a in node.names if a.name in retired
                ]
            elif isinstance(node, ast.Attribute) and node.attr in retired:
                bad.append(f"{rel}:{node.lineno}: uses {node.attr}")
            elif (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("coalesce", "repartition")
                and [ast.dump(a) for a in node.args]
                == [ast.dump(ast.Constant(1))]
                and path.name != "partitioning.py"
            ):
                bad.append(f"{rel}:{node.lineno}: {node.func.attr}(1)")
            elif (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "repartition"
                and node.args
                and not is_column_arg(node.args[0])
                and path not in count_exempt
            ):
                bad.append(f"{rel}:{node.lineno}: explicit-count repartition")
    assert bad == [], "\n".join(bad)


def test_single_broadcast_policy_source_guard():
    """Source scan, no Spark session: a second broadcast policy must not
    creep back. Fails on (a) a ``broadcast_*`` or ``max_broadcast_rows``
    parameter in operators/ (the per-operator escape hatches that
    defaulted to an unconditional hint), (b) any use of the retired
    ``plan_size_bytes``, ``neardup_pairs_cosine_blocked``,
    ``checkpoint_tracked`` or ``decode_join``, (c) any ``F.broadcast``
    outside partitioning.py: a side is broadcast because Catalyst sizes
    it within the threshold or because it passes through
    ``broadcaster``. The one named exception is
    ``aggregate.exact_percentiles``, whose targeting branch runs only
    after its own group-count probe bounded the hinted frames."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    pkg = root / "etl_io_spark"
    retired = {"plan_size_bytes", "neardup_pairs_cosine_blocked",
               "checkpoint_tracked", "decode_join"}
    exempt = {(pkg / "operators" / "aggregate.py", "exact_percentiles")}
    sources = [*pkg.rglob("*.py"), *(root / "tools").glob("*.py"),
               *root.glob("*.py")]

    bad = []
    for path in sorted(sources):
        rel = path.relative_to(root)
        tree = ast.parse(path.read_text())
        allowed = set()
        for fn in ast.walk(tree):
            if isinstance(fn, ast.FunctionDef) and (path, fn.name) in exempt:
                allowed |= {id(n) for n in ast.walk(fn)}
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom):
                bad += [
                    f"{rel}:{node.lineno}: imports {a.name}"
                    for a in node.names if a.name in retired
                ]
            elif isinstance(node, (ast.Attribute, ast.Name, ast.FunctionDef)):
                name = getattr(node, "attr", None) or getattr(
                    node, "id", None) or node.name
                if name in retired:
                    bad.append(f"{rel}:{node.lineno}: uses {name}")
            if (
                path.parent == pkg / "operators"
                and isinstance(node, ast.arg)
                and (node.arg.startswith("broadcast_")
                     or node.arg == "max_broadcast_rows")
            ):
                bad.append(f"{rel}:{node.lineno}: parameter {node.arg}")
            if (
                isinstance(node, ast.Attribute)
                and node.attr == "broadcast"
                and path != pkg / "partitioning.py"
                and id(node) not in allowed
            ):
                bad.append(f"{rel}:{node.lineno}: bare F.broadcast")
    assert bad == [], "\n".join(bad)
