"""Tests for the one parallelism policy, ``partitioning.parallelize``.

One test per row of the decision table in the module docstring:
  * tiny input -> ``df`` itself (an exchange would cost more than it buys;
    measured 2-8x slower on the sf0.1 bench when spread unconditionally);
  * starved input -> round-robin to min(defaultParallelism, bytes // floor);
  * scale input -> ``df`` itself without keys, an AQE-sized keyed
    repartition with keys;
  * keyed input below the scale gate -> an explicit count capped by
    defaultParallelism, whatever spark.sql.shuffle.partitions says;
and the policy never runs a Spark job at plan construction.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_io_spark.partitioning import parallelize, plan_size_bytes


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


def test_plan_size_tracks_file_size(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    size = plan_size_bytes(docs)
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


def test_lm_broadcast_gate_scale_safe(spark):
    """lm_cross_entropy's default model-broadcast is SIZE-GATED (ADVICE
    r7): identical scores whether the model table is broadcast or
    shuffle-joined, and a corpus whose scan estimate exceeds the budget
    must take the scale-safe shuffle path by default."""
    from etl_io_spark.operators import text as txt

    df = spark.createDataFrame(
        [(i, f"tok{i % 7} tok{(i + 1) % 7} tok{i % 5} common words")
         for i in range(60)],
        "doc_id int, text string",
    )
    on = sorted(map(tuple, txt.lm_cross_entropy(
        df, "doc_id", "text", broadcast_model=True).collect()))
    off = sorted(map(tuple, txt.lm_cross_entropy(
        df, "doc_id", "text", broadcast_model=False).collect()))
    assert on == off and len(on) == 60

    key = "spark.sql.autoBroadcastJoinThreshold"
    orig = spark.conf.get(key)
    try:
        spark.conf.set(key, "-1")  # broadcast disabled -> budget 0
        plan = (
            txt.lm_cross_entropy(df, "doc_id", "text")
            ._jdf.queryExecution().optimizedPlan().toString()
        )
        # the explicit model-side broadcast hint must NOT appear
        assert "ResolvedHint" not in plan, plan[:2000]
    finally:
        spark.conf.set(key, orig)


def test_single_parallelism_policy_source_guard():
    """Source scan, no Spark session: a second parallelism policy must not
    creep back. Fails on (a) an ``.rdd`` access in operators/ or
    partitioning.py (a partition-count probe runs upstream AQE stages as
    jobs at plan construction), (b) any use of the retired helpers, (c) an
    explicit-count ``.repartition(n, ...)`` outside partitioning.py.
    sources/writers.py is exempt from (c): it sizes output FILE counts, a
    layout decision rather than added parallelism."""
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
                and node.func.attr == "repartition"
                and node.args
                and not is_column_arg(node.args[0])
                and path not in count_exempt
            ):
                bad.append(f"{rel}:{node.lineno}: explicit-count repartition")
    assert bad == [], "\n".join(bad)
