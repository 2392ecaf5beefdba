"""Unit tests: as-of join semantics, salted-join equivalence, IVF recall,
sketch-aggregate accuracy (SURVEY.md §2.3/§2.7 extensions)."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from etl_io_spark.catalog import TableCatalog
from etl_io_spark.operators import joins, similarity

SF = "/root/testdata/sf0.001"


def _ts(m: int) -> datetime.datetime:
    return datetime.datetime(2024, 1, 1, 0, 0) + datetime.timedelta(minutes=m)


def test_asof_join_picks_latest_at_or_before(spark):
    left = spark.createDataFrame(
        [(1, _ts(10)), (1, _ts(30)), (2, _ts(5))], "k int, ts timestamp"
    )
    right = spark.createDataFrame(
        [(1, _ts(10), 100.0), (1, _ts(20), 200.0), (2, _ts(6), 9.0)],
        "k int, ts timestamp, v double",
    )
    out = {
        (r["k"], r["ts"]): r["v_asof"]
        for r in joins.asof_join(left, right, on="k", right_cols=["v"]).collect()
    }
    assert out[(1, _ts(10))] == 100.0  # equal ts matches
    assert out[(1, _ts(30))] == 200.0  # latest at-or-before
    assert out[(2, _ts(5))] is None  # nothing before -> null (left join)


def test_asof_join_rejects_reserved_column_names(spark):
    import pytest

    left = spark.createDataFrame([(1, _ts(10))], "k int, ts timestamp")
    bad_right = spark.createDataFrame(
        [(1, _ts(5), 1.0)], "k int, ts timestamp, __rts double"
    )
    with pytest.raises(ValueError, match="__rts"):
        joins.asof_join(left, bad_right, on="k", right_cols=["__rts"])
    bad_left = spark.createDataFrame(
        [(1, _ts(10), 0)], "k int, ts timestamp, __mb int"
    )
    right = spark.createDataFrame(
        [(1, _ts(5), 1.0)], "k int, ts timestamp, v double"
    )
    with pytest.raises(ValueError, match="__mb"):
        joins.asof_join(bad_left, right, on="k", right_cols=["v"])


def test_asof_join_no_cross_key_leak(spark):
    left = spark.createDataFrame([(1, _ts(10))], "k int, ts timestamp")
    right = spark.createDataFrame(
        [(2, _ts(5), 7.0)], "k int, ts timestamp, v double"
    )
    rows = joins.asof_join(left, right, on="k", right_cols=["v"]).collect()
    assert rows[0]["v_asof"] is None


def test_asof_join_forward(spark):
    left = spark.createDataFrame(
        [(1, _ts(10)), (1, _ts(25)), (2, _ts(50))], "k int, ts timestamp"
    )
    right = spark.createDataFrame(
        [(1, _ts(10), 100.0), (1, _ts(20), 200.0), (2, _ts(6), 9.0)],
        "k int, ts timestamp, v double",
    )
    out = {
        (r["k"], r["ts"]): r["v_asof"]
        for r in joins.asof_join(
            left, right, on="k", right_cols=["v"], direction="forward"
        ).collect()
    }
    assert out[(1, _ts(10))] == 100.0  # equal ts matches forward too
    assert out[(1, _ts(25))] is None  # nothing at-or-after -> null
    assert out[(2, _ts(50))] is None


def test_asof_join_nearest_ties_backward(spark):
    left = spark.createDataFrame(
        [(1, _ts(15)), (1, _ts(12)), (1, _ts(2))], "k int, ts timestamp"
    )
    right = spark.createDataFrame(
        [(1, _ts(10), 100.0), (1, _ts(20), 200.0)],
        "k int, ts timestamp, v double",
    )
    out = {
        r["ts"]: r["v_asof"]
        for r in joins.asof_join(
            left, right, on="k", right_cols=["v"], direction="nearest"
        ).collect()
    }
    assert out[_ts(15)] == 100.0  # equidistant (5 min both ways) -> backward
    assert out[_ts(12)] == 100.0  # 2 min back beats 8 min forward
    assert out[_ts(2)] == 100.0  # before everything -> forward-only match


def test_asof_join_tolerance(spark):
    left = spark.createDataFrame(
        [(1, _ts(10)), (1, _ts(30))], "k int, ts timestamp"
    )
    right = spark.createDataFrame(
        [(1, _ts(8), 80.0)], "k int, ts timestamp, v double"
    )
    out = {
        r["ts"]: r["v_asof"]
        for r in joins.asof_join(
            left, right, on="k", right_cols=["v"],
            tolerance_seconds=5 * 60,
        ).collect()
    }
    assert out[_ts(10)] == 80.0  # 2 min gap within 5 min tolerance
    assert out[_ts(30)] is None  # 22 min gap -> nulled


def test_salted_join_equals_plain_join(spark):
    cat = TableCatalog(spark, SF)
    big = cat.table("lineitem").select("l_suppkey", "l_quantity")
    small = cat.table("supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    plain = big.join(small, "l_suppkey").groupBy("s_nationkey").count()
    salted = (
        joins.salted_join(big, small, on="l_suppkey", salt=8)
        .groupBy("s_nationkey")
        .count()
    )
    assert sorted(plain.collect()) == sorted(salted.collect())


def test_ivf_recall_against_brute_force(spark):
    emb = TableCatalog(spark, SF).table("embeddings")
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.brute_force_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ivf_topk(
            emb, queries, k=5, n_cells=8, nprobe=4
        ).collect()
    }
    # probing half the cells must recover a majority of true neighbors
    assert len(exact & approx) / len(exact) >= 0.5


def test_ivf_full_probe_is_exact(spark):
    emb = TableCatalog(spark, SF).table("embeddings")
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.brute_force_topk(emb, queries, k=5).collect()
    }
    full = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ivf_topk(
            emb, queries, k=5, n_cells=8, nprobe=8
        ).collect()
    }
    assert full == exact


def test_approx_count_distinct_accuracy(spark):
    ev = TableCatalog(spark, SF).table("events")
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    approx = {
        r["event_type"]: r["a"]
        for r in ev.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", rsd=0.02).alias("a"))
        .collect()
    }
    for k, n in exact.items():
        assert abs(approx[k] - n) <= max(2, 0.05 * n)


def test_range_join_exact_bounds_and_long_intervals(spark):
    points = spark.createDataFrame(
        [(1, _ts(0)), (1, _ts(10)), (1, _ts(59)), (2, _ts(10))],
        "k int, ts timestamp",
    )
    intervals = spark.createDataFrame(
        [(1, _ts(10), _ts(59), "short"), (2, _ts(0), _ts(180), "long")],
        "k int, t0 timestamp, t1 timestamp, tag string",
    )
    out = joins.range_join(
        points, intervals, on="k", bucket="30 minutes"
    ).select("k", "ts", "tag")
    got = {(r["k"], r["ts"], r["tag"]) for r in out.collect()}
    # start inclusive, end exclusive; long interval spans many buckets
    assert got == {(1, _ts(10), "short"), (2, _ts(10), "long")}


def test_blockpair_neardup_matches_expression_path(spark):
    emb = TableCatalog(spark, SF).table("embeddings")
    slow = {
        (r["a"], r["b"], r["cosine_sim"])
        for r in similarity.neardup_pairs_cosine(
            emb, threshold=0.4, exact=True
        ).collect()
    }
    dist = {
        (r["a"], r["b"], r["cosine_sim"])
        for r in similarity.neardup_pairs_cosine_blockpair(
            emb, threshold=0.4, n_blocks=4, chunk_rows=64
        ).collect()
    }
    assert dist == slow and len(dist) > 0


def _dropped(rows):
    return {r["vec_id"] for r in rows if not r["keep"]}


def test_semdedup_kmeans_recall_vs_brute_force(spark):
    """k-means-cell SemDeDup vs the single-cell (all-pairs) ground truth:
    within-cell pairs are a subset of all pairs, so drops must be a
    SUBSET of the exact drops (no false positives), and trained cells
    must recover a majority of them (recall)."""
    emb = TableCatalog(spark, SF).table("embeddings")
    thr = 0.4
    exact_bk = emb.select(
        F.col("vec_id"),
        F.col("embedding").alias("__v"),
        F.lit(0).alias("bucket"),
    )
    exact = _dropped(
        similarity._semdedup_keep_within_cells(exact_bk, thr).collect()
    )
    km = _dropped(
        similarity.semdedup_kmeans(emb, threshold=thr, k=4, iterations=3).collect()
    )
    assert exact, "test corpus must contain semantic near-dups"
    assert km <= exact  # cell partition can only REMOVE comparisons
    # trained cells: 0.55 measured at k=4 (k=8: 0.31) vs 0.11 for the md5
    # hyperplane cells at planes=6 - the reason this variant exists
    assert len(km & exact) / len(exact) >= 0.5


def test_semdedup_kmeans_single_cell_is_exact(spark):
    """k=1 degenerates to the all-pairs rule — bitwise-equal keep set."""
    emb = TableCatalog(spark, SF).table("embeddings").where(F.col("vec_id") < 60)
    thr = 0.4
    exact_bk = emb.select(
        F.col("vec_id"),
        F.col("embedding").alias("__v"),
        F.lit(0).alias("bucket"),
    )
    exact = _dropped(
        similarity._semdedup_keep_within_cells(exact_bk, thr).collect()
    )
    km = _dropped(
        similarity.semdedup_kmeans(emb, threshold=thr, k=1, iterations=1).collect()
    )
    assert km == exact
