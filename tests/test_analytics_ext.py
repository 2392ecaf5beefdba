"""Tests for the multi-join analytics pipelines (TPC-H Q3/Q5/Q10 shapes)
and the corr/first-last/rolling-avg/BM25/curation operators."""

from __future__ import annotations

import datetime as dt
import math

import pyspark.sql.functions as F
import pytest

from etl_io_spark.operators import aggregate as agg, text, timeseries, training
from etl_io_spark.plans import pipelines
from tests.conftest import graph_path


# --------------------------------------------------------------------------
# TPC-H-shape pipelines: result sanity + plan shape
# --------------------------------------------------------------------------
def test_shipping_priority_topk_and_broadcast(cat):
    df = pipelines.shipping_priority(cat)
    rows = df.collect()
    assert 0 < len(rows) <= 10
    revs = [r["revenue"] for r in rows]
    assert revs == sorted(revs, reverse=True)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan  # no global sort for top-k


def test_regional_revenue_broadcasts_all_dims(cat):
    df = pipelines.regional_revenue(cat)
    rows = df.collect()
    assert len(rows) >= 1
    assert all(r["revenue"] > 0 for r in rows)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # customer-chain and supplier joins must both be broadcast
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan or plan.count("SortMergeJoin") <= 1


def test_returned_customers_filter_pushdown(cat):
    df = pipelines.returned_customers(cat)
    assert df.count() <= 20
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)" in plan


# --------------------------------------------------------------------------
# group_first_last: hand-computed, tie broken by second order column
# --------------------------------------------------------------------------
def test_group_first_last_handcomputed(spark):
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("u1", t0, 1, "view"),
        ("u1", t0 + dt.timedelta(hours=1), 2, "click"),
        ("u1", t0 + dt.timedelta(hours=2), 3, "buy"),
        # u2: two events at the SAME ts -> id breaks the tie
        ("u2", t0, 5, "b"),
        ("u2", t0, 4, "a"),
    ]
    df = spark.createDataFrame(rows, ["user", "ts", "id", "etype"])
    out = {
        r["user"]: r
        for r in agg.group_first_last(df, ["user"], ["ts", "id"], "etype").collect()
    }
    assert out["u1"]["first_etype"] == "view"
    assert out["u1"]["last_etype"] == "buy"
    assert out["u1"]["n_rows"] == 3
    assert out["u2"]["first_etype"] == "a"  # id=4 before id=5 at equal ts
    assert out["u2"]["last_etype"] == "b"


def test_group_first_last_single_shuffle(spark, cat):
    df = agg.group_first_last(
        cat.table("events"), ["user_id"], ["ts", "event_id"], "event_type"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1  # partial-agg combine, no window sort


# --------------------------------------------------------------------------
# corr_stats: exact small-sample check
# --------------------------------------------------------------------------
def test_corr_stats_handcomputed(spark):
    # y = 2x exactly -> corr 1, covar_samp = 2*var_samp(x)
    df = spark.createDataFrame(
        [("g", 1.0, 2.0), ("g", 2.0, 4.0), ("g", 3.0, 6.0)], ["k", "x", "y"]
    )
    r = agg.corr_stats(df, ["k"], "x", "y").collect()[0]
    assert r["corr_xy"] == pytest.approx(1.0)
    assert r["covar_xy"] == pytest.approx(2.0)  # var_samp(x)=1
    assert r["stddev_x"] == pytest.approx(1.0)
    assert r["n_rows"] == 3


# --------------------------------------------------------------------------
# rolling_avg_time: exact trailing-window semantics
# --------------------------------------------------------------------------
def test_rolling_avg_time_window_edges(spark):
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("k", t0, 10.0),
        ("k", t0 + dt.timedelta(seconds=3600), 20.0),  # exactly 1h: included
        ("k", t0 + dt.timedelta(seconds=7201), 40.0),  # >1h after 2nd: alone...
    ]
    df = spark.createDataFrame(rows, ["k", "ts", "v"])
    out = timeseries.rolling_avg_time(df, "k", "ts", "v", window_seconds=3600)
    vals = {r["ts"]: r["rolling_avg_v"] for r in out.collect()}
    assert vals[t0] == 10.0
    assert vals[t0 + dt.timedelta(seconds=3600)] == 15.0  # inclusive boundary
    assert vals[t0 + dt.timedelta(seconds=7201)] == 40.0  # prior row aged out


# --------------------------------------------------------------------------
# BM25: hand-computed score on a 3-doc corpus
# --------------------------------------------------------------------------
def test_bm25_handcomputed(spark):
    docs = [
        (1, "spark spark join"),
        (2, "join filter"),
        (3, "filter scan sort"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {r["doc_id"]: r["bm25"] for r in
           text.bm25_topk(df, "doc_id", "text", ["spark"], k=10).collect()}
    # only doc 1 contains 'spark'
    assert set(out) == {1}
    N, df_t, dl, avgdl, tf = 3, 1, 3, (3 + 2 + 3) / 3, 2
    idf = math.log((N - df_t + 0.5) / (df_t + 0.5) + 1.0)
    expected = idf * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
    assert out[1] == pytest.approx(expected, abs=1e-4)


def test_bm25_ranks_by_term_density(cat):
    out = text.bm25_topk(
        cat.table("documents"), "doc_id", "text", ["spark", "window"], k=20
    ).collect()
    assert len(out) == 20
    scores = [r["bm25"] for r in out]
    assert scores == sorted(scores, reverse=True)
    assert all(s >= 0 for s in scores)


# --------------------------------------------------------------------------
# curate_corpus: splits partition the gated corpus, dedup removes clones
# --------------------------------------------------------------------------
def test_curate_corpus_dedups_and_splits(spark):
    good = "the fast join and sort of the scan to the merge in the table " * 3
    rows = [(i, good + f"tail{i}") for i in range(40)]
    rows += [(100, good + "tail0")]  # exact clone of doc 0 -> dropped
    rows += [(200, "short doc")]  # fails min_words -> dropped
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = training.curate_corpus(df, "doc_id", "text")
    agg_rows = out.collect()
    assert sum(r["n_docs"] for r in agg_rows) == 40  # clone + short removed
    assert set(r["split"] for r in agg_rows) <= {"train", "val", "test"}
    assert all(r["avg_quality"] >= 0.7 for r in agg_rows)


# --------------------------------------------------------------------------
# cooccurrence_pairs: hand-computed baskets; singleton baskets ignored
# --------------------------------------------------------------------------
def test_cooccurrence_pairs_handcomputed(spark):
    rows = [
        ("o1", "a"), ("o1", "b"), ("o1", "c"),
        ("o2", "a"), ("o2", "b"),
        ("o3", "a"), ("o3", "b"),
        ("o4", "z"),                      # singleton: no pairs
        ("o5", "a"), ("o5", "a"),         # dup item: collapses, singleton
    ]
    df = spark.createDataFrame(rows, ["basket", "item"])
    out = {(r["item_a"], r["item_b"]): r["n_baskets"]
           for r in agg.cooccurrence_pairs(df, "basket", "item", min_count=2).collect()}
    assert out == {("a", "b"): 3}  # a-c / b-c appear once -> below min_count


def test_trending_event_types_rank_bounds(spark, cat):
    from etl_io_spark import registry

    df = registry.queries()["trending_event_types"](spark, "/root/testdata/sf0.001")
    rows = df.collect()
    assert rows
    assert all(1 <= r["rn"] <= 3 for r in rows)
    # within a window, rank follows count desc
    by_w = {}
    for r in rows:
        by_w.setdefault(r["window_start"], []).append(r)
    for grp in by_w.values():
        grp.sort(key=lambda r: r["rn"])
        ns = [r["n"] for r in grp]
        assert ns == sorted(ns, reverse=True)


# --------------------------------------------------------------------------
# winsorize: clip bounds are the group's exact quantiles
# --------------------------------------------------------------------------
def test_winsorize_clips_to_group_quantiles(spark):
    vals = [float(v) for v in range(1, 101)]  # p5=5.95, p95=95.05
    df = spark.createDataFrame([("g", v) for v in vals], ["k", "x"])
    out = agg.winsorize(df, ["k"], "x", 0.05, 0.95)
    xs = [r["x_wins"] for r in out.collect()]
    assert min(xs) == pytest.approx(5.95)
    assert max(xs) == pytest.approx(95.05)
    assert len(xs) == 100
    # interior values untouched
    assert 50.0 in xs


def test_winsorize_approx_tracks_exact(spark, cat):
    """The approx (sketch-bound) twin clips to bounds within the
    approx_percentile rank-error tolerance of the exact path: identical
    on all interior rows, and the clipped extremes stay close."""
    li = cat.table("lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice"
    )
    def stats(approx):
        out = agg.winsorize(
            li, ["l_returnflag"], "l_extendedprice", approx=approx
        )
        return out.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("l_extendedprice_wins").alias("s"),
            F.min("l_extendedprice_wins").alias("lo"),
            F.max("l_extendedprice_wins").alias("hi"),
        ).collect()[0]

    e, a = stats(False), stats(True)
    assert e["n"] == a["n"] > 0
    span = e["hi"] - e["lo"]
    # sketch bounds sit within its rank-error tolerance of the exact
    # quantiles, so the clipped distribution barely moves
    assert abs(e["s"] - a["s"]) / abs(e["s"]) < 1e-3
    assert abs(e["lo"] - a["lo"]) <= 0.02 * span
    assert abs(e["hi"] - a["hi"]) <= 0.02 * span


# --------------------------------------------------------------------------
# sketch rollup: merged estimates within HLL error of exact counts
# --------------------------------------------------------------------------
def test_sketch_rollup_accuracy(spark, cat):
    import pyspark.sql.functions as SF

    ev = cat.table("events")
    approx = {
        r["day"]: r["approx_distinct_user_id"]
        for r in agg.sketch_rollup_distinct(
            ev, SF.date_trunc("hour", "ts"), SF.to_date("ts"), "user_id",
            fine_alias="hour", coarse_alias="day",
        ).collect()
    }
    exact = {
        r["day"]: r["n"]
        for r in ev.groupBy(SF.to_date("ts").alias("day"))
        .agg(SF.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(approx) == set(exact)
    for day, n in exact.items():
        assert abs(approx[day] - n) <= max(2, 0.05 * n)  # ~2% typical HLL err


# --------------------------------------------------------------------------
# incremental dedup: corpus hits flagged, within-batch first kept
# --------------------------------------------------------------------------
def test_incremental_exact_dedup(spark):
    from etl_io_spark.operators import dedup

    corpus = spark.createDataFrame(
        [(1, "alpha text"), (2, "beta text")], ["doc_id", "text"]
    )
    incoming = spark.createDataFrame(
        [
            (10, "alpha text"),   # exact corpus dup -> in_corpus, not kept
            (11, "gamma text"),   # new -> kept
            (12, "gamma text"),   # batch dup of 11 -> not kept
            (13, "delta text"),   # new -> kept
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in
           dedup.incremental_exact_dedup(incoming, corpus, "doc_id", "text").collect()}
    assert out[10]["in_corpus"] and not out[10]["keep"]
    assert not out[11]["in_corpus"] and out[11]["keep"]
    assert not out[12]["in_corpus"] and not out[12]["keep"]
    assert out[13]["keep"]


# --------------------------------------------------------------------------
# profile_columns: one job, exact metrics, long shape
# --------------------------------------------------------------------------
def test_profile_columns_handcomputed(spark):
    from etl_io_spark.operators import profile as prof

    df = spark.createDataFrame(
        [(1.0, "x"), (2.0, "x"), (3.0, None), (None, "y")], ["v", "s"]
    )
    out = {(r["column"], r["metric"]): r["value"]
           for r in prof.profile_columns(df, ["v"], ["s"]).collect()}
    assert out[("v", "n")] == 4.0
    assert out[("v", "n_null")] == 1.0
    assert out[("v", "n_distinct")] == 3.0
    assert out[("v", "min")] == 1.0 and out[("v", "max")] == 3.0
    assert out[("v", "mean")] == 2.0
    assert out[("v", "stddev")] == 1.0
    assert out[("s", "n_distinct")] == 2.0  # nulls not counted distinct
    assert out[("s", "n_null")] == 1.0


def test_dq_checks_flags_violations(spark):
    from etl_io_spark.operators import profile as prof
    import pyspark.sql.functions as SF

    orders = spark.createDataFrame([(1,), (2,), (2,)], ["ok"])
    fact = spark.createDataFrame(
        [(1, 5.0), (9, -1.0), (None, 2.0)], ["fk", "price"]
    )
    out = {r["check"]: r["n_bad"] for r in prof.dq_checks(
        fact, "fk", orders, "ok", orders, "ok",
        domain_checks=[("neg_price", SF.col("price") >= 0)],
    ).collect()}
    assert out["orphan_fact"] == 1   # fk=9 only; null fk is its own check
    assert out["dup_key"] == 1       # key 2 twice
    assert out["null_key"] == 1
    assert out["neg_price"] == 1


# --------------------------------------------------------------------------
# scd2_merge: all four transition cases in one merge
# --------------------------------------------------------------------------
def test_scd2_merge_cases(spark):
    import datetime as dt2
    from etl_io_spark.operators import scd

    d0, d1 = dt2.date(2024, 1, 1), dt2.date(2024, 6, 1)
    hist = spark.createDataFrame(
        [
            (1, "a", d0, None),      # unchanged
            (2, "b", d0, None),      # will change -> close + new version
            (3, "c", d0, None),      # missing from snapshot -> closed
            (4, "old", d0, d0),      # already closed -> untouched
        ],
        "k int, attr string, valid_from date, valid_to date",
    )
    snap = spark.createDataFrame(
        [(1, "a"), (2, "B"), (5, "new")], "k int, attr string"
    )
    out = scd.scd2_merge(
        hist, snap, "k", ["attr"], "2024-06-01", close_missing=True
    ).collect()
    rows = {(r["k"], r["attr"], r["valid_from"], r["valid_to"]) for r in out}
    assert rows == {
        (1, "a", d0, None),     # pass-through open
        (2, "b", d0, d1),       # closed old version
        (2, "B", d1, None),     # new version
        (3, "c", d0, d1),       # deleted -> closed
        (4, "old", d0, d0),     # historical row untouched
        (5, "new", d1, None),   # brand-new key
    }
    assert len(out) == 6


def test_label_centroids_handcomputed(spark):
    from etl_io_spark.operators import similarity as sim

    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (1, [3.0, 4.0]), (2, [10.0, 0.0])],
        "label int, v array<double>",
    )
    out = {(r["label"], r["dim"]): (r["mean"], r["n"])
           for r in sim.label_centroids(df, "label", "v").collect()}
    assert out[(1, 0)] == (2.0, 2)
    assert out[(1, 1)] == (3.0, 2)
    assert out[(2, 0)] == (10.0, 1)


def test_profile_plan_shape(spark, cat):
    # r13-opt: distinct counts moved OUT of the single aggregate (whose
    # countDistinct expressions planned an Expand node multiplying the
    # row stream by 1 + n_distinct_cols) into pruned one-column legs.
    # Contract: NO Expand; one moments scan plus one single-column scan
    # per profiled column, all in ONE plan (one action, never
    # per-column driver jobs).
    from etl_io_spark.operators import profile as prof

    df = prof.profile_columns(
        cat.table("lineitem"), ["l_quantity", "l_extendedprice"], ["l_returnflag"]
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan
    assert plan.count("FileScan parquet") == 4  # moments + 3 distinct legs
    # each distinct leg must be pruned to its own column
    assert "ReadSchema: struct<l_returnflag:string>" in plan


def test_ab_test_stats_handcomputed(spark):
    import math as m
    # A: 1,2,3 (mean 2, var 1); B: 4,6 (mean 5, var 2)
    rows = [("A", 1.0), ("A", 2.0), ("A", 3.0), ("B", 4.0), ("B", 6.0)]
    df = spark.createDataFrame(rows, ["g", "v"])
    r = agg.ab_test_stats(df, "g", "v").collect()[0]
    assert r["n_a"] == 3 and r["n_b"] == 2
    assert r["mean_a"] == 2.0 and r["mean_b"] == 5.0
    assert r["lift"] == 3.0
    assert r["z"] == pytest.approx(3.0 / m.sqrt(1 / 3 + 2 / 2), abs=1e-6)


def test_time_weighted_avg_weights_by_holding_time(spark):
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        # value 10 held 3600s, value 20 held 1800s, final value 99 weight 0
        ("k", t0, 10.0),
        ("k", t0 + dt.timedelta(seconds=3600), 20.0),
        ("k", t0 + dt.timedelta(seconds=5400), 99.0),
        ("solo", t0, 7.0),  # single obs -> plain value
    ]
    df = spark.createDataFrame(rows, ["k", "ts", "v"])
    out = {r["k"]: r for r in timeseries.time_weighted_avg(df, "k", "ts", "v").collect()}
    expected = (10.0 * 3600 + 20.0 * 1800) / 5400
    assert out["k"]["twap_v"] == pytest.approx(expected, abs=1e-6)
    assert out["k"]["n_obs"] == 3
    assert out["solo"]["twap_v"] == 7.0


def test_normalize_text_canonicalizes(spark):
    from etl_io_spark.functions import cleaning

    df = spark.createDataFrame([("  Fast,  JOIN!! x  ",)], ["t"])
    out = df.select(cleaning.normalize_text("t").alias("n")).collect()[0]["n"]
    assert out == "fast join x"


def test_table_checksum_order_insensitive_and_sensitive_to_change(spark):
    from etl_io_spark.functions import cleaning

    a = spark.createDataFrame([(1, "x"), (2, "y")], ["id", "s"])
    b = spark.createDataFrame([(2, "y"), (1, "x")], ["id", "s"])  # reordered
    c = spark.createDataFrame([(1, "x"), (2, "z")], ["id", "s"])  # changed
    ca = cleaning.table_checksum(a).collect()[0]
    cb = cleaning.table_checksum(b).collect()[0]
    cc = cleaning.table_checksum(c).collect()[0]
    assert ca["checksum"] == cb["checksum"] and ca["n_rows"] == 2
    assert ca["checksum"] != cc["checksum"]


def test_trend_slopes_exact_line(spark):
    t0 = dt.datetime(2024, 1, 1)
    # value = 5 + 2*(hours since t0) exactly
    rows = [("k", t0 + dt.timedelta(hours=h), 5.0 + 2.0 * h) for h in range(5)]
    df = spark.createDataFrame(rows, ["k", "ts", "v"])
    r = timeseries.trend_slopes(df, "k", "ts", "v").collect()[0]
    assert r["slope_per_hour"] == pytest.approx(2.0, abs=1e-6)
    assert r["r2"] == pytest.approx(1.0, abs=1e-6)
    assert r["n_obs"] == 5


def test_event_path_ngrams_handcomputed(spark):
    from etl_io_spark.operators import window as win2

    t0 = dt.datetime(2024, 1, 1)
    def ev(u, s, typ, i):
        return (u, t0 + dt.timedelta(seconds=s), typ, i)
    rows = [
        ev("u1", 0, "a", 1), ev("u1", 1, "b", 2), ev("u1", 2, "c", 3),
        ev("u2", 0, "a", 4), ev("u2", 1, "b", 5), ev("u2", 2, "c", 6),
        ev("u3", 0, "x", 7), ev("u3", 1, "y", 8),  # too short for n=3
    ]
    df = spark.createDataFrame(rows, ["u", "ts", "etype", "eid"])
    out = {r["path"]: r["n_occurrences"] for r in win2.event_path_ngrams(
        df, "u", "ts", "etype", "eid", n=3, k=10).collect()}
    assert out == {"a > b > c": 2}


def test_impute_group_mean(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", None), ("a", 3.0), ("b", None)],
        "k string, v double",
    )
    rows = timeseries.impute_group_mean(df, "k", "v").collect()
    a_vals = sorted(r["v"] for r in rows if r["k"] == "a")
    assert a_vals == [1.0, 2.0, 3.0]  # null -> mean of 1,3
    assert [r["was_imputed"] for r in rows if r["k"] == "a"].count(True) == 1
    b = [r for r in rows if r["k"] == "b"][0]
    assert b["v"] is None and not b["was_imputed"]  # all-null key stays null


def test_correlated_subquery_decorrelates_to_join(spark, cat):
    from etl_io_spark.registry import _ABOVE_AVG_SQL

    plan = (
        cat.sql(_ABOVE_AVG_SQL)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # Catalyst must rewrite the per-row subquery into an aggregate + join;
    # a surviving correlated subquery would rescan customer per row
    assert "Join" in plan
    assert plan.count("FileScan parquet") == 2


def test_merge_upsert_cases(spark):
    from etl_io_spark.operators import scd

    target = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, "b"), (3, 30.0, "c")],
        "k int, bal double, seg string",
    )
    changes = spark.createDataFrame(
        [(2, "U", 25.0, "b2"), (3, "D", 0.0, "x"), (9, "I", 90.0, "new")],
        "k int, op string, bal double, seg string",
    )
    got = {
        r["k"]: (r["bal"], r["seg"])
        for r in scd.merge_upsert(target, changes, "k").collect()
    }
    assert got == {1: (10.0, "a"), 2: (25.0, "b2"), 9: (90.0, "new")}


def test_merge_upsert_idempotent_on_empty_changes(spark):
    from etl_io_spark.operators import scd

    target = spark.createDataFrame([(1, 1.0)], "k int, v double")
    empty = spark.createDataFrame([], "k int, op string, v double")
    assert scd.merge_upsert(target, empty, "k").collect() == target.collect()


def test_pagerank_two_node_symmetric(spark):
    from etl_io_spark.operators import graph

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a")], "src string, dst string"
    )
    for solver in (True, False):
        with graph_path(solver):
            got = {r["node"]: r["rank"] for r in graph.pagerank(edges).collect()}
        # symmetric two-node graph: uniform 0.5 is the exact fixed point
        assert got == {"a": 0.5, "b": 0.5}, solver


def test_pagerank_star_mass_and_order(spark):
    from etl_io_spark.operators import graph

    # undirected star: hub h <-> 3 leaves; hub must outrank leaves and
    # total mass stays 1 (symmetrized graph has no dangling nodes)
    star = spark.createDataFrame(
        [("h", "l1"), ("h", "l2"), ("h", "l3")], "src string, dst string"
    )
    for solver in (True, False):
        with graph_path(solver):
            ranks = {
                r["node"]: r["rank"]
                for r in graph.pagerank(
                    graph.symmetrize(star), iterations=20
                ).collect()
            }
        assert abs(sum(ranks.values()) - 1.0) < 1e-4
        assert all(ranks["h"] > ranks[f"l{i}"] for i in (1, 2, 3))
        assert len({ranks["l1"], ranks["l2"], ranks["l3"]}) == 1  # leaf symmetry


def test_scd2_snapshot_at_picks_active_version(spark):
    import datetime as dtm

    from etl_io_spark.operators import scd

    d = dtm.date
    hist = spark.createDataFrame(
        [
            (1, 10.0, d(2024, 1, 1), d(2024, 6, 1)),   # closed before as-of
            (1, 11.0, d(2024, 6, 1), None),            # open version
            (2, 20.0, d(2024, 1, 1), d(2024, 3, 1)),   # key gone by as-of
            (3, 30.0, d(2024, 7, 1), None),            # starts after as-of
        ],
        "k int, v double, valid_from date, valid_to date",
    )
    got = {
        r["k"]: r["v"]
        for r in scd.scd2_snapshot_at(hist, "2024-06-15").collect()
    }
    assert got == {1: 11.0}


def test_key_skew_flags_heavy_key(spark):
    from etl_io_spark.operators import profile as prof

    rows = [(1,)] * 8 + [(2,)] * 1 + [(3,)] * 1
    df = spark.createDataFrame(rows, "k int")
    out = prof.key_skew(df, "k", top=2).collect()
    assert [r["key_value"] for r in out] == ["1", "2"]
    top = out[0]
    assert top["cnt"] == 8 and abs(top["share"] - 0.8) < 1e-9
    assert abs(top["skew_ratio"] - 2.4) < 1e-9  # 8 / (10/3 keys)


def test_item_similarity_hand_case(spark):
    import math

    from etl_io_spark.operators import aggregate as agg

    # a&b together twice; a in 3 baskets, b in 2 => sim = 2/sqrt(6)
    rows = [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "a"), (3, "c"), (4, "c")]
    df = spark.createDataFrame(rows, "basket int, item string")
    out = agg.item_similarity(df, "basket", "item", min_pair_count=2).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["item_a"], r["item_b"], r["n_baskets"]) == ("a", "b", 2)
    assert abs(r["cosine_sim"] - round(2 / math.sqrt(6), 6)) < 1e-9


def test_triangle_stats_hand_graph(spark):
    from etl_io_spark.operators import graph

    # K4 on {1,2,3,4} (4 triangles) plus a pendant 4-5 (0 new triangles);
    # edges given with duplicates / reversals / a self-loop to exercise
    # canonicalization
    edges = [
        (1, 2), (2, 1), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
        (4, 5), (5, 5),
    ]
    df = spark.createDataFrame(edges, "src int, dst int")
    r = graph.triangle_stats(df).collect()[0]
    assert r["n_nodes"] == 5 and r["n_edges"] == 7
    assert r["n_triangles"] == 4
    # wedges: deg = {1:3, 2:3, 3:3, 4:4, 5:1} -> 3+3+3+6+0 = 15
    assert r["n_wedges"] == 15
    assert abs(r["clustering_coeff"] - round(12 / 15, 6)) < 1e-12


def test_cooccurrence_edges_matches_self_join(spark):
    """The join-free pair derivation (collect_set + two generators) must
    emit exactly the canonical src<dst pair set the self-join-on-group
    shape emits, at every support threshold."""
    from pyspark.sql import functions as F

    from etl_io_spark.operators import graph

    rows = [  # (group, item) with dups + varying co-occurrence support
        ("g1", 1), ("g1", 2), ("g1", 3), ("g1", 1),
        ("g2", 1), ("g2", 2),
        ("g3", 2), ("g3", 1),
        ("g4", 4),
    ]
    df = spark.createDataFrame(rows, "g string, item int")
    for min_support in (1, 2, 3, 4):
        got = sorted(
            map(
                tuple,
                graph.cooccurrence_edges(
                    df, "g", "item", min_support=min_support
                ).collect(),
            )
        )
        ps = df.distinct()
        want = sorted(
            map(
                tuple,
                ps.alias("a")
                .join(
                    ps.alias("b"),
                    (F.col("a.g") == F.col("b.g"))
                    & (F.col("a.item") < F.col("b.item")),
                )
                .groupBy(
                    F.col("a.item").alias("src"), F.col("b.item").alias("dst")
                )
                .agg(F.count(F.lit(1)).alias("n"))
                .where(F.col("n") >= min_support)
                .drop("n")
                .collect(),
            )
        )
        assert got == want, (min_support, got, want)
    # support=1 sanity: {1,2,3} pairwise in g1, {1,2} again in g2/g3
    got1 = graph.cooccurrence_edges(df, "g", "item", min_support=3).collect()
    assert sorted(map(tuple, got1)) == [(1, 2)]


def test_triangle_stats_assume_canonical_matches_default(spark):
    """assume_canonical skips the least/greatest+distinct shuffle; on an
    already-canonical edge list both paths must agree exactly."""
    from etl_io_spark.operators import graph

    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)]
    df = spark.createDataFrame(edges, "src int, dst int")
    a = graph.triangle_stats(df).collect()[0]
    b = graph.triangle_stats(df, assume_canonical=True).collect()[0]
    assert a.asDict() == b.asDict()
    assert b["n_triangles"] == 4 and b["n_edges"] == 7


def test_triangle_stats_triangle_free(spark):
    from etl_io_spark.operators import graph

    # star graph: many wedges, zero triangles
    df = spark.createDataFrame([(0, i) for i in range(1, 6)], "src int, dst int")
    r = graph.triangle_stats(df).collect()[0]
    assert r["n_triangles"] == 0 and r["n_wedges"] == 10
    assert r["clustering_coeff"] == 0.0


def test_ewma_score_hand_case(spark):
    from etl_io_spark.operators import timeseries

    rows = [
        (1, "2024-01-01 00:00:00", 1.0),
        (1, "2024-01-01 01:00:00", 2.0),
        (2, "2024-01-05 12:00:00", 7.0),
    ]
    df = spark.createDataFrame(rows, "user_id int, ts string, value double").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    out = {
        r["user_id"]: r
        for r in timeseries.ewma_score(
            df, "user_id", "ts", "value", halflife_seconds=3600.0
        ).collect()
    }
    # one halflife between the two events: 2.0 + 1.0 * 0.5
    assert out[1]["n_events"] == 2 and abs(out[1]["ewma_score"] - 2.5) < 1e-9
    # single event: no decay at its own timestamp
    assert out[2]["n_events"] == 1 and out[2]["ewma_score"] == 7.0


def test_char_entropy_hand_cases(spark):
    from etl_io_spark.operators import text as txt

    df = spark.createDataFrame(
        [(1, "aabb"), (2, "abcd"), (3, "aaaa"), (4, "")], "doc_id int, text string"
    )
    out = {r["doc_id"]: r for r in txt.char_entropy(df, "doc_id", "text").collect()}
    assert abs(out[1]["entropy_bits"] - 1.0) < 1e-9
    assert abs(out[2]["entropy_bits"] - 2.0) < 1e-9
    assert out[3]["entropy_bits"] == 0.0 and out[3]["distinct_chars"] == 1
    assert 4 not in out  # empty text has no characters -> dropped


def test_sorted_neighborhood_hand_case(spark):
    from etl_io_spark.operators import dedup

    rows = [(1, "alpha1"), (2, "alpha2"), (3, "alphx1"), (4, "beta")]
    df = spark.createDataFrame(rows, "id int, k string")
    out = dedup.sorted_neighborhood_pairs(
        df, "id", "k", window=2, block_prefix=2, max_distance=2
    )
    pairs = {(r["id_a"], r["id_b"]): r["distance"] for r in out.collect()}
    # sort order within block 'al': alpha1, alpha2, alphx1
    assert pairs == {(1, 2): 1, (1, 3): 1, (2, 3): 2}


def test_containment_pairs_subset_clone(spark):
    from etl_io_spark.operators import dedup

    small = "alpha beta gamma delta epsilon zeta"
    big = small + " " + " ".join(f"w{i} x{i} y{i}" for i in range(40))
    other = "one two three four five six seven"
    df = spark.createDataFrame(
        [(1, small), (2, big), (3, other)], "doc_id int, text string"
    )
    out = dedup.containment_pairs(df, "doc_id", "text", n=3, threshold=0.9)
    rows = out.collect()
    assert len(rows) == 1
    r = rows[0]
    # the small doc is fully contained in the big one; reverse is tiny
    assert (r["a"], r["b"]) == (1, 2)
    assert r["containment_a_in_b"] == 1.0
    assert r["containment_b_in_a"] < 0.1


def test_activity_streaks_hand_case(spark):
    from etl_io_spark.operators import timeseries

    rows = [
        (1, "2024-01-01 10:00:00"), (1, "2024-01-01 23:00:00"),
        (1, "2024-01-02 05:00:00"), (1, "2024-01-04 00:00:00"),
        (1, "2024-01-05 00:00:00"), (1, "2024-01-06 00:00:00"),
        (2, "2024-03-01 00:00:00"),
    ]
    df = spark.createDataFrame(rows, "user_id int, ts string").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    out = {r["user_id"]: r for r in timeseries.activity_streaks(df, "user_id", "ts").collect()}
    r1 = out[1]
    assert r1["n_active_days"] == 5 and r1["n_streaks"] == 2
    assert r1["longest_streak"] == 3
    assert str(r1["longest_streak_start"]) == "2024-01-04"
    r2 = out[2]
    assert r2["longest_streak"] == 1 and r2["n_streaks"] == 1


def test_cumulative_reach_hand_case(spark):
    from etl_io_spark.operators import timeseries

    rows = [
        (10, "2024-01-01 01:00:00"), (11, "2024-01-01 02:00:00"),
        (10, "2024-01-02 01:00:00"), (12, "2024-01-03 09:00:00"),
        (10, "2024-01-03 01:00:00"),
    ]
    df = spark.createDataFrame(rows, "user_id int, ts string").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    out = {str(r["day"]): r for r in timeseries.cumulative_reach(df, "user_id", "ts").collect()}
    assert (out["2024-01-01"]["n_active"], out["2024-01-01"]["n_new"], out["2024-01-01"]["cum_reach"]) == (2, 2, 2)
    assert (out["2024-01-02"]["n_active"], out["2024-01-02"]["n_new"], out["2024-01-02"]["cum_reach"]) == (1, 0, 2)
    assert (out["2024-01-03"]["n_active"], out["2024-01-03"]["n_new"], out["2024-01-03"]["cum_reach"]) == (2, 1, 3)


def test_prefix_jaccard_matches_allpairs(spark):
    from etl_io_spark.operators import dedup

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base),
        (2, base + " tail"),
        (3, "completely different words in this document body here now ok"),
        (4, base.replace("quick", "slow")),
        (5, "short text"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    exact = {
        (r["a"], r["b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.3).collect()
    }
    pref = {
        (r["a"], r["b"]): r["jaccard"]
        for r in dedup.jaccard_pairs_prefix(df, "doc_id", "text", threshold=0.3).collect()
    }
    assert exact == pref and len(pref) > 0


def test_lsh_exact_pairs_subset_with_exact_scores(spark):
    """Two-stage LSH→exact: every reported pair carries the TRUE jaccard
    (identical to the all-pairs value) and the pair set is a subset of
    all-pairs; on near-identical docs (J≈0.9) banding must catch the pair."""
    from etl_io_spark.operators import dedup

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base),
        (2, base + " tail"),
        (3, "completely different words in this document body here now ok"),
        (4, base.replace("quick", "slow")),
        (5, "short text"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    exact = {
        (r["a"], r["b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.3).collect()
    }
    two_stage = {
        (r["a"], r["b"]): r["jaccard"]
        for r in dedup.lsh_exact_pairs(df, "doc_id", "text", threshold=0.3).collect()
    }
    assert set(two_stage) <= set(exact)
    for pair, j in two_stage.items():
        assert j == exact[pair]
    # (1,2) are near-identical — high-J recall is the banding guarantee
    assert (1, 2) in two_stage


def test_robust_anomaly_hand_case(spark):
    from etl_io_spark.operators import aggregate as agg

    # 9 well-behaved points + one wild outlier; mean/std would be dragged,
    # median/MAD is not
    vals = [10.0, 10.1, 9.9, 10.2, 9.8, 10.0, 10.1, 9.9, 10.0, 500.0]
    rows = [(i, "t", v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "event_id int, event_type string, value double")
    out = {r["event_id"]: r for r in agg.robust_anomaly(
        df, "event_type", ["event_id"], "value").collect()}
    assert out[9]["is_anomaly"] is True
    assert all(out[i]["is_anomaly"] is False for i in range(9))
    # degenerate key: all values identical -> MAD 0 -> NULL flag
    df2 = spark.createDataFrame(
        [(1, "k", 5.0), (2, "k", 5.0), (3, "k", 5.0)],
        "event_id int, event_type string, value double",
    )
    out2 = agg.robust_anomaly(df2, "event_type", ["event_id"], "value").collect()
    assert all(r["robust_z"] is None and r["is_anomaly"] is None for r in out2)


def test_bitmap_distinct_rollup_hand_case(spark):
    from etl_io_spark.operators import aggregate as agg

    rows = [
        # type a: user 1 active on 2 days, user 2 on 1 day
        ("a", "2024-01-01 01:00:00", 1), ("a", "2024-01-01 02:00:00", 1),
        ("a", "2024-01-02 01:00:00", 1), ("a", "2024-01-02 03:00:00", 2),
        # type b: one user, one day; id far into another bitmap bucket
        ("b", "2024-01-05 00:00:00", 40000),
    ]
    df = spark.createDataFrame(rows, "event_type string, ts string, user_id long").select(
        "event_type", F.col("ts").cast("timestamp").alias("ts"), "user_id"
    )
    out = {r["event_type"]: r for r in agg.bitmap_distinct_rollup(
        df, "event_type", "ts", "user_id").collect()}
    a = out["a"]
    assert (a["n_days"], a["sum_daily_distinct"], a["total_distinct"]) == (2, 3, 2)
    b = out["b"]
    assert (b["n_days"], b["sum_daily_distinct"], b["total_distinct"]) == (1, 1, 1)


def test_transition_matrix_hand_case(spark):
    from etl_io_spark.operators import window as win

    rows = [
        (1, 1, "a"), (1, 2, "b"), (1, 3, "a"), (1, 4, "b"),
        (2, 5, "a"), (2, 6, "b"),
    ]
    df = spark.createDataFrame(rows, "u int, eid int, state string").select(
        "u", "eid", F.col("eid").cast("timestamp").alias("ts"), "state"
    )
    out = {(r["from_state"], r["to_state"]): r for r in win.transition_matrix(
        df, "u", "ts", "state", "eid").collect()}
    # a->b three times, b->a once; P(b|a)=1.0, P(a|b)=1.0
    assert out[("a", "b")]["n"] == 3 and out[("a", "b")]["p"] == 1.0
    assert out[("b", "a")]["n"] == 1 and out[("b", "a")]["p"] == 1.0
    assert len(out) == 2  # no self-transitions in this sequence


def test_histogram2d_hand_case(spark):
    from etl_io_spark.operators import aggregate as agg

    # 2x2 grid over [0,10]x[0,10]; max point folds into the last bucket
    rows = [(0.0, 0.0), (1.0, 9.0), (9.0, 1.0), (10.0, 10.0), (2.0, 2.0)]
    df = spark.createDataFrame(rows, "x double, y double")
    out = {(r["bx"], r["by"]): r["n"] for r in agg.histogram2d(
        df, "x", "y", nx=2, ny=2).collect()}
    assert out == {(0, 0): 2, (0, 1): 1, (1, 0): 1, (1, 1): 1}


def test_histogram2d_constant_axis(spark):
    """ADVICE r3: a constant column (hi == lo) must map every row to
    bucket 0 on that axis, not produce NULL/NaN buckets."""
    from etl_io_spark.operators import aggregate as agg

    rows = [(5.0, 0.0), (5.0, 9.0), (5.0, 10.0)]
    df = spark.createDataFrame(rows, "x double, y double")
    out = {(r["bx"], r["by"]): r["n"] for r in agg.histogram2d(
        df, "x", "y", nx=2, ny=2).collect()}
    assert out == {(0, 0): 1, (0, 1): 2}
    # both axes constant: one (0, 0) cell holding every row
    df2 = spark.createDataFrame([(5.0, 7.0)] * 4, "x double, y double")
    r = agg.histogram2d(df2, "x", "y", nx=3, ny=3).collect()
    assert len(r) == 1 and (r[0]["bx"], r[0]["by"], r[0]["n"]) == (0, 0, 4)
    assert r[0]["x_lo"] == 5.0 and r[0]["y_lo"] == 7.0


def test_funnel_latency_hand_case(spark):
    from etl_io_spark.operators import window as win

    rows = [
        (1, 0, "view"), (1, 60, "click"), (1, 180, "purchase"),
        (2, 0, "view"), (2, 120, "click"),
        (3, 0, "view"),
    ]
    df = spark.createDataFrame(rows, "user_id int, sec int, event_type string").select(
        "user_id", F.timestamp_seconds("sec").alias("ts"), "event_type"
    )
    out = {r["transition"]: r for r in win.funnel_latency(
        df, "user_id", "ts", "event_type", ("view", "click", "purchase")).collect()}
    vc = out["view->click"]
    # dts 60 and 120: disc median = ceil(2*0.5)=rank 1 -> 60
    assert vc["n_converted"] == 2 and vc["median_s"] == 60.0 and vc["p90_s"] == 120.0
    cp = out["click->purchase"]
    assert cp["n_converted"] == 1 and cp["median_s"] == 120.0


def test_temperature_mix_flattens_tail(spark):
    from etl_io_spark.operators import training

    rows = [("big", i) for i in range(900)] + [("small", i) for i in range(100)]
    df = spark.createDataFrame(rows, "src string, i int")
    out = {r["src"]: r for r in training.temperature_mix(df, "src", alpha=0.3).collect()}
    assert out["small"]["boost"] > 1.0 > out["big"]["boost"]
    assert abs(out["big"]["p_temp"] + out["small"]["p_temp"] - 1.0) < 1e-6
    # alpha=1 keeps the natural distribution
    nat = {r["src"]: r for r in training.temperature_mix(df, "src", alpha=1.0).collect()}
    assert nat["big"]["boost"] == 1.0 and nat["big"]["p_temp"] == 0.9


def test_snapshot_diff_hand_case(spark):
    from etl_io_spark.operators import profile

    old = spark.createDataFrame(
        [(1, 10.0, None), (2, 20.0, "x"), (3, 30.0, "y")],
        "k int, v double, s string",
    )
    new = spark.createDataFrame(
        [(2, 20.0, "x"), (3, 31.0, "y"), (4, 40.0, None)],
        "k int, v double, s string",
    )
    r = profile.snapshot_diff(old, new, ["k"], ["v", "s"]).collect()[0]
    assert (r["n_added"], r["n_removed"], r["n_changed"], r["n_unchanged"]) == (1, 1, 1, 1)


def test_shortest_hops_hand_case(spark):
    from etl_io_spark.operators import graph

    # path 1-2-3-4-5 plus island 9; sources = {1}
    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (9, 9)]
    e = spark.createDataFrame(edges, "src int, dst int")
    s = spark.createDataFrame([(1,)], "node int")
    out = {r["node"]: r["hops"] for r in graph.shortest_hops(
        graph.symmetrize(e), s, max_depth=3).collect()}
    assert out == {1: 0, 2: 1, 3: 2, 4: 3}  # 5 beyond depth, 9 unreachable

    # min-hops wins over a longer alternative path
    e2 = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], "src int, dst int")
    out2 = {r["node"]: r["hops"] for r in graph.shortest_hops(
        graph.symmetrize(e2), s, max_depth=3).collect()}
    assert out2 == {1: 0, 2: 1, 3: 1}


def test_incremental_agg_update_matches_recompute(spark):
    from etl_io_spark.operators import aggregate as agg

    base_rows = [("a", 10.0), ("a", 20.0), ("b", 5.0)]
    base_df = spark.createDataFrame(base_rows, "k string, v double")
    base = agg.agg_snapshot(base_df, ["k"], "v", round_to=9)
    delta = spark.createDataFrame(
        [("a", 7.0, "I"), ("b", 5.0, "D"), ("c", 1.0, "I")],
        "k string, v double, op string",
    )
    out = {r["k"]: r for r in agg.incremental_agg_update(
        base, delta, ["k"], "v").collect()}
    assert out["a"]["sum_v"] == 37.0 and out["a"]["n_rows"] == 3
    assert out["c"]["sum_v"] == 1.0 and out["c"]["n_rows"] == 1
    assert "b" not in out  # count reached zero -> key drops out

    # ADVICE r3: malformed changelog rows (NULL / unknown op) are dropped,
    # not treated as deletes
    bad = spark.createDataFrame(
        [("a", 7.0, "I"), ("a", 99.0, None), ("a", 99.0, "U")],
        "k string, v double, op string",
    )
    out2 = {r["k"]: r for r in agg.incremental_agg_update(
        base, bad, ["k"], "v").collect()}
    assert out2["a"]["sum_v"] == 37.0 and out2["a"]["n_rows"] == 3


def test_minmax_normalize_hand_case(spark):
    from etl_io_spark.operators import aggregate as agg

    rows = [("a", 0.0), ("a", 5.0), ("a", 10.0), ("b", 7.0), ("b", 7.0)]
    df = spark.createDataFrame(rows, "k string, v double")
    out = agg.minmax_normalize(df, "k", "v").collect()
    a = sorted(r["v_scaled"] for r in out if r["k"] == "a")
    assert a == [0.0, 0.5, 1.0]
    # degenerate group (zero range) -> 0.5 by convention
    assert all(r["v_scaled"] == 0.5 for r in out if r["k"] == "b")


def test_mutual_information_extremes(spark):
    import math

    from etl_io_spark.operators import aggregate as agg

    # perfectly dependent: y == x -> MI == H(X) == ln 2
    dep = spark.createDataFrame(
        [("a", "a"), ("b", "b")] * 50, "x string, y string"
    )
    r = agg.mutual_information(dep, "x", "y").collect()[0]
    assert abs(r["mi_nats"] - round(math.log(2), 6)) < 1e-9
    assert r["h_x"] == r["h_y"] == r["mi_nats"]
    # independent uniform -> MI == 0
    ind = spark.createDataFrame(
        [(x, y) for x in "ab" for y in "cd"] * 25, "x string, y string"
    )
    r2 = agg.mutual_information(ind, "x", "y").collect()[0]
    assert r2["mi_nats"] == 0.0 and r2["n_rows"] == 100

    # ADVICE r3: NULL categories are kept (sentinel-coalesced), so n_rows
    # counts every row and a NULL-valued category still contributes
    withnull = spark.createDataFrame(
        [("a", "a"), (None, None)] * 50, "x string, y string"
    )
    r3 = agg.mutual_information(withnull, "x", "y").collect()[0]
    assert r3["n_rows"] == 100
    assert abs(r3["mi_nats"] - round(math.log(2), 6)) < 1e-9


def test_quote_spans_hand_case(spark):
    from etl_io_spark.operators import text as txt

    bench_text = "alpha beta gamma delta epsilon zeta eta theta"
    doc = (
        "x1 x2 x3 alpha beta gamma delta epsilon zeta eta theta y1 y2 "
        "z1 z2 alpha beta gamma delta epsilon q1"
    )
    docs = spark.createDataFrame(
        [(1, doc), (2, "totally unrelated words only here nothing shared")],
        "doc_id int, text string",
    )
    bench = spark.createDataFrame([(100, bench_text)], "doc_id int, text string")
    out = txt.quote_spans(docs, bench, "doc_id", "text", n=5).collect()
    spans = sorted((r["doc_id"], r["span_start"], r["span_end"], r["n_grams"]) for r in out)
    # first quote: tokens 4-11 -> 5-gram hit positions 4..7 (4 grams);
    # second quote: tokens 16-20 -> exactly one 5-gram at position 16
    assert spans == [(1, 4, 7, 4), (1, 16, 16, 1)]


def test_vocab_drift_extremes(spark):
    from etl_io_spark.operators import text as txt

    # identical halves -> all divergences 0
    same = spark.createDataFrame(
        [(True, "x y z x"), (False, "x y z x")], "a boolean, text string"
    )
    r = txt.vocab_drift(same, "a", "text").collect()[0]
    assert r["kl_ab"] == r["kl_ba"] == r["js"] == 0.0
    assert r["vocab_size"] == 3
    # disjoint vocabularies -> strictly positive, js bounded by ln 2
    import math

    diff = spark.createDataFrame(
        [(True, "aa bb cc"), (False, "dd ee ff")], "a boolean, text string"
    )
    r2 = txt.vocab_drift(diff, "a", "text").collect()[0]
    assert r2["kl_ab"] > 0 and r2["kl_ba"] > 0
    assert 0 < r2["js"] <= math.log(2) + 1e-9


def test_corr_matrix_single_pass_values(spark):
    from etl_io_spark.operators import aggregate as agg

    rows = [(float(i), 2.0 * i, float(-i)) for i in range(10)]
    df = spark.createDataFrame(rows, "x double, y double, z double")
    out = {(r["col_a"], r["col_b"]): r["corr"] for r in agg.corr_matrix(
        df, ["x", "y", "z"]).collect()}
    assert out[("x", "y")] == 1.0 and out[("x", "z")] == -1.0 and out[("y", "z")] == -1.0


def test_pareto_skyline_hand_case(spark):
    import __spark_entry__ as entry

    # sanity: every returned supplier must be non-dominated in the output
    rows = entry.queries()["pareto_suppliers"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(rows) >= 1
    for r in rows:
        assert not any(
            (o["acctbal"] >= r["acctbal"] and o["revenue"] > r["revenue"])
            or (o["acctbal"] > r["acctbal"] and o["revenue"] >= r["revenue"])
            for o in rows
        )


def test_connected_components_cleans_supplied_checkpoint_dir(spark, tmp_path):
    """With a user-supplied (cluster-visible) checkpoint_dir, prior-round
    label checkpoints are deleted as the loop advances — only the final
    round's files (backing the returned DataFrame) remain."""
    import os

    from etl_io_spark.operators import dedup

    # chain graph: 0-1-2-3-4-5 needs several pointer-jumping rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "a bigint, b bigint"
    )
    ckpt = str(tmp_path / "cc_ckpt")
    # max_driver_edges=0 forces the distributed loop (the fast path never
    # writes checkpoints)
    out = dedup.connected_components(
        pairs, "a", "b", checkpoint_dir=ckpt, max_driver_edges=0
    )
    rows = out.collect()
    assert {r["cluster_id"] for r in rows} == {0}
    tags = sorted(os.listdir(ckpt))
    # exactly one round dir left (the one backing the returned DataFrame)
    assert len(tags) == 1, tags


def test_lm_cross_entropy_hand_case(spark):
    """Bigram LM on a 2-doc corpus: repeated template text scores LOWER
    cross-entropy than a doc of corpus-unique bigrams; values match the
    hand-derived interpolated mixture."""
    import math

    from etl_io_spark.operators import text as txt

    d1 = "a b a b a b"          # bigrams: (a,b) x3, (b,a) x2
    d2 = "c d e"                # bigrams: (c,d), (d,e)
    df = spark.createDataFrame([(1, d1), (2, d2)], "doc_id int, text string")
    out = {r["doc_id"]: r for r in txt.lm_cross_entropy(df, "doc_id", "text").collect()}
    N = 7
    c12 = {("a", "b"): 3, ("b", "a"): 2, ("c", "d"): 1, ("d", "e"): 1}
    c1 = {"a": 3, "b": 2, "c": 1, "d": 1}
    c2 = {"b": 3, "a": 2, "d": 1, "e": 1}

    def p(w1, w2):
        return 0.4 * c12[(w1, w2)] / c1[w1] + 0.6 * c2[w2] / N

    e1 = -(3 * math.log(p("a", "b")) + 2 * math.log(p("b", "a"))) / 5
    e2 = -(math.log(p("c", "d")) + math.log(p("d", "e"))) / 2
    assert out[1]["n_bigrams"] == 5 and out[2]["n_bigrams"] == 2
    assert out[1]["cross_entropy"] == pytest.approx(e1, abs=1e-6)
    assert out[2]["cross_entropy"] == pytest.approx(e2, abs=1e-6)
    assert out[1]["cross_entropy"] < out[2]["cross_entropy"]


def test_label_propagation_two_cliques(spark):
    from etl_io_spark.operators import graph

    # two disconnected triangles: sync LPA with min-label ties collapses
    # each to its smallest member id within 3 rounds
    tri = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6)]
    edges = graph.symmetrize(
        spark.createDataFrame(tri, "src bigint, dst bigint")
    )
    for solver in (True, False):
        with graph_path(solver):
            got = {
                r["node"]: r["label"]
                for r in graph.label_propagation(edges, rounds=3).collect()
            }
        assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 4}, solver


def test_k_core_cascading_prune(spark):
    from etl_io_spark.operators import graph

    # path 1-2-3-4 (endpoints degree 1) + triangle 7,8,9 (all degree 2):
    # k=2 peels the path end-in, two rounds deep; the triangle survives
    e = [(1, 2), (2, 3), (3, 4), (7, 8), (8, 9), (7, 9)]
    edges = graph.symmetrize(
        spark.createDataFrame(e, "src bigint, dst bigint")
    )
    for solver in (True, False):
        with graph_path(solver):
            got = {
                r["node"]: r["degree"]
                for r in graph.k_core(edges, k=2, rounds=3).collect()
            }
        assert got == {7: 2, 8: 2, 9: 2}, solver


def test_graph_solver_null_ids_match_loop(spark):
    """The one-task kernels mirror their Catalyst loops' null handling (a
    null id joins nothing but still forms its own group), so a graph
    with null endpoints gives the same rows on both paths."""
    from etl_io_spark import caching
    from etl_io_spark.operators import graph

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (7, 8), (8, 9), (7, 9), (1, 1),
         (None, 3), (4, None), (None, None)],
        "src bigint, dst bigint",
    )
    calls = {
        "pagerank": lambda e: graph.pagerank(e),
        "k_core": lambda e: graph.k_core(e, k=1, rounds=0),
        "k_core pruned": lambda e: graph.k_core(e, k=1, rounds=2),
        "label_propagation": lambda e: graph.label_propagation(e, rounds=2),
        "hits": lambda e: graph.hits(e, iterations=2),
    }
    for name, call in calls.items():
        for e in (edges, graph.symmetrize(edges)):
            rows = {}
            for solver in (True, False):
                with graph_path(solver):
                    rows[solver] = sorted(map(repr, call(e).collect()))
                caching.drain_persisted()
            assert rows[True] == rows[False], name
            # every call but the pruned k-core keeps a null id's group
            assert any("None" in r for r in rows[True]) != (
                name == "k_core pruned"
            ), name

    # the summaries: least/greatest skip a null, so canonicalization drops
    # every edge with a null endpoint (as if it were a self-loop), while
    # assume_canonical keeps the null node in n_nodes, n_edges and n_wedges
    # (it joins no degree row, so closes no triangle)
    canon = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (None, 3), (4, None)],
        "src bigint, dst bigint",
    )
    # K4 plus a reversed duplicate edge and a self-loop, passed as
    # canonical: both count K4's 4 triangles, while nodes, edges and
    # wedges count the edges as given (degrees 4, 4, 5, 3)
    k4_dup = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (2, 1), (3, 3)],
        "src bigint, dst bigint",
    )
    calls = {
        "triangle_stats": (graph.triangle_stats, edges, None),
        "triangle_stats symmetrized":
            (graph.triangle_stats, graph.symmetrize(edges), None),
        "triangle_stats raw": (graph.triangle_stats, canon, (4, 4, 5, 1)),
        "triangle_stats canonical": (
            lambda e: graph.triangle_stats(e, assume_canonical=True),
            canon, (5, 6, 10, 1),
        ),
        "triangle_stats canonical, not canonical": (
            lambda e: graph.triangle_stats(e, assume_canonical=True),
            k4_dup, (4, 8, 25, 4),
        ),
        "degree_assortativity": (graph.degree_assortativity, edges, None),
        "degree_assortativity symmetrized":
            (graph.degree_assortativity, graph.symmetrize(edges), None),
    }
    clean = edges.where("src IS NOT NULL AND dst IS NOT NULL")
    for name, (call, e, counts) in calls.items():
        rows = {}
        for solver in (True, False):
            with graph_path(solver):
                rows[solver] = call(e).collect()
                if counts is None:
                    assert rows[solver] == call(clean).collect(), name
            caching.drain_persisted()
        assert rows[True] == rows[False] and len(rows[True]) == 1, name
        if counts is not None:
            assert tuple(rows[True][0])[:4] == counts, name


def test_graph_empty_edge_list(spark):
    """An empty edge list gives no rows from the four loops and the one
    summary row from triangle_stats and degree_assortativity, on both
    paths; both for an input that is empty when it runs and for one
    Spark proves empty while planning (then no solver task runs)."""
    from etl_io_spark import caching
    from etl_io_spark.operators import graph

    empty = spark.createDataFrame([], "src bigint, dst bigint")
    planned_empty = spark.createDataFrame(
        [(1, 2)], "src bigint, dst bigint"
    ).where("false")
    expect = {
        graph.pagerank: [],
        lambda e: graph.k_core(e, k=1): [],
        graph.hits: [],
        graph.label_propagation: [],
        graph.triangle_stats: [(0, 0, None, 0, None)],
        lambda e: graph.triangle_stats(e, assume_canonical=True):
            [(0, 0, None, 0, None)],
        graph.degree_assortativity: [(0, 0, None, None)],
    }
    for call, rows in expect.items():
        for e in (empty, planned_empty):
            for solver in (True, False):
                with graph_path(solver):
                    assert [tuple(r) for r in call(e).collect()] == rows, solver
                caching.drain_persisted()


def test_k_core_persist_gate(spark):
    from etl_io_spark import caching
    from etl_io_spark.operators import graph

    e = [(1, 2), (2, 3), (3, 4), (7, 8), (8, 9), (7, 9)]
    edges = graph.symmetrize(
        spark.createDataFrame(e, "src bigint, dst bigint")
    )
    caching.drain_persisted()
    expect = {7: 2, 8: 2, 9: 2}

    def run(**kw):
        with graph_path(False):  # the persists belong to the Catalyst loop
            out = {
                r["node"]: r["degree"]
                for r in graph.k_core(edges, k=2, rounds=3, **kw).collect()
            }
        n_persists = caching.drain_persisted()
        return out, n_persists

    # createDataFrame yields a LogicalRDD with UNKNOWN stats (Catalyst's
    # 8 EiB default) -> auto takes the scale-protective branch: initial
    # edges + 3 keep-sets + 3 per-round survivors = 7 persists
    out, n = run()
    assert out == expect and n == 7
    # pinned ON: same both-persisted shape
    out, n = run(persist_inputs=True)
    assert out == expect and n == 7
    # pinned OFF: the round-8 fused shape — only the 3 per-round
    # surviving-edge persists (what auto picks on small parquet scans,
    # e.g. the sf0.01/sf0.1 trade graph whose leaves are size-known)
    out, n = run(persist_inputs=False)
    assert out == expect and n == 3


def test_degree_assortativity_star_is_minus_one(spark):
    from etl_io_spark.operators import graph

    # star: every edge joins degree 3 to degree 1 -> assortativity -1
    star = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "src bigint, dst bigint"
    )
    row = graph.degree_assortativity(star).collect()[0]
    assert row["n_nodes"] == 4 and row["n_edges"] == 3
    assert row["mean_degree"] == 1.5
    assert row["assortativity"] == -1.0


def test_degree_assortativity_regular_graph_is_null(spark):
    from etl_io_spark import caching
    from etl_io_spark.operators import graph

    # a ring: every degree is 2, so the degree correlation is undefined
    ring = spark.createDataFrame(
        [(i, (i + 1) % 6) for i in range(6)], "src bigint, dst bigint"
    )
    for solver in (True, False):
        with graph_path(solver):
            row = graph.degree_assortativity(ring).collect()[0]
        caching.drain_persisted()
        assert tuple(row) == (6, 6, 2.0, None), solver


def test_degree_assortativity_ansi_session(spark):
    """In an ANSI session (Spark 4's default) a regular graph's zero
    degree variance and an empty graph's zero node count give nulls on
    both paths, as in the engine session, instead of DIVIDE_BY_ZERO."""
    from etl_io_spark import caching
    from etl_io_spark.operators import graph

    ring = spark.createDataFrame(
        [(i, (i + 1) % 6) for i in range(6)], "src bigint, dst bigint"
    )
    empty = spark.createDataFrame([], "src bigint, dst bigint")
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        for solver in (True, False):
            with graph_path(solver):
                assert [tuple(r) for r in graph.degree_assortativity(
                    ring).collect()] == [(6, 6, 2.0, None)], solver
                assert [tuple(r) for r in graph.degree_assortativity(
                    empty).collect()] == [(0, 0, None, None)], solver
            caching.drain_persisted()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)


def _oriented(pairs):
    """Degree-ordered orientation of an undirected edge list, as the
    triangle kernel orients it."""
    import numpy as np

    a = np.array([min(p) for p in pairs], np.int64)
    b = np.array([max(p) for p in pairs], np.int64)
    deg = np.bincount(np.r_[a, b])
    lo = (deg[a] < deg[b]) | ((deg[a] == deg[b]) & (a < b))
    return np.where(lo, a, b), np.where(lo, b, a)


def test_triangle_count_methods_agree():
    """The dense matrix product and the forward wedge merge are both
    exact: they agree with each other and with a neighbor-set count."""
    import itertools
    import random
    from collections import defaultdict

    from etl_io_spark.operators import graph

    rng = random.Random(7)
    cases = {
        "K_30": list(itertools.combinations(range(30), 2)),
        "star": [(0, i) for i in range(1, 50)],
        "random sparse": sorted(
            {tuple(sorted(rng.sample(range(300), 2))) for _ in range(900)}
        ),
    }
    for name, pairs in cases.items():
        nbrs = defaultdict(set)
        for a, b in pairs:
            nbrs[a].add(b)
            nbrs[b].add(a)
        expect = sum(len(nbrs[a] & nbrs[b]) for a, b in pairs) // 3
        u, v = _oriented(pairs)
        k = int(max(u.max(), v.max())) + 1
        assert graph._dense_triangles(u, v, k) == expect, name
        assert graph._forward_triangles(u, v, k) == expect, name
    assert expect > 0  # the random graph closes some triangles


def test_triangle_count_memory_is_linear_in_edges(monkeypatch):
    """A graph whose node count would make the dense matrix far larger
    than its edge arrays (120,300 nodes: a 58 GB float32 matrix) takes
    the forward merge, and the merge holds O(|E|) memory even where the
    wedges outnumber the edges 40 to 1 (a K_300 inside)."""
    import itertools
    import tracemalloc

    from etl_io_spark.operators import graph

    def no_dense(*a):
        raise AssertionError("dense matrix chosen for a sparse graph")

    monkeypatch.setattr(graph, "_dense_triangles", no_dense)
    clique = list(itertools.combinations(range(300), 2))
    matching = [(i, i + 1) for i in range(1000, 241000, 2)]
    u, v = _oriented(clique + matching)
    tracemalloc.start()
    try:
        got = graph._count_triangles(u, v)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert got == 300 * 299 * 298 // 6
    edge_bytes = 2 * 8 * len(u)
    assert peak < 16 * edge_bytes, (peak, edge_bytes)


def test_benford_profile_digits_and_probs(spark):
    import math

    from etl_io_spark.operators import aggregate as agg

    df = spark.createDataFrame(
        [(10.0,), (19.5,), (25.0,), (3.7,), (0.5,)], "v double"
    )
    rows = {r["digit"]: r for r in agg.benford_profile(df, "v").collect()}
    # 0.5 excluded (< 1); integer-part first digits: 1,1,2,3
    assert {d: rows[d]["n"] for d in rows} == {1: 2, 2: 1, 3: 1}
    assert rows[1]["observed_p"] == 0.5
    assert rows[2]["benford_p"] == round(math.log10(1.5), 6)
    # chi2 identical on every row
    assert len({r["chi2"] for r in rows.values()}) == 1


def test_time_decayed_stats_half_life(spark):
    import datetime as dtm

    from etl_io_spark.operators import timeseries as ts

    t0 = dtm.datetime(2024, 1, 2, 0, 0, 0)
    df = spark.createDataFrame(
        [
            ("a", t0, 10.0),
            ("a", t0 - dtm.timedelta(days=1), 4.0),
        ],
        "event_type string, ts timestamp, value double",
    )
    row = ts.time_decayed_stats(df, half_life_s=86400.0).collect()[0]
    # newest weighs 1, one-half-life-old weighs exactly 0.5
    assert row["n"] == 2
    assert row["decayed_n"] == 1.5
    assert row["decayed_sum"] == 12.0


def test_seasonality_strength_flat_vs_cyclic(spark):
    import datetime as dtm

    from etl_io_spark.operators import timeseries as ts

    base = dtm.datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    for h in range(48):
        t = base + dtm.timedelta(hours=h, minutes=5)
        rows.append(("flat", t))  # 1/hour, zero variance
        rows.append(("cyc", t))
        if h % 24 == 0:  # midnight spike -> hour-of-day cycle
            rows.append(("cyc", t))
    df = spark.createDataFrame(rows, "event_type string, ts timestamp")
    got = {
        r["event_type"]: r
        for r in ts.seasonality_strength(df).collect()
    }
    assert got["flat"]["strength"] is None  # var 0 -> undefined
    assert got["flat"]["var_hourly"] == 0.0
    # near-perfectly cyclic: strength ~1 (can top 1 slightly — the two
    # var_samp denominators differ; see the operator docstring)
    assert 0.9 < got["cyc"]["strength"] < 1.1
    assert got["cyc"]["n_hours"] == 48
