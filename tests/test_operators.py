"""Unit tests for relational operators on tiny in-memory frames,
including reference-quirk cases (SURVEY.md §5.2)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F

from etl_io_spark.functions import cleaning
from etl_io_spark.operators import joins, reshape, select as sel, window as win
from etl_io_spark.operators.reshape import DuplicatePivotKeyError


# ---------------------------------------------------------------- cleaning
def test_decode_map_passthrough_unmapped(spark):
    df = spark.createDataFrame([Row(code=1), Row(code=2), Row(code=99)])
    out = cleaning.decode_map(df, {"code": {1: "one", 2: "two"}})
    got = {r["code"] for r in out.collect()}
    assert got == {"one", "two", "99"}  # unmapped code preserved as string


def test_rename_ignores_unknown_keys(spark):
    df = spark.createDataFrame([Row(a=1)])
    out = cleaning.rename_columns(df, {"a": "x", "nope": "y"})
    assert out.columns == ["x"]


@pytest.mark.parametrize(
    "raw,expected",
    [
        ("1.1001", "01.1001"),  # the reference's canonical case (etl_io.py:374)
        ("11.0101", "11.0101"),
        ("1", "01"),
        ("99", "99"),
    ],
)
def test_normalize_code(spark, raw, expected):
    df = spark.createDataFrame([Row(c=raw)])
    got = df.select(cleaning.normalize_code("c").alias("n")).collect()[0]["n"]
    assert got == expected


# ---------------------------------------------------------------- joins
def test_translate_duplicate_key_multiplication(spark):
    """pandas merge multiplies rows on duplicate keys; Spark inner join
    must do the same (SURVEY.md §7 phase 2 hard case)."""
    data = spark.createDataFrame([Row(soc="A", v=1)])
    xw = spark.createDataFrame(
        [Row(soc="A", cip="x"), Row(soc="A", cip="y"), Row(soc="A", cip="x")]
    )
    out = joins.translate(data, xw, left="soc", right="cip")
    # dedup on (soc, cip) first -> 2 rows, then 1x2 multiplication
    assert out.count() == 2


def test_translate_how_passthrough(spark):
    data = spark.createDataFrame([Row(soc="A", v=1), Row(soc="B", v=2)])
    xw = spark.createDataFrame([Row(soc="A", cip="x")])
    assert joins.translate(data, xw, "soc", "cip", how="inner").count() == 1
    assert joins.translate(data, xw, "soc", "cip", how="left").count() == 2
    assert joins.translate(data, xw, "soc", "cip", how="left_anti").count() == 1


def test_parse_list_column_and_explode(spark):
    df = spark.createDataFrame([Row(k=1, lst="['11.0101', '11.0201']"), Row(k=2, lst="[]")])
    parsed = joins.parse_list_column(df, "lst")
    exploded = parsed.select("k", F.explode("lst").alias("cip"))
    rows = exploded.collect()
    assert {(r["k"], r["cip"]) for r in rows} == {(1, "11.0101"), (1, "11.0201")}


def test_parse_list_column_malformed_gives_null(spark):
    df = spark.createDataFrame([Row(lst="not a list")])
    parsed = joins.parse_list_column(df, "lst")
    assert parsed.collect()[0]["lst"] is None


# ---------------------------------------------------------------- reshape
def test_pivot_strict_raises_on_duplicates(spark):
    df = spark.createDataFrame(
        [Row(i="a", p="x", v=1.0), Row(i="a", p="x", v=2.0)]
    )
    with pytest.raises(DuplicatePivotKeyError):
        reshape.pivot_wide(df, "i", "p", "v", strict=True)


def test_pivot_wide_values_skip_discovery(spark):
    df = spark.createDataFrame([Row(i="a", p="x", v=1.0), Row(i="a", p="y", v=2.0)])
    out = reshape.pivot_wide(df, "i", "p", "v", values=["x", "y", "z"])
    row = out.collect()[0]
    assert (row["x"], row["y"], row["z"]) == (1.0, 2.0, None)


def test_one_hot_fills_false(spark):
    df = spark.createDataFrame([Row(i=1, c="a"), Row(i=2, c="b")])
    out = reshape.one_hot(df, "i", "c")
    m = {r["i"]: (r["a"], r["b"]) for r in out.collect()}
    assert m == {1: (True, False), 2: (False, True)}


def test_melt_roundtrip(spark):
    df = spark.createDataFrame([Row(k=1, a=1.0, b=2.0)])
    long = reshape.melt(df, ["k"], ["a", "b"])
    assert long.count() == 2
    wide = reshape.pivot_wide(long, "k", "variable", "value")
    row = wide.collect()[0]
    assert (row["a"], row["b"]) == (1.0, 2.0)


# ---------------------------------------------------------------- select
def test_build_predicate_scalar_and_list(spark):
    df = spark.createDataFrame(
        [Row(a=1, b="x"), Row(a=2, b="x"), Row(a=1, b="y")]
    )
    out = sel.select(df, filters={"a": [1], "b": "x"})
    assert out.count() == 1


def test_select_where_string(spark):
    df = spark.createDataFrame([Row(a=1), Row(a=5)])
    assert sel.select(df, where="a > 2").count() == 1


# ---------------------------------------------------------------- window
def test_top_k_per_group_deterministic(spark):
    df = spark.createDataFrame(
        [Row(g=1, v=10.0, id=1), Row(g=1, v=10.0, id=2), Row(g=1, v=5.0, id=3)]
    )
    out = win.top_k_per_group(df, ["g"], [F.col("v").desc(), F.col("id")], k=2)
    assert [r["id"] for r in out.orderBy("rn").collect()] == [1, 2]


# ---------------------------------------------------------------- aggregate
def test_exact_percentiles_matches_builtin(spark):
    import random

    from etl_io_spark.operators import aggregate as agg

    rng = random.Random(7)
    rows = [
        Row(g=g, v=round(rng.uniform(0, 1000), 3))
        for g in ("a", "b")
        for _ in range(rng.choice([37, 101]))
    ]
    df = spark.createDataFrame(rows)
    ours = {
        r["g"]: (r["p25"], r["p50"], r["p75"])
        for r in agg.exact_percentiles(
            df, ["g"], "v", (0.25, 0.5, 0.75), round_to=4
        ).collect()
    }
    ref = {
        r["g"]: tuple(round(x, 4) for x in r["p"])
        for r in df.groupBy("g")
        .agg(F.expr("percentile(v, array(0.25D,0.5D,0.75D))").alias("p"))
        .collect()
    }
    assert ours == ref


def test_weighted_percentiles_hand_computed(spark):
    from etl_io_spark.operators import aggregate as agg

    # weights: 10.0 -> 1, 20.0 -> 3, 30.0 -> 6 (total 10)
    # cum: 10.0 -> 1, 20.0 -> 4, 30.0 -> 10
    df = spark.createDataFrame(
        [("g", 10.0, 1), ("g", 20.0, 2), ("g", 20.0, 1), ("g", 30.0, 6)],
        "g string, v double, w int",
    )
    row = agg.weighted_percentiles(df, ["g"], "v", "w", (0.1, 0.4, 0.5, 0.9)).collect()[0]
    assert row["wp10"] == 10.0  # cum 1 >= 1.0
    assert row["wp40"] == 20.0  # cum 4 >= 4.0 (boundary hits the value)
    assert row["wp50"] == 30.0  # cum 4 < 5.0 -> next value
    assert row["wp90"] == 30.0


def test_weighted_percentiles_excludes_null_values_and_weights(spark):
    from etl_io_spark.operators import aggregate as agg

    # NULL value rows and NULL weight rows must not affect the result:
    # a NULL value is not a value <= anything (and Spark would sort it
    # FIRST while DuckDB sorts it LAST), and a NULL-weight value must
    # not surface as a zero-weight selectable row (ADVICE r10).
    clean = spark.createDataFrame(
        [("g", 10.0, 1), ("g", 20.0, 3), ("g", 30.0, 6)],
        "g string, v double, w int",
    )
    dirty = spark.createDataFrame(
        [
            ("g", 10.0, 1),
            ("g", 20.0, 3),
            ("g", 30.0, 6),
            ("g", None, 100),  # NULL value with huge weight
            ("g", 5.0, None),  # NULL weight on the smallest value
        ],
        "g string, v double, w int",
    )
    qs = (0.1, 0.5, 0.9)
    want = agg.weighted_percentiles(clean, ["g"], "v", "w", qs).collect()[0]
    got = agg.weighted_percentiles(dirty, ["g"], "v", "w", qs).collect()[0]
    assert got.asDict() == want.asDict()


def test_exact_percentiles_targeting_matches_window(spark):
    # r12-opt: the rank-targeting plan (forced via n_buckets) must be
    # bit-identical to the single-window plan (n_buckets=0) — duplicates,
    # negatives, all-equal groups, NULL rows, n=1 groups
    import random

    from etl_io_spark.operators import aggregate as agg

    rng = random.Random(13)
    rows = [
        Row(g=f"g{g}", v=float(rng.choice([-5.5, -1.0, 0.0, 2.25, 7.0, 7.0])))
        for g in range(5)
        for _ in range(rng.choice([1, 2, 50, 301]))
    ]
    rows += [Row(g="eq", v=3.0)] * 9 + [Row(g="nl", v=None), Row(g="nl", v=4.0)]
    df = spark.createDataFrame(rows)
    qs = (0.0, 0.1, 0.5, 0.77, 1.0)
    win = agg.exact_percentiles(df, ["g"], "v", qs, 4, n_buckets=0)
    tgt = agg.exact_percentiles(df, ["g"], "v", qs, 4, n_buckets=64)
    assert win.exceptAll(tgt).count() == 0
    assert tgt.exceptAll(win).count() == 0


def test_exact_percentiles_auto_gate_group_cardinality(spark):
    # r13-opt (VERDICT r12 ask #3): 'auto' must NOT pick the targeting
    # plan — whose per-group stats/ranks frames are force-broadcast —
    # when the grouping key is high-cardinality. createDataFrame inputs
    # have unknown leaf stats (read as huge), so 'auto' enters the
    # big-input branch and the group-cardinality probe must steer a
    # many-groups frame back to the window plan; a few-groups frame of
    # the same size stays on targeting.
    from etl_io_spark.operators import aggregate as agg

    hi = spark.createDataFrame(
        [Row(g=i, v=float(i % 97)) for i in range(4000)]
    )
    # shrink the broadcast budget so 4000 groups overflow it
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(256 * 1024))
    try:
        hi_plan = agg.exact_percentiles(
            hi, ["g"], "v", (0.5,), n_buckets="auto"
        )._jdf.queryExecution().executedPlan().toString()
        lo = spark.createDataFrame(
            [Row(g=i % 3, v=float(i % 97)) for i in range(4000)]
        )
        lo_plan = agg.exact_percentiles(
            lo, ["g"], "v", (0.5,), n_buckets="auto"
        )._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # window plan marker: the row_number window column; targeting
    # markers: the bucket/prefix working columns
    assert "__rn" in hi_plan and "__prefix" not in hi_plan
    assert "__prefix" in lo_plan and "__rn" not in lo_plan


def test_exact_percentiles_auto_broadcast_disabled(spark):
    # autoBroadcastJoinThreshold=-1 (budget 0) must keep 'auto' off the
    # force-broadcast targeting plan, and must not spend the eager
    # approx-distinct probe job deciding so. Few groups over an
    # unknown-stats input would otherwise pick targeting.
    from etl_io_spark.operators import aggregate as agg

    df = spark.createDataFrame(
        [Row(g=i % 3, v=float(i % 97)) for i in range(400)]
    )
    sc = spark.sparkContext
    st = sc.statusTracker()
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    sc.setJobGroup("pct_no_broadcast", "exact_percentiles construction")
    try:
        out = agg.exact_percentiles(df, ["g"], "v", (0.5,), n_buckets="auto")
        jobs = st.getJobIdsForGroup("pct_no_broadcast")
    finally:
        sc.setJobGroup(None, None)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert list(jobs) == []
    assert "__rn" in plan and "__prefix" not in plan


def test_exact_percentiles_rejects_bad_gate_and_clash(spark):
    import pytest as _pytest

    from etl_io_spark.operators import aggregate as agg

    df = spark.createDataFrame([Row(g="x", v=1.0)])
    with _pytest.raises(ValueError, match="auto"):
        agg.exact_percentiles(df, ["g"], "v", (0.5,), n_buckets="Auto")
    clash = df.withColumnRenamed("v", "__k")
    with _pytest.raises(ValueError, match="reserve"):
        agg.exact_percentiles(clash, ["g"], "__k", (0.5,))


def test_exact_percentiles_single_row_group(spark):
    from etl_io_spark.operators import aggregate as agg

    df = spark.createDataFrame([Row(g="x", v=42.0)])
    row = agg.exact_percentiles(df, ["g"], "v", (0.0, 0.5, 1.0)).collect()[0]
    assert (row["p0"], row["p50"], row["p100"]) == (42.0, 42.0, 42.0)


def test_funnel_steps_ordering_and_window(spark):
    from datetime import datetime as dt

    from etl_io_spark.operators import window as w

    rows = [
        # u1 completes all three in order within windows
        Row(u=1, ts=dt(2024, 1, 1, 0, 0), t="view"),
        Row(u=1, ts=dt(2024, 1, 1, 0, 10), t="click"),
        Row(u=1, ts=dt(2024, 1, 1, 0, 20), t="purchase"),
        # u2: click BEFORE view -> doesn't count; no click after
        Row(u=2, ts=dt(2024, 1, 1, 0, 5), t="click"),
        Row(u=2, ts=dt(2024, 1, 1, 0, 6), t="view"),
        # u3: click after view but outside the 30-minute window
        Row(u=3, ts=dt(2024, 1, 1, 0, 0), t="view"),
        Row(u=3, ts=dt(2024, 1, 1, 1, 0), t="click"),
        # u4 never views -> not in funnel
        Row(u=4, ts=dt(2024, 1, 1, 0, 0), t="purchase"),
    ]
    df = spark.createDataFrame(rows)
    out = {
        r["u"]: (r["depth"], r["t2"])
        for r in w.funnel_steps(
            df, "u", "ts", "t", ("view", "click", "purchase"), "30 minutes"
        ).collect()
    }
    assert out[1][0] == 3
    assert out[2] == (1, None)
    assert out[3] == (1, None)
    assert 4 not in out


def test_cohort_retention_hand_computed(spark):
    from datetime import datetime as dt

    from etl_io_spark.operators import aggregate as agg

    rows = [
        Row(u=1, ts=dt(2024, 1, 1, 9)),   # cohort day 1
        Row(u=1, ts=dt(2024, 1, 1, 10)),  # same day, dedups
        Row(u=1, ts=dt(2024, 1, 3, 9)),   # offset 2
        Row(u=2, ts=dt(2024, 1, 1, 9)),   # cohort day 1
        Row(u=3, ts=dt(2024, 1, 2, 9)),   # cohort day 2
    ]
    out = {
        (str(r["cohort_day"]), r["day_offset"]): r["active_users"]
        for r in agg.cohort_retention(
            spark.createDataFrame(rows), "u", "ts"
        ).collect()
    }
    assert out == {
        ("2024-01-01", 0): 2,
        ("2024-01-01", 2): 1,
        ("2024-01-02", 0): 1,
    }


def test_connected_components_nan_ids_agree_across_paths(spark):
    """Float NaN ids pass the isNotNull edge filter; the driver
    union-find must give them the same treatment as the distributed
    loop (all NaNs are ONE node that sorts greatest — Spark grouping
    treats NaNs as equal). The default pd.factorize sentinel (-1) used
    to resolve through Python negative indexing into the max-id
    component."""
    import math

    from etl_io_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1.0, 2.0), (float("nan"), 3.0), (4.0, float("nan")), (5.0, 6.0)],
        "a double, b double",
    )

    def canon(df):
        def key(v):
            return (1, 0.0) if (isinstance(v, float) and math.isnan(v)) else (0, v)

        return sorted(
            (key(r["id"]), key(r["cluster_id"])) for r in df.collect()
        )

    # no silent row-by-row fallback: the driver path's Arrow conversion
    # must accept the NaN ids itself
    key = "spark.sql.execution.arrow.pyspark.fallback.enabled"
    orig = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        fast = canon(connected_components(pairs, "a", "b"))
        slow = canon(connected_components(pairs, "a", "b", max_driver_edges=0))
    finally:
        spark.conf.set(key, orig)
    assert fast == slow
    # NaN bridges 3.0 and 4.0: {1,2}, {3,4,NaN}, {5,6} = 7 nodes
    assert len(fast) == 7
