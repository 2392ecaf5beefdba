"""Graded-query registry: every implemented operator exposed as a
(spark, sf_dir) -> DataFrame callable plus its DuckDB oracle SQL.

``__spark_entry__.py`` (driver contract) re-exports this. Keeping the
registry in-package lets tests, bench.py and the driver all run the exact
same plans.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_io_spark.catalog import TableCatalog
from etl_io_spark.functions import cleaning
from etl_io_spark.operators import aggregate as agg
from etl_io_spark.operators import joins, reshape, select as sel, window as win
from etl_io_spark.partitioning import CPU_HEAVY_FLOOR, parallelize
from etl_io_spark.plans import pipelines

QueryFn = Callable[[SparkSession, str], DataFrame]

#: name -> (query_fn, oracle_sql | None)
_REGISTRY: dict[str, tuple[QueryFn, str | None]] = {}


def register(name: str, sql: str | None = None):
    """Decorator: add a (spark, sf_dir) -> DataFrame query with its oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        _REGISTRY[name] = (fn, sql)
        return fn

    return deco


#: Explicit grading-window order. The driver grades the FIRST 50 entries of
#: ``queries()``; this list pins those 50 to one oracle-checkable query per
#: distinct operator (SURVEY.md §2 core + §2.8 pipelines + LLM-pipeline ops).
#: Everything not listed follows in registration order and is still covered
#: by the stricter local gate (tools/check.py) and pytest.
_WINDOW_ORDER: tuple[str, ...] = (
    # Round-12 rotation (VERDICT r11 ask #2: stalest-graded cohort).
    # Priority slots (7): the 3 keys ADDED this round (new keys always
    # enter the window the round they land), the 3 keys whose operator
    # or oracle changed in the r11-ADVICE hardening pass
    # (conversion_attribution_events: NULL event_type exclusion;
    # impute_interpolate_events: coincident-neighbor divide-by-zero
    # guard; weighted_percentiles_prices: reserved-working-name guard),
    # and dsir_weights_docs, whose operator was perf-rewritten this
    # round (index-explode feature stream; values unchanged — changed
    # code always re-grades). Then the ENTIRE last-driver-graded-r6
    # cohort (26 — the stalest oracled keys in the registry) and a
    # 17-key diverse slice of the 33-key last-graded-r7 cohort
    # (sources/pipelines, SCD, embeddings, training, windows,
    # aggregates); the remaining 16 r7 keys rotate in r13
    # (grouping_sets_flags and rfm_segments ceded their drafted slots
    # to the late-landed bpe_token_counts_docs and the dsir re-entry).
    # No oracled key's latest grading is older than r6 going in, and
    # none will be older than r7 coming out. All 50 swept with
    # tools/hash_parity.py at sf0.01 + sf0.1 BEFORE this rotation
    # shipped (HASHPARITY_r12.log + addenda); rows-only keys stay
    # excluded (they can only return `err: no_oracle`).
    # Totals: 7 + 26 + 17 = 50.
    #
    # -- priority: keys ADDED in r12 (3)
    "bpe_train_merges", "survival_curve_censored_users",
    "bpe_token_counts_docs",
    # -- priority: operator/oracle changed in r12 (4; dsir re-enters
    #    for the index-explode perf rewrite, values unchanged)
    "conversion_attribution_events", "impute_interpolate_events",
    "weighted_percentiles_prices", "dsir_weights_docs",
    # -- sentinels: stalest, last graded r6 (26 = the full cohort)
    "incremental_dedup", "cross_source_dups", "snm_neardup_docs",
    "segment_dedup_docs", "dedup_yield", "lsh_eval", "fuzzy_name_pairs",
    "ks_test_values", "leadlag_correlation", "corr_stats_flags",
    "mutual_information_flags", "revenue_gini", "zipf_exponent",
    "robust_anomaly_events", "sole_late_suppliers", "shipping_priority",
    "regional_revenue", "nations_trade_volume", "small_quantity_revenue",
    "ewma_events", "twap_events", "resample_ffill_events",
    "sessionize_events", "readability_docs", "target_encode_orders",
    "rendezvous_shards_docs",
    # -- sentinels: last graded r7, diverse slice (17 of 33; the
    #    other 16 rotate in r13)
    "select_project_filter", "group_count", "window_topk_per_group",
    "embedding_neardup", "split_assign", "stratified_sample",
    "weighted_mix", "profile_lineitem", "dq_violations",
    "merge_upsert_customer", "scd2_snapshot_lookup",
    "changelog_compaction", "snapshot_diff_orders", "zorder_code_orders",
    "anomaly_zscore_events", "embedding_centroids", "kmeans_embeddings",
)


def _ordered() -> dict[str, tuple[QueryFn, str | None]]:
    head = {k: _REGISTRY[k] for k in _WINDOW_ORDER if k in _REGISTRY}
    tail = {k: v for k, v in _REGISTRY.items() if k not in head}
    return {**head, **tail}


def queries() -> dict[str, QueryFn]:
    return {k: fn for k, (fn, _) in _ordered().items()}


def oracle_sql() -> dict[str, str]:
    return {k: sql for k, (_, sql) in _ordered().items() if sql is not None}


_CAT_CACHE: dict[tuple[int, str], TableCatalog] = {}


def _cat(spark: SparkSession, sf_dir: str) -> TableCatalog:
    """Memoized per (session, root): catalog construction registers ten
    views, each costing a JVM ``read.parquet`` schema probe plus a
    pyarrow footer scan — ~0.5-0.8 s of pure driver time that used to be
    paid by EVERY query construction (the dominant share of the ~1 s
    per-query floor in BASELINE.md). Views live in the session, so reuse
    is exactly equivalent; a fresh session (new id) re-registers."""
    key = (id(spark), os.path.abspath(sf_dir))
    cat = _CAT_CACHE.get(key)
    if cat is None or cat.spark is not spark:
        cat = TableCatalog(spark, sf_dir)
        _CAT_CACHE[key] = cat
    return cat


# --------------------------------------------------------------------------
# Flagship (Q2 "awards" shape)
# --------------------------------------------------------------------------
@register("pricing_summary", pipelines.PRICING_SUMMARY_SQL)
def _pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pipelines.pricing_summary(_cat(spark, sf_dir))


# --------------------------------------------------------------------------
# S2/S3 + P1/P3/P4: parameterized projected scan with scalar-or-list filters
# --------------------------------------------------------------------------
@register(
    "select_project_filter",
    """
    SELECT c_custkey, c_name, ROUND(c_acctbal, 2) AS c_acctbal
    FROM customer
    WHERE c_nationkey IN (1, 2, 3) AND c_mktsegment = 'BUILDING'
    """,
)
def _select_project_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = sel.select(
        _cat(spark, sf_dir).table("customer"),
        columns=["c_custkey", "c_name", "c_acctbal"],
        filters={"c_nationkey": [1, 2, 3], "c_mktsegment": "BUILDING"},
    )
    return df.withColumn("c_acctbal", F.round("c_acctbal", 2))


# --------------------------------------------------------------------------
# P7 + P9: string-length predicate (CIP hierarchy-level shape) + distinct
# --------------------------------------------------------------------------
@register(
    "filter_length_distinct",
    "SELECT DISTINCT p_brand FROM part WHERE LENGTH(p_brand) = 8",
)
def _filter_length_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = sel.where_length(_cat(spark, sf_dir).table("part"), "p_brand", 8)
    return sel.distinct_rows(df.select("p_brand"))


# --------------------------------------------------------------------------
# P8: null-drop (nulls manufactured via NULLIF so the op actually fires)
# --------------------------------------------------------------------------
@register(
    "drop_nulls_filter",
    """
    SELECT c_custkey, bal FROM (
      SELECT c_custkey, ROUND(NULLIF(GREATEST(c_acctbal, 0), 0), 2) AS bal
      FROM customer
    ) WHERE bal IS NOT NULL
    """,
)
def _drop_nulls_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _cat(spark, sf_dir).table("customer").select(
        "c_custkey",
        F.round(F.nullif(F.greatest("c_acctbal", F.lit(0.0)), F.lit(0.0)), 2).alias("bal"),
    )
    return sel.drop_nulls(df, subset=["bal"])


# --------------------------------------------------------------------------
# F1 + F2: dict decode with unmapped-passthrough + bulk rename
# --------------------------------------------------------------------------
@register(
    "decode_rename",
    """
    SELECT s_suppkey AS supplier_id,
           CASE CAST(s_nationkey AS VARCHAR)
             WHEN '0' THEN 'ALGERIA' WHEN '1' THEN 'ARGENTINA'
             WHEN '2' THEN 'BRAZIL'
             ELSE CAST(s_nationkey AS VARCHAR)
           END AS nation_label
    FROM supplier
    """,
)
def _decode_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _cat(spark, sf_dir).table("supplier").select("s_suppkey", "s_nationkey")
    df = cleaning.decode_map(
        df, {"s_nationkey": {0: "ALGERIA", 1: "ARGENTINA", 2: "BRAZIL"}}
    )
    return cleaning.rename_columns(
        df, {"s_suppkey": "supplier_id", "s_nationkey": "nation_label"}
    )


# --------------------------------------------------------------------------
# J1 + F4: fact × broadcast dim chain + human-readable concat label
# --------------------------------------------------------------------------
@register(
    "dim_join_label",
    """
    SELECT s_suppkey, s_name, n_name || ', ' || r_name AS geo_label
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    """,
)
def _dim_join_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _cat(spark, sf_dir)
    sup = c.table("supplier").withColumnRenamed("s_nationkey", "n_nationkey")
    df = joins.dim_join(sup, c.table("nation"), on="n_nationkey")
    df = joins.dim_join(
        df.withColumnRenamed("n_regionkey", "r_regionkey"),
        c.table("region"),
        on="r_regionkey",
    )
    return df.select(
        "s_suppkey", "s_name", cleaning.concat_label("n_name", "r_name").alias("geo_label")
    )


# --------------------------------------------------------------------------
# J4: semi-join filter (the reference's collect-IDs-into-IN, kept on-cluster)
# --------------------------------------------------------------------------
@register(
    "semi_join_filter",
    """
    SELECT o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice
    FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
    """,
)
def _semi_join_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _cat(spark, sf_dir)
    keys = c.table("customer").where(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("o_custkey")
    )
    df = joins.semi_join_filter(c.table("orders"), keys, on="o_custkey")
    return df.select("o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"))


# --------------------------------------------------------------------------
# anti-join: keys with no match
# --------------------------------------------------------------------------
@register(
    "anti_join",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    """,
)
def _anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _cat(spark, sf_dir)
    keys = (
        c.table("orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return joins.anti_join(c.table("customer"), keys, on="c_custkey").select(
        "c_custkey", "c_name"
    )


# --------------------------------------------------------------------------
# Q7 translate: crosswalk dedup→dropna→chained joins (J2/J3)
# --------------------------------------------------------------------------
@register(
    "translate_crosswalk",
    """
    SELECT c_custkey, c_mktsegment, n_regionkey, r_name
    FROM customer
    JOIN (SELECT DISTINCT n_nationkey, n_regionkey FROM nation
          WHERE n_nationkey IS NOT NULL AND n_regionkey IS NOT NULL) xw
      ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    """,
)
def _translate_crosswalk(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _cat(spark, sf_dir)
    data = c.table("customer").withColumnRenamed("c_nationkey", "n_nationkey")
    data_2 = c.table("region").withColumnRenamed("r_regionkey", "n_regionkey")
    out = joins.translate(
        data, c.table("nation"), left="n_nationkey", right="n_regionkey", data_2=data_2
    )
    return out.select("c_custkey", "c_mktsegment", "n_regionkey", "r_name")


# --------------------------------------------------------------------------
# F6: stringified-list parse + explode (Rosetta cip_2020 shape)
# --------------------------------------------------------------------------
@register(
    "explode_list_column",
    """
    SELECT code, COUNT(*) AS n FROM (
      SELECT UNNEST([CAST(n_nationkey AS VARCHAR), CAST(n_regionkey AS VARCHAR)]) AS code
      FROM nation
    ) GROUP BY code
    """,
)
def _explode_list_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    # build the reference's stringified-list column ("['a', 'b']"), then
    # parse with from_json and explode natively (etl_io.py:924-934)
    df = _cat(spark, sf_dir).table("nation").select(
        F.format_string("['%s', '%s']", "n_nationkey", "n_regionkey").alias("lst")
    )
    df = joins.parse_list_column(df, "lst")
    df = df.select(F.explode("lst").alias("code"))
    return agg.group_count(df, ["code"], "code", alias="n")


# --------------------------------------------------------------------------
# A3/A4: group count (programs-per-CIP shape)
# --------------------------------------------------------------------------
@register(
    "group_count",
    """
    SELECT l_partkey, COUNT(l_orderkey) AS prog_count
    FROM lineitem GROUP BY l_partkey
    """,
)
def _group_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return agg.group_count(
        _cat(spark, sf_dir).table("lineitem"), ["l_partkey"], "l_orderkey", "prog_count"
    )


# --------------------------------------------------------------------------
# A5/A6 intent: count distinct per group (schools-per-geo shape)
# --------------------------------------------------------------------------
@register(
    "count_distinct_group",
    """
    SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_distinct
    FROM orders GROUP BY o_orderpriority
    """,
)
def _count_distinct_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    return agg.group_count_distinct(
        _cat(spark, sf_dir).table("orders"), ["o_orderpriority"], "o_custkey"
    )


# --------------------------------------------------------------------------
# A7: group product (IM×LV scale-multiply shape)
# --------------------------------------------------------------------------
@register(
    "group_product",
    """
    SELECT l_orderkey, ROUND(PRODUCT(1 + l_discount), 6) AS product
    FROM lineitem GROUP BY l_orderkey
    """,
)
def _group_product(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _cat(spark, sf_dir).table("lineitem").select(
        "l_orderkey", (F.lit(1) + F.col("l_discount")).alias("gross")
    )
    out = agg.group_product(df, ["l_orderkey"], "gross")
    return out.withColumn("product", F.round("product", 6))


# --------------------------------------------------------------------------
# rollup / cube (geo × CIP-level hierarchy shape)
# --------------------------------------------------------------------------
@register(
    "rollup_geo",
    """
    SELECT r_name, n_name, ROUND(SUM(c_acctbal), 2) AS sum_c_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def _rollup_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _cat(spark, sf_dir)
    df = (
        c.table("customer")
        .withColumnRenamed("c_nationkey", "n_nationkey")
        .join(c.table("nation"), "n_nationkey")
        .withColumnRenamed("n_regionkey", "r_regionkey")
        .join(c.table("region"), "r_regionkey")
    )
    out = agg.rollup_sum(df, ["r_name", "n_name"], ["c_acctbal"])
    return out.withColumn("sum_c_acctbal", F.round("sum_c_acctbal", 2))


@register(
    "cube_flags",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def _cube_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _cat(spark, sf_dir)
        .table("lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --------------------------------------------------------------------------
# R1/R2: long→wide pivot (quant_view shape, etl_io.py:822-825)
# --------------------------------------------------------------------------
@register(
    "pivot_returnflag",
    """
    SELECT l_linestatus,
           ROUND(SUM(CASE WHEN l_returnflag = 'A' THEN l_quantity END), 2) AS A,
           ROUND(SUM(CASE WHEN l_returnflag = 'N' THEN l_quantity END), 2) AS N,
           ROUND(SUM(CASE WHEN l_returnflag = 'R' THEN l_quantity END), 2) AS R
    FROM lineitem GROUP BY l_linestatus
    """,
)
def _pivot_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = reshape.pivot_wide(
        _cat(spark, sf_dir).table("lineitem"),
        index="l_linestatus",
        pivot_col="l_returnflag",
        value_col="l_quantity",
        values=["A", "N", "R"],
        agg_fn=lambda c: F.round(F.sum(c), 2),
    )
    return out


# --------------------------------------------------------------------------
# R3: one-hot encode (qual_view shape, etl_io.py:870-871)
# --------------------------------------------------------------------------
@register(
    "one_hot_priority",
    """
    SELECT o_orderkey,
           COALESCE(BOOL_OR(o_orderpriority = '1-URGENT'), false)        AS "1-URGENT",
           COALESCE(BOOL_OR(o_orderpriority = '2-HIGH'), false)          AS "2-HIGH",
           COALESCE(BOOL_OR(o_orderpriority = '3-MEDIUM'), false)        AS "3-MEDIUM",
           COALESCE(BOOL_OR(o_orderpriority = '4-NOT SPECIFIED'), false) AS "4-NOT SPECIFIED",
           COALESCE(BOOL_OR(o_orderpriority = '5-LOW'), false)           AS "5-LOW"
    FROM orders GROUP BY o_orderkey
    """,
)
def _one_hot_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    return reshape.one_hot(
        _cat(spark, sf_dir).table("orders"),
        index="o_orderkey",
        category_col="o_orderpriority",
        values=["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
    )


# --------------------------------------------------------------------------
# melt: wide→long unpivot (inverse of R1)
# --------------------------------------------------------------------------
@register(
    "melt_unpivot",
    """
    SELECT p_partkey, 'p_size' AS variable, CAST(p_size AS DOUBLE) AS value FROM part
    UNION ALL
    SELECT p_partkey, 'p_retailprice', p_retailprice FROM part
    """,
)
def _melt_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _cat(spark, sf_dir).table("part").select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        "p_retailprice",
    )
    return reshape.melt(df, ["p_partkey"], ["p_size", "p_retailprice"])


# --------------------------------------------------------------------------
# window: top-k per group, running sum, lag
# --------------------------------------------------------------------------
@register(
    "window_topk_per_group",
    """
    SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice, rn
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def _window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = win.top_k_per_group(
        _cat(spark, sf_dir).table("orders").select("o_custkey", "o_orderkey", "o_totalprice"),
        partition_by=["o_custkey"],
        order_by=[F.col("o_totalprice").desc(), F.col("o_orderkey")],
        k=3,
    )
    return out.withColumn("o_totalprice", F.round("o_totalprice", 2))


@register(
    "window_running_sum",
    """
    SELECT o_custkey, o_orderkey,
           ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey), 2) AS run_total
    FROM orders
    """,
)
def _window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = win.running_agg(
        _cat(spark, sf_dir).table("orders").select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"),
        partition_by=["o_custkey"],
        order_by=["o_orderdate", "o_orderkey"],
        col="o_totalprice",
        alias="run_total",
    )
    return out.select("o_custkey", "o_orderkey", F.round("run_total", 2).alias("run_total"))


@register(
    "window_lag",
    """
    SELECT o_custkey, o_orderkey,
           ROUND(LAG(o_totalprice, 1) OVER (PARTITION BY o_custkey
                                            ORDER BY o_orderdate, o_orderkey), 2) AS prev_price
    FROM orders
    """,
)
def _window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = win.lag_lead(
        _cat(spark, sf_dir).table("orders").select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"),
        partition_by=["o_custkey"],
        order_by=["o_orderdate", "o_orderkey"],
        col="o_totalprice",
        offset=1,
        alias="prev_price",
    )
    return out.select("o_custkey", "o_orderkey", F.round("prev_price", 2).alias("prev_price"))


# --------------------------------------------------------------------------
# set ops
# --------------------------------------------------------------------------
@register(
    "set_intersect",
    """
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def _set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _cat(spark, sf_dir).table("orders")
    f = o.where(F.col("o_orderstatus") == "F").select("o_custkey")
    op = o.where(F.col("o_orderstatus") == "O").select("o_custkey")
    return f.intersect(op)


@register(
    "set_except",
    """
    SELECT c_custkey FROM customer
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def _set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _cat(spark, sf_dir)
    had_f = (
        c.table("orders")
        .where(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return c.table("customer").select("c_custkey").exceptAll(had_f).distinct()


@register(
    "set_union_counts",
    """
    SELECT kind, COUNT(*) AS n FROM (
      SELECT 'cust' AS kind, c_custkey AS k FROM customer
      UNION ALL
      SELECT 'supp' AS kind, s_suppkey AS k FROM supplier
    ) GROUP BY kind
    """,
)
def _set_union_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _cat(spark, sf_dir)
    u = c.table("customer").select(
        F.lit("cust").alias("kind"), F.col("c_custkey").alias("k")
    ).unionByName(
        c.table("supplier").select(F.lit("supp").alias("kind"), F.col("s_suppkey").alias("k"))
    )
    return u.groupBy("kind").agg(F.count(F.lit(1)).alias("n"))


# --------------------------------------------------------------------------
# F3: zero-pad dotted code normalization (CIP shape, etl_io.py:374-381)
# --------------------------------------------------------------------------
@register(
    "normalize_codes",
    """
    SELECT norm, COUNT(*) AS n FROM (
      SELECT CASE WHEN p_partkey % 3 = 0
                  THEN LPAD(CAST(p_size % 10 AS VARCHAR), 2, '0')
                  ELSE LPAD(CAST(p_size % 10 AS VARCHAR), 2, '0') || '.' ||
                       CAST(p_partkey % 100 AS VARCHAR)
             END AS norm
      FROM part
    ) GROUP BY norm
    """,
)
def _normalize_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    # build dotted / undotted raw codes like '1.1001' / '7', then normalize
    df = _cat(spark, sf_dir).table("part").select(
        F.when(
            F.col("p_partkey") % 3 == 0,
            (F.col("p_size") % 10).cast("string"),
        )
        .otherwise(
            F.format_string("%d.%d", F.col("p_size") % 10, F.col("p_partkey") % 100)
        )
        .alias("raw")
    )
    df = df.select(cleaning.normalize_code("raw").alias("norm"))
    return agg.group_count(df, ["norm"], "norm", alias="n")


# --------------------------------------------------------------------------
# JSON extraction on events.props (F6-adjacent; SURVEY.md §2.6 note)
# --------------------------------------------------------------------------
@register(
    "json_extract_events",
    """
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
    FROM events GROUP BY event_type
    """,
)
def _json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _cat(spark, sf_dir).table("events").select(
        "event_type",
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
    )
    return df.groupBy("event_type").agg(F.sum("k").alias("sum_k"))


# --------------------------------------------------------------------------
# events: tumbling window aggregation (batch-mode parity of the streaming op)
# --------------------------------------------------------------------------
@register(
    "events_tumbling_window",
    """
    SELECT time_bucket(INTERVAL '10 minutes', CAST(ts AS TIMESTAMP)) AS window_start,
           event_type,
           COUNT(*) AS n,
           ROUND(SUM(value), 2) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def _events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _cat(spark, sf_dir).table("events")
    return (
        df.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )


# --------------------------------------------------------------------------
# global top-k (TakeOrderedAndProject)
# --------------------------------------------------------------------------
@register(
    "top_k_orders",
    """
    SELECT o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
    """,
)
def _top_k_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = sel.top_k(
        _cat(spark, sf_dir).table("orders").select("o_orderkey", "o_totalprice"),
        order_by=[F.col("o_totalprice").desc(), F.col("o_orderkey")],
        k=100,
    )
    return out.withColumn("o_totalprice", F.round("o_totalprice", 2))


# ==========================================================================
# North-star extensions: dedup / similarity / text analysis
# ==========================================================================
from etl_io_spark.operators import dedup, similarity, text  # noqa: E402

#: DuckDB-side 60-bit md5 hash (parity with text.hash60; see text.py)
_H = "CAST(('0x' || substring(md5({s}),1,15)) AS BIGINT)"

#: shared oracle CTEs: whitespace tokens, distinct hashed 3-gram shingles
_SHINGLE_CTE = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, {_H.format(s='g')} AS sh FROM (
    SELECT doc_id,
           UNNEST([l[i] || ' ' || l[i+1] || ' ' || l[i+2]
                   for i in generate_series(1, len(l) - 2)]) AS g
    FROM toks)
)
"""


@register(
    "dedup_exact",
    """
    SELECT text AS content_key, MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
    FROM documents GROUP BY text
    """,
)
def _dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(_cat(spark, sf_dir).table("documents"), "doc_id", "text")


@register(
    "dedup_exact_hash",
    f"""
    SELECT {_H.format(s='text')} AS content_key,
           MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
    FROM documents GROUP BY 1
    """,
)
def _dedup_exact_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(
        _cat(spark, sf_dir).table("documents"), "doc_id", "text", by_hash=True
    )


@register(
    "dedup_ngram_jaccard",
    _SHINGLE_CTE
    + """,
    sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i
      FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    )
    SELECT a, b,
           ROUND(i * 1.0 / (sa.sz + sb.sz - i), 6) AS jaccard
    FROM inter
    JOIN sz sa ON a = sa.doc_id
    JOIN sz sb ON b = sb.doc_id
    WHERE ROUND(i * 1.0 / (sa.sz + sb.sz - i), 6) >= 0.3
    """,
)
def _dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(
        _cat(spark, sf_dir).table("documents"), "doc_id", "text", n=3, threshold=0.3
    )


# near-dup cluster assignment: jaccard pairs → connected components →
# every document labeled with its component's min doc_id (canonical).
# Oracle walks the same graph with a recursive CTE (DuckDB's RECURSIVE
# keyword prefixes the whole WITH-list, so the shingle CTEs ride along).
_CLUSTERS_SQL = _SHINGLE_CTE.replace("WITH ", "WITH RECURSIVE ", 1) + """,
    sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i
      FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a, b FROM inter
      JOIN sz sa ON a = sa.doc_id
      JOIN sz sb ON b = sb.doc_id
      WHERE ROUND(i * 1.0 / (sa.sz + sb.sz - i), 6) >= 0.3
    ),
    edges AS (
      SELECT a AS src, b AS dst FROM pairs
      UNION ALL
      SELECT b AS src, a AS dst FROM pairs
    ),
    reach AS (
      SELECT src AS id, src AS r FROM edges
      UNION
      SELECT e.dst AS id, reach.r FROM reach JOIN edges e ON e.src = reach.id
    ),
    comp AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id)
    SELECT d.doc_id,
           COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
           COALESCE(c.cluster_id, d.doc_id) = d.doc_id AS is_canonical
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
"""


@register("dedup_clusters", _CLUSTERS_SQL)
def _dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _cat(spark, sf_dir).table("documents")
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.3)
    comp = dedup.connected_components(pairs, "a", "b")
    return docs.select("doc_id").join(
        comp, docs["doc_id"] == comp["id"], "left"
    ).select(
        docs["doc_id"],
        F.coalesce(comp["cluster_id"], docs["doc_id"]).alias("cluster_id"),
        (
            F.coalesce(comp["cluster_id"], docs["doc_id"]) == docs["doc_id"]
        ).alias("is_canonical"),
    )


def _minhash_oracle(num_perm: int = 16, bands: int = 4) -> str:
    """DuckDB replica of minhash_lsh_candidates (dedup.py)."""
    rpb = num_perm // bands
    p = dedup.MINHASH_P
    a = ", ".join(str(dedup._perm_a(j)) for j in range(num_perm))
    b = ", ".join(str(dedup._perm_b(j)) for j in range(num_perm))
    return (
        _SHINGLE_CTE
        + f""",
    perms AS (SELECT UNNEST(generate_series(0, {num_perm - 1})) AS j),
    sig AS (
      SELECT doc_id, j,
             MIN((([{a}][j+1]) * (sh % {p}) + ([{b}][j+1])) % {p}) AS minhash
      FROM sh, perms GROUP BY doc_id, j
    ),
    bkeys AS (
      SELECT doc_id, CAST(j // {rpb} AS INT) AS band,
             md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY j)) AS bkey
      FROM sig GROUP BY doc_id, CAST(j // {rpb} AS INT)
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      FROM bkeys x JOIN bkeys y ON x.band = y.band AND x.bkey = y.bkey
      WHERE x.doc_id < y.doc_id
    )
    SELECT a, b,
           ROUND(SUM(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 6) AS est_jaccard
    FROM cand
    JOIN sig sa ON sa.doc_id = a
    JOIN sig sb ON sb.doc_id = b AND sb.j = sa.j
    GROUP BY a, b
    """
    )


@register("dedup_minhash_lsh", _minhash_oracle())
def _dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_candidates(
        _cat(spark, sf_dir).table("documents"), "doc_id", "text", num_perm=16, bands=4
    )


# end-to-end fuzzy-dedup curation: LSH band candidates → similarity gate →
# connected components → keep the BEST-quality member of every cluster
# (dedup.py keep_best_of_clusters) — the full NeMo-curator-style pipeline
# as ONE graded plan; the oracle walks the same graph recursively.
def _fuzzy_keep_oracle(
    num_perm: int = 16, bands: int = 4, thr: float = 0.5
) -> str:
    rpb = num_perm // bands
    p = dedup.MINHASH_P
    a = ", ".join(str(dedup._perm_a(j)) for j in range(num_perm))
    b = ", ".join(str(dedup._perm_b(j)) for j in range(num_perm))
    return (
        _SHINGLE_CTE.replace("WITH ", "WITH RECURSIVE ", 1)
        + f""",
    perms AS (SELECT UNNEST(generate_series(0, {num_perm - 1})) AS j),
    sig AS (
      SELECT doc_id, j,
             MIN((([{a}][j+1]) * (sh % {p}) + ([{b}][j+1])) % {p}) AS minhash
      FROM sh, perms GROUP BY doc_id, j
    ),
    bkeys AS (
      SELECT doc_id, CAST(j // {rpb} AS INT) AS band,
             md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY j)) AS bkey
      FROM sig GROUP BY doc_id, CAST(j // {rpb} AS INT)
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      FROM bkeys x JOIN bkeys y ON x.band = y.band AND x.bkey = y.bkey
      WHERE x.doc_id < y.doc_id
    ),
    est AS (
      SELECT a, b FROM (
        SELECT a, b,
               ROUND(SUM(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END)
                     * 1.0 / COUNT(*), 6) AS ej
        FROM cand
        JOIN sig sa ON sa.doc_id = a
        JOIN sig sb ON sb.doc_id = b AND sb.j = sa.j
        GROUP BY a, b
      ) WHERE ej >= {thr}
    ),
    cedges AS (SELECT a AS src, b AS dst FROM est
               UNION ALL SELECT b AS src, a AS dst FROM est),
    reach AS (
      SELECT src AS id, src AS r FROM cedges
      UNION
      SELECT e.dst AS id, reach.r FROM reach JOIN cedges e ON e.src = reach.id
    ),
    comp AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
    lab AS (SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
                   d.n_chars
            FROM documents d LEFT JOIN comp c ON d.doc_id = c.id)
    SELECT doc_id, cluster_id,
           COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
           ROW_NUMBER() OVER (PARTITION BY cluster_id
                              ORDER BY n_chars DESC, doc_id ASC) = 1 AS keep
    FROM lab
    """
    )


@register("fuzzy_dedup_keep_best", _fuzzy_keep_oracle())
def _fuzzy_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full fuzzy-dedup curation in one plan (dedup.py
    minhash_lsh_candidates → est_jaccard ≥ 0.5 gate →
    keep_best_of_clusters): banded LSH candidates only (never all-pairs),
    O(log n) parquet-severed component rounds, then a per-cluster window
    keeps the longest member. The 100 TB default answer to "dedup this
    corpus and keep the best copy"."""
    docs = _cat(spark, sf_dir).table("documents")
    pairs = dedup.minhash_lsh_candidates(
        docs, "doc_id", "text", num_perm=16, bands=4
    ).where(F.col("est_jaccard") >= 0.5)
    return dedup.keep_best_of_clusters(docs, pairs, "doc_id", "n_chars")


def _incremental_gate_oracle(num_perm: int = 16, bands: int = 4) -> str:
    """DuckDB replica of dedup.incremental_neardup_gate: signatures/bands
    over all documents, corpus = doc_id % 10 <> 0, batch = % 10 = 0."""
    rpb = num_perm // bands
    p = dedup.MINHASH_P
    a = ", ".join(str(dedup._perm_a(j)) for j in range(num_perm))
    b = ", ".join(str(dedup._perm_b(j)) for j in range(num_perm))
    return (
        _SHINGLE_CTE
        + f""",
    perms AS (SELECT UNNEST(generate_series(0, {num_perm - 1})) AS j),
    sig AS (
      SELECT doc_id, j,
             MIN((([{a}][j+1]) * (sh % {p}) + ([{b}][j+1])) % {p}) AS minhash
      FROM sh, perms GROUP BY doc_id, j
    ),
    bkeys AS (
      SELECT doc_id, CAST(j // {rpb} AS INT) AS band,
             md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY j)) AS bkey
      FROM sig GROUP BY doc_id, CAST(j // {rpb} AS INT)
    ),
    cand AS (
      SELECT DISTINCT y.doc_id AS bid, x.doc_id AS cid
      FROM bkeys x JOIN bkeys y ON x.band = y.band AND x.bkey = y.bkey
      WHERE x.doc_id % 10 <> 0 AND y.doc_id % 10 = 0
    ),
    scored AS (
      SELECT bid, cid,
             ROUND(SUM(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END)
                   * 1.0 / COUNT(*), 6) AS est_jaccard
      FROM cand
      JOIN sig sa ON sa.doc_id = cid
      JOIN sig sb ON sb.doc_id = bid AND sb.j = sa.j
      GROUP BY bid, cid
      HAVING SUM(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END)
             * 1.0 / COUNT(*) >= 0.5
    ),
    best AS (
      SELECT bid, cid, est_jaccard,
             ROW_NUMBER() OVER (PARTITION BY bid
                                ORDER BY est_jaccard DESC, cid) AS rn
      FROM scored
    )
    SELECT d.doc_id, (b.bid IS NOT NULL) AS is_neardup,
           b.cid AS match_id, b.est_jaccard
    FROM documents d
    LEFT JOIN best b ON d.doc_id = b.bid AND b.rn = 1
    WHERE d.doc_id % 10 = 0
    """
    )


@register("incremental_neardup", _incremental_gate_oracle())
def _incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup ingestion gate (dedup.incremental_neardup_gate): a
    synthetic new-crawl batch (doc_id % 10 = 0) deduped against the rest
    of the corpus via LSH band collisions + signature agreement."""
    docs = _cat(spark, sf_dir).table("documents")
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    batch = docs.where(F.col("doc_id") % 10 == 0)
    return dedup.incremental_neardup_gate(corpus, batch, "doc_id", "text")


def _simhash_oracle(bits: int = 32) -> str:
    """DuckDB replica of dedup.simhash: per-bit majority of token hashes."""
    h = _H.format(s="t")
    sig = " + ".join(
        f"(CASE WHEN SUM(CASE WHEN (h >> {bb}) & 1 = 1 THEN 1 ELSE -1 END) >= 0 "
        f"THEN {2**bb} ELSE 0 END)"
        for bb in range(bits)
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, UNNEST(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS t
      FROM documents
    ),
    hashed AS (SELECT doc_id, {h} AS h FROM tok)
    SELECT doc_id, CAST({sig} AS BIGINT) AS simhash
    FROM hashed GROUP BY doc_id
    """


@register("dedup_simhash", _simhash_oracle())
def _dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash(
        _cat(spark, sf_dir).table("documents"), "doc_id", "text", bits=32
    )


# -- similarity ------------------------------------------------------------
#: sequential double-precision dot product in DuckDB (parity with
#: similarity.dot: left-fold, floats cast to double before multiply)
_DOT = (
    "list_reduce(list_prepend(0.0::DOUBLE, "
    "[{a}[i]::DOUBLE * {b}[i]::DOUBLE for i in generate_series(1, len({a}))]), "
    "(x, y) -> x + y)"
)
_NORM = (
    "sqrt(list_reduce(list_prepend(0.0::DOUBLE, "
    "[{a}[i]::DOUBLE * {a}[i]::DOUBLE for i in generate_series(1, len({a}))]), "
    "(x, y) -> x + y))"
)


@register(
    "similarity_topk",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
               WHERE vec_id < 5),
    scored AS (
      SELECT query_id, e.vec_id AS neighbor_id,
             ROUND({_DOT.format(a='e.embedding', b='qv')}
                   / ({_NORM.format(a='e.embedding')} * {_NORM.format(a='qv')}),
                   6) + 0.0 AS cosine_sim
      FROM embeddings e, q WHERE e.vec_id <> query_id
    )
    SELECT query_id, neighbor_id, cosine_sim, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine_sim DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
)
def _similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _cat(spark, sf_dir).table("embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.brute_force_topk(emb, queries, k=10)


@register(
    "hard_negatives",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS ql
               FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT query_id, e.vec_id AS neighbor_id, e.label AS neighbor_label,
             ROUND({_DOT.format(a='e.embedding', b='qv')}
                   / ({_NORM.format(a='e.embedding')} * {_NORM.format(a='qv')}),
                   6) + 0.0 AS cosine_sim
      FROM embeddings e, q WHERE e.label <> ql
    )
    SELECT query_id, neighbor_id, neighbor_label, cosine_sim, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine_sim DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
)
def _hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (similarity.hard_negatives): per query the
    most-similar vectors with a different label — the contrastive-training
    negatives a retriever learns most from. Broadcast query batch, corpus
    scanned once, label filter map-side."""
    emb = _cat(spark, sf_dir).table("embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding", "label"
    )
    return similarity.hard_negatives(emb, queries, k=10)


def _ann_lsh_oracle(planes: int = 4, tables: int = 4, dims: int = 64, k: int = 10) -> str:
    """Exact DuckDB replica of similarity.ann_lsh_topk: the md5-derived
    hyperplane signs (similarity._plane_signs) are deterministic, so bucket
    assignment is reproducible by inlining them. Signs are ±1, hence the
    projection ``0.0 + e[i] - e[j] ...`` is bit-identical to Spark's
    left-fold of ``cast(double) * (±1.0)`` — same fp rounding, same
    ``>= 0`` sign decisions, same candidate set."""
    from etl_io_spark.operators.similarity import _plane_signs

    bucket_cols = []
    for t in range(tables):
        signs = _plane_signs(planes, dims, table=t)
        terms = []
        for p, plane in enumerate(signs):
            proj = "0.0" + "".join(
                f" {'+' if s > 0 else '-'} embedding[{d + 1}]::DOUBLE"
                for d, s in enumerate(plane)
            )
            terms.append(f"(CASE WHEN ({proj}) >= 0 THEN {2 ** p} ELSE 0 END)")
        bucket_cols.append(" + ".join(terms) + f" AS b{t}")
    fan_case = " ".join(
        f"WHEN {t} THEN b{t}" for t in range(tables - 1)
    ) + f" ELSE b{tables - 1} END"
    fan_vals = ",".join(f"({t})" for t in range(tables))
    dot = _DOT.format(a="c.embedding", b="qv")
    return f"""
    WITH bk AS (
      SELECT vec_id, embedding, {', '.join(bucket_cols)} FROM embeddings
    ),
    fan AS (
      SELECT vec_id, embedding, tt.t, CASE tt.t {fan_case} AS bucket
      FROM bk, (VALUES {fan_vals}) tt(t)
    ),
    q AS (SELECT vec_id AS query_id, embedding AS qv, t, bucket
          FROM fan WHERE vec_id < 5),
    cand AS (
      SELECT DISTINCT query_id, c.vec_id AS neighbor_id,
             ROUND({dot}, 6) + 0.0 AS cosine_sim
      FROM fan c JOIN q ON c.t = q.t AND c.bucket = q.bucket
      WHERE c.vec_id <> query_id
    )
    SELECT query_id, neighbor_id, cosine_sim, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine_sim DESC, neighbor_id) AS rank
      FROM cand)
    WHERE rank <= {k}
    """


@register("similarity_ann_lsh", _ann_lsh_oracle())
def _similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _cat(spark, sf_dir).table("embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.ann_lsh_topk(emb, queries, k=10, planes=4)


@register(
    "embedding_neardup",
    f"""
    SELECT a.vec_id AS a, b.vec_id AS b,
           ROUND({_DOT.format(a='a.embedding', b='b.embedding')}, 6) + 0.0 AS cosine_sim
    FROM embeddings a, embeddings b
    WHERE a.vec_id < b.vec_id
      AND ROUND({_DOT.format(a='a.embedding', b='b.embedding')}, 6) >= 0.4
    """,
)
def _embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # block-pair distributed BLAS: exact all-pairs with no driver collect
    # and no corpus broadcast — identical output to the exact-fold path,
    # asserted in tests
    return similarity.neardup_pairs_cosine_blockpair(
        _cat(spark, sf_dir).table("embeddings"), threshold=0.4
    )


def _semdedup_oracle(
    planes: int = 6, dims: int = 64, threshold: float = 0.4
) -> str:
    """DuckDB replica of similarity.semdedup: the md5 hyperplane signs
    are inlined as ±embedding[i] sums (bit-identical to Spark's left-fold
    of cast(double)·(±1.0) — same op order, same ``>= 0`` decisions, see
    _ann_lsh_oracle), the within-bucket dominance join reuses the
    sequential-fold dot product macro."""
    from etl_io_spark.operators.similarity import _plane_signs

    terms = []
    for p, plane in enumerate(_plane_signs(planes, dims)):
        proj = "0.0" + "".join(
            f" {'+' if s > 0 else '-'} embedding[{d + 1}]::DOUBLE"
            for d, s in enumerate(plane)
        )
        terms.append(f"(CASE WHEN ({proj}) >= 0 THEN {2 ** p} ELSE 0 END)")
    dot = _DOT.format(a="a.embedding", b="b.embedding")
    return f"""
    WITH bk AS (
      SELECT vec_id, embedding, {' + '.join(terms)} AS bucket FROM embeddings
    ),
    dom AS (
      SELECT DISTINCT a.vec_id
      FROM bk a JOIN bk b ON a.bucket = b.bucket AND b.vec_id < a.vec_id
      WHERE ROUND({dot}, 6) >= {threshold}
    )
    SELECT bk.vec_id, bk.bucket, (d.vec_id IS NULL) AS keep
    FROM bk LEFT JOIN dom d ON bk.vec_id = d.vec_id
    """


@register("semdedup_embeddings", _semdedup_oracle())
def _semdedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (similarity.semdedup): LSH-cell partition -> within-cell
    cosine dominance -> keep one representative per near-dup group. The
    embedding-space twin of fuzzy_dedup_keep_best's MinHash text path."""
    return similarity.semdedup(
        _cat(spark, sf_dir).table("embeddings"), threshold=0.4, planes=6
    )


def _kmeans_ctes(
    k: int = 4, iterations: int = 3, dims: int = 64
) -> tuple[str, str]:
    """CTE body of the unrolled fixed-iteration Lloyd's replica plus the
    name of the final assignment CTE — shared by the plain
    kmeans_embeddings oracle and the composed semdedup_kmeans oracle."""
    head = f"""pts AS (
      SELECT vec_id, gs.i - 1 AS dim, CAST(embedding[gs.i] AS DOUBLE) AS val
      FROM embeddings, generate_series(1, {dims}) gs(i)
    ),
    c0 AS (
      SELECT vec_id AS c, gs.i - 1 AS dim,
             CAST(embedding[gs.i] AS DOUBLE) AS mu
      FROM embeddings, generate_series(1, {dims}) gs(i) WHERE vec_id < {k}
    )"""
    steps = []
    for t in range(1, iterations + 1):
        steps.append(f""",
    a{t} AS (
      SELECT vec_id, c FROM (
        SELECT p.vec_id, c.c,
               ROW_NUMBER() OVER (
                 PARTITION BY p.vec_id
                 ORDER BY SUM((p.val - c.mu) * (p.val - c.mu)), c.c) AS rn
        FROM pts p JOIN c{t - 1} c ON p.dim = c.dim
        GROUP BY p.vec_id, c.c
      ) WHERE rn = 1
    )""")
        if t < iterations:
            steps.append(f""",
    c{t} AS (
      SELECT a.c, p.dim, AVG(p.val) AS mu
      FROM pts p JOIN a{t} a ON p.vec_id = a.vec_id
      GROUP BY a.c, p.dim
    )""")
    return head + "".join(steps), f"a{iterations}"


def _semdedup_kmeans_oracle(
    k: int = 4,
    iterations: int = 3,
    dims: int = 64,
    threshold: float = 0.4,
) -> str:
    """Composed replica: the unrolled fixed-iteration Lloyd's CTEs
    (shared with kmeans_embeddings via _kmeans_ctes) feed the same
    within-cell dominance macro as _semdedup_oracle."""
    ctes, final = _kmeans_ctes(k, iterations, dims)
    dot = _DOT.format(a="a.embedding", b="b.embedding")
    return f"""
    WITH {ctes},
    bk AS (
      SELECT e.vec_id, e.embedding, asn.c AS bucket
      FROM embeddings e JOIN {final} asn ON e.vec_id = asn.vec_id
    ),
    dom AS (
      SELECT DISTINCT a.vec_id
      FROM bk a JOIN bk b ON a.bucket = b.bucket AND b.vec_id < a.vec_id
      WHERE ROUND({dot}, 6) >= {threshold}
    )
    SELECT bk.vec_id, bk.bucket, (d.vec_id IS NULL) AS keep
    FROM bk LEFT JOIN dom d ON bk.vec_id = d.vec_id
    """


@register("semdedup_kmeans", _semdedup_kmeans_oracle())
def _semdedup_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with TRAINED k-means cells (similarity.semdedup_kmeans) —
    the paper's actual clustering, upgrading semdedup_embeddings' md5
    hyperplane cells. Fully oracled (round-5 fix for the in-window
    `no_oracle` slot): the fixed-iteration Lloyd's is deterministic, so
    the oracle composes kmeans_embeddings' unrolled-CTE replica with
    semdedup_embeddings' within-cell dominance rule; cell QUALITY is
    additionally graded by the recall-vs-brute-force pytest
    (test_asof_ivf.py)."""
    return similarity.semdedup_kmeans(
        _cat(spark, sf_dir).table("embeddings"),
        threshold=0.4,
        k=4,
        iterations=3,
    )


# -- text analysis ---------------------------------------------------------
_SW = ", ".join(f"'{w}'" for w in text.STOPWORDS)
#: regexp alternation of the stopword list (parity with text.stopword_ratio)
_SW_ALT = "|".join(text.STOPWORDS)


@register(
    "text_quality",
    f"""
    WITH t AS (
      SELECT doc_id, text,
             list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS toks,
             LENGTH(text) AS n_chars,
             LENGTH(text) - LENGTH(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g'))
               AS n_punct
      FROM documents
    ),
    f AS (
      SELECT doc_id, n_chars, len(toks) AS n_words,
             CASE WHEN len(toks) > 0
                  THEN LENGTH(regexp_replace(text, '\\s', '', 'g')) * 1.0
                       / len(toks)
                  ELSE 0.0 END AS mean_word_len,
             CASE WHEN n_chars > 0 THEN n_punct * 1.0 / n_chars ELSE 0.0 END
               AS punct_ratio,
             CASE WHEN len(toks) > 0
                  THEN len(regexp_extract_all(text, '\\b({_SW_ALT})\\b')) * 1.0
                       / len(toks)
                  ELSE 0.0 END AS stopword_ratio
      FROM t
    )
    SELECT doc_id, n_chars, n_words,
           FLOOR(mean_word_len * 10000 + 0.5) / 10000 AS mean_word_len,
           FLOOR(punct_ratio * 10000 + 0.5) / 10000 AS punct_ratio,
           FLOOR(stopword_ratio * 10000 + 0.5) / 10000 AS stopword_ratio,
           ROUND(CAST((CASE WHEN n_words BETWEEN 20 AND 1000 THEN 0.4 ELSE 0.0 END)
                 + (CASE WHEN stopword_ratio >= 0.05 THEN 0.3 ELSE 0.0 END)
                 + (CASE WHEN punct_ratio <= 0.1 THEN 0.3 ELSE 0.0 END)
                 AS DOUBLE), 2)
             AS quality_score
    FROM f
    """,
)
def _text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.quality_features(
        _cat(spark, sf_dir).table("documents"), "doc_id", "text"
    )


@register(
    "token_count",
    f"""
    SELECT doc_id,
           len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS ws_tokens,
           len(regexp_extract_all(text, '{text.BPE_PATTERN}')) AS bpe_tokens
    FROM documents
    """,
)
def _token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return parallelize(_cat(spark, sf_dir).table("documents")).select(
        "doc_id",
        text.token_count_ws("text").alias("ws_tokens"),
        text.token_count_bpe("text").alias("bpe_tokens"),
    )


# ==========================================================================
# Per-source corpus data card (text.corpus_datacard): volume, exact-dup
# rate (60-bit md5 keys), mean quality, language-mix entropy — the
# one-page per-source health report of a curation pipeline. Integer-count
# ratios use floor-form rounding; entropy keeps ROUND + negative-zero
# normalization (single-language sources compute exactly 0).
# ==========================================================================
_DATACARD_SQL = f"""
    WITH t AS (
      SELECT source, lang, LENGTH(text) AS nc,
             {text.HASH60_DUCK.format(s='text')} AS h,
             CASE WHEN text IS NULL THEN NULL ELSE ROUND(
               (CASE WHEN len(string_split_regex(trim(text), '\\s+'))
                          BETWEEN 20 AND 1000 THEN 0.4 ELSE 0.0 END)
               + (CASE WHEN len(string_split_regex(trim(text), '\\s+')) > 0
                        AND len(regexp_extract_all(text, '\\b({_SW_ALT})\\b'))
                            * 1.0
                            / len(string_split_regex(trim(text), '\\s+'))
                            >= 0.05
                       THEN 0.3 ELSE 0.0 END)
               + (CASE WHEN LENGTH(text) = 0 OR
                       (LENGTH(text)
                        - LENGTH(regexp_replace(text, '[^a-zA-Z0-9\\s]',
                                                '', 'g'))) * 1.0
                           / LENGTH(text) <= 0.1
                       THEN 0.3 ELSE 0.0 END), 2) END AS q
      FROM documents
    ),
    s AS (
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(nc) AS BIGINT) AS total_chars,
             COUNT(DISTINCT h) AS n_unique,
             FLOOR((COUNT(*) - COUNT(DISTINCT h)) * 1000000
                   / COUNT(*) + 0.5) / 1000000 AS dup_rate,
             FLOOR(AVG(q) * 10000 + 0.5) / 10000 AS avg_quality
      FROM t GROUP BY source
    ),
    lc AS (SELECT source, lang, COUNT(*) AS c FROM t GROUP BY 1, 2),
    l AS (
      SELECT source, COUNT(*) AS n_langs,
             ROUND(LN(SUM(c)) - SUM(c * LN(c)) / SUM(c), 6) + 0.0
               AS lang_entropy
      FROM lc GROUP BY source
    )
    SELECT s.source, n_docs, total_chars, n_unique, dup_rate, avg_quality,
           n_langs, lang_entropy
    FROM s JOIN l ON s.source = l.source
"""


@register("corpus_datacard", _DATACARD_SQL)
def _corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datasheet-style per-source summary (text.corpus_datacard)."""
    return text.corpus_datacard(
        _cat(spark, sf_dir).table("documents"), "text"
    )


# ==========================================================================
# Tokenizer fertility by language (text.tokenizer_fertility): BPE-proxy
# tokens per word + chars per token — the multilingual tokenizer-cost
# diagnostic; summed-integer ratios, floor-form rounded, zero-guarded
# ==========================================================================
_FERTILITY_SQL = f"""
    WITH t AS (
      SELECT lang,
             len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS ws,
             len(regexp_extract_all(text, '{text.BPE_PATTERN}')) AS bpe,
             LENGTH(regexp_replace(text, '\\s', '', 'g')) AS ch
      FROM documents
    )
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(ws) AS BIGINT) AS total_words,
           CAST(SUM(bpe) AS BIGINT) AS total_tokens,
           CASE WHEN SUM(ws) > 0
                THEN FLOOR(SUM(bpe) * 1000000 / SUM(ws) + 0.5) / 1000000
                ELSE 0.0 END AS fertility,
           CASE WHEN SUM(bpe) > 0
                THEN FLOOR(SUM(ch) * 1000000 / SUM(bpe) + 0.5) / 1000000
                ELSE 0.0 END AS chars_per_token
    FROM t GROUP BY lang
"""


@register("tokenizer_fertility", _FERTILITY_SQL)
def _tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility (text.tokenizer_fertility)."""
    return text.tokenizer_fertility(
        _cat(spark, sf_dir).table("documents"), "text"
    )


def _lang_oracle() -> str:
    # marker hits counted by word-boundary regexp (parity with
    # text.lang_id: zero-width \b behaves identically in RE2 and Java)
    score = (
        "CASE WHEN len(toks) > 0 THEN "
        "len(regexp_extract_all(text, '\\b({words})\\b')) * 1.0 / len(toks) "
        "ELSE 0.0 END"
    )
    scores = {
        lang: score.format(words="|".join(words))
        for lang, words in text.LANG_MARKERS.items()
    }
    sel_cols = ",\n             ".join(
        f"{expr} AS s_{lang}" for lang, expr in scores.items()
    )
    best = "GREATEST(" + ", ".join(f"s_{lang}" for lang in scores) + ")"
    case = " ".join(
        f"WHEN s_{lang} = best THEN '{lang}'" for lang in sorted(scores)
    )
    return f"""
    WITH t AS (
      SELECT doc_id, text, string_split_regex(trim(text), '\\s+') AS toks
      FROM documents
    ),
    s AS (SELECT doc_id,
             {sel_cols}
          FROM t),
    g AS (SELECT doc_id, s_de, s_en, s_es, s_fr, {best} AS best FROM s)
    SELECT doc_id, ROUND(best, 4) AS lang_score,
           CASE WHEN best > 0 THEN (CASE {case} END) ELSE 'und' END AS lang_pred
    FROM g
    """


@register("lang_id", _lang_oracle())
def _lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.lang_id(_cat(spark, sf_dir).table("documents"), "doc_id", "text")


@register(
    "doc_fingerprint",
    f"""
    SELECT doc_id, md5(text) AS md5_hex,
           {_H.format(s='text')} AS hash60,
           CASE WHEN text IS NULL THEN NULL ELSE
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
                          [CAST(ascii(x) AS BIGINT)
                           for x in string_split_regex(text, '')]),
             (acc, x) -> (acc * 31 + x) % {text.ROLLING_MOD}) END
             AS rolling_hash
    FROM documents
    """,
)
def _doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.fingerprint(_cat(spark, sf_dir).table("documents"), "doc_id", "text")


@register(
    "tfidf_top_terms",
    """
    WITH toks AS (
      SELECT doc_id,
             UNNEST(string_split_regex(trim(text), '\\s+')) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf
      FROM toks WHERE term <> '' GROUP BY 1, 2
    ),
    nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
    idf AS (
      SELECT term, ln((nd.n + 1) / (COUNT(*) + 1)) + 1 AS idf
      FROM tf, nd GROUP BY term, nd.n
    ),
    scored AS (
      SELECT doc_id, tf.term, ROUND(tf * idf, 6) AS tfidf
      FROM tf JOIN idf USING (term)
    )
    SELECT doc_id, term, tfidf, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY tfidf DESC, term) AS INT) AS rank
      FROM scored)
    WHERE rank <= 3
    """,
)
def _tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.tf_idf_top_terms(
        _cat(spark, sf_dir).table("documents"), "doc_id", "text", k=3
    )


@register(
    "pmi_collocations",
    """
    WITH toks AS (
      SELECT [x for x in string_split_regex(trim(text), '\\s+')
              if x <> ''] AS l
      FROM documents
    ),
    bg AS (
      SELECT b['w1'] AS w1, b['w2'] AS w2, COUNT(*) AS c12 FROM (
        SELECT UNNEST([{'w1': l[i], 'w2': l[i+1]}
                       for i in generate_series(1, len(l) - 1)]) AS b
        FROM toks)
      GROUP BY 1, 2
    ),
    tot AS (SELECT SUM(c12) AS total FROM bg),
    lft AS (SELECT w1 AS w, SUM(c12) AS cl FROM bg GROUP BY 1),
    rgt AS (SELECT w2 AS w, SUM(c12) AS cr FROM bg GROUP BY 1),
    uni AS (
      SELECT COALESCE(lft.w, rgt.w) AS w,
             COALESCE(cl, 0) + COALESCE(cr, 0) AS cw
      FROM lft FULL JOIN rgt ON lft.w = rgt.w
    ),
    scored AS (
      SELECT w1, w2, c12,
             ROUND(ln((c12 * tot.total) / (u1.cw * 1.0 * u2.cw)), 6) + 0.0 AS pmi
      FROM bg
      CROSS JOIN tot
      JOIN uni u1 ON bg.w1 = u1.w
      JOIN uni u2 ON bg.w2 = u2.w
      WHERE c12 >= 5
    )
    SELECT w1, w2, c12, pmi, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
               ORDER BY pmi DESC, w1, w2) AS INT) AS rank
      FROM scored)
    WHERE rank <= 50
    """,
)
def _pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.pmi_collocations(
        _cat(spark, sf_dir).table("documents"), "doc_id", "text",
        min_count=5, k=50,
    )


@register(
    "funnel_view_click_purchase",
    """
    WITH s1 AS (
      SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t1
      FROM events WHERE event_type = 'view' GROUP BY 1
    ),
    s2 AS (
      SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t2
      FROM events e JOIN s1 USING (user_id)
      WHERE e.event_type = 'click'
        AND CAST(e.ts AS TIMESTAMP) > s1.t1
        AND CAST(e.ts AS TIMESTAMP) <= s1.t1 + INTERVAL 30 MINUTE
      GROUP BY 1
    ),
    s3 AS (
      SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t3
      FROM events e JOIN s2 USING (user_id)
      WHERE e.event_type = 'purchase'
        AND CAST(e.ts AS TIMESTAMP) > s2.t2
        AND CAST(e.ts AS TIMESTAMP) <= s2.t2 + INTERVAL 30 MINUTE
      GROUP BY 1
    )
    SELECT s1.user_id, t1, t2, t3,
           CAST(CASE WHEN t3 IS NOT NULL THEN 3
                     WHEN t2 IS NOT NULL THEN 2
                     ELSE 1 END AS INT) AS depth
    FROM s1
    LEFT JOIN s2 ON s1.user_id = s2.user_id
    LEFT JOIN s3 ON s1.user_id = s3.user_id
    """,
)
def _funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    return win.funnel_steps(
        _cat(spark, sf_dir).table("events"),
        "user_id",
        "ts",
        "event_type",
        ("view", "click", "purchase"),
        within="30 minutes",
    )


@register(
    "retention_cohorts",
    """
    WITH cohort AS (
      SELECT user_id, MIN(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS cohort_day
      FROM events GROUP BY 1
    ),
    activity AS (
      SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
      FROM events
    )
    SELECT cohort_day,
           CAST(d - cohort_day AS INT) AS day_offset,
           COUNT(DISTINCT a.user_id) AS active_users
    FROM activity a JOIN cohort c ON a.user_id = c.user_id
    GROUP BY 1, 2
    """,
)
def _retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return agg.cohort_retention(
        _cat(spark, sf_dir).table("events"), "user_id", "ts"
    )


# entity resolution end-to-end: blocked fuzzy pairs → connected components
# → golden record per cluster (canonical = min key; its name + member
# count). The classic MDM pipeline composed from graded operators.
_ENTITY_RESOLUTION_SQL = """
    WITH RECURSIVE pairs AS (
      SELECT a.c_custkey AS a, b.c_custkey AS b
      FROM customer a JOIN customer b
        ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
      WHERE levenshtein(a.c_name, b.c_name) <= 1
    ),
    edges AS (
      SELECT a AS src, b AS dst FROM pairs
      UNION ALL
      SELECT b AS src, a AS dst FROM pairs
    ),
    reach AS (
      SELECT src AS id, src AS r FROM edges
      UNION
      SELECT e.dst AS id, reach.r FROM reach JOIN edges e ON e.src = reach.id
    ),
    comp AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
    assigned AS (
      SELECT c.c_custkey, COALESCE(comp.cluster_id, c.c_custkey) AS cluster_id
      FROM customer c LEFT JOIN comp ON c.c_custkey = comp.id
    )
    SELECT a.cluster_id,
           g.c_name AS canonical_name,
           COUNT(*) AS n_members
    FROM assigned a JOIN customer g ON a.cluster_id = g.c_custkey
    GROUP BY 1, 2
"""


def _er_golden(cust: DataFrame, pairs: DataFrame) -> DataFrame:
    """Shared tail of the entity-resolution pipeline: connected
    components over the match pairs, singletons kept as their own
    cluster, canonical record = the cluster-min key's name."""
    comp = dedup.connected_components(pairs, "a", "b")
    assigned = cust.select("c_custkey").join(
        comp, cust["c_custkey"] == comp["id"], "left"
    ).select(
        cust["c_custkey"],
        F.coalesce(comp["cluster_id"], cust["c_custkey"]).alias("cluster_id"),
    )
    golden = cust.select(
        F.col("c_custkey").alias("cluster_id"),
        F.col("c_name").alias("canonical_name"),
    )
    return assigned.join(golden, "cluster_id").groupBy(
        "cluster_id", "canonical_name"
    ).agg(F.count(F.lit(1)).alias("n_members"))


@register("entity_resolution", _ENTITY_RESOLUTION_SQL)
def _entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Oracle-mirror twin: plain nation blocking (Σ block² candidates,
    # 13.5-15x wall at the 10x corpus). The graded scale-safe shape is
    # `entity_resolution_scalable` below — same pair set, same oracle.
    cust = _cat(spark, sf_dir).table("customer")
    pairs = dedup.fuzzy_pairs(
        cust, "c_custkey", "c_name", block_col="c_nationkey", max_distance=1
    )
    return _er_golden(cust, pairs)


@register("entity_resolution_scalable", _ENTITY_RESOLUTION_SQL)
def _entity_resolution_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scale-safe graded shape (VERDICT r8 ask #3): identical pair
    # semantics to `entity_resolution` (same nation scope, lev <= 1,
    # hence the identical oracle), but candidates come from the FastSS
    # deletion-neighborhood key join instead of the nation-block cross
    # product — candidate cost is output-bound, not Σ block². Pair-set
    # equality to the blocked form is property-tested
    # (tests/test_dedup.py) and held exactly at sf0.001/sf0.01/sf0.1.
    cust = _cat(spark, sf_dir).table("customer")
    pairs = dedup.fuzzy_pairs_deletion(
        cust, "c_custkey", "c_name", block_col="c_nationkey"
    )
    return _er_golden(cust, pairs)


# ==========================================================================
# Streaming surface (batch-mode parity of the stream ops; streaming runs in
# tests/test_streaming.py over readStream + memory sink)
# ==========================================================================
from etl_io_spark.streaming import windows as stream_win  # noqa: E402


@register(
    "events_sliding_window",
    """
    SELECT window_start, event_type, COUNT(*) AS n FROM (
      SELECT UNNEST([time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)),
                     time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP))
                       - INTERVAL '5 minutes']) AS window_start,
             event_type
      FROM events
    ) GROUP BY window_start, event_type
    """,
)
def _events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stream_win.sliding_agg(
        _cat(spark, sf_dir).table("events"), width="10 minutes", slide="5 minutes"
    )


@register(
    "events_session_window",
    """
    WITH ordered AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
             LAG(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY ts)
               AS prev_ts
      FROM events
    ),
    marked AS (
      SELECT *, CASE WHEN prev_ts IS NULL
                       OR ts - prev_ts > INTERVAL '30 minutes'
                     THEN 1 ELSE 0 END AS new_session
      FROM ordered
    ),
    sessions AS (
      SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    )
    SELECT MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '30 minutes' AS session_end,
           user_id, COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_value
    FROM sessions GROUP BY user_id, session_id
    """,
)
def _events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stream_win.session_agg(
        _cat(spark, sf_dir).table("events"), gap="30 minutes"
    )


@register(
    "stream_interval_join",
    """
    SELECT v.user_id, v.event_id AS l_id, c.event_id AS r_id,
           epoch_us(CAST(c.ts AS TIMESTAMP)) - epoch_us(CAST(v.ts AS TIMESTAMP))
             AS delay_us
    FROM events v JOIN events c
      ON v.user_id = c.user_id
     AND CAST(c.ts AS TIMESTAMP) >= CAST(v.ts AS TIMESTAMP)
     AND CAST(c.ts AS TIMESTAMP) <= CAST(v.ts AS TIMESTAMP) + INTERVAL '60 minutes'
    WHERE v.event_type = 'view' AND c.event_type = 'click'
    """,
)
def _stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join, batch twin (streaming/windows.py
    ``interval_join``): views pair with same-user clicks within 60 minutes.
    The watermarked streaming mode is parity-tested in
    tests/test_streaming.py."""
    ev = _cat(spark, sf_dir).table("events")
    views = ev.where(F.col("event_type") == "view")
    clicks = ev.where(F.col("event_type") == "click")
    return stream_win.interval_join(views, clicks, within="60 minutes")


# ==========================================================================
# Multimodal plumbing (binary columns + mapInPandas stages; decode stubbed
# behind a deterministic fake — see operators/multimodal.py)
# ==========================================================================
from etl_io_spark.operators import multimodal as mm  # noqa: E402


@register(
    "media_metadata",
    """
    SELECT kind, width, COUNT(*) AS n, CAST(SUM(n_frames) AS BIGINT) AS total_frames
    FROM (
      SELECT 'image' AS kind,
             CAST(doc_id % 16 + 4 AS INT) AS width,
             CAST(doc_id % 10 + 1 AS INT) AS n_frames
      FROM documents
    ) GROUP BY kind, width
    """,
)
def _media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = mm.synthesize_media(_cat(spark, sf_dir).table("documents"))
    return media.groupBy("kind", "width").agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_frames").alias("total_frames")
    )


@register(
    "media_frame_sample",
    """
    SELECT doc_id AS media_id,
           CAST(UNNEST(generate_series(0, CAST(doc_id % 10 AS INT), 2)) AS INT)
             AS frame_index,
           md5(lower(hex(encode(COALESCE(text, '')))) || ':' ||
               UNNEST(generate_series(0, CAST(doc_id % 10 AS INT), 2)))
             AS frame_fingerprint
    FROM documents
    """,
)
def _media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = mm.synthesize_media(_cat(spark, sf_dir).table("documents"))
    return mm.sample_frames(media, every_n=2)


@register("media_features")  # fake-decode md5 chain: not SQL-expressible
def _media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = mm.synthesize_media(_cat(spark, sf_dir).table("documents"))
    return mm.extract_features(media)


@register(
    "media_frame_dedup",
    """
    WITH frames AS (
      SELECT doc_id AS media_id,
             UNNEST(generate_series(0, CAST(doc_id % 10 AS INT), 2))
               AS frame_index,
             md5(lower(hex(encode(COALESCE(text, '')))) || ':' ||
                 UNNEST(generate_series(0, CAST(doc_id % 10 AS INT), 2)))
               AS fp
      FROM documents
    ),
    flagged AS (
      SELECT media_id, frame_index,
             ROW_NUMBER() OVER (PARTITION BY fp
                                ORDER BY media_id, frame_index) AS rn
      FROM frames
    )
    SELECT media_id, COUNT(*) AS n_frames_sampled,
           CAST(SUM(CASE WHEN rn = 1 THEN 0 ELSE 1 END) AS BIGINT)
             AS n_dup_frames
    FROM flagged GROUP BY media_id
    """,
)
def _media_frame_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-media frame dedup (multimodal.frame_dedup): per item, how
    many sampled frames repeat a frame seen in any earlier item — the
    cheap re-encode/copy detector that runs before perceptual models."""
    media = mm.synthesize_media(_cat(spark, sf_dir).table("documents"))
    return mm.frame_dedup(media, every_n=2)


# ==========================================================================
# Composite pipelines through the handler facades (Q1-Q6 analogues;
# plans/handlers.py mirrors the reference's IPEDSHandler/ONETHandler API)
# ==========================================================================
from etl_io_spark.plans import handlers  # noqa: E402

_UNITS_CTE = """
WITH units AS (
  SELECT c_custkey AS unit_id, n_name AS geo_nation, r_name AS geo_region,
         c_mktsegment AS segment
  FROM customer
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
)
"""


@register(
    "awards_pipeline",
    _UNITS_CTE
    + """
    SELECT geo_nation,
           CASE o_orderpriority
             WHEN '1-URGENT' THEN 'Urgent' WHEN '2-HIGH' THEN 'High'
             WHEN '3-MEDIUM' THEN 'Medium' WHEN '4-NOT SPECIFIED' THEN 'Unspecified'
             WHEN '5-LOW' THEN 'Low' ELSE o_orderpriority
           END AS o_orderpriority,
           ROUND(SUM(o_totalprice), 2) AS sum_totalprice,
           COUNT(*) AS n_orders
    FROM orders JOIN units ON o_custkey = unit_id
    WHERE geo_region IN ('ASIA', 'EUROPE') AND segment = 'MACHINERY'
    GROUP BY geo_nation, 2
    """,
)
def _awards_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    tab = handlers.StarTabulation(_cat(spark, sf_dir))
    return tab.awards(
        region=["ASIA", "EUROPE"],
        segment="MACHINERY",
        keep_geography="geo_nation",
        label=True,
    )


@register(
    "programs_pipeline",
    _UNITS_CTE
    + """
    SELECT geo_region, o_orderpriority,
           COUNT(DISTINCT unit_id) AS prog_count
    FROM orders JOIN units ON o_custkey = unit_id
    GROUP BY geo_region, o_orderpriority
    """,
)
def _programs_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    tab = handlers.StarTabulation(_cat(spark, sf_dir))
    return tab.programs(keep_geography="geo_region")


@register(
    "units_count_pipeline",
    _UNITS_CTE
    + """
    SELECT geo_region, COUNT(DISTINCT unit_id) AS n_units
    FROM orders JOIN units ON o_custkey = unit_id
    GROUP BY geo_region
    """,
)
def _units_count_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    tab = handlers.StarTabulation(_cat(spark, sf_dir))
    return tab.units_count(keep_geography="geo_region")


@register(
    "quant_pivot_pipeline",
    """
    SELECT user_id,
           ROUND(SUM(CASE WHEN event_type = 'click' THEN value END), 2)    AS click,
           ROUND(SUM(CASE WHEN event_type = 'error' THEN value END), 2)    AS error,
           ROUND(SUM(CASE WHEN event_type = 'purchase' THEN value END), 2) AS purchase,
           ROUND(SUM(CASE WHEN event_type = 'signup' THEN value END), 2)   AS signup,
           ROUND(SUM(CASE WHEN event_type = 'view' THEN value END), 2)     AS view
    FROM events GROUP BY user_id
    """,
)
def _quant_pivot_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    el = handlers.StarElements(_cat(spark, sf_dir))
    return el.quant_view(pivot=True)


@register(
    "qual_onehot_pipeline",
    """
    SELECT user_id,
           COALESCE(BOOL_OR(event_type = 'click'), false)    AS click,
           COALESCE(BOOL_OR(event_type = 'error'), false)    AS error,
           COALESCE(BOOL_OR(event_type = 'purchase'), false) AS purchase,
           COALESCE(BOOL_OR(event_type = 'signup'), false)   AS signup,
           COALESCE(BOOL_OR(event_type = 'view'), false)     AS view
    FROM events WHERE user_id < 25 GROUP BY user_id
    """,
)
def _qual_onehot_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    el = handlers.StarElements(_cat(spark, sf_dir))
    return el.qual_view(users=list(range(25)), onehot=True)


# --------------------------------------------------------------------------
# as-of join (events self-enrichment) — SURVEY.md §2.3 extension; the
# oracle uses DuckDB's native ASOF LEFT JOIN. The right side is first
# aggregated to one row per (user, ts) so tie-breaking is well-defined in
# both engines.
# --------------------------------------------------------------------------
@register(
    "asof_join_events",
    """
    WITH clicks AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
      FROM events WHERE event_type = 'click'
    ),
    purchases AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, MAX(value) AS pvalue
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    )
    SELECT c.user_id, c.ts, ROUND(c.value, 2) AS click_value,
           ROUND(p.pvalue, 2) AS last_purchase_value
    FROM clicks c ASOF LEFT JOIN purchases p
      ON c.user_id = p.user_id AND p.ts <= c.ts
    """,
)
def _asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _cat(spark, sf_dir).table("events")
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts", "value")
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("pvalue"))
    )
    out = joins.asof_join(
        clicks, purchases, on="user_id", ts_col="ts", right_cols=["pvalue"]
    )
    return out.select(
        "user_id",
        "ts",
        F.round("value", 2).alias("click_value"),
        F.round("pvalue_asof", 2).alias("last_purchase_value"),
    )


@register(
    "asof_forward_events",
    """
    WITH clicks AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
      FROM events WHERE event_type = 'click'
    ),
    purchases AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, MAX(value) AS pvalue
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    )
    SELECT c.user_id, c.ts, ROUND(c.value, 2) AS click_value,
           ROUND(p.pvalue, 2) AS next_purchase_value
    FROM clicks c ASOF LEFT JOIN purchases p
      ON c.user_id = p.user_id AND p.ts >= c.ts
    """,
)
def _asof_forward_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of (joins.asof_join direction='forward'): each click
    enriched with the user's NEXT purchase value — attribution's
    look-ahead twin of the backward key; same single-shuffle union-carry
    plan over the reversed ordering. Oracle: DuckDB native ASOF with the
    inequality flipped."""
    ev = _cat(spark, sf_dir).table("events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("pvalue"))
    )
    out = joins.asof_join(
        clicks, purchases, on="user_id", ts_col="ts",
        right_cols=["pvalue"], direction="forward",
    )
    return out.select(
        "user_id",
        "ts",
        F.round("value", 2).alias("click_value"),
        F.round("pvalue_asof", 2).alias("next_purchase_value"),
    )


# --------------------------------------------------------------------------
# salted skew join — result must be row-identical to the plain join
# --------------------------------------------------------------------------
@register(
    "salted_join_parts",
    """
    SELECT s_nationkey, COUNT(*) AS n, ROUND(SUM(l_extendedprice), 2) AS revenue
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_nationkey
    """,
)
def _salted_join_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = _cat(spark, sf_dir)
    big = cat.table("lineitem").select("l_suppkey", "l_extendedprice")
    small = cat.table("supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    joined = joins.salted_join(big, small, on="l_suppkey", salt=8)
    return joined.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
    )


def _ivf_oracle(n_cells: int = 16, nprobe: int = 4, k: int = 10) -> str:
    """Exact DuckDB replica of similarity.ivf_topk: centroid picking,
    cell assignment and probing are all deterministic (md5-hash ordering,
    left-fold dots, explicit tie-breaks), so the approximate result is
    bit-reproducible."""
    h = _H.format(s="CAST(vec_id AS VARCHAR)")
    dot_ac = _DOT.format(a="e.embedding", b="c.cvec")
    dot_qc = _DOT.format(a="q.qv", b="c.cvec")
    dot_eq = _DOT.format(a="e.embedding", b="p.qv")
    return f"""
    WITH cents AS (
      SELECT ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS cell,
             embedding AS cvec
      FROM (SELECT vec_id, embedding, {h} AS h FROM embeddings
            ORDER BY h, vec_id LIMIT {n_cells})
    ),
    assigned AS (
      SELECT vec_id, embedding, cell FROM (
        SELECT e.vec_id, e.embedding, c.cell,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {dot_ac} DESC, c.cell) AS rn
        FROM embeddings e, cents c
      ) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
          WHERE vec_id < 5),
    probes AS (
      SELECT query_id, qv, cell FROM (
        SELECT q.query_id, q.qv, c.cell,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                                  ORDER BY {dot_qc} DESC, c.cell) AS pr
        FROM q, cents c
      ) WHERE pr <= {nprobe}
    ),
    scored AS (
      SELECT DISTINCT p.query_id, e.vec_id AS neighbor_id,
             ROUND({dot_eq}, 6) + 0.0 AS cosine_sim
      FROM assigned e JOIN probes p ON e.cell = p.cell
      WHERE e.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id, cosine_sim, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine_sim DESC, neighbor_id)
                  AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


@register("similarity_ivf", _ivf_oracle())
def _similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _cat(spark, sf_dir).table("embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.ivf_topk(emb, queries, k=10, n_cells=16, nprobe=4)


# --------------------------------------------------------------------------
# sketch aggregates: approximate distinct via HLL — the 100 TB answer to
# count_distinct_group when exactness isn't required (no merge-exact
# shuffle; fixed-size sketch per group). No SQL oracle: sketch estimates
# are engine-specific; accuracy is asserted in tests against exact counts.
# --------------------------------------------------------------------------
@register("approx_distinct_users")
def _approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _cat(spark, sf_dir).table("events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users")
    )


# --------------------------------------------------------------------------
# range join (point-in-interval): clicks attributed to the hour after a
# purchase — bucketized equi-join, never a nested-loop range join
# --------------------------------------------------------------------------
@register(
    "range_join_attribution",
    """
    WITH p AS (
      SELECT event_id AS purchase_id, user_id,
             CAST(ts AS TIMESTAMP) AS t0,
             CAST(ts AS TIMESTAMP) + INTERVAL 1 HOUR AS t1
      FROM events WHERE event_type = 'purchase'
    ),
    c AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE event_type = 'click'
    )
    SELECT purchase_id, COUNT(*) AS n_clicks
    FROM p JOIN c ON p.user_id = c.user_id AND c.ts >= p.t0 AND c.ts < p.t1
    GROUP BY purchase_id
    """,
)
def _range_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _cat(spark, sf_dir).table("events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("t0"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("t1"),
    )
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts")
    joined = joins.range_join(
        clicks, purchases, on="user_id", ts_col="ts", start_col="t0", end_col="t1"
    )
    return joined.groupBy("purchase_id").agg(F.count(F.lit(1)).alias("n_clicks"))


# --------------------------------------------------------------------------
# hierarchical time rollup (hypertable-style continuous aggregate shape):
# day → (day, hour) → grand total in ONE pass via ROLLUP
# --------------------------------------------------------------------------
@register(
    "events_rollup_time",
    """
    SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day,
           date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
           COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_value
    FROM events
    GROUP BY ROLLUP (CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP),
                     date_trunc('hour', CAST(ts AS TIMESTAMP)))
    """,
)
def _events_rollup_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _cat(spark, sf_dir).table("events")
    return (
        ev.select(
            F.date_trunc("day", "ts").alias("day"),
            F.date_trunc("hour", "ts").alias("hour"),
            "value",
        )
        .rollup("day", "hour")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


# --------------------------------------------------------------------------
# S4: raw-SQL passthrough — the reference string-hacks the table name out
# of the SQL (etl_io.py:194-198); here Spark's real parser runs the text
# against the catalog's registered views. Same SQL runs in both engines.
# --------------------------------------------------------------------------
_PASSTHROUGH_SQL = """
    SELECT n_name, COUNT(*) AS n_suppliers, ROUND(SUM(s_acctbal), 2) AS total_bal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
"""


@register("sql_passthrough", _PASSTHROUGH_SQL)
def _sql_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cat(spark, sf_dir).sql(_PASSTHROUGH_SQL)


# --------------------------------------------------------------------------
# explicit GROUPING SETS (beyond rollup/cube): per-flag, per-status, and
# combined subtotals in one pass — SQL-only surface, same text both engines
# --------------------------------------------------------------------------
_GROUPING_SETS_SQL = """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           ROUND(SUM(l_quantity), 2) AS qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
                            (l_returnflag, l_linestatus))
"""


@register("grouping_sets_flags", _GROUPING_SETS_SQL)
def _grouping_sets_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cat(spark, sf_dir).sql(_GROUPING_SETS_SQL)


# --------------------------------------------------------------------------
# exact percentiles per group (linear interpolation in both engines)
# --------------------------------------------------------------------------


def _pctl_term_sql(q: str, alias: str, scale: int) -> str:
    """One explicit-interpolation percentile term, mirroring
    aggregate.exact_percentiles TERM BY TERM over a CTE with columns
    (v, rn 1-based, n): weights ``v*(1-frac)`` / ``v*frac`` with
    ``frac = (n-1)*q - floor``, floor-form rounded. ``q`` is CAST TO
    DOUBLE — DuckDB evaluates a bare decimal literal times BIGINT in
    exact DECIMAL (typeof = DECIMAL(22,2)), which diverges from Spark's
    IEEE product for non-dyadic q exactly at the frac = 0.5 boundaries
    the floor-form is sensitive to (round-10 review catch). One shared
    generator so the three consumer oracles cannot drift."""
    r = f"(n - 1) * CAST({q} AS DOUBLE)"
    m = 10 ** scale
    return (
        f"FLOOR(SUM(CASE WHEN rn - 1 = FLOOR({r}) THEN v * (1 - ({r} - FLOOR({r})))\n"
        f"                      WHEN rn - 1 = CEIL({r}) AND CEIL({r}) <> FLOOR({r})\n"
        f"                        THEN v * ({r} - FLOOR({r})) END) * {m} + 0.5) / {m} AS {alias}"
    )


@register(
    "percentiles_by_flag",
    f"""
    -- explicit interpolation mirroring exact_percentiles TERM BY TERM
    -- (v*(1-frac) + v*frac, frac = (n-1)*q - floor) + floor-form
    -- rounding: quantile_cont's internal formula differs in the last
    -- ulp and ROUND itself splits HALF_UP-vs-binary on terminating
    -- interpolants (caught live at sf0.001); shared _pctl_term_sql
    WITH s AS (
      SELECT l_returnflag, l_extendedprice AS v,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                ORDER BY l_extendedprice) AS rn,
             COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem WHERE l_extendedprice IS NOT NULL
    )
    SELECT l_returnflag,
           {_pctl_term_sql('0.25', 'p25', 2)},
           {_pctl_term_sql('0.50', 'p50', 2)},
           {_pctl_term_sql('0.75', 'p75', 2)}
    FROM s GROUP BY l_returnflag
    """,
)
def _percentiles_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _cat(spark, sf_dir).table("lineitem")
    return agg.exact_percentiles(
        li, ["l_returnflag"], "l_extendedprice", (0.25, 0.50, 0.75)
    )


# Weighted percentiles (aggregate.weighted_percentiles): smallest value
# whose cumulative weight reaches q of the group total — the weighted
# median family; picks an EXISTING value, so output is bit-exact
# cross-engine (cum/tot are sums of integral quantities; q*tot is the
# same single IEEE multiply on both sides — mirrored verbatim).
@register(
    "weighted_percentiles_prices",
    """
    -- NULL value/weight rows excluded to mirror the operator's NULL
    -- contract; CAST(q AS DOUBLE) matches Spark's F.lit(float(q))
    -- multiply (a bare decimal literal would be exact DECIMAL math in
    -- DuckDB for integer/decimal weights — see _pctl_term_sql)
    WITH g AS (
      SELECT l_returnflag, l_extendedprice AS v, SUM(l_quantity) AS w
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
      GROUP BY 1, 2
    ),
    c AS (
      SELECT l_returnflag, v,
             SUM(w) OVER (PARTITION BY l_returnflag ORDER BY v) AS cum,
             SUM(w) OVER (PARTITION BY l_returnflag) AS tot
      FROM g
    )
    SELECT l_returnflag,
           MIN(CASE WHEN cum >= CAST(0.25 AS DOUBLE) * tot THEN v END) AS wp25,
           MIN(CASE WHEN cum >= CAST(0.5 AS DOUBLE) * tot THEN v END) AS wp50,
           MIN(CASE WHEN cum >= CAST(0.9 AS DOUBLE) * tot THEN v END) AS wp90
    FROM c GROUP BY l_returnflag
    """,
)
def _weighted_percentiles_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted price percentiles per return flag: 'half the
    UNITS sold cost at most wp50'. Histogram-refinement bucket
    targeting (aggregate.weighted_percentiles): three map-side passes,
    broadcast-sized intermediates, the fact never shuffled/sorted —
    only the rows inside each quantile's target bucket are collapsed
    and windowed. The oracle keeps the naive running-sum form (the
    semantics spec); outputs are bit-exact because integral weights sum
    exactly in any order."""
    li = _cat(spark, sf_dir).table("lineitem")
    return agg.weighted_percentiles(
        li, ["l_returnflag"], "l_extendedprice", "l_quantity",
        (0.25, 0.5, 0.9),
    )


# --------------------------------------------------------------------------
# percent_rank / cume_dist (window-function family completion)
# --------------------------------------------------------------------------
@register(
    "window_percent_rank",
    """
    SELECT c_custkey, c_mktsegment,
           ROUND(PERCENT_RANK() OVER (PARTITION BY c_mktsegment
                 ORDER BY c_acctbal, c_custkey), 6) AS pct_rank,
           ROUND(CUME_DIST() OVER (PARTITION BY c_mktsegment
                 ORDER BY c_acctbal, c_custkey), 6) AS cume_dist
    FROM customer
    """,
)
def _window_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return _cat(spark, sf_dir).table("customer").select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume_dist"),
    )


# --------------------------------------------------------------------------
# ntile quartiles per group (window-function family completion)
# --------------------------------------------------------------------------
@register(
    "window_ntile",
    """
    SELECT c_custkey, c_mktsegment,
           NTILE(4) OVER (PARTITION BY c_mktsegment
                          ORDER BY c_acctbal, c_custkey) AS quartile
    FROM customer
    """,
)
def _window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return (
        _cat(spark, sf_dir)
        .table("customer")
        .select("c_custkey", "c_mktsegment", F.ntile(4).over(w).alias("quartile"))
    )


# --------------------------------------------------------------------------
# blocked fuzzy matching: Levenshtein pairs within a cheap blocking key
# (record-linkage shape: pair cost is per-block, never n²)
# --------------------------------------------------------------------------
@register(
    "fuzzy_name_pairs",
    """
    SELECT a.c_custkey AS a, b.c_custkey AS b,
           levenshtein(a.c_name, b.c_name) AS dist
    FROM customer a JOIN customer b
      ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 2
    """,
)
def _fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_io_spark.operators import dedup

    cust = _cat(spark, sf_dir).table("customer")
    return dedup.fuzzy_pairs(
        cust, "c_custkey", "c_name", block_col="c_nationkey", max_distance=2
    )


# ==========================================================================
# North-star extensions: training-data pipeline ops
# ==========================================================================
from etl_io_spark.operators import training  # noqa: E402

_H_ID = _H.format(s="CAST(doc_id AS VARCHAR)")


@register(
    "split_assign",
    f"""
    SELECT doc_id,
           CASE WHEN {_H_ID} % 10000 < 8000 THEN 'train'
                WHEN {_H_ID} % 10000 < 9000 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def _split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _cat(spark, sf_dir).table("documents")
    return training.split_assign(docs, "doc_id").select("doc_id", "split")


_H_SRC = _H.format(s="source")


@register(
    "group_exclusive_split",
    f"""
    SELECT split, COUNT(*) AS n_docs, COUNT(DISTINCT source) AS n_sources
    FROM (
      SELECT doc_id, source,
             CASE WHEN {_H_SRC} % 10000 < 8000 THEN 'train'
                  WHEN {_H_SRC} % 10000 < 9000 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    ) GROUP BY split
    """,
)
def _group_exclusive_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free splitting: hash the GROUP key (source) instead of the
    row id, so every group lands wholly in one split — near-duplicates
    and templated documents from the same source can never straddle
    train/test (training.split_assign on the group column; pure map, the
    group column is the only thing hashed)."""
    docs = _cat(spark, sf_dir).table("documents")
    assigned = training.split_assign(docs, "source")
    return assigned.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
    )


@register(
    "stratified_sample",
    f"""
    SELECT doc_id, source, sample_rank FROM (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source ORDER BY {_H_ID}, doc_id
             ) AS sample_rank
      FROM documents)
    WHERE sample_rank <= 50
    """,
)
def _stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _cat(spark, sf_dir).table("documents")
    return training.stratified_sample(docs, "source", "doc_id", 50).select(
        "doc_id", "source", F.col("sample_rank").cast("long").alias("sample_rank")
    )


@register(
    "chunk_documents",
    r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    s AS (
      SELECT doc_id, toks, st, (st - 1) // 48 AS ci FROM (
        SELECT doc_id, toks,
               UNNEST(generate_series(1, greatest(len(toks), 1), 48)) AS st
        FROM t WHERE len(toks) > 0)
    )
    SELECT doc_id,
           ci AS chunk_index,
           array_to_string(toks[st:st+63], ' ') AS chunk_text,
           len(toks[st:st+63]) AS n_tokens
    FROM s
    WHERE ci = 0 OR len(toks[st:st+63]) > 16
    """,
)
def _chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _cat(spark, sf_dir).table("documents")
    out = training.chunk_documents(docs, "doc_id", "text", 64, 16)
    return out.select(
        "doc_id",
        F.col("chunk_index").cast("long").alias("chunk_index"),
        "chunk_text",
        F.col("n_tokens").cast("long").alias("n_tokens"),
    )


# DSIR importance weights (training.py dsir_logratio): hashed
# unigram+bigram bucket distributions, add-one smoothing, per-doc mean
# log-likelihood ratio vs the 'src0' target slice
@register(
    "dsir_weights_docs",
    f"""
    WITH toks AS (
      SELECT doc_id, source, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS l
      FROM documents
    ),
    uni AS (SELECT doc_id, source, UNNEST(l) AS f FROM toks),
    bi AS (SELECT doc_id, source,
                  UNNEST([l[i] || ' ' || l[i+1]
                          for i in generate_series(1, len(l) - 1)]) AS f
           FROM toks),
    feats AS (
      SELECT doc_id, source, {_H.format(s='f')} % 256 AS bk
      FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
    ),
    rawc AS (SELECT bk, COUNT(*) AS cr FROM feats GROUP BY bk),
    tgtc AS (SELECT bk, COUNT(*) AS ct FROM feats
             WHERE source = 'src0' GROUP BY bk),
    nr AS (SELECT SUM(cr) AS n FROM rawc),
    nt AS (SELECT COALESCE(SUM(ct), 0) AS n FROM tgtc),
    ratio AS (
      SELECT r.bk,
             LN(((COALESCE(t.ct, 0) + 1.0) / ((SELECT n FROM nt) + 256.0))
                / ((r.cr + 1.0) / ((SELECT n FROM nr) + 256.0))) AS lr
      FROM rawc r LEFT JOIN tgtc t ON r.bk = t.bk
    )
    SELECT f.doc_id, COUNT(*) AS n_features,
           ROUND(AVG(lr), 6) + 0.0 AS dsir_logratio
    FROM feats f JOIN ratio ON f.bk = ratio.bk
    GROUP BY f.doc_id
    """,
)
def _dsir_weights_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style domain-match weights (training.py dsir_logratio):
    map-side unigram+bigram feature explode, two 256-bucket partial aggs,
    a broadcast ratio join, one per-doc agg — the importance-resampling
    scorer that decides what to up-sample before training."""
    docs = _cat(spark, sf_dir).table("documents")
    return training.dsir_logratio(
        docs, "doc_id", "text", F.col("source") == "src0", buckets=256
    )


@register(
    "pack_sequences",
    f"""
    WITH toks AS (
      SELECT doc_id,
             {_H_ID} % 32 AS shard,
             len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS n_tokens
      FROM documents
      WHERE text IS NOT NULL
    ),
    packed AS (
      SELECT doc_id, shard, n_tokens,
             CAST(SUM(n_tokens) OVER (
               PARTITION BY shard ORDER BY {_H_ID}, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) - n_tokens AS BIGINT) AS tok_start
      FROM toks
    )
    SELECT doc_id, shard,
           CAST(shard * 4294967296 + tok_start // 512 AS BIGINT) AS bin_id,
           n_tokens, tok_start
    FROM packed
    """,
)
def _pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _cat(spark, sf_dir).table("documents")
    out = training.pack_sequences(docs, "doc_id", "text", 512, 32)
    return out.select(
        "doc_id",
        "shard",
        "bin_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("tok_start").cast("long").alias("tok_start"),
    )


@register(
    "pii_redact",
    r"""
    SELECT doc_id,
           len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
           len(regexp_extract_all(
               regexp_replace(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                   '[EMAIL]', 'g'),
               '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b')) AS n_phone,
           len(regexp_extract_all(
               regexp_replace(
                   regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                       '[EMAIL]', 'g'),
                   '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b', '[PHONE]', 'g'),
               '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b')) AS n_ssn,
           regexp_replace(
               regexp_replace(
                   regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                       '[EMAIL]', 'g'),
                   '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b', '[PHONE]', 'g'),
               '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '[SSN]', 'g') AS redacted_text
    FROM documents
    """,
)
def _pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _cat(spark, sf_dir).table("documents")
    out = training.pii_redact(docs, "doc_id", "text")
    return out.select(
        "doc_id",
        F.col("n_email").cast("long").alias("n_email"),
        F.col("n_phone").cast("long").alias("n_phone"),
        F.col("n_ssn").cast("long").alias("n_ssn"),
        "redacted_text",
    )


#: training-mixture rates over the 20 synthetic sources: keep all of the
#: first tier, half of the second, a quarter of the long tail.
_MIX_RATES = {
    f"src{i}": (1.0 if i < 5 else 0.5 if i < 10 else 0.25) for i in range(20)
}
_MIX_CASE = " ".join(
    f"WHEN '{g}' THEN {int(r * 10000)}" for g, r in _MIX_RATES.items()
)


@register(
    "weighted_mix",
    f"""
    SELECT doc_id, source FROM (
      SELECT doc_id, source, {_H_ID} % 10000 AS b FROM documents)
    WHERE b < CASE source {_MIX_CASE} ELSE 0 END
    """,
)
def _weighted_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _cat(spark, sf_dir).table("documents")
    return training.weighted_mix(docs, "source", _MIX_RATES, "doc_id").select(
        "doc_id", "source"
    )


@register("approx_percentile_price")  # no SQL oracle: sketch op; accuracy tested
def _approx_percentile_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _cat(spark, sf_dir).table("lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr(
                "approx_percentile(l_extendedprice,"
                " array(0.25D, 0.5D, 0.75D), 10000)"
            ).alias("__p")
        )
        .select(
            "l_returnflag",
            F.round(F.col("__p")[0], 2).alias("p25"),
            F.round(F.col("__p")[1], 2).alias("p50"),
            F.round(F.col("__p")[2], 2).alias("p75"),
        )
    )


# ==========================================================================
# Training-data hygiene: benchmark decontamination + repetition filtering
# (north-star; operators/text.py)
# ==========================================================================

#: DuckDB word-tokenization identical to text.tokens(): trim, split \s+,
#: drop empties.  5-gram construction via per-position slice.
_DUCK_TOKS = (
    "list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')"
)


@register(
    "decontaminate_benchmark",
    f"""
    WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS w FROM documents),
    grams AS (
      SELECT doc_id, array_to_string(w[i:i+4], ' ') AS g
      FROM toks, UNNEST(generate_series(1, len(w) - 4)) AS t(i)
    ),
    bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0),
    agg AS (
      SELECT t.doc_id,
             COUNT(g.g) AS n_ngrams,
             CAST(COALESCE(SUM(CASE WHEN b.g IS NOT NULL THEN 1 END), 0)
                  AS BIGINT) AS n_matched
      FROM toks t
      LEFT JOIN grams g ON t.doc_id = g.doc_id
      LEFT JOIN bench b ON g.g = b.g
      GROUP BY t.doc_id
    )
    SELECT doc_id, n_ngrams, n_matched,
           ROUND(CASE WHEN n_ngrams > 0
                      THEN n_matched / CAST(n_ngrams AS DOUBLE)
                      ELSE 0.0 END, 6) AS contamination,
           n_matched * 10 >= n_ngrams AS contaminated
    FROM agg
    """,
)
def _decontaminate_benchmark(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _cat(spark, sf_dir).table("documents")
    bench = docs.where(F.col("doc_id") % 50 == 0)
    return text.contamination(docs, bench, "doc_id", "text", n=5)


@register(
    "repetition_ratio",
    f"""
    WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS w FROM documents),
    grams AS (
      SELECT doc_id, w,
        list_transform(generate_series(1, greatest(len(w) - 1, 0)),
                       i -> w[i] || ' ' || w[i+1]) AS bi,
        list_transform(generate_series(1, greatest(len(w) - 2, 0)),
                       i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS tri
      FROM toks
    )
    SELECT doc_id, len(w) AS n_words,
      FLOOR((CASE WHEN len(w) > 0
            THEN 1.0 - len(list_distinct(w)) / CAST(len(w) AS DOUBLE)
            ELSE 0.0 END) * 1000000 + 0.5) / 1000000 AS dup_word_frac,
      FLOOR((CASE WHEN len(bi) > 0
            THEN 1.0 - len(list_distinct(bi)) / CAST(len(bi) AS DOUBLE)
            ELSE 0.0 END) * 1000000 + 0.5) / 1000000 AS dup_bigram_frac,
      FLOOR((CASE WHEN len(tri) > 0
            THEN 1.0 - len(list_distinct(tri)) / CAST(len(tri) AS DOUBLE)
            ELSE 0.0 END) * 1000000 + 0.5) / 1000000 AS dup_trigram_frac
    FROM grams
    """,
)
def _repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.repetition_features(
        _cat(spark, sf_dir).table("documents"), "doc_id", "text"
    )


# ==========================================================================
# Numeric histogram with in-plan bounds (operators/aggregate.py)
# ==========================================================================
@register(
    "histogram_price",
    """
    WITH b AS (SELECT MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi
               FROM lineitem)
    SELECT bucket,
           ROUND(lo + bucket * ((hi - lo) / 20.0), 2) AS bucket_lo,
           COUNT(*) AS n,
           ROUND(SUM(l_quantity), 2) AS sum_l_quantity
    FROM (
      SELECT LEAST(CAST(FLOOR((l_extendedprice - lo) / ((hi - lo) / 20.0))
                        AS BIGINT), 19) AS bucket,
             lo, hi, l_quantity
      FROM lineitem, b
    )
    GROUP BY bucket, lo, hi
    """,
)
def _histogram_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    return agg.histogram(
        _cat(spark, sf_dir).table("lineitem"),
        "l_extendedprice",
        nbins=20,
        measures=["l_quantity"],
    )


# ==========================================================================
# Rolling z-score anomaly detection over events (operators/window.py)
# ==========================================================================
@register(
    "anomaly_zscore_events",
    """
    SELECT event_id, user_id, value, zscore,
           CASE WHEN zscore IS NOT NULL THEN ABS(zscore) > 3 END AS is_anomaly
    FROM (
      SELECT event_id, user_id, value,
             ROUND(CASE WHEN sd > 0 THEN (value - mean) / sd END, 4) + 0.0 AS zscore
      FROM (
        SELECT event_id, user_id, value,
               AVG(value) OVER w AS mean,
               STDDEV_SAMP(value) OVER w AS sd
        FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
              FROM events)
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
      )
    )
    """,
)
def _anomaly_zscore_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _cat(spark, sf_dir).table("events")
    return win.rolling_zscore(
        ev, ["user_id"], ["ts", "event_id"], "value", lookback=20
    ).select("event_id", "user_id", "value", "zscore", "is_anomaly")


# ==========================================================================
# Time-series resample + forward fill (operators/timeseries.py)
# ==========================================================================
from etl_io_spark.operators import timeseries  # noqa: E402


@register(
    "resample_ffill_events",
    """
    WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value, event_id
               FROM events),
    obs AS (
      SELECT user_id, h AS bucket_ts, value FROM (
        SELECT user_id, date_trunc('hour', ts) AS h, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM e) WHERE rn = 1
    ),
    bounds AS (
      SELECT user_id, date_trunc('hour', MIN(ts)) AS lo,
             date_trunc('hour', MAX(ts)) AS hi
      FROM e GROUP BY user_id
    ),
    grid AS (
      SELECT user_id, UNNEST(generate_series(lo, hi, INTERVAL 1 HOUR))
               AS bucket_ts
      FROM bounds
    )
    SELECT g.user_id, g.bucket_ts,
           ROUND(LAST_VALUE(o.value IGNORE NULLS) OVER (
                   PARTITION BY g.user_id ORDER BY g.bucket_ts
                   ROWS UNBOUNDED PRECEDING), 2) AS value,
           o.value IS NULL AS filled
    FROM grid g LEFT JOIN obs o
      ON g.user_id = o.user_id AND g.bucket_ts = o.bucket_ts
    """,
)
def _resample_ffill_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return timeseries.resample_ffill(
        _cat(spark, sf_dir).table("events"),
        key_col="user_id",
        ts_col="ts",
        value_col="value",
        step="1 hour",
        tiebreak_col="event_id",
    )


@register(
    "rolling_dau_events",
    """
    WITH pairs AS (
      SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
      FROM events
    ),
    days AS (SELECT DISTINCT d FROM pairs),
    cover AS (
      SELECT user_id,
             CAST(UNNEST(generate_series(d, d + INTERVAL 6 DAY,
                                          INTERVAL 1 DAY)) AS DATE) AS day
      FROM pairs
    )
    SELECT c.day, COUNT(DISTINCT c.user_id) AS rolling_7d_distinct
    FROM cover c JOIN days ON c.day = days.d
    GROUP BY c.day
    """,
)
def _rolling_dau_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct active users per day
    (timeseries.rolling_distinct): Spark has no count_distinct over a
    RANGE window, so the scalable plan is cover-day fan-out — distinct
    (user, day) pairs exploded onto the 7 days each contributes to, then
    one distinct-count per day. Shuffle = 7 x active pairs, keyed by
    day."""
    return timeseries.rolling_distinct(
        _cat(spark, sf_dir).table("events"), "user_id", "ts", window_days=7
    )


# ==========================================================================
# Event-level sessionization (assignment twin of events_session_window)
# ==========================================================================
@register(
    "sessionize_events",
    """
    WITH ordered AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
             LAG(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY ts)
               AS prev_ts
      FROM events
    )
    SELECT event_id, user_id,
           CAST(SUM(CASE WHEN prev_ts IS NULL
                          OR ts > prev_ts + INTERVAL '30 minutes'
                         THEN 1 ELSE 0 END)
                OVER (PARTITION BY user_id ORDER BY ts
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
    FROM ordered
    """,
)
def _sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _cat(spark, sf_dir).table("events")
    return win.sessionize(ev, "user_id", "ts", gap="30 minutes").select(
        "event_id", "user_id", "session_id"
    )


# ==========================================================================
# Corpus vocabulary construction: exact top-k token frequencies
# ==========================================================================
@register(
    "vocab_top_tokens",
    f"""
    WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS w FROM documents),
    counts AS (
      SELECT t.token, COUNT(*) AS cnt
      FROM toks, UNNEST(w) AS t(token)
      GROUP BY t.token
    )
    SELECT token, cnt,
           CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS INT) AS rank
    FROM counts
    ORDER BY cnt DESC, token
    LIMIT 100
    """,
)
def _vocab_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.vocab_top_tokens(
        _cat(spark, sf_dir).table("documents"), "text", k=100
    )


# ==========================================================================
# Multi-join analytics (TPC-H Q3/Q5/Q10 shapes; plans/pipelines.py) —
# chained dim-filter -> fact-join passes (etl_io.py:347-386) at star scale
# ==========================================================================
@register("shipping_priority", pipelines.SHIPPING_PRIORITY_SQL)
def _shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pipelines.shipping_priority(_cat(spark, sf_dir))


@register("regional_revenue", pipelines.REGIONAL_REVENUE_SQL)
def _regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pipelines.regional_revenue(_cat(spark, sf_dir))


@register("returned_customers", pipelines.RETURNED_CUSTOMERS_SQL)
def _returned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pipelines.returned_customers(_cat(spark, sf_dir))


@register("large_order_customers", pipelines.LARGE_ORDER_CUSTOMERS_SQL)
def _large_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: the HAVING filter shrinks the aggregated lineitem
    side to a sliver BEFORE any join, then broadcasts — the fact tables
    are never shuffled against each other."""
    return pipelines.large_order_customers(_cat(spark, sf_dir))


@register("nations_trade_volume", pipelines.NATIONS_TRADE_VOLUME_SQL)
def _nations_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade revenue by ship year — nation
    filters push through broadcast dim joins before the one fact-fact
    shuffle join."""
    return pipelines.nations_trade_volume(_cat(spark, sf_dir))


# ==========================================================================
# First/last per group via min_by/max_by (one partial-agg shuffle)
# ==========================================================================
@register(
    "first_last_event",
    """
    WITH ranked AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn_d,
             COUNT(*) OVER (PARTITION BY user_id) AS n_rows
      FROM events
    )
    SELECT user_id,
           MAX(CASE WHEN rn_a = 1 THEN event_type END) AS first_event_type,
           MAX(CASE WHEN rn_d = 1 THEN event_type END) AS last_event_type,
           MAX(n_rows) AS n_rows
    FROM ranked GROUP BY user_id
    """,
)
def _first_last_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _cat(spark, sf_dir).table("events")
    return agg.group_first_last(
        ev, ["user_id"], ["ts", "event_id"], "event_type"
    )


# ==========================================================================
# Bivariate statistics: corr / covar / stddev per group (single-pass
# co-moment merge; absent from the reference's sum/count/product set)
# ==========================================================================
@register(
    "corr_stats_flags",
    """
    SELECT l_returnflag,
           ROUND(CORR(l_quantity, l_extendedprice), 6) + 0.0 AS corr_xy,
           ROUND(COVAR_SAMP(l_quantity, l_extendedprice), 6) + 0.0 AS covar_xy,
           ROUND(STDDEV_SAMP(l_quantity), 6) AS stddev_x,
           ROUND(STDDEV_SAMP(l_extendedprice), 6) AS stddev_y,
           COUNT(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag
    """,
)
def _corr_stats_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _cat(spark, sf_dir).table("lineitem")
    return agg.corr_stats(
        li, ["l_returnflag"], "l_quantity", "l_extendedprice"
    )


# ==========================================================================
# Time-based trailing average (RANGE window over real timestamps)
# ==========================================================================
@register(
    "rolling_avg_events",
    """
    SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
           ROUND(value, 2) AS value, props,
           ROUND(AVG(value) OVER (
             PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
           ), 4) AS rolling_avg_value
    FROM events
    """,
)
def _rolling_avg_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _cat(spark, sf_dir).table("events")
    out = timeseries.rolling_avg_time(
        ev, "user_id", "ts", "value", window_seconds=3600
    )
    return out.withColumn("value", F.round("value", 2))


# ==========================================================================
# BM25 lexical retrieval over the documents corpus (operators/text.py).
# Constants are written as the same arithmetic in both engines (1.2 + 1,
# 1 - 0.75 + ...) so IEEE evaluation is bit-identical before rounding.
# ==========================================================================
_BM25_TERMS = ("spark", "window", "merge")
_BM25_TF_SQL = ",\n         ".join(
    f"len(list_filter(toks, x -> x = '{t}')) AS tf{i}"
    for i, t in enumerate(_BM25_TERMS)
)
_BM25_DF_SQL = ", ".join(
    f"SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
    for i in range(len(_BM25_TERMS))
)
_BM25_SCORE_SQL = "\n         + ".join(
    f"ln((N - df{i} + 0.5) / (df{i} + 0.5) + 1.0) * (tf{i} * (1.2 + 1))"
    f" / (tf{i} + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))"
    for i in range(len(_BM25_TERMS))
)
_BM25_HIT_SQL = " OR ".join(f"tf{i} > 0" for i in range(len(_BM25_TERMS)))


@register(
    "bm25_search",
    f"""
    WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    base AS (
      SELECT doc_id, len(toks) AS dl,
         {_BM25_TF_SQL}
      FROM t
    ),
    stats AS (
      SELECT COUNT(*) AS N, AVG(dl) AS avgdl, {_BM25_DF_SQL} FROM base
    )
    SELECT doc_id,
           ROUND({_BM25_SCORE_SQL}, 4) AS bm25
    FROM base, stats
    WHERE {_BM25_HIT_SQL}
    ORDER BY bm25 DESC, doc_id
    LIMIT 20
    """,
)
def _bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _cat(spark, sf_dir).table("documents")
    return text.bm25_topk(docs, "doc_id", "text", _BM25_TERMS, k=20)


# ==========================================================================
# End-to-end corpus curation (operators/training.py): quality gate ->
# exact dedup keep-lowest-id -> hash split -> per-split accounting
# ==========================================================================
@register(
    "corpus_curation",
    f"""
    WITH f AS (
      SELECT doc_id, text, len({_DUCK_TOKS}) AS nw,
             CASE WHEN LENGTH(text) > 0
                  THEN (LENGTH(text)
                        - LENGTH(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')))
                       * 1.0 / LENGTH(text)
                  ELSE 0.0 END AS pr,
             CASE WHEN len({_DUCK_TOKS}) > 0
                  THEN len(regexp_extract_all(text, '\\b(the|a|and|of|to|in|is|it)\\b')) * 1.0
                       / len({_DUCK_TOKS})
                  ELSE 0.0 END AS sw
      FROM documents
    ),
    q AS (
      SELECT doc_id, text, nw,
             ROUND((CASE WHEN nw BETWEEN 20 AND 1000 THEN 0.4 ELSE 0.0 END)
                 + (CASE WHEN sw >= 0.05 THEN 0.3 ELSE 0.0 END)
                 + (CASE WHEN pr <= 0.1 THEN 0.3 ELSE 0.0 END), 2) AS q
      FROM f
    ),
    gated AS (
      SELECT * FROM q WHERE nw >= 5 AND q >= 0.7
    ),
    deduped AS (
      SELECT * FROM gated
      QUALIFY doc_id = MIN(doc_id) OVER (
        PARTITION BY CAST(('0x' || substring(md5(text),1,15)) AS BIGINT))
    ),
    split AS (
      SELECT nw, q,
             CASE WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) % 10000 < 8000 THEN 'train'
                  WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) % 10000 < 9000 THEN 'val'
                  ELSE 'test' END AS split
      FROM deduped
    )
    SELECT split, COUNT(*) AS n_docs, CAST(SUM(nw) AS BIGINT) AS total_words,
           ROUND(AVG(q), 4) AS avg_quality
    FROM split GROUP BY split
    """,
)
def _corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _cat(spark, sf_dir).table("documents")
    return training.curate_corpus(docs, "doc_id", "text")


def _curation_pipeline_oracle(
    num_perm: int = 16, bands: int = 4, thr: float = 0.5
) -> str:
    """DuckDB replica of training.curation_pipeline's ACCOUNTING row: the
    corpus_curation quality/dedup CTEs, the fuzzy_dedup_keep_best
    minhash/band/recursive-CC machinery re-rooted on the exact-deduped
    docs (quality = word count, the pipeline's keep-longest rule), the
    split ring, and the pack_sequences cumsum windows — one end-to-end
    conservation check the driver can grade."""
    from etl_io_spark.operators import dedup as _d

    rpb = num_perm // bands
    p = _d.MINHASH_P
    a = ", ".join(str(_d._perm_a(j)) for j in range(num_perm))
    b = ", ".join(str(_d._perm_b(j)) for j in range(num_perm))
    return f"""
    WITH RECURSIVE f AS (
      SELECT doc_id, text, len({_DUCK_TOKS}) AS nw,
             CASE WHEN LENGTH(text) > 0
                  THEN (LENGTH(text)
                        - LENGTH(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')))
                       * 1.0 / LENGTH(text)
                  ELSE 0.0 END AS pr,
             CASE WHEN len({_DUCK_TOKS}) > 0
                  THEN len(regexp_extract_all(text, '\\b(the|a|and|of|to|in|is|it)\\b')) * 1.0
                       / len({_DUCK_TOKS})
                  ELSE 0.0 END AS sw
      FROM documents
    ),
    gated AS (
      SELECT doc_id, text, nw FROM (
        SELECT doc_id, text, nw,
               ROUND((CASE WHEN nw BETWEEN 20 AND 1000 THEN 0.4 ELSE 0.0 END)
                   + (CASE WHEN sw >= 0.05 THEN 0.3 ELSE 0.0 END)
                   + (CASE WHEN pr <= 0.1 THEN 0.3 ELSE 0.0 END), 2) AS q
        FROM f
      ) WHERE nw >= 5 AND q >= 0.7
    ),
    deduped AS (
      SELECT * FROM gated
      QUALIFY doc_id = MIN(doc_id) OVER (
        PARTITION BY CAST(('0x' || substring(md5(text),1,15)) AS BIGINT))
    ),
    toks2 AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l FROM deduped
    ),
    sh AS (
      SELECT DISTINCT doc_id, {_H.format(s='g')} AS sh FROM (
        SELECT doc_id,
               UNNEST([l[i] || ' ' || l[i+1] || ' ' || l[i+2]
                       for i in generate_series(1, len(l) - 2)]) AS g
        FROM toks2)
    ),
    perms AS (SELECT UNNEST(generate_series(0, {num_perm - 1})) AS j),
    sig AS (
      SELECT doc_id, j,
             MIN((([{a}][j+1]) * (sh % {p}) + ([{b}][j+1])) % {p}) AS minhash
      FROM sh, perms GROUP BY doc_id, j
    ),
    bkeys AS (
      SELECT doc_id, CAST(j // {rpb} AS INT) AS band,
             md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY j)) AS bkey
      FROM sig GROUP BY doc_id, CAST(j // {rpb} AS INT)
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      FROM bkeys x JOIN bkeys y ON x.band = y.band AND x.bkey = y.bkey
      WHERE x.doc_id < y.doc_id
    ),
    est AS (
      SELECT a, b FROM (
        SELECT a, b,
               ROUND(SUM(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END)
                     * 1.0 / COUNT(*), 6) AS ej
        FROM cand
        JOIN sig sa ON sa.doc_id = a
        JOIN sig sb ON sb.doc_id = b AND sb.j = sa.j
        GROUP BY a, b
      ) WHERE ej >= {thr}
    ),
    cedges AS (SELECT a AS src, b AS dst FROM est
               UNION ALL SELECT b AS src, a AS dst FROM est),
    reach AS (
      SELECT src AS id, src AS r FROM cedges
      UNION
      SELECT e.dst AS id, reach.r FROM reach JOIN cedges e ON e.src = reach.id
    ),
    comp AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
    lab AS (SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
                   d.nw
            FROM deduped d LEFT JOIN comp c ON d.doc_id = c.id),
    kept AS (
      SELECT doc_id, nw FROM (
        SELECT doc_id, nw,
               ROW_NUMBER() OVER (PARTITION BY cluster_id
                                  ORDER BY nw DESC, doc_id ASC) AS rn
        FROM lab
      ) WHERE rn = 1
    ),
    splitk AS (
      SELECT doc_id, nw,
             CASE WHEN {_H_ID} % 10000 < 8000 THEN 'train'
                  WHEN {_H_ID} % 10000 < 9000 THEN 'val'
                  ELSE 'test' END AS split,
             {_H_ID} % 32 AS shard
      FROM kept
    ),
    packed AS (
      SELECT split, shard, nw,
             CAST(SUM(nw) OVER (
               PARTITION BY split, shard ORDER BY {_H_ID}, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) - nw AS BIGINT) AS tok_start
      FROM splitk
    ),
    bins AS (
      SELECT split,
             CAST(shard * 4294967296 + tok_start // 512 AS BIGINT) AS bin_id,
             nw
      FROM packed
    )
    SELECT (SELECT COUNT(*) FROM documents) AS n_in,
           (SELECT COUNT(*) FROM documents) - (SELECT COUNT(*) FROM gated)
             AS n_quality_removed,
           (SELECT COUNT(*) FROM gated) AS n_gated,
           (SELECT COUNT(*) FROM gated) - (SELECT COUNT(*) FROM deduped)
             AS n_exact_removed,
           (SELECT COUNT(*) FROM deduped) AS n_exact_kept,
           (SELECT COUNT(*) FROM deduped) - (SELECT COUNT(*) FROM kept)
             AS n_fuzzy_removed,
           (SELECT COUNT(*) FROM kept) AS n_kept,
           COUNT(*) AS n_packed_docs,
           COUNT(DISTINCT (split, bin_id)) AS n_bins,
           CAST(SUM(nw) AS BIGINT) AS total_tokens
    FROM bins
    """


@register("curation_pipeline", _curation_pipeline_oracle())
def _curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The brief's 100 TB workload as ONE graded plan
    (training.curation_pipeline — VERDICT r6 ask #7): quality gate →
    exact dedup → MinHash-LSH fuzzy keep-longest → split ring →
    per-split packing, graded on its one-row row-conservation accounting
    frame. The oracle replays every stage in SQL (recursive-CTE
    components for the fuzzy step), so in = removed + kept is checked
    end-to-end across engines, not just within one."""
    docs = _cat(spark, sf_dir).table("documents")
    return training.curation_pipeline(docs, "doc_id", "text")["accounting"]


# ==========================================================================
# Market-basket co-occurrence mining (operators/aggregate.py): top part
# pairs within orders — one fact shuffle + map-side pair expansion; the
# oracle proves equivalence to the naive self-join formulation
# ==========================================================================
@register(
    "market_basket_pairs",
    """
    WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
    SELECT a.l_partkey AS item_a, c.l_partkey AS item_b,
           COUNT(*) AS n_baskets
    FROM b a JOIN b c
      ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
    GROUP BY 1, 2
    HAVING COUNT(*) >= 2
    ORDER BY n_baskets DESC, item_a, item_b
    LIMIT 50
    """,
)
def _market_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _cat(spark, sf_dir).table("lineitem")
    return agg.cooccurrence_pairs(li, "l_orderkey", "l_partkey", min_count=2, k=50)


@register(
    "item_similarity",
    """
    WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    ic AS (SELECT l_partkey, COUNT(*) AS n FROM b GROUP BY 1),
    pc AS (
      SELECT a.l_partkey AS item_a, c.l_partkey AS item_b,
             COUNT(*) AS n_baskets
      FROM b a JOIN b c
        ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    )
    SELECT item_a, item_b, n_baskets,
           ROUND(n_baskets / sqrt(ia.n * 1.0 * ib.n), 6) AS cosine_sim
    FROM pc
    JOIN ic ia ON item_a = ia.l_partkey
    JOIN ic ib ON item_b = ib.l_partkey
    ORDER BY cosine_sim DESC, item_a, item_b LIMIT 50
    """,
)
def _item_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item cosine from basket co-occurrence (agg.item_similarity):
    the recommender candidate generator — pair counts normalized by
    per-item frequency so ubiquitous parts don't dominate."""
    li = _cat(spark, sf_dir).table("lineitem")
    return agg.item_similarity(li, "l_orderkey", "l_partkey")


# ==========================================================================
# Trending event types: top-3 per tumbling window (window agg + ranked
# window function sharing one keyed sort)
# ==========================================================================
@register(
    "trending_event_types",
    """
    WITH counted AS (
      SELECT time_bucket(INTERVAL '10 minutes', CAST(ts AS TIMESTAMP)) AS window_start,
             event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT window_start, event_type, n, CAST(rn AS INT) AS rn
    FROM (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY window_start ORDER BY n DESC, event_type) AS rn
      FROM counted
    ) WHERE rn <= 3
    """,
)
def _trending_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _cat(spark, sf_dir).table("events")
    counted = (
        ev.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    return win.top_k_per_group(
        counted,
        ["window_start"],
        [F.col("n").desc(), F.col("event_type")],
        k=3,
    )


# ==========================================================================
# Winsorization: per-group exact-quantile clipping (operators/aggregate.py)
# ==========================================================================
@register(
    "winsorize_prices",
    f"""
    -- explicit interpolation + floor-form via the shared
    -- _pctl_term_sql generator (round 10; quantile_cont's internal
    -- formula differs in the last ulp and the final ROUND splits
    -- HALF_UP-vs-binary on terminating bounds)
    WITH s AS (
      SELECT l_returnflag AS k, l_extendedprice AS v,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                ORDER BY l_extendedprice) AS rn,
             COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem WHERE l_extendedprice IS NOT NULL
    ),
    bounds AS (
      SELECT k,
             {_pctl_term_sql('0.05', 'lo', 9)},
             {_pctl_term_sql('0.95', 'hi', 9)}
      FROM s GROUP BY k
    )
    SELECT l_orderkey, l_linenumber,
           FLOOR(LEAST(GREATEST(l_extendedprice, lo), hi) * 100 + 0.5) / 100
             AS l_extendedprice_wins
    FROM lineitem JOIN bounds ON l_returnflag = k
    """,
)
def _winsorize_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _cat(spark, sf_dir).table("lineitem")
    return agg.winsorize(
        li.select("l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice"),
        ["l_returnflag"],
        "l_extendedprice",
    ).select("l_orderkey", "l_linenumber", "l_extendedprice_wins")


# Rows-only twin on the KLL-style approx_percentile bounds — the 100 TB
# scale path (partial-aggregable sketch, no per-group sort). The sketch's
# merge order is engine-internal, so no SQL oracle can reproduce the
# bounds bit-for-bit; accuracy is asserted in pytest against the exact
# path instead (clip bounds within the sketch's rank-error tolerance).
@register("winsorize_prices_approx")
def _winsorize_prices_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _cat(spark, sf_dir).table("lineitem")
    return agg.winsorize(
        li.select("l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice"),
        ["l_returnflag"],
        "l_extendedprice",
        approx=True,
    ).select("l_orderkey", "l_linenumber", "l_extendedprice_wins")


# ==========================================================================
# Mergeable-sketch rollup: daily HLL sketches unioned to monthly distinct
# users WITHOUT rescanning the fact table (no SQL oracle: sketch estimate;
# accuracy asserted against exact counts in tests)
# ==========================================================================
@register("sketch_rollup_users")
def _sketch_rollup_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _cat(spark, sf_dir).table("events")
    return agg.sketch_rollup_distinct(
        ev,
        F.date_trunc("hour", "ts"),
        F.to_date("ts"),
        "user_id",
        fine_alias="hour",
        coarse_alias="day",
    )


# ==========================================================================
# Incremental corpus dedup: flag incoming docs already in the landed
# corpus (operators/dedup.py) — the ingestion gate for growing corpora
# ==========================================================================
@register(
    "incremental_dedup",
    """
    WITH inc AS (
      SELECT doc_id,
             CAST(('0x' || substring(md5(text),1,15)) AS BIGINT) AS k
      FROM documents WHERE doc_id % 5 = 0
    ),
    corpus AS (
      SELECT DISTINCT CAST(('0x' || substring(md5(text),1,15)) AS BIGINT) AS k
      FROM documents WHERE doc_id % 5 <> 0
    ),
    flagged AS (
      SELECT i.doc_id, i.k, (c.k IS NOT NULL) AS in_corpus
      FROM inc i LEFT JOIN corpus c ON i.k = c.k
    )
    SELECT doc_id, in_corpus,
           (doc_id = MIN(doc_id) OVER (PARTITION BY k) AND NOT in_corpus)
             AS keep
    FROM flagged
    """,
)
def _incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _cat(spark, sf_dir).table("documents")
    incoming = docs.where(F.col("doc_id") % 5 == 0)
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    return dedup.incremental_exact_dedup(incoming, corpus, "doc_id", "text")


# ==========================================================================
# Data profiling + quality checks (operators/profile.py)
# ==========================================================================
from etl_io_spark.operators import profile as prof  # noqa: E402


@register(
    "skew_lineitem_suppkey",
    """
    WITH counts AS (
      SELECT CAST(l_suppkey AS VARCHAR) AS key_value, COUNT(*) AS cnt
      FROM lineitem GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(cnt) AS DOUBLE) AS total,
             CAST(COUNT(*) AS DOUBLE) AS nkeys
      FROM counts
    )
    SELECT key_value, cnt, ROUND(cnt / total, 6) AS share,
           ROUND(cnt * nkeys / total, 6) AS skew_ratio
    FROM counts, tot ORDER BY cnt DESC, key_value LIMIT 10
    """,
)
def _skew_lineitem_suppkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnostic (profile.key_skew): the heaviest
    supplier keys in lineitem with row share and skew ratio — the
    pre-flight check that decides salting / AQE skew-join before a big
    shuffle, for the cost of one partial-aggregated count."""
    return prof.key_skew(
        _cat(spark, sf_dir).table("lineitem"), "l_suppkey", top=10
    )


@register(
    "profile_lineitem",
    """
    WITH s AS (
      SELECT COUNT(*) AS n_q, SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS nn_q,
             COUNT(DISTINCT l_quantity) AS nd_q,
             ROUND(CAST(MIN(l_quantity) AS DOUBLE), 6) AS min_q,
             ROUND(CAST(MAX(l_quantity) AS DOUBLE), 6) AS max_q,
             ROUND(AVG(l_quantity), 6) AS avg_q, ROUND(STDDEV_SAMP(l_quantity), 6) AS std_q,
             COUNT(*) AS n_p, SUM(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS nn_p,
             COUNT(DISTINCT l_extendedprice) AS nd_p,
             ROUND(CAST(MIN(l_extendedprice) AS DOUBLE), 6) AS min_p,
             ROUND(CAST(MAX(l_extendedprice) AS DOUBLE), 6) AS max_p,
             ROUND(AVG(l_extendedprice), 6) AS avg_p, ROUND(STDDEV_SAMP(l_extendedprice), 6) AS std_p,
             COUNT(*) AS n_f, SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS nn_f,
             COUNT(DISTINCT l_returnflag) AS nd_f
      FROM lineitem
    )
    SELECT 'l_quantity' AS "column", m.metric,
           CASE m.metric WHEN 'n' THEN CAST(n_q AS DOUBLE) WHEN 'n_null' THEN CAST(nn_q AS DOUBLE)
                WHEN 'n_distinct' THEN CAST(nd_q AS DOUBLE) WHEN 'min' THEN min_q
                WHEN 'max' THEN max_q WHEN 'mean' THEN avg_q ELSE std_q END AS value
    FROM s, (VALUES ('n'),('n_null'),('n_distinct'),('min'),('max'),('mean'),('stddev')) m(metric)
    UNION ALL
    SELECT 'l_extendedprice', m.metric,
           CASE m.metric WHEN 'n' THEN CAST(n_p AS DOUBLE) WHEN 'n_null' THEN CAST(nn_p AS DOUBLE)
                WHEN 'n_distinct' THEN CAST(nd_p AS DOUBLE) WHEN 'min' THEN min_p
                WHEN 'max' THEN max_p WHEN 'mean' THEN avg_p ELSE std_p END
    FROM s, (VALUES ('n'),('n_null'),('n_distinct'),('min'),('max'),('mean'),('stddev')) m(metric)
    UNION ALL
    SELECT 'l_returnflag', m.metric,
           CASE m.metric WHEN 'n' THEN CAST(n_f AS DOUBLE) WHEN 'n_null' THEN CAST(nn_f AS DOUBLE)
                ELSE CAST(nd_f AS DOUBLE) END
    FROM s, (VALUES ('n'),('n_null'),('n_distinct')) m(metric)
    """,
)
def _profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _cat(spark, sf_dir).table("lineitem")
    return prof.profile_columns(
        li, ["l_quantity", "l_extendedprice"], ["l_returnflag"]
    )


@register(
    "dq_violations",
    """
    SELECT 'orphan_fact' AS check, COUNT(*) AS n_bad
    FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders WHERE o_orderkey IS NOT NULL)
    UNION ALL
    SELECT 'dup_key', COUNT(*) FROM (
      SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1
    )
    UNION ALL
    SELECT 'null_key', COUNT(*) FROM lineitem WHERE l_orderkey IS NULL
    UNION ALL
    SELECT 'negative_price', COUNT(*) FROM lineitem WHERE NOT (l_extendedprice >= 0)
    UNION ALL
    SELECT 'discount_range', COUNT(*) FROM lineitem WHERE NOT (l_discount BETWEEN 0 AND 1)
    """,
)
def _dq_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = _cat(spark, sf_dir)
    li, orders = cat.table("lineitem"), cat.table("orders")
    return prof.dq_checks(
        li,
        "l_orderkey",
        orders,
        "o_orderkey",
        orders,
        "o_orderkey",
        domain_checks=[
            ("negative_price", F.col("l_extendedprice") >= 0),
            ("discount_range", F.col("l_discount").between(0, 1)),
        ],
    )


# ==========================================================================
# SCD2 dimension-history merge (operators/scd.py): fold a changed customer
# snapshot into an open history — one full-outer join decides all cases
# ==========================================================================
from etl_io_spark.operators import scd  # noqa: E402


_SCD2_MERGED_SQL = """
    WITH hist AS (
      SELECT c_custkey, ROUND(c_acctbal, 2) AS acctbal,
             DATE '2024-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to
      FROM customer
    ),
    snap AS (
      SELECT c_custkey,
             ROUND(CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100 ELSE c_acctbal END, 2) AS acctbal
      FROM customer WHERE c_custkey % 11 <> 3
    ),
    j AS (
      SELECT h.c_custkey AS hk, h.acctbal AS ha, h.valid_from, s.c_custkey AS sk, s.acctbal AS sa
      FROM hist h FULL OUTER JOIN snap s ON h.c_custkey = s.c_custkey
    )
    SELECT hk AS c_custkey, ha AS acctbal, valid_from, CAST(NULL AS DATE) AS valid_to
    FROM j WHERE hk IS NOT NULL AND sk IS NOT NULL AND ha = sa
    UNION ALL
    SELECT hk, ha, valid_from, DATE '2024-06-01'
    FROM j WHERE (hk IS NOT NULL AND sk IS NOT NULL AND ha <> sa)
             OR (hk IS NOT NULL AND sk IS NULL)
    UNION ALL
    SELECT sk, sa, DATE '2024-06-01', CAST(NULL AS DATE)
    FROM j WHERE sk IS NOT NULL AND (hk IS NULL OR ha <> sa)
    """


def _scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _cat(spark, sf_dir).table("customer")
    hist = cust.select(
        "c_custkey",
        F.round("c_acctbal", 2).alias("acctbal"),
        F.lit("2024-01-01").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
    )
    snap = cust.where(F.col("c_custkey") % 11 != 3).select(
        "c_custkey",
        F.round(
            F.when(
                F.col("c_custkey") % 7 == 0, F.col("c_acctbal") + 100
            ).otherwise(F.col("c_acctbal")),
            2,
        ).alias("acctbal"),
    )
    return scd.scd2_merge(
        hist, snap, "c_custkey", ["acctbal"], "2024-06-01",
        close_missing=True,
    )


@register("scd2_customer_merge", _SCD2_MERGED_SQL)
def _scd2_customer_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _scd2_history(spark, sf_dir)


@register(
    "scd2_snapshot_lookup",
    f"""
    WITH merged AS ({_SCD2_MERGED_SQL})
    SELECT c_custkey, acctbal, valid_from, valid_to
    FROM merged
    WHERE valid_from <= DATE '2024-06-01'
      AND (valid_to IS NULL OR valid_to > DATE '2024-06-01')
    """,
)
def _scd2_snapshot_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension read (scd.scd2_snapshot_at): the active row
    version per key on the as-of date — how a fact table joins the right
    historical attributes (the read half of SCD2)."""
    return scd.scd2_snapshot_at(_scd2_history(spark, sf_dir), "2024-06-01")


@register(
    "merge_upsert_customer",
    """
    WITH target AS (
      SELECT c_custkey, ROUND(c_acctbal, 2) AS acctbal,
             c_mktsegment AS segment
      FROM customer
    ),
    changes AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 13 = 2 THEN 'D' ELSE 'U' END AS op,
             ROUND(c_acctbal + 50, 2) AS acctbal, c_mktsegment AS segment
      FROM customer WHERE c_custkey % 13 = 2 OR c_custkey % 7 = 0
      UNION ALL
      SELECT -c_custkey, 'I', ROUND(c_acctbal, 2), 'NEW'
      FROM customer WHERE c_custkey % 17 = 5
    )
    SELECT COALESCE(t.c_custkey, c.c_custkey) AS c_custkey,
           CASE WHEN c.c_custkey IS NOT NULL THEN c.acctbal
                ELSE t.acctbal END AS acctbal,
           CASE WHEN c.c_custkey IS NOT NULL THEN c.segment
                ELSE t.segment END AS segment
    FROM target t FULL OUTER JOIN changes c ON t.c_custkey = c.c_custkey
    WHERE c.c_custkey IS NULL OR c.op <> 'D'
    """,
)
def _merge_upsert_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-style CDC apply (operators/scd.py ``merge_upsert``): deletes,
    updates and inserts folded into the customer table through ONE
    full-outer join (the change batch broadcasts; the target never
    shuffles). Upgrades the reference's whole-table copy sink
    (etl_io.py:203-219) to incremental maintenance."""
    cust = _cat(spark, sf_dir).table("customer")
    target = cust.select(
        "c_custkey",
        F.round("c_acctbal", 2).alias("acctbal"),
        F.col("c_mktsegment").alias("segment"),
    )
    mods = cust.where(
        (F.col("c_custkey") % 13 == 2) | (F.col("c_custkey") % 7 == 0)
    ).select(
        "c_custkey",
        F.when(F.col("c_custkey") % 13 == 2, F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.round(F.col("c_acctbal") + 50, 2).alias("acctbal"),
        F.col("c_mktsegment").alias("segment"),
    )
    inserts = cust.where(F.col("c_custkey") % 17 == 5).select(
        (-F.col("c_custkey")).alias("c_custkey"),
        F.lit("I").alias("op"),
        F.round("c_acctbal", 2).alias("acctbal"),
        F.lit("NEW").alias("segment"),
    )
    return scd.merge_upsert(
        target, mods.unionByName(inserts), "c_custkey"
    )


# ==========================================================================
# Z-order (Morton) clustering code (functions/encoding.py): the layout key
# behind write_zordered — graded as a value query so the bit interleave is
# oracle-checked; the writer itself is layout-tested in pytest
# ==========================================================================
from etl_io_spark.functions.encoding import morton2, morton2_sql  # noqa: E402


@register(
    "zorder_code_orders",
    f"""
    SELECT o_orderkey,
           {morton2_sql("o_custkey",
                        "datediff('day', DATE '1970-01-01', o_orderdate)")}
             AS zval
    FROM orders
    """,
)
def _zorder_code_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order key for a (customer, order-date) clustered layout: pure
    Catalyst bit arithmetic, whole-stage codegen, zero shuffles."""
    orders = _cat(spark, sf_dir).table("orders")
    return orders.select(
        "o_orderkey",
        morton2(
            F.col("o_custkey"),
            F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date")),
        ).alias("zval"),
    )


@register(
    "oov_rate_docs",
    r"""
    WITH toks AS (
      SELECT doc_id, UNNEST(string_split_regex(trim(text), '\s+')) AS tok
      FROM documents
    ),
    nonempty AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
    vocab AS (
      SELECT tok FROM (
        SELECT tok, COUNT(*) AS cnt FROM nonempty GROUP BY tok
        ORDER BY cnt DESC, tok LIMIT 100
      )
    ),
    stats AS (
      SELECT doc_id, CAST(COUNT(*) AS INT) AS n_tokens,
             CAST(SUM(CASE WHEN tok IN (SELECT tok FROM vocab)
                           THEN 0 ELSE 1 END) AS INT) AS n_oov
      FROM nonempty GROUP BY doc_id
    )
    SELECT d.doc_id,
           CASE WHEN d.text IS NULL THEN NULL
                ELSE COALESCE(s.n_tokens, 0) END AS n_tokens,
           CASE WHEN d.text IS NULL THEN NULL
                ELSE COALESCE(s.n_oov, 0) END AS n_oov,
           CASE WHEN d.text IS NULL THEN NULL
                WHEN COALESCE(s.n_tokens, 0) > 0
                THEN FLOOR(s.n_oov / s.n_tokens * 1000000 + 0.5) / 1000000
                ELSE 0.0 END AS oov_rate
    FROM documents d LEFT JOIN stats s ON d.doc_id = s.doc_id
    """,
)
def _oov_rate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage gate (text.oov_rate): fraction of tokens per
    document outside the top-100 corpus vocabulary — flags encoding junk
    and wrong-language docs; vocab broadcasts, per-doc pass is pure map."""
    return text.oov_rate(_cat(spark, sf_dir).table("documents"))


@register(
    "embedding_gram",
    """
    SELECT CAST(gi.i - 1 AS INT) AS i, CAST(gj.i - 1 AS INT) AS j,
           ROUND(SUM(CAST(embedding[gi.i] AS DOUBLE)
                     * CAST(embedding[gj.i] AS DOUBLE)), 6) + 0.0 AS v
    FROM embeddings, generate_series(1, 64) gi(i), generate_series(1, 64) gj(i)
    WHERE gi.i <= gj.i
    GROUP BY 1, 2
    """,
)
def _embedding_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Gram matrix (similarity.embedding_gram): per-partition
    BLAS matmul partials merged by one tiny groupBy — the PCA/whitening
    building block whose shuffle is independent of corpus size."""
    from etl_io_spark.operators import similarity as sim

    return sim.embedding_gram(_cat(spark, sf_dir).table("embeddings"))


def _kmeans_oracle(k: int = 4, iterations: int = 3, dims: int = 64) -> str:
    ctes, final = _kmeans_ctes(k, iterations, dims)
    return f"""
    WITH {ctes}
    SELECT vec_id, c AS cluster FROM {final}
    """


@register("kmeans_embeddings", _kmeans_oracle())
def _kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means (similarity.kmeans_assign): fixed
    iterations, deterministic lowest-id seeding; the oracle unrolls the
    same assign/recenter rounds as chained CTEs."""
    from etl_io_spark.operators import similarity as sim

    return sim.kmeans_assign(_cat(spark, sf_dir).table("embeddings"))


# ==========================================================================
# Segment-level dedup (operators/dedup.py): corpus-wide repeated-span
# removal — drop every 16-token segment already seen earlier, keep docs
# ==========================================================================
@register(
    "segment_dedup_docs",
    r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(text, '\s+') AS t FROM documents
    ),
    segidx AS (
      SELECT doc_id, t,
             UNNEST(generate_series(
               0, CAST(greatest(ceil(len(t)/16.0), 1) AS INT) - 1))
               AS seg_idx
      FROM toks
    ),
    segs AS (
      SELECT doc_id, seg_idx,
             array_to_string(t[(seg_idx*16+1):(seg_idx*16+16)], ' ') AS seg
      FROM segidx
    ),
    kept AS (
      SELECT doc_id, seg_idx, seg,
             ROW_NUMBER() OVER (PARTITION BY md5(seg)
                                ORDER BY doc_id, seg_idx) AS rn
      FROM segs
    ),
    rebuilt AS (
      SELECT doc_id, string_agg(seg, ' ' ORDER BY seg_idx) AS clean_text,
             COUNT(*) AS n_kept
      FROM kept WHERE rn = 1 GROUP BY doc_id
    )
    SELECT d.doc_id, COALESCE(r.clean_text, '') AS clean_text,
           COALESCE(r.n_kept, 0) AS n_kept
    FROM documents d LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
    """,
)
def _segment_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-span removal (dedup.segment_dedup): catches boilerplate
    inside otherwise-unique documents — the passage-level complement of
    document-hash dedup in an LLM curation pipeline."""
    return dedup.segment_dedup(_cat(spark, sf_dir).table("documents"))


# ==========================================================================
# PageRank (operators/graph.py): fixed-point value propagation over the
# symmetrized customer-supplier trade graph; the oracle unrolls the same
# fixed iteration count as chained CTEs (all-double arithmetic both sides)
# ==========================================================================
def _pagerank_oracle(iterations: int = 5) -> str:
    d = "CAST(0.85 AS DOUBLE)"
    head = """
    WITH base AS (
      SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                      's' || CAST(l_suppkey AS VARCHAR) AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    edges AS (SELECT src, dst FROM base UNION SELECT dst, src FROM base),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    r0 AS (SELECT node, CAST(1 AS DOUBLE) / (SELECT n FROM nn) AS rank
           FROM nodes)"""
    steps = []
    for i in range(1, iterations + 1):
        steps.append(f""",
    r{i} AS (
      SELECT nodes.node,
             (CAST(1 AS DOUBLE) - {d}) / (SELECT n FROM nn)
               + {d} * COALESCE(c.s, CAST(0 AS DOUBLE)) AS rank
      FROM nodes LEFT JOIN (
        SELECT e.dst, SUM(r.rank / deg.outdeg) AS s
        FROM edges e JOIN deg ON e.src = deg.src
        JOIN r{i - 1} r ON r.node = e.src
        GROUP BY e.dst
      ) c ON nodes.node = c.dst
    )""")
    return (
        head
        + "".join(steps)
        + f"""
    SELECT node, ROUND(rank, 6) AS rank FROM r{iterations}
    """
    )


@register("pagerank_trade_graph", _pagerank_oracle())
def _pagerank_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the undirected customer↔supplier graph (edge =
    'traded at least once', from lineitem⋈orders). 5 fixed iterations;
    each is one fused contribution join + shuffle (operators/graph.py).
    Node ids stay BIGINT through every iteration (custkey→2k even,
    suppkey→2k+1 odd) — int64 join/sort keys, not strings — and the
    'c…'/'s…' labels the oracle uses are reconstructed once at the end;
    rank values are key-representation-independent."""
    from etl_io_spark.operators import graph

    pairs = _trade_pairs(spark, sf_dir)
    # parity-tagged keys make the direction spaces disjoint: symmetrize
    # dedups the DIRECTED list (half the rows) and skips the post-union
    # distinct; assume_symmetric lets pagerank take distinct(src) as the
    # node set instead of deduping both endpoint columns
    ranks = graph.pagerank(
        graph.symmetrize(pairs, disjoint=True),
        iterations=5,
        assume_symmetric=True,
    )
    return ranks.select(
        F.when(
            F.col("node") % 2 == 0,
            F.concat(F.lit("c"), F.expr("node DIV 2").cast("string")),
        )
        .otherwise(
            F.concat(F.lit("s"), F.expr("node DIV 2").cast("string"))
        )
        .alias("node"),
        "rank",
    )


# ==========================================================================
# Community / core-structure graph suite (operators/graph.py): synchronous
# label propagation, iterative k-core pruning, degree assortativity — all
# over the bipartite customer↔supplier trade graph on BIGINT node keys
# (custkey*2 even, suppkey*2+1 odd); oracles unroll the fixed rounds as
# chained CTEs exactly like the PageRank oracle above
# ==========================================================================
_TRADE_EDGES_SQL = """base AS (
      SELECT DISTINCT o_custkey * 2 AS s, l_suppkey * 2 + 1 AS d
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    edges AS (SELECT b.s AS s, b.d AS d FROM base b
              UNION SELECT b.d AS s, b.s AS d FROM base b)"""


def _trade_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed (customer, supplier) trade pairs on parity-tagged integer
    keys — NOT deduplicated; one row per lineitem."""
    cat = _cat(spark, sf_dir)
    li = cat.table("lineitem").select("l_orderkey", "l_suppkey")
    orders = cat.table("orders").select("o_orderkey", "o_custkey")
    return li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
        (F.col("o_custkey").cast("long") * 2).alias("src"),
        (F.col("l_suppkey").cast("long") * 2 + 1).alias("dst"),
    )


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetrized trade graph on integer keys, shared by the graph suite."""
    from etl_io_spark.operators import graph

    pairs = _trade_pairs(spark, sf_dir)
    # parity-tagged keys keep the direction spaces disjoint, so
    # symmetrize dedups the DIRECTED pair list (|E| rows) and skips the
    # post-union distinct over 2|E| rows entirely
    return graph.symmetrize(pairs, disjoint=True)


def _lpa_oracle(rounds: int = 3) -> str:
    head = f"""
    WITH {_TRADE_EDGES_SQL},
    l0 AS (SELECT DISTINCT s AS node, s AS label FROM edges)"""
    steps = []
    for i in range(1, rounds + 1):
        steps.append(f""",
    l{i} AS (
      SELECT s AS node, label FROM (
        SELECT e.s, l.label, COUNT(*) AS c,
               ROW_NUMBER() OVER (
                 PARTITION BY e.s ORDER BY COUNT(*) DESC, l.label ASC
               ) AS rn
        FROM edges e JOIN l{i - 1} l ON l.node = e.d
        GROUP BY e.s, l.label
      ) WHERE rn = 1
    )""")
    return head + "".join(steps) + f"""
    SELECT node, label FROM l{rounds}
    """


@register("lpa_communities_trade", _lpa_oracle())
def _lpa_communities_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label-propagation communities (graph.py
    label_propagation): 3 deterministic rounds — per round one |E|-row
    label-routing join, one (node, label) partial-agg count, one per-node
    min_by top-1 reduction; ties break to the smallest label so the fixed
    round count is exactly SQL-reproducible."""
    from etl_io_spark.operators import graph

    return graph.label_propagation(_trade_edges(spark, sf_dir), rounds=3)


def _kcore_oracle(k: int = 40, rounds: int = 3) -> str:
    head = f"""
    WITH {_TRADE_EDGES_SQL},
    e0 AS (SELECT s, d FROM edges)"""
    steps = []
    for i in range(1, rounds + 1):
        steps.append(f""",
    k{i} AS (SELECT s FROM (
        SELECT s, COUNT(*) AS deg FROM e{i - 1} GROUP BY s
      ) WHERE deg >= {k}),
    e{i} AS (SELECT e.s, e.d FROM e{i - 1} e
             JOIN k{i} a ON e.s = a.s JOIN k{i} b ON e.d = b.s)""")
    return head + "".join(steps) + f"""
    SELECT s AS node, COUNT(*) AS degree FROM e{rounds} GROUP BY s
    """


@register("kcore_trade_graph", _kcore_oracle())
def _kcore_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative k-core pruning (graph.py k_core, k=40, 3 fixed rounds):
    each round one degree agg + two broadcastable semi-joins against the
    shrinking keep-set; the low-degree customer tail and its edges fall
    out, cascading degree drops to the next round."""
    from etl_io_spark.operators import graph

    return graph.k_core(_trade_edges(spark, sf_dir), k=40, rounds=3)


@register(
    "assortativity_trade",
    f"""
    WITH {_TRADE_EDGES_SQL},
    deg AS (SELECT s AS node, COUNT(*) AS dg FROM edges GROUP BY s),
    j AS (SELECT da.dg AS da, db.dg AS db FROM edges e
          JOIN deg da ON e.s = da.node JOIN deg db ON e.d = db.node)
    SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
           CAST((SELECT COUNT(*) FROM j) / 2 AS BIGINT) AS n_edges,
           FLOOR((SELECT COUNT(*) FROM j) * 1.0
                 / (SELECT COUNT(*) FROM deg) * 1000000 + 0.5) / 1000000
             AS mean_degree,
           ROUND(CORR(da, db), 6) + 0.0 AS assortativity
    FROM j
    """,
)
def _assortativity_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the trade graph (graph.py
    degree_assortativity): strongly negative by construction — the
    bipartite graph wires low-degree customers to high-degree suppliers.
    mean_degree uses floor-form rounding (2|E|/|V| terminates in decimal
    when |V| is 2^a·5^b, e.g. 16000 at sf0.1 — ROUND would tie-break
    differently per engine).

    Fed the RAW directed pair stream (one row per lineitem), not the
    symmetrized edge list: the operator canonicalizes + dedups
    internally, so pre-symmetrizing would just double the rows into that
    distinct for no semantic difference."""
    from etl_io_spark.operators import graph

    return graph.degree_assortativity(_trade_pairs(spark, sf_dir))


# ==========================================================================
# Benford first-digit screen (operators/aggregate.py benford_profile):
# digit via integer->string (engine-exact, no log10 ulp wobble), Benford
# probabilities injected as identical Python double literals both sides
# ==========================================================================
def _benford_oracle() -> str:
    import math

    # CAST to DOUBLE: DuckDB parses a bare decimal literal as DECIMAL,
    # whose ROUND renders '0.096910' where a double renders '0.09691'
    cases = " ".join(
        f"WHEN digit = {d} THEN CAST({math.log10(1.0 + 1.0 / d)!r} AS DOUBLE)"
        for d in range(1, 10)
    )
    return f"""
    WITH c AS (
      SELECT CAST(SUBSTR(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR),
                         1, 1) AS INT) AS digit,
             COUNT(*) AS n
      FROM orders WHERE o_totalprice >= 1 GROUP BY 1
    ),
    t AS (SELECT CAST(SUM(n) AS DOUBLE) AS nt FROM c),
    d AS (SELECT digit, n, CASE {cases} END AS p FROM c),
    x AS (SELECT SUM((n - (SELECT nt FROM t) * p)
                     * (n - (SELECT nt FROM t) * p)
                     / ((SELECT nt FROM t) * p)) AS chi2 FROM d)
    SELECT digit, n,
           ROUND(n / (SELECT nt FROM t), 6) AS observed_p,
           ROUND(p, 6) AS benford_p,
           ROUND((SELECT chi2 FROM x), 6) AS chi2
    FROM d
    """


@register("benford_totalprice", _benford_oracle())
def _benford_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-digit Benford screen over order totals (aggregate.py
    benford_profile): one map + one 9-group partial agg + 9-row windows.
    TPC-H-ish uniform prices flunk Benford loudly — the point of the
    screen is the chi2 column saying so."""
    from etl_io_spark.operators import aggregate as agg

    cat = _cat(spark, sf_dir)
    return agg.benford_profile(cat.table("orders"), "o_totalprice")


# ==========================================================================
# Time-decayed rollup + hour-of-day seasonality (operators/timeseries.py)
# ==========================================================================
@register(
    "decayed_counts_events",
    """
    WITH t AS (SELECT MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS tmax
               FROM events)
    SELECT event_type, COUNT(*) AS n,
           ROUND(SUM(POWER(0.5,
             (((SELECT tmax FROM t) - epoch_us(CAST(ts AS TIMESTAMP)))
              / 1000000.0) / 86400.0)), 6) AS decayed_n,
           ROUND(SUM(POWER(0.5,
             (((SELECT tmax FROM t) - epoch_us(CAST(ts AS TIMESTAMP)))
              / 1000000.0) / 86400.0) * value), 6) AS decayed_sum
    FROM events GROUP BY event_type
    """,
)
def _decayed_counts_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially decayed count/sum per event type, 1-day half-life
    (timeseries.py time_decayed_stats): one broadcast 1-row max + one
    partial-agg groupBy; deltas in exact integer microseconds before the
    single float pow."""
    from etl_io_spark.operators import timeseries as ts

    cat = _cat(spark, sf_dir)
    return ts.time_decayed_stats(
        cat.table("events"), half_life_s=86400.0
    )


@register(
    "seasonality_events",
    """
    WITH h AS (
      SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hh,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    pk AS (SELECT event_type, COUNT(*) AS n_hours,
                  VAR_SAMP(CAST(n AS DOUBLE)) AS vt FROM h GROUP BY 1),
    hm AS (SELECT event_type, EXTRACT(HOUR FROM hh) AS hod,
                  AVG(CAST(n AS DOUBLE)) AS m FROM h GROUP BY 1, 2),
    hv AS (SELECT event_type, VAR_SAMP(m) AS vh FROM hm GROUP BY 1)
    SELECT pk.event_type AS event_type, n_hours,
           ROUND(vt, 6) AS var_hourly,
           ROUND(vh, 6) AS var_hod_means,
           ROUND(CASE WHEN vt > 0 THEN vh / vt END, 6) AS strength
    FROM pk JOIN hv ON pk.event_type = hv.event_type
    """,
)
def _seasonality_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonality strength per event type (timeseries.py
    seasonality_strength): two stacked partial-agg groupBys + one per-key
    variance join — var(hod means) / var(hourly counts)."""
    from etl_io_spark.operators import timeseries as ts

    cat = _cat(spark, sf_dir)
    return ts.seasonality_strength(cat.table("events"))


# ==========================================================================
# Per-label embedding centroids (operators/similarity.py): element-wise
# vector mean via posexplode + one partial-agg shuffle, long form
# ==========================================================================
@register(
    "embedding_centroids",
    """
    SELECT label, CAST(gs.i - 1 AS INT) AS dim,
           ROUND(AVG(CAST(embedding[gs.i] AS DOUBLE)), 6) + 0.0 AS mean,
           COUNT(*) AS n
    FROM embeddings, generate_series(1, 64) gs(i)  -- fixed 64-dim embeddings
    GROUP BY label, dim
    """,
)
def _embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_io_spark.operators import similarity as sim

    emb = _cat(spark, sf_dir).table("embeddings")
    return sim.label_centroids(emb, "label", "embedding")


@register(
    "embedding_quantize",
    """
    SELECT vec_id, qscale, CAST(gs.i - 1 AS INT) AS dim,
           CAST(round(CAST(embedding[gs.i] AS DOUBLE) / qscale) AS INT)
             AS qval
    FROM (
      SELECT vec_id, embedding,
             greatest(list_max(list_transform(embedding,
                                              x -> abs(CAST(x AS DOUBLE)))),
                      1e-12) / 127.0 AS qscale
      FROM embeddings
    ), generate_series(1, 64) gs(i)  -- fixed 64-dim embeddings
    """,
)
def _embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 symmetric quantization (operators/similarity.py
    ``quantize_embeddings``): 4× smaller vectors for every downstream
    shuffle/broadcast; pure Catalyst HOFs, zero shuffles. The quantized
    top-k consumer (``quantized_topk``) is recall-tested in pytest.

    Graded view only: the operator returns the real ``array<int>`` column,
    but the driver's pandas canonicalizer cannot hash nested types
    (CORRECTNESS_r07 ``TypeError: unhashable type: 'list'``), so the
    registry entry posexplodes ``qvec`` to scalar ``(vec_id, qscale, dim,
    qval)`` rows — same values, flat schema, bit-identical to the oracle's
    ``generate_series`` unnest."""
    from etl_io_spark.operators import similarity as sim

    q = sim.quantize_embeddings(_cat(spark, sf_dir).table("embeddings"))
    return q.select(
        "vec_id",
        "qscale",
        F.posexplode("qvec").alias("dim", "qval"),
    )


# ==========================================================================
# A/B experiment stats: per-variant moments + Welch z from ONE pass
# (operators/aggregate.py) — variant = user_id parity, cell = event_type
# ==========================================================================
@register(
    "ab_test_events",
    """
    WITH a AS (
      SELECT event_type,
             COUNT(CASE WHEN user_id % 2 = 0 THEN value END) AS n_a,
             AVG(CASE WHEN user_id % 2 = 0 THEN value END) AS ma,
             VAR_SAMP(CASE WHEN user_id % 2 = 0 THEN value END) AS va,
             COUNT(CASE WHEN user_id % 2 <> 0 THEN value END) AS n_b,
             AVG(CASE WHEN user_id % 2 <> 0 THEN value END) AS mb,
             VAR_SAMP(CASE WHEN user_id % 2 <> 0 THEN value END) AS vb
      FROM events GROUP BY event_type
    )
    SELECT event_type, n_a, ROUND(ma, 6) AS mean_a, n_b, ROUND(mb, 6) AS mean_b,
           ROUND(mb - ma, 6) + 0.0 AS lift,
           ROUND(CASE WHEN va / n_a + vb / n_b > 0
                      THEN (mb - ma) / SQRT(va / n_a + vb / n_b) END, 6) + 0.0 AS z
    FROM a
    """,
)
def _ab_test_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _cat(spark, sf_dir).table("events")
    variant = F.when(F.col("user_id") % 2 == 0, F.lit("A")).otherwise(F.lit("B"))
    return agg.ab_test_stats(ev, variant, "value", keys=["event_type"])


# ==========================================================================
# Time-weighted average (TWAP) per user over irregular event spacing
# (operators/timeseries.py)
# ==========================================================================
@register(
    "twap_events",
    """
    WITH t AS (
      SELECT user_id, value,
             CAST(epoch_us(LEAD(CAST(ts AS TIMESTAMP)) OVER (
                    PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), value))
                  - epoch_us(CAST(ts AS TIMESTAMP)) AS DOUBLE) AS dt
      FROM events
    )
    SELECT user_id,
           ROUND(CASE WHEN SUM(dt) > 0 THEN SUM(value * dt) / SUM(dt)
                      ELSE AVG(value) END, 6) AS twap_value,
           COUNT(*) AS n_obs
    FROM t GROUP BY user_id
    """,
)
def _twap_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _cat(spark, sf_dir).table("events")
    return timeseries.time_weighted_avg(ev, "user_id", "ts", "value")


# ==========================================================================
# Text normalization for match keys (functions/cleaning.py)
# ==========================================================================
@register(
    "normalize_text_docs",
    """
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),
                               '\\s+', ' ', 'g')) AS norm_text
    FROM documents
    """,
)
def _normalize_text_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _cat(spark, sf_dir).table("documents")
    return docs.select(
        "doc_id", cleaning.normalize_text("text").alias("norm_text")
    )


# ==========================================================================
# Whole-table reconciliation checksum (functions/cleaning.py) — the
# verification step the reference's copy sink lacks (etl_io.py:203-219)
# ==========================================================================
@register(
    "table_checksum_orders",
    """
    WITH c AS (
      SELECT CAST(SUM(CAST(('0x' || substring(md5(
               concat_ws('|', COALESCE(CAST(o_orderkey AS VARCHAR), '∅'),
                              COALESCE(CAST(o_custkey AS VARCHAR), '∅'),
                              COALESCE(o_orderstatus, '∅'),
                              COALESCE(o_orderpriority, '∅'))
             ), 1, 15)) AS BIGINT)) AS DECIMAL(38,0)) AS checksum,
             COUNT(*) AS n_rows
      FROM orders
    )
    SELECT CAST(CAST(checksum AS HUGEINT) // 1000000000000000000 AS BIGINT)
             AS checksum_hi,
           CAST(CAST(checksum AS HUGEINT) %  1000000000000000000 AS BIGINT)
             AS checksum_lo,
           n_rows
    FROM c
    """,
)
def _table_checksum_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Graded view emits the DECIMAL(38,0) checksum as two BIGINT limbs
    # (hi = div 1e18, lo = mod 1e18): the sf0.01 value ~8.6e21 exceeds
    # both int64 and float64-exact range, and the driver's pandas
    # canonicalizer fetches DuckDB DECIMALs that wide as float64 while
    # Spark hands back exact Decimal — identical values, mismatched
    # reprs (r8's only red row; values proven bit-identical both
    # engines). The engine function keeps its exact DECIMAL API.
    orders = _cat(spark, sf_dir).table("orders")
    return cleaning.table_checksum(
        orders, ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]
    ).select(
        F.expr("CAST(checksum div 1000000000000000000 AS BIGINT)").alias(
            "checksum_hi"
        ),
        F.expr("CAST(checksum % 1000000000000000000 AS BIGINT)").alias(
            "checksum_lo"
        ),
        "n_rows",
    )


# ==========================================================================
# Per-entity least-squares trend (operators/timeseries.py): regr_* co-
# moment aggregates — one partial-agg pass, no window, no fitting loop
# ==========================================================================
@register(
    "user_trend_slopes",
    """
    SELECT user_id,
           ROUND(regr_slope(value, epoch_us(CAST(ts AS TIMESTAMP)) / 3600000000.0), 6)
             + 0.0 AS slope_per_hour,
           ROUND(regr_intercept(value, epoch_us(CAST(ts AS TIMESTAMP)) / 3600000000.0), 6)
             + 0.0 AS intercept,
           ROUND(regr_r2(value, epoch_us(CAST(ts AS TIMESTAMP)) / 3600000000.0), 6)
             AS r2,
           COUNT(*) AS n_obs
    FROM events GROUP BY user_id
    """,
)
def _user_trend_slopes(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _cat(spark, sf_dir).table("events")
    return timeseries.trend_slopes(ev, "user_id", "ts", "value")


# ==========================================================================
# Sequential path mining: top event n-grams across user histories
# (operators/window.py) — collect+sort per entity, positional n-grams,
# one count shuffle + TakeOrdered
# ==========================================================================
@register(
    "event_paths",
    """
    WITH seq AS (
      SELECT user_id, list(event_type ORDER BY ts, event_id) AS ev
      FROM events GROUP BY user_id
    ),
    grams AS (
      SELECT UNNEST(list_transform(range(1, len(ev) - 1),
                    i -> ev[i] || ' > ' || ev[i+1] || ' > ' || ev[i+2])) AS path
      FROM seq WHERE len(ev) >= 3
    )
    SELECT path, COUNT(*) AS n_occurrences
    FROM grams GROUP BY path
    ORDER BY n_occurrences DESC, path
    LIMIT 20
    """,
)
def _event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _cat(spark, sf_dir).table("events")
    return win.event_path_ngrams(
        ev, "user_id", "ts", "event_type", "event_id", n=3, k=20
    )


# ==========================================================================
# Deterministic mode (most frequent value) per group: count + ranked
# window, ties broken by value — never the engine-dependent mode() agg
# ==========================================================================
@register(
    "mode_priority_by_segment",
    """
    WITH counted AS (
      SELECT c_mktsegment, o_orderpriority, COUNT(*) AS n
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1, 2
    )
    SELECT c_mktsegment, o_orderpriority AS mode_priority, n
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                   ORDER BY n DESC, o_orderpriority) AS rn
      FROM counted
    ) WHERE rn = 1
    """,
)
def _mode_priority_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = _cat(spark, sf_dir)
    counted = (
        cat.table("orders")
        .join(cat.table("customer"), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        win.top_k_per_group(
            counted,
            ["c_mktsegment"],
            [F.col("n").desc(), F.col("o_orderpriority")],
            k=1,
        )
        .select(
            "c_mktsegment",
            F.col("o_orderpriority").alias("mode_priority"),
            "n",
        )
    )


# ==========================================================================
# Share-of-total: per-nation revenue with its fraction of the grand total
# (window over the tiny aggregate — the fact table is scanned once)
# ==========================================================================
@register(
    "revenue_share_by_nation",
    """
    WITH rev AS (
      SELECT n_name, SUM(o_totalprice) AS r
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name
    )
    SELECT n_name, ROUND(r, 2) AS revenue,
           ROUND(r / SUM(r) OVER (), 6) AS share
    FROM rev
    """,
)
def _revenue_share_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    cat = _cat(spark, sf_dir)
    rev = (
        cat.table("orders")
        .join(cat.table("customer"), F.col("o_custkey") == F.col("c_custkey"))
        .join(cat.table("nation"), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.sum("o_totalprice").alias("r"))
    )
    return rev.select(
        "n_name",
        F.round("r", 2).alias("revenue"),
        F.round(
            F.col("r") / F.sum("r").over(Window.partitionBy()), 6
        ).alias("share"),
    )


# ==========================================================================
# Group-mean null imputation (operators/timeseries.py) — nulls induced
# deterministically (value of 'view' events) so the op is exercised
# ==========================================================================
@register(
    "impute_event_values",
    """
    WITH holey AS (
      SELECT event_id, user_id,
             CASE WHEN event_type = 'view' THEN NULL ELSE value END AS value
      FROM events
    )
    SELECT event_id, user_id,
           ROUND(COALESCE(value, AVG(value) OVER (PARTITION BY user_id)), 6)
             AS value,
           (value IS NULL AND
            AVG(value) OVER (PARTITION BY user_id) IS NOT NULL) AS was_imputed
    FROM holey
    """,
)
def _impute_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _cat(spark, sf_dir).table("events").select(
        "event_id",
        "user_id",
        F.when(F.col("event_type") == "view", F.lit(None))
        .otherwise(F.col("value"))
        .alias("value"),
    )
    return timeseries.impute_group_mean(ev, "user_id", "value").select(
        "event_id", "user_id", "value", "was_imputed"
    )


# ==========================================================================
# Correlated subquery (Catalyst decorrelates to a join — the reference's
# two-round-trip pattern at etl_io.py:354-357 expressed as one query
# through the real parser, S4)
# ==========================================================================
_ABOVE_AVG_SQL = """
    SELECT c_custkey, c_name, ROUND(c_acctbal, 2) AS c_acctbal
    FROM customer c
    WHERE c_acctbal > (
      SELECT AVG(c_acctbal) FROM customer i
      WHERE i.c_nationkey = c.c_nationkey
    )
"""


@register("above_avg_customers", _ABOVE_AVG_SQL)
def _above_avg_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cat(spark, sf_dir).sql(_ABOVE_AVG_SQL)


# ==========================================================================
# CDC changelog compaction: latest record per key (row_number over the
# key, ordered by ts desc with a unique tie-break) — the upsert-table
# materialization every change-capture pipeline runs
# ==========================================================================
@register(
    "changelog_compaction",
    """
    SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
           ROUND(value, 2) AS value
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def _changelog_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _cat(spark, sf_dir).table("events")
    latest = win.top_k_per_group(
        ev,
        ["user_id"],
        [F.col("ts").desc(), F.col("event_id").desc()],
        k=1,
    )
    return latest.select(
        "user_id", "event_id", "ts", "event_type",
        F.round("value", 2).alias("value"),
    )


# ==========================================================================
# TPC-H Q17 shape: correlated per-part average, decorrelated into a
# window over the broadcast-filtered fact (one shuffle, no self-join)
# ==========================================================================
@register("small_quantity_revenue", pipelines.SMALL_QUANTITY_REVENUE_SQL)
def _small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pipelines.small_quantity_revenue(_cat(spark, sf_dir))


# ==========================================================================
# TPC-H Q21 shape: EXISTS / NOT-EXISTS pair collapsed to one order-level
# aggregation (sole-late-supplier detection without a lineitem self-join)
# ==========================================================================
@register("sole_late_suppliers", pipelines.SOLE_LATE_SUPPLIERS_SQL)
def _sole_late_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pipelines.sole_late_suppliers(_cat(spark, sf_dir))


# ==========================================================================
# Triangle counting (degree-ordered orientation) over the co-supplier
# graph: suppliers are adjacent when they supply >= 20 common parts
# ==========================================================================
_TRIANGLE_SQL = """
    WITH ps AS (
      SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
    ),
    edges AS (
      SELECT a.s AS u, b.s AS v
      FROM ps a JOIN ps b ON a.p = b.p AND a.s < b.s
      GROUP BY 1, 2 HAVING COUNT(*) >= 20
    ),
    deg AS (
      SELECT node, COUNT(*) AS d FROM (
        SELECT u AS node FROM edges UNION ALL SELECT v AS node FROM edges
      ) GROUP BY node
    ),
    tri AS (
      SELECT COUNT(*) AS t
      FROM edges e1
      JOIN edges e2 ON e2.u = e1.v
      JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT (SELECT COUNT(*) FROM deg)  AS n_nodes,
           (SELECT COUNT(*) FROM edges) AS n_edges,
           CAST((SELECT SUM(d * (d - 1)) FROM deg) / 2 AS BIGINT) AS n_wedges,
           (SELECT t FROM tri) AS n_triangles,
           ROUND(CASE WHEN (SELECT SUM(d * (d - 1)) FROM deg) > 0
                      THEN 3.0 * (SELECT t FROM tri)
                           / ((SELECT SUM(d * (d - 1)) FROM deg) / 2)
                 END, 6) AS clustering_coeff
"""


@register("triangle_count_cosuppliers", _TRIANGLE_SQL)
def _triangle_count_cosuppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_io_spark.operators import graph

    # r13-opt (VERDICT r12 ask #4, re-opening the r6 self-join A/B at
    # current code): the co-supplier edges are the basket pair-count
    # shape — groupBy(part).collect_set(supplier) (collect_set dedups,
    # so the separate DISTINCT pass disappears) + map-side sorted-array
    # pair expansion + one pair-count shuffle. Versus the ps self-join
    # this derives the identical edge set (verified exactly) with ONE
    # fact-keyed exchange instead of the distinct exchange plus two
    # join re-partitions of ps, and no join at all. Interleaved A/B
    # median of 7 on the full key: 5.36 -> 5.03 s (6/7 pairwise); the
    # remainder is stage-wave latency at sf0.1 (the key's 8-vs-32-core
    # ratio is ~1.0 per PERF_r12's scaling block), while the removed
    # self-join re-shuffles are the 100 TB story. NULL partkeys are
    # filtered to mirror the old join-on-p semantics (none exist in
    # TPC-H data; collect_set already skips NULL suppliers like the old
    # a.s < b.s predicate did).
    li = (
        _cat(spark, sf_dir)
        .table("lineitem")
        .select(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s"))
        .where(F.col("p").isNotNull())
    )
    edges = agg._basket_pair_counts(li, "p", "s", 20).select(
        F.col("item_a").alias("src"), F.col("item_b").alias("dst")
    )
    # src < dst and duplicate-free by construction (sorted-array slice
    # expansion through a groupBy) — the canonicalization shuffle inside
    # triangle_stats is provably a no-op here
    return graph.triangle_stats(edges, assume_canonical=True)


# ==========================================================================
# Time-decayed engagement score (EWMA at last event, halflife = 1 day):
# recursive EWMA factored into one window + one partial-aggregable groupBy
# ==========================================================================
_EWMA_SQL = """
    WITH e AS (
      SELECT user_id, value, epoch_us(CAST(ts AS TIMESTAMP)) AS tm FROM events
    ),
    b AS (
      SELECT user_id, value, tm,
             MIN(tm) OVER (PARTITION BY user_id) AS t0
      FROM e
    )
    SELECT user_id, COUNT(*) AS n_events,
           ROUND(
             SUM(value * EXP(8.022536812036404e-06 * ((tm - t0) / 1000000.0)))
             * EXP(-8.022536812036404e-06
                   * ((MAX(tm) - MIN(t0)) / 1000000.0)),
           6) AS ewma_score
    FROM b GROUP BY user_id
"""


@register("ewma_events", _EWMA_SQL)
def _ewma_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_io_spark.operators import timeseries

    ev = _cat(spark, sf_dir).table("events")
    return timeseries.ewma_score(
        ev, "user_id", "ts", "value", halflife_seconds=86400.0
    )


# Per-(user, type) EWMA with PER-TYPE halflife (view 6 h, click 1 d,
# purchase 7 d; default 1 d) — the driver-visible batch contract of the
# stateful streaming fold (streaming/stateful.py:ewma_stream_typed;
# stream-vs-batch parity pinned in tests/test_streaming.py). λ constants
# are math.log(2)/halflife embedded identically in both engines.
_EWMA_TYPED_SQL = """
    WITH e AS (
      SELECT user_id, event_type, value,
             epoch_us(CAST(ts AS TIMESTAMP)) AS tm,
             CASE event_type
               WHEN 'view'     THEN 3.2090147248145615e-05
               WHEN 'click'    THEN 8.022536812036404e-06
               WHEN 'purchase' THEN 1.1460766874337719e-06
               ELSE 8.022536812036404e-06 END AS lam
      FROM events
    ),
    b AS (
      SELECT user_id, event_type, value, tm, lam,
             MIN(tm) OVER (PARTITION BY user_id, event_type) AS t0
      FROM e
    )
    SELECT user_id, event_type, COUNT(*) AS n_events,
           ROUND(
             SUM(value * EXP(lam * ((tm - t0) / 1000000.0)))
             * EXP(-MAX(lam) * ((MAX(tm) - MIN(t0)) / 1000000.0)),
           6) AS ewma_score
    FROM b GROUP BY user_id, event_type
"""


@register("ewma_decay_by_type", _EWMA_TYPED_SQL)
def _ewma_decay_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_io_spark.operators import timeseries

    ev = _cat(spark, sf_dir).table("events")
    return timeseries.ewma_score_typed(
        ev,
        "user_id",
        "event_type",
        "ts",
        "value",
        halflife_by={"view": 21600.0, "click": 86400.0, "purchase": 604800.0},
        default_halflife=86400.0,
    )


# ==========================================================================
# Bigram-LM cross-entropy per document (perplexity-proxy quality filter;
# operators/text.py:lm_cross_entropy). The oracle retrains the same
# interpolated LM: identical count CTEs, identical mixture arithmetic.
# ==========================================================================
_LM_XENT_SQL = """
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l
      FROM documents
    ),
    occ AS (
      SELECT doc_id,
             UNNEST([l[i] for i in generate_series(1, len(l) - 1)]) AS w1,
             UNNEST([l[i+1] for i in generate_series(1, len(l) - 1)]) AS w2
      FROM toks
    ),
    c AS (SELECT w1, w2, COUNT(*) AS c12 FROM occ GROUP BY 1, 2),
    c1 AS (SELECT w1, SUM(c12) AS c1 FROM c GROUP BY 1),
    c2 AS (SELECT w2, SUM(c12) AS c2 FROM c GROUP BY 1),
    t AS (SELECT SUM(c12) AS n FROM c)
    SELECT occ.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(AVG(-LN(0.4 * c.c12 / c1.c1 + 0.6 * c2.c2 / t.n)), 6)
             AS cross_entropy
    FROM occ
    JOIN c USING (w1, w2)
    JOIN c1 USING (w1)
    JOIN c2 USING (w2)
    CROSS JOIN t
    GROUP BY occ.doc_id
"""


@register("lm_cross_entropy_docs", _LM_XENT_SQL)
def _lm_cross_entropy_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _cat(spark, sf_dir).table("documents")
    return text.lm_cross_entropy(docs, "doc_id", "text", alpha=0.4)


# ==========================================================================
# CCNet perplexity bucketing (Wenzek et al. 2020; operators/text.py
# ccnet_buckets): per-language head/middle/tail terciles of the bigram-LM
# cross-entropy. The oracle retrains the identical LM (same CTEs as
# _LM_XENT_SQL), attaches lang, and NTILEs on the same (rounded score,
# doc_id) total order — NTILE remainder semantics match Spark's ntile.
# ==========================================================================
_CCNET_SQL = """
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l
      FROM documents
    ),
    occ AS (
      SELECT doc_id,
             UNNEST([l[i] for i in generate_series(1, len(l) - 1)]) AS w1,
             UNNEST([l[i+1] for i in generate_series(1, len(l) - 1)]) AS w2
      FROM toks
    ),
    c AS (SELECT w1, w2, COUNT(*) AS c12 FROM occ GROUP BY 1, 2),
    c1 AS (SELECT w1, SUM(c12) AS c1 FROM c GROUP BY 1),
    c2 AS (SELECT w2, SUM(c12) AS c2 FROM c GROUP BY 1),
    t AS (SELECT SUM(c12) AS n FROM c),
    ce AS (
      SELECT occ.doc_id,
             ROUND(AVG(-LN(0.4 * c.c12 / c1.c1 + 0.6 * c2.c2 / t.n)), 6)
               AS cross_entropy
      FROM occ
      JOIN c USING (w1, w2) JOIN c1 USING (w1) JOIN c2 USING (w2)
      CROSS JOIN t
      GROUP BY occ.doc_id
    ),
    lb AS (
      SELECT d.lang, ce.cross_entropy,
             NTILE(3) OVER (PARTITION BY d.lang
                            ORDER BY ce.cross_entropy, ce.doc_id) AS b
      FROM ce JOIN documents d USING (doc_id)
    )
    SELECT lang,
           CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                  ELSE 'tail' END AS bucket,
           COUNT(*) AS n_docs,
           ROUND(AVG(cross_entropy), 6) AS avg_ce,
           MIN(cross_entropy) AS min_ce,
           MAX(cross_entropy) AS max_ce
    FROM lb GROUP BY 1, 2
"""


@register("ccnet_buckets_docs", _CCNET_SQL)
def _ccnet_buckets_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style per-language perplexity terciles (text.ccnet_buckets):
    the lang tag rides the LM scorer's group key (carry=, no doc_id
    self-join — the langid_confusion lesson), tercile split on the
    rounded score so both engines rank the identical total order."""
    docs = _cat(spark, sf_dir).table("documents")
    return text.ccnet_buckets(docs, "doc_id", "text", lang_col="lang")


# ==========================================================================
# Character-distribution Shannon entropy per document (quality signal)
# ==========================================================================
_CHAR_ENTROPY_SQL = """
    WITH ch AS (
      SELECT doc_id, UNNEST(string_split(text, '')) AS ch FROM documents
    ),
    c AS (SELECT doc_id, ch, COUNT(*) AS c FROM ch
          WHERE ch <> '' GROUP BY doc_id, ch)
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_chars_counted,
           COUNT(*) AS distinct_chars,
           ROUND((LN(SUM(c)) - SUM(c * LN(c)) / SUM(c))
                 / 0.6931471805599453, 6) AS entropy_bits
    FROM c GROUP BY doc_id
"""


@register("char_entropy_docs", _CHAR_ENTROPY_SQL)
def _char_entropy_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_io_spark.operators import text as txt

    docs = _cat(spark, sf_dir).table("documents")
    return txt.char_entropy(docs, "doc_id", "text")


# ==========================================================================
# Sorted-neighborhood dedup (blocked SNM) over document text prefixes
# ==========================================================================
_SNM_SQL = """
    WITH b AS (
      SELECT doc_id AS id_a,
             substring(LOWER(REGEXP_REPLACE(text, '[^a-zA-Z0-9]', '', 'g')),
                       1, 24) AS key_a
      FROM documents
    ),
    l AS (
      SELECT id_a, key_a,
             LEAD(id_a, 1) OVER w AS id_b1, LEAD(key_a, 1) OVER w AS key_b1,
             LEAD(id_a, 2) OVER w AS id_b2, LEAD(key_a, 2) OVER w AS key_b2,
             LEAD(id_a, 3) OVER w AS id_b3, LEAD(key_a, 3) OVER w AS key_b3
      FROM b
      WINDOW w AS (PARTITION BY substring(key_a, 1, 2) ORDER BY key_a, id_a)
    ),
    p AS (
      SELECT id_a, key_a, id_b1 AS id_b, key_b1 AS key_b FROM l
      UNION ALL SELECT id_a, key_a, id_b2, key_b2 FROM l
      UNION ALL SELECT id_a, key_a, id_b3, key_b3 FROM l
    )
    SELECT id_a, key_a, id_b, key_b,
           levenshtein(key_a, key_b) AS distance
    FROM p
    WHERE id_b IS NOT NULL AND levenshtein(key_a, key_b) <= 2
"""


@register("snm_neardup_docs", _SNM_SQL)
def _snm_neardup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_io_spark.operators import dedup

    docs = (
        _cat(spark, sf_dir)
        .table("documents")
        .select(
            "doc_id",
            F.substring(
                F.lower(F.regexp_replace("text", "[^a-zA-Z0-9]", "")), 1, 24
            ).alias("prefix_key"),
        )
    )
    return dedup.sorted_neighborhood_pairs(
        docs, "doc_id", "prefix_key", window=3, block_prefix=2, max_distance=2
    )


# ==========================================================================
# Asymmetric shingle containment (subset-clone detection — what Jaccard
# structurally misses; same inverted-index plan, different scoring)
# ==========================================================================
@register(
    "containment_pairs",
    _SHINGLE_CTE
    + """,
    sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i
      FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    )
    SELECT a, b,
           ROUND(i * 1.0 / sa.sz, 6) AS containment_a_in_b,
           ROUND(i * 1.0 / sb.sz, 6) AS containment_b_in_a
    FROM inter
    JOIN sz sa ON a = sa.doc_id
    JOIN sz sb ON b = sb.doc_id
    WHERE GREATEST(ROUND(i * 1.0 / sa.sz, 6),
                   ROUND(i * 1.0 / sb.sz, 6)) >= 0.7
    """,
)
def _containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.containment_pairs(
        _cat(spark, sf_dir).table("documents"), "doc_id", "text", n=3,
        threshold=0.7,
    )


# ==========================================================================
# Gaps-and-islands: per-user activity streaks over distinct active days
# ==========================================================================
_STREAKS_SQL = """
    WITH days AS (
      SELECT DISTINCT user_id,
             CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day FROM events
    ),
    a AS (
      SELECT user_id, day,
             day - CAST(ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY day) AS INTEGER) AS anchor
      FROM days
    ),
    i AS (
      SELECT user_id, anchor, COUNT(*) AS len, MIN(day) AS start
      FROM a GROUP BY 1, 2
    ),
    r AS (
      SELECT user_id, len, start,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY len DESC, start) AS rn
      FROM i
    ),
    agg AS (
      SELECT user_id, CAST(SUM(len) AS BIGINT) AS n_active_days,
             COUNT(*) AS n_streaks, MAX(len) AS longest_streak
      FROM i GROUP BY user_id
    )
    SELECT agg.user_id, n_active_days, n_streaks, longest_streak,
           r.start AS longest_streak_start
    FROM agg JOIN r ON agg.user_id = r.user_id AND r.rn = 1
"""


@register("activity_streaks", _STREAKS_SQL)
def _activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_io_spark.operators import timeseries

    ev = _cat(spark, sf_dir).table("events")
    return timeseries.activity_streaks(ev, "user_id", "ts")


# ==========================================================================
# Cumulative audience reach: daily active / first-seen / running distinct
# via the first-seen decomposition (no distinct-over-growing-window)
# ==========================================================================
_REACH_SQL = """
    WITH kd AS (
      SELECT DISTINCT user_id AS k,
             CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day FROM events
    ),
    fs AS (SELECT k, MIN(day) AS first FROM kd GROUP BY k),
    daily AS (SELECT day, COUNT(*) AS n_active FROM kd GROUP BY day),
    nw AS (SELECT first AS day, COUNT(*) AS n_new FROM fs GROUP BY first)
    SELECT d.day, n_active, COALESCE(n_new, 0) AS n_new,
           CAST(SUM(COALESCE(n_new, 0)) OVER (
             ORDER BY d.day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_reach
    FROM daily d LEFT JOIN nw ON d.day = nw.day
"""


@register("cumulative_reach", _REACH_SQL)
def _cumulative_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_io_spark.operators import timeseries

    ev = _cat(spark, sf_dir).table("events")
    return timeseries.cumulative_reach(ev, "user_id", "ts")


# ==========================================================================
# PPJoin-style prefix-filtered exact Jaccard: same result set as
# dedup_ngram_jaccard (shared oracle), structurally skew-immune
# candidates — the exact-dedup scale path when LSH recall isn't enough
# ==========================================================================
@register(
    "dedup_jaccard_prefix",
    _SHINGLE_CTE
    + """,
    sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i
      FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    )
    SELECT a, b,
           ROUND(i * 1.0 / (sa.sz + sb.sz - i), 6) AS jaccard
    FROM inter
    JOIN sz sa ON a = sa.doc_id
    JOIN sz sb ON b = sb.doc_id
    WHERE ROUND(i * 1.0 / (sa.sz + sb.sz - i), 6) >= 0.3
    """,
)
def _dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.jaccard_pairs_prefix(
        _cat(spark, sf_dir).table("documents"), "doc_id", "text", n=3,
        threshold=0.3,
    )


# ==========================================================================
# Two-stage exact-at-scale dedup: MinHash-LSH band candidates → EXACT
# Jaccard verification on candidates only (operators/dedup.py:
# lsh_exact_pairs) — the composed 100 TB recipe as one graded plan. The
# oracle reproduces BOTH stages: the md5 band keys (deterministic in any
# engine) and the exact intersection over the candidate pairs.
# ==========================================================================
def _lsh_exact_oracle(
    num_perm: int = 16, bands: int = 4, threshold: float = 0.3
) -> str:
    rpb = num_perm // bands
    p = dedup.MINHASH_P
    a = ", ".join(str(dedup._perm_a(j)) for j in range(num_perm))
    b = ", ".join(str(dedup._perm_b(j)) for j in range(num_perm))
    return (
        _SHINGLE_CTE
        + f""",
    perms AS (SELECT UNNEST(generate_series(0, {num_perm - 1})) AS j),
    sig AS (
      SELECT doc_id, j,
             MIN((([{a}][j+1]) * (sh % {p}) + ([{b}][j+1])) % {p}) AS minhash
      FROM sh, perms GROUP BY doc_id, j
    ),
    bkeys AS (
      SELECT doc_id, CAST(j // {rpb} AS INT) AS band,
             md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY j)) AS bkey
      FROM sig GROUP BY doc_id, CAST(j // {rpb} AS INT)
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      FROM bkeys x JOIN bkeys y ON x.band = y.band AND x.bkey = y.bkey
      WHERE x.doc_id < y.doc_id
    ),
    sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    ix AS (
      SELECT c.a, c.b, COUNT(*) AS i
      FROM cand c
      JOIN sh x ON x.doc_id = c.a
      JOIN sh y ON y.doc_id = c.b AND y.sh = x.sh
      GROUP BY 1, 2
    )
    SELECT ix.a, ix.b,
           ROUND(ix.i * 1.0 / (sa.sz + sb.sz - ix.i), 6) AS jaccard
    FROM ix
    JOIN sz sa ON sa.doc_id = ix.a
    JOIN sz sb ON sb.doc_id = ix.b
    WHERE ROUND(ix.i * 1.0 / (sa.sz + sb.sz - ix.i), 6) >= {threshold}
    """
    )


@register("dedup_lsh_exact", _lsh_exact_oracle())
def _dedup_lsh_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.lsh_exact_pairs(
        _cat(spark, sf_dir).table("documents"), "doc_id", "text",
        num_perm=16, bands=4, n=3, threshold=0.3,
    )


# ==========================================================================
# Robust (median/MAD) anomaly flagging per event type — outlier-proof
# sibling of anomaly_zscore_events; two exact-percentile passes with
# broadcast join-back (operators/aggregate.py:robust_anomaly)
# ==========================================================================
_ROBUST_ANOMALY_SQL = """
    WITH med AS (
      SELECT event_type, quantile_disc(value, 0.5) AS med
      FROM events GROUP BY event_type
    ),
    dev AS (
      SELECT event_id, e.event_type, value, med,
             ABS(value - med) AS absdev
      FROM events e JOIN med ON e.event_type = med.event_type
    ),
    mad AS (
      SELECT event_type, quantile_disc(absdev, 0.5) AS mad
      FROM dev GROUP BY event_type
    )
    SELECT event_id, d.event_type, value,
           CASE WHEN mad > 0
                THEN FLOOR(0.6745 * (value - med) / mad * 10000.0 + 0.5)
                     / 10000.0 END AS robust_z,
           CASE WHEN mad > 0
                THEN ABS(0.6745 * (value - med) / mad) > 3.5 END AS is_anomaly
    FROM dev d JOIN mad ON d.event_type = mad.event_type
"""


@register("robust_anomaly_events", _ROBUST_ANOMALY_SQL)
def _robust_anomaly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _cat(spark, sf_dir).table("events")
    return agg.robust_anomaly(
        ev, "event_type", ["event_id"], "value", z_cut=3.5
    )


# ==========================================================================
# TPC-H Q8 shape: conditional market-share over a seven-table star
# ==========================================================================
@register("market_share_nation", pipelines.MARKET_SHARE_SQL)
def _market_share_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pipelines.market_share(_cat(spark, sf_dir))


# ==========================================================================
# TPC-H Q13 shape: zero-inclusive order-count distribution (filter in the
# LEFT join's ON clause, not WHERE)
# ==========================================================================
@register(
    "customer_order_distribution", pipelines.CUSTOMER_ORDER_DISTRIBUTION_SQL
)
def _customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pipelines.customer_order_distribution(_cat(spark, sf_dir))


# ==========================================================================
# Exact re-aggregable distinct rollup via bitmap aggregates — the exact
# twin of the HLL sketch rollup: daily bitmaps OR-merge to the total
# without a fact rescan (operators/aggregate.py:bitmap_distinct_rollup)
# ==========================================================================
_BITMAP_ROLLUP_SQL = """
    WITH daily AS (
      SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             COUNT(DISTINCT user_id) AS du
      FROM events GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type, COUNT(DISTINCT user_id) AS total
      FROM events GROUP BY 1
    )
    SELECT d.event_type, COUNT(*) AS n_days,
           CAST(SUM(du) AS BIGINT) AS sum_daily_distinct,
           MIN(total) AS total_distinct
    FROM daily d JOIN tot ON d.event_type = tot.event_type
    GROUP BY d.event_type
"""


@register("bitmap_distinct_rollup", _BITMAP_ROLLUP_SQL)
def _bitmap_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _cat(spark, sf_dir).table("events")
    return agg.bitmap_distinct_rollup(ev, "event_type", "ts", "user_id")


# ==========================================================================
# Sweep-line peak concurrency (no interval self-join): events held open
# for `value` seconds; per event_type, max simultaneous + earliest peak
# ==========================================================================
_PEAK_CONCURRENCY_SQL = """
    WITH iv AS (
      SELECT event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS s,
             epoch_us(CAST(ts AS TIMESTAMP))
               + CAST(value * 1000000.0 AS BIGINT) AS e
      FROM events
    ),
    deltas AS (
      SELECT event_type, s AS t, 1 AS d FROM iv
      UNION ALL
      SELECT event_type, e AS t, -1 AS d FROM iv
    ),
    run AS (
      SELECT event_type, t, d,
             SUM(d) OVER (PARTITION BY event_type ORDER BY t, d
                          ROWS UNBOUNDED PRECEDING) AS r
      FROM deltas
    ),
    ranked AS (
      SELECT event_type, r, t,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY r DESC, t) AS rn
      FROM run
    )
    SELECT event_type, CAST(r AS BIGINT) AS peak_concurrent,
           make_timestamp(t) AS peak_at
    FROM ranked WHERE rn = 1
"""


@register("peak_concurrency_events", _PEAK_CONCURRENCY_SQL)
def _peak_concurrency_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_io_spark.operators import timeseries

    ev = _cat(spark, sf_dir).table("events")
    us = F.unix_micros(F.col("ts"))
    iv = ev.select(
        "event_type",
        us.alias("__s"),
        (us + (F.col("value") * 1_000_000.0).cast("bigint")).alias("__e"),
    )
    return timeseries.peak_concurrency(iv, "event_type", "__s", "__e")


# ==========================================================================
# Weighted sampling without replacement (Efraimidis-Spirakis hash keys):
# reproducible weight-proportional top-k, one TakeOrdered, no shuffle
# ==========================================================================
_WEIGHTED_SAMPLE_SQL = """
    SELECT o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice,
           ROUND(rank_key, 9) + 0.0 AS sample_key
    FROM (
      SELECT o_orderkey, o_totalprice,
             LN((CAST(('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)),
                       1, 15)) AS BIGINT) + 0.5)
                / 1152921504606846976.0) / o_totalprice AS rank_key
      FROM orders WHERE o_totalprice > 0
    )
    ORDER BY rank_key DESC, o_orderkey LIMIT 200
"""


@register("weighted_sample_orders", _WEIGHTED_SAMPLE_SQL)
def _weighted_sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_io_spark.operators import training

    orders = _cat(spark, sf_dir).table("orders")
    out = training.weighted_sample(orders, "o_orderkey", "o_totalprice", k=200)
    return out.select(
        "o_orderkey",
        F.round("o_totalprice", 2).alias("o_totalprice"),
        "sample_key",
    )


# ==========================================================================
# Rendezvous (highest-random-weight) sharding: resize-stable routing —
# pure map, per-shard scores in one in-row array
# ==========================================================================
_RENDEZVOUS_SQL = """
    WITH scored AS (
      SELECT doc_id, s.shard,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':' ||
                   CAST(s.shard AS VARCHAR)), 1, 15)) AS BIGINT) AS h,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY CAST(('0x' ||
                   substring(md5(CAST(doc_id AS VARCHAR) || ':' ||
                   CAST(s.shard AS VARCHAR)), 1, 15)) AS BIGINT) DESC) AS rn
      FROM documents, (SELECT UNNEST(range(0, 8)) AS shard) s
    )
    SELECT doc_id, CAST(shard AS INT) AS shard FROM scored WHERE rn = 1
"""


@register("rendezvous_shards_docs", _RENDEZVOUS_SQL)
def _rendezvous_shards_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_io_spark.operators import training

    docs = _cat(spark, sf_dir).table("documents").select("doc_id")
    return training.rendezvous_shards(docs, "doc_id", n_shards=8)


_EPOCH_H = _H.format(s="(CAST(doc_id AS VARCHAR) || '#e1')")


@register(
    "epoch_shuffle_docs",
    f"""
    SELECT doc_id,
           {_EPOCH_H} % 32 AS shard,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY {_EPOCH_H} % 32
             ORDER BY {_EPOCH_H}, doc_id
           ) - 1 AS BIGINT) AS pos
    FROM documents
    """,
)
def _epoch_shuffle_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch-1 reshuffle (training.epoch_shuffle): the
    training order is a pure function of (doc_id, epoch) — reproducible
    across runs/engines, decorrelated across epochs, and shard-parallel
    (per-shard window rank, no global sort)."""
    from etl_io_spark.operators import training

    docs = _cat(spark, sf_dir).table("documents").select("doc_id")
    return training.epoch_shuffle(docs, "doc_id", epoch=1, n_shards=32)


# ==========================================================================
# First-order Markov transition matrix over per-user event sequences
# ==========================================================================
_TRANSITIONS_SQL = """
    WITH steps AS (
      SELECT event_type AS from_state,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS to_state
      FROM (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
                   event_type FROM events)
    ),
    counts AS (
      SELECT from_state, to_state, COUNT(*) AS n
      FROM steps WHERE to_state IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT from_state, to_state, n,
           ROUND(n * 1.0 / SUM(n) OVER (PARTITION BY from_state), 6) AS p
    FROM counts
"""


@register("event_transitions", _TRANSITIONS_SQL)
def _event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _cat(spark, sf_dir).table("events")
    return win.transition_matrix(ev, "user_id", "ts", "event_type", "event_id")


# ==========================================================================
# 2-D histogram (heatmap binning) with in-plan bounds — value x totalprice
# density over orders joined to lineitem revenue? Keep one table: orders
# totalprice vs orderdate-epoch-day density
# ==========================================================================
_HIST2D_SQL = """
    WITH b AS (
      SELECT MIN(value) AS xlo, MAX(value) AS xhi,
             MIN(epoch_us(CAST(ts AS TIMESTAMP)) / 1000000.0) AS ylo,
             MAX(epoch_us(CAST(ts AS TIMESTAMP)) / 1000000.0) AS yhi
      FROM events
    ),
    pts AS (
      SELECT value AS x,
             epoch_us(CAST(ts AS TIMESTAMP)) / 1000000.0 AS y
      FROM events
    )
    SELECT CAST(LEAST(FLOOR((x - xlo) / ((xhi - xlo) / 20.0)), 19) AS BIGINT) AS bx,
           CAST(LEAST(FLOOR((y - ylo) / ((yhi - ylo) / 10.0)), 9) AS BIGINT) AS by,
           FLOOR((xlo + LEAST(FLOOR((x - xlo) / ((xhi - xlo) / 20.0)), 19)
                 * ((xhi - xlo) / 20.0)) * 100 + 0.5) / 100 AS x_lo,
           FLOOR((ylo + LEAST(FLOOR((y - ylo) / ((yhi - ylo) / 10.0)), 9)
                 * ((yhi - ylo) / 10.0)) * 100 + 0.5) / 100 AS y_lo,
           COUNT(*) AS n
    FROM pts, b
    GROUP BY 1, 2, 3, 4
"""


@register("histogram2d_events", _HIST2D_SQL)
def _histogram2d_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _cat(spark, sf_dir).table("events")
    pts = ev.select(
        F.col("value").alias("__x"),
        (F.unix_micros("ts") / F.lit(1_000_000.0)).alias("__y"),
    )
    return agg.histogram2d(pts, "__x", "__y", nx=20, ny=10).withColumnsRenamed(
        {"__x": "x", "__y": "y"}
    )


# ==========================================================================
# Funnel step-latency summary: discrete median/p90 seconds per transition
# ==========================================================================
_FUNNEL_LATENCY_SQL = """
    WITH s1 AS (
      SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t1
      FROM events WHERE event_type = 'view' GROUP BY 1
    ),
    s2 AS (
      SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t2
      FROM events e JOIN s1 USING (user_id)
      WHERE e.event_type = 'click'
        AND CAST(e.ts AS TIMESTAMP) > s1.t1
        AND CAST(e.ts AS TIMESTAMP) <= s1.t1 + INTERVAL 2 DAY
      GROUP BY 1
    ),
    s3 AS (
      SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t3
      FROM events e JOIN s2 USING (user_id)
      WHERE e.event_type = 'purchase'
        AND CAST(e.ts AS TIMESTAMP) > s2.t2
        AND CAST(e.ts AS TIMESTAMP) <= s2.t2 + INTERVAL 2 DAY
      GROUP BY 1
    ),
    dts AS (
      SELECT 'view->click' AS transition,
             epoch_us(t2) - epoch_us(t1) AS dt_us
      FROM s1 JOIN s2 USING (user_id)
      UNION ALL
      SELECT 'click->purchase' AS transition,
             epoch_us(t3) - epoch_us(t2) AS dt_us
      FROM s2 JOIN s3 USING (user_id)
    )
    SELECT transition, COUNT(*) AS n_converted,
           ROUND(quantile_disc(dt_us, 0.5) / 1000000.0, 6) AS median_s,
           ROUND(quantile_disc(dt_us, 0.9) / 1000000.0, 6) AS p90_s
    FROM dts GROUP BY transition
"""


@register("funnel_latency", _FUNNEL_LATENCY_SQL)
def _funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    return win.funnel_latency(
        _cat(spark, sf_dir).table("events"),
        "user_id", "ts", "event_type",
        ("view", "click", "purchase"), within="2 days",
    )


# ==========================================================================
# Temperature-based corpus mixture weights (p_i ∝ n_i^0.3)
# ==========================================================================
_TEMPERATURE_MIX_SQL = """
    WITH counts AS (
      SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
    ),
    tot AS (
      SELECT SUM(n_docs) AS N, SUM(POW(n_docs, 0.3)) AS Z FROM counts
    )
    SELECT lang, n_docs,
           ROUND(n_docs / N, 6) AS p_raw,
           ROUND(POW(n_docs, 0.3) / Z, 6) AS p_temp,
           ROUND((POW(n_docs, 0.3) / Z) / (n_docs / N), 6) AS boost
    FROM counts, tot
"""


@register("temperature_mix_langs", _TEMPERATURE_MIX_SQL)
def _temperature_mix_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_io_spark.operators import training

    docs = _cat(spark, sf_dir).table("documents")
    return training.temperature_mix(docs, "lang", alpha=0.3)


# Token-budget mixture plan (training.mixture_token_plan): target shares
# in basis points against a 500k-token budget, repeats capped at 4
# epochs. All plan columns exact int64 (div-by-10000 integer division on
# both engines); epochs is the one display ratio, floor-form rounded.
_MIXTURE_PLAN_SQL = """
    WITH avail AS (
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(len(list_filter(string_split_regex(trim(text), '\\s+'),
                                      x -> x <> '')))
               AS BIGINT) AS tokens_available
      FROM documents GROUP BY source
    ),
    keyed AS (
      SELECT *, CAST(CASE source WHEN 'src0' THEN 2000
                                 WHEN 'src1' THEN 1500
                                 WHEN 'src2' THEN 1500
                                 ELSE 300 END AS BIGINT) AS bp
      FROM avail
    ),
    planned AS (
      SELECT source, n_docs, tokens_available,
             CAST(500000 AS BIGINT) * bp // 10000 AS target_tokens,
             LEAST(CAST(500000 AS BIGINT) * bp // 10000,
                   tokens_available * CAST(40000 AS BIGINT) // 10000)
               AS planned_tokens
      FROM keyed
    )
    SELECT source, n_docs, tokens_available, target_tokens, planned_tokens,
           CASE WHEN tokens_available > 0
                THEN FLOOR(planned_tokens * 1.0 / tokens_available
                           * 1000000.0 + 0.5) / 1000000.0
                ELSE 0.0 END AS epochs,
           CAST(target_tokens - planned_tokens AS BIGINT) AS deficit_tokens
    FROM planned
"""


@register("mixture_token_plan", _MIXTURE_PLAN_SQL)
def _mixture_token_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_io_spark.operators import training

    docs = _cat(spark, sf_dir).table("documents")
    return training.mixture_token_plan(
        docs,
        "source",
        "text",
        weights_bp={"src0": 2000, "src1": 1500, "src2": 1500},
        budget_tokens=500_000,
        default_bp=300,
        max_epochs_bp=40_000,
    )


# ==========================================================================
# Snapshot reconciliation: added/removed/changed/unchanged in one
# full-outer pass (native-type null-safe compare — no string rendering)
# ==========================================================================
_SNAPSHOT_DIFF_SQL = """
    WITH old AS (
      SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
      WHERE o_orderdate < TIMESTAMP '1998-06-01'
    ),
    new AS (
      SELECT o_orderkey,
             CASE WHEN o_orderpriority = '1-URGENT'
                  THEN ROUND(o_totalprice / 100.0) * 100.0
                  ELSE o_totalprice END AS o_totalprice,
             o_orderpriority
      FROM orders WHERE o_orderdate < TIMESTAMP '1998-09-01'
    )
    SELECT
      CAST(SUM(CASE WHEN old.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS n_added,
      CAST(SUM(CASE WHEN new.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS n_removed,
      CAST(SUM(CASE WHEN old.o_orderkey IS NOT NULL AND new.o_orderkey IS NOT NULL
                AND NOT (old.o_totalprice IS NOT DISTINCT FROM new.o_totalprice
                         AND old.o_orderpriority IS NOT DISTINCT FROM new.o_orderpriority)
               THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
      CAST(SUM(CASE WHEN old.o_orderkey IS NOT NULL AND new.o_orderkey IS NOT NULL
                AND old.o_totalprice IS NOT DISTINCT FROM new.o_totalprice
                AND old.o_orderpriority IS NOT DISTINCT FROM new.o_orderpriority
               THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
    FROM old FULL JOIN new ON old.o_orderkey = new.o_orderkey
"""


@register("snapshot_diff_orders", _SNAPSHOT_DIFF_SQL)
def _snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_io_spark.operators import profile

    orders = _cat(spark, sf_dir).table("orders")
    old = orders.where(
        F.col("o_orderdate") < F.lit("1998-06-01").cast("timestamp")
    ).select("o_orderkey", "o_totalprice", "o_orderpriority")
    new = orders.where(
        F.col("o_orderdate") < F.lit("1998-09-01").cast("timestamp")
    ).select(
        "o_orderkey",
        F.when(
            F.col("o_orderpriority") == "1-URGENT",
            F.round(F.col("o_totalprice") / 100.0) * 100.0,
        ).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
        "o_orderpriority",
    )
    return profile.snapshot_diff(
        old, new, ["o_orderkey"], ["o_totalprice", "o_orderpriority"]
    )


# ==========================================================================
# Bounded-depth BFS (frontier expansion) over the trade graph: minimum
# hops from NATION_0's customers to every node within 3 hops
# ==========================================================================
_BFS_SQL = """
    WITH RECURSIVE pairs AS (
      SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS cnode,
             's' || CAST(l_suppkey AS VARCHAR) AS snode
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    edges AS (
      SELECT cnode AS src, snode AS dst FROM pairs
      UNION
      SELECT snode AS src, cnode AS dst FROM pairs
    ),
    sources AS (
      SELECT DISTINCT 'c' || CAST(c_custkey AS VARCHAR) AS node
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      WHERE n_name = 'NATION_0'
    ),
    walk(node, d) AS (
      SELECT node, 0 FROM sources
      UNION
      SELECT e.dst, w.d + 1
      FROM walk w JOIN edges e ON e.src = w.node
      WHERE w.d < 3
    )
    SELECT node, CAST(MIN(d) AS INT) AS hops FROM walk GROUP BY node
"""


@register("bfs_trade_reach", _BFS_SQL)
def _bfs_trade_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-depth BFS (graph.shortest_hops) from NATION_0's customers.
    Runs on parity-tagged BIGINT node keys (custkey→2k, suppkey→2k+1 —
    int64 join/dedup keys, exactly like pagerank_trade_graph); the
    'c…'/'s…' labels the oracle uses are reconstructed once at the end.
    disjoint=True symmetrize dedups the |E|-row directed list and skips
    the post-union distinct over 2|E| rows."""
    from etl_io_spark.operators import graph

    cat = _cat(spark, sf_dir)
    li = cat.table("lineitem").select("l_orderkey", "l_suppkey")
    orders = cat.table("orders").select("o_orderkey", "o_custkey")
    pairs = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
        (F.col("o_custkey").cast("long") * 2).alias("src"),
        (F.col("l_suppkey").cast("long") * 2 + 1).alias("dst"),
    )
    sources = (
        cat.table("customer")
        .join(
            cat.table("nation").where(F.col("n_name") == "NATION_0"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select((F.col("c_custkey").cast("long") * 2).alias("node"))
    )
    reach = graph.shortest_hops(
        graph.symmetrize(pairs, disjoint=True), sources, max_depth=3
    )
    return reach.select(
        F.when(
            F.col("node") % 2 == 0,
            F.concat(F.lit("c"), F.expr("node DIV 2").cast("string")),
        )
        .otherwise(F.concat(F.lit("s"), F.expr("node DIV 2").cast("string")))
        .alias("node"),
        F.col("hops").cast("int").alias("hops"),
    )


# ==========================================================================
# Incremental rollup maintenance: base aggregate + changelog deltas ==
# full recompute (oracle recomputes from scratch; Spark merges O(|batch|))
# ==========================================================================
_INCR_AGG_SQL = """
    SELECT o_orderpriority,
           ROUND(SUM(o_totalprice), 2) AS sum_o_totalprice,
           COUNT(*) AS n_rows
    FROM orders
    WHERE o_orderdate < TIMESTAMP '1998-09-01'
      AND NOT (o_orderdate < TIMESTAMP '1998-06-01' AND o_orderstatus = 'P')
    GROUP BY o_orderpriority
"""


@register("incremental_agg_orders", _INCR_AGG_SQL)
def _incremental_agg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _cat(spark, sf_dir).table("orders")
    cut_lo = F.lit("1998-06-01").cast("timestamp")
    cut_hi = F.lit("1998-09-01").cast("timestamp")
    base = agg.agg_snapshot(
        orders.where(F.col("o_orderdate") < cut_lo),
        ["o_orderpriority"], "o_totalprice", round_to=9,
    )
    inserts = orders.where(
        (F.col("o_orderdate") >= cut_lo) & (F.col("o_orderdate") < cut_hi)
    ).select("o_orderpriority", "o_totalprice", F.lit("I").alias("op"))
    deletes = orders.where(
        (F.col("o_orderdate") < cut_lo) & (F.col("o_orderstatus") == "P")
    ).select("o_orderpriority", "o_totalprice", F.lit("D").alias("op"))
    merged = agg.incremental_agg_update(
        base, inserts.unionAll(deletes), ["o_orderpriority"], "o_totalprice",
        round_to=2,
    )
    return merged


# ==========================================================================
# Per-group min-max feature scaling (unsorted keyed window, map-side
# scale; floor-rounded — terminating-decimal-proof)
# ==========================================================================
_MINMAX_SQL = """
    SELECT event_id, event_type, value,
           CASE WHEN hi > lo
                THEN FLOOR((value - lo) / (hi - lo) * 1000000.0 + 0.5)
                     / 1000000.0
                ELSE 0.5 END AS value_scaled
    FROM (
      SELECT event_id, event_type, value,
             MIN(value) OVER (PARTITION BY event_type) AS lo,
             MAX(value) OVER (PARTITION BY event_type) AS hi
      FROM events
    )
"""


@register("minmax_normalize_events", _MINMAX_SQL)
def _minmax_normalize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _cat(spark, sf_dir).table("events")
    return agg.minmax_normalize(ev, "event_type", "value").select(
        "event_id", "event_type", "value", "value_scaled"
    )


# ==========================================================================
# Mutual information between categorical columns (one contingency pass)
# ==========================================================================
_MI_SQL = """
    WITH c AS (
      SELECT l_returnflag AS x, l_linestatus AS y, COUNT(*) AS c
      FROM lineitem GROUP BY 1, 2
    ),
    t AS (SELECT SUM(c) AS n FROM c),
    mx AS (SELECT x, SUM(c) AS cx FROM c GROUP BY x),
    my AS (SELECT y, SUM(c) AS cy FROM c GROUP BY y),
    j AS (
      SELECT c.x, c.y, c.c, cx, cy, n,
             ROW_NUMBER() OVER (PARTITION BY c.x ORDER BY c.y) AS rn_y,
             ROW_NUMBER() OVER (PARTITION BY c.y ORDER BY c.x) AS rn_x
      FROM c JOIN mx ON c.x = mx.x JOIN my ON c.y = my.y CROSS JOIN t
    )
    SELECT ROUND(SUM((c * 1.0 / n) * LN((c * 1.0 * n) / (cx * 1.0 * cy))), 6)
             AS mi_nats,
           ROUND(SUM(CASE WHEN rn_y = 1
                 THEN -(cx * 1.0 / n) * LN(cx * 1.0 / n) ELSE 0.0 END), 6)
             AS h_x,
           ROUND(SUM(CASE WHEN rn_x = 1
                 THEN -(cy * 1.0 / n) * LN(cy * 1.0 / n) ELSE 0.0 END), 6)
             AS h_y,
           CAST(MAX(n) AS BIGINT) AS n_rows
    FROM j
"""


@register("mutual_information_flags", _MI_SQL)
def _mutual_information_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _cat(spark, sf_dir).table("lineitem")
    return agg.mutual_information(li, "l_returnflag", "l_linestatus")


# ==========================================================================
# Language-ID confusion matrix: n-gram-marker predictions vs the labeled
# lang column — classifier evaluation as a query
# ==========================================================================
_LANGID_CONFUSION_SQL = f"""
    WITH pred AS ({_lang_oracle()})
    SELECT d.lang AS true_lang, pred.lang_pred AS pred_lang,
           COUNT(*) AS n
    FROM documents d JOIN pred ON d.doc_id = pred.doc_id
    GROUP BY 1, 2
"""


@register("langid_confusion", _LANGID_CONFUSION_SQL)
def _langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    # lang_pred is attached INLINE in the same select as the true label —
    # one FileScan of documents, one tiny groupBy shuffle; no doc_id
    # self-join (the round-2 shape paid two scans + a join for a derived
    # column of the same row).
    docs = _cat(spark, sf_dir).table("documents")
    _, pred = text.lang_id_exprs("text")
    return (
        parallelize(docs, floor=CPU_HEAVY_FLOOR)
        .select(
            F.col("lang").alias("true_lang"), pred.alias("pred_lang")
        )
        .groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ==========================================================================
# Exact audience-overlap matrix: distinct-user intersections between
# event types (one dedup + one keyed self-join on the user — the exact
# small-matrix complement to the HLL overlap estimates)
# ==========================================================================
_AUDIENCE_OVERLAP_SQL = """
    WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
    sz AS (SELECT event_type, COUNT(*) AS n FROM tu GROUP BY 1)
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           COUNT(*) AS n_both,
           MIN(sa.n) AS n_a, MIN(sb.n) AS n_b,
           ROUND(COUNT(*) * 1.0 / (MIN(sa.n) + MIN(sb.n) - COUNT(*)), 6)
             AS jaccard
    FROM tu a
    JOIN tu b ON a.user_id = b.user_id AND a.event_type < b.event_type
    JOIN sz sa ON a.event_type = sa.event_type
    JOIN sz sb ON b.event_type = sb.event_type
    GROUP BY 1, 2
"""


@register("audience_overlap", _AUDIENCE_OVERLAP_SQL)
def _audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _cat(spark, sf_dir).table("events")
    tu = ev.select("event_type", "user_id").distinct()
    sz = tu.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = tu.withColumnsRenamed({"event_type": "type_a"})
    b = tu.withColumnsRenamed({"event_type": "type_b"})
    inter = (
        a.join(b, ["user_id"])
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    return (
        inter.join(
            sz.withColumnsRenamed({"event_type": "type_a", "n": "n_a"}),
            "type_a",
        )
        .join(
            sz.withColumnsRenamed({"event_type": "type_b", "n": "n_b"}),
            "type_b",
        )
        .select(
            "type_a", "type_b", "n_both", "n_a", "n_b",
            F.round(
                F.col("n_both")
                / (F.col("n_a") + F.col("n_b") - F.col("n_both")),
                6,
            ).alias("jaccard"),
        )
    )


# ==========================================================================
# Span-level benchmark contamination: WHERE documents quote the
# benchmark set (positions), not just whether — islands over hit
# positions of broadcast 5-gram matches
# ==========================================================================
@register(
    "quote_spans_docs",
    f"""
    WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS w FROM documents),
    grams AS (
      SELECT doc_id, i AS pos, array_to_string(w[i:i+4], ' ') AS g
      FROM toks, UNNEST(generate_series(1, len(w) - 4)) AS t(i)
    ),
    bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0),
    hits AS (
      SELECT doc_id, pos FROM grams WHERE g IN (SELECT g FROM bench)
    ),
    anchored AS (
      SELECT doc_id, pos,
             pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
               AS anchor
      FROM hits
    )
    SELECT doc_id, MIN(pos) AS span_start, MAX(pos) AS span_end,
           COUNT(*) AS n_grams
    FROM anchored GROUP BY doc_id, anchor
    """,
)
def _quote_spans_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _cat(spark, sf_dir).table("documents")
    bench = docs.where(F.col("doc_id") % 50 == 0)
    return text.quote_spans(docs, bench, "doc_id", "text", n=5)


# ==========================================================================
# Vocabulary drift between corpus halves (KL both ways + Jensen-Shannon)
# ==========================================================================
_VOCAB_DRIFT_SQL = """
    WITH tok AS (
      SELECT (CAST(substring(source, 4) AS INT) % 2 = 0) AS a,
             UNNEST(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                x -> x <> '')) AS t
      FROM documents
    ),
    counts AS (
      SELECT t, SUM(CASE WHEN a THEN 1 ELSE 0 END) AS ca,
             SUM(CASE WHEN a THEN 0 ELSE 1 END) AS cb
      FROM tok GROUP BY t
    ),
    tot AS (
      SELECT SUM(ca) AS ta, SUM(cb) AS tb, COUNT(*) AS v FROM counts
    )
    SELECT CAST(MAX(v) AS BIGINT) AS vocab_size,
           CAST(MAX(ta) AS BIGINT) AS n_tokens_a,
           CAST(MAX(tb) AS BIGINT) AS n_tokens_b,
           ROUND(SUM(((ca + 1.0) / (ta + v)) *
                 LN(((ca + 1.0) / (ta + v)) / ((cb + 1.0) / (tb + v)))), 6)
             AS kl_ab,
           ROUND(SUM(((cb + 1.0) / (tb + v)) *
                 LN(((cb + 1.0) / (tb + v)) / ((ca + 1.0) / (ta + v)))), 6)
             AS kl_ba,
           ROUND(0.5 * SUM(((ca + 1.0) / (ta + v)) *
                   LN(((ca + 1.0) / (ta + v)) /
                      ((((ca + 1.0) / (ta + v)) + ((cb + 1.0) / (tb + v))) / 2)))
               + 0.5 * SUM(((cb + 1.0) / (tb + v)) *
                   LN(((cb + 1.0) / (tb + v)) /
                      ((((ca + 1.0) / (ta + v)) + ((cb + 1.0) / (tb + v))) / 2))),
                 6) AS js
    FROM counts, tot
"""


@register("vocab_drift_sources", _VOCAB_DRIFT_SQL)
def _vocab_drift_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _cat(spark, sf_dir).table("documents")
    split = F.substring("source", 4, 10).cast("int") % 2 == 0
    return text.vocab_drift(docs, split, "text")


# ==========================================================================
# One-pass pairwise correlation matrix over lineitem measures
# ==========================================================================
_CORR_MATRIX_SQL = """
    WITH r AS (
      SELECT COUNT(*) AS n,
             ROUND(corr(l_quantity, l_extendedprice), 6) + 0.0 AS c0,
             ROUND(corr(l_quantity, l_discount), 6) + 0.0 AS c1,
             ROUND(corr(l_quantity, l_tax), 6) + 0.0 AS c2,
             ROUND(corr(l_extendedprice, l_discount), 6) + 0.0 AS c3,
             ROUND(corr(l_extendedprice, l_tax), 6) + 0.0 AS c4,
             ROUND(corr(l_discount, l_tax), 6) + 0.0 AS c5
      FROM lineitem
    )
    SELECT col_a, col_b, corr, n AS n_rows FROM (
      SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b, c0 AS corr, n FROM r
      UNION ALL SELECT 'l_quantity', 'l_discount', c1, n FROM r
      UNION ALL SELECT 'l_quantity', 'l_tax', c2, n FROM r
      UNION ALL SELECT 'l_extendedprice', 'l_discount', c3, n FROM r
      UNION ALL SELECT 'l_extendedprice', 'l_tax', c4, n FROM r
      UNION ALL SELECT 'l_discount', 'l_tax', c5, n FROM r
    )
"""


@register("corr_matrix_lineitem", _CORR_MATRIX_SQL)
def _corr_matrix_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _cat(spark, sf_dir).table("lineitem")
    return agg.corr_matrix(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )


# ==========================================================================
# RFM segmentation: recency/frequency/monetary quintiles per user (the
# classic CRM scoring); global NTILE here — at 100 TB swap the scoring
# windows for approx_percentile bucket edges (same output contract)
# ==========================================================================
_RFM_SQL = """
    WITH base AS (
      SELECT user_id,
             DATE_DIFF('day', CAST(MAX(ts) AS DATE),
                       (SELECT CAST(MAX(ts) AS DATE) FROM events))
               AS recency_days,
             COUNT(*) AS frequency,
             ROUND(SUM(value), 2) AS monetary
      FROM events GROUP BY user_id
    )
    SELECT user_id, CAST(recency_days AS INT) AS recency_days,
           frequency, monetary,
           CAST(NTILE(5) OVER (ORDER BY recency_days DESC, user_id) AS INT)
             AS r_score,
           CAST(NTILE(5) OVER (ORDER BY frequency, user_id) AS INT)
             AS f_score,
           CAST(NTILE(5) OVER (ORDER BY monetary, user_id) AS INT)
             AS m_score
    FROM base
"""


@register("rfm_segments", _RFM_SQL)
def _rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = _cat(spark, sf_dir).table("events")
    anchor = ev.agg(F.max(F.to_date("ts")).alias("__anchor"))
    base = (
        ev.groupBy("user_id")
        .agg(
            F.max(F.to_date("ts")).alias("__last"),
            F.count(F.lit(1)).alias("frequency"),
            F.round(F.sum("value"), 2).alias("monetary"),
        )
        .crossJoin(anchor)
        .select(
            "user_id",
            F.datediff("__anchor", "__last").alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    return base.select(
        "user_id", "recency_days", "frequency", "monetary",
        F.ntile(5).over(
            W.orderBy(F.col("recency_days").desc(), "user_id")
        ).alias("r_score"),
        F.ntile(5).over(W.orderBy("frequency", "user_id")).alias("f_score"),
        F.ntile(5).over(W.orderBy("monetary", "user_id")).alias("m_score"),
    )


# ==========================================================================
# Top-N + OTHER rollup: the reporting staple (full breakdown for the
# head, one aggregated bucket for the tail) in two small shuffles
# ==========================================================================
_TOPN_OTHER_SQL = """
    WITH rev AS (
      SELECT n_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)
               AS revenue
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      GROUP BY n_name
    ),
    ranked AS (
      SELECT n_name, revenue,
             ROW_NUMBER() OVER (ORDER BY revenue DESC, n_name) AS rn
      FROM rev
    )
    SELECT CASE WHEN rn <= 5 THEN n_name ELSE 'OTHER' END AS nation,
           ROUND(SUM(revenue), 2) AS revenue,
           COUNT(*) AS n_nations
    FROM ranked
    GROUP BY 1
"""


@register("topn_other_nations", _TOPN_OTHER_SQL)
def _topn_other_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    cat = _cat(spark, sf_dir)
    rev = (
        cat.table("lineitem")
        .join(
            cat.table("supplier").select("s_suppkey", "s_nationkey"),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            cat.table("nation").select("n_nationkey", "n_name"),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )
    ranked = rev.withColumn(
        "__rn",
        F.row_number().over(W.orderBy(F.col("revenue").desc(), "n_name")),
    )
    return (
        ranked.groupBy(
            F.when(F.col("__rn") <= 5, F.col("n_name"))
            .otherwise(F.lit("OTHER"))
            .alias("nation")
        )
        .agg(
            F.round(F.sum("revenue"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_nations"),
        )
    )


# ==========================================================================
# Inter-arrival gap statistics per event type (lag over each user's
# per-type timeline; discrete quantiles — ceil(n·q) parity)
# ==========================================================================
_INTERARRIVAL_SQL = """
    WITH gaps AS (
      SELECT event_type,
             epoch_us(CAST(ts AS TIMESTAMP))
               - LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY ts, event_id) AS gap_us
      FROM events
    )
    SELECT event_type, COUNT(*) AS n_gaps,
           ROUND(AVG(gap_us) / 1000000.0, 6) AS mean_s,
           ROUND(quantile_disc(gap_us, 0.5) / 1000000.0, 6) AS p50_s,
           ROUND(quantile_disc(gap_us, 0.9) / 1000000.0, 6) AS p90_s
    FROM gaps WHERE gap_us IS NOT NULL
    GROUP BY event_type
"""


@register("interarrival_stats", _INTERARRIVAL_SQL)
def _interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = _cat(spark, sf_dir).table("events")
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    tm = F.unix_micros("ts")
    gaps = ev.withColumn("__gap", tm - F.lag(tm).over(w)).where(
        F.col("__gap").isNotNull()
    )
    ws = W.partitionBy("event_type").orderBy("__gap")
    wp = W.partitionBy("event_type")
    ranked = gaps.select("event_type", "__gap").withColumn(
        "__rn", F.row_number().over(ws)
    ).withColumn("__n", F.count(F.lit(1)).over(wp))

    def _disc(q: float, name: str):
        tgt = F.ceil(F.col("__n") * F.lit(q))
        sel = F.min(F.when(F.col("__rn") == tgt, F.col("__gap")))
        return F.round(sel / F.lit(1_000_000.0), 6).alias(name)

    return ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.round(F.avg("__gap") / F.lit(1_000_000.0), 6).alias("mean_s"),
        _disc(0.5, "p50_s"),
        _disc(0.9, "p90_s"),
    )


# ==========================================================================
# Retention half-life: exponential-decay fit over each cohort's curve
# (regr_slope on ln(active) — one pass over the tiny retention matrix)
# ==========================================================================
_RETENTION_HALFLIFE_SQL = """
    WITH cohort AS (
      SELECT user_id, MIN(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS cohort_day
      FROM events GROUP BY user_id
    ),
    act AS (
      SELECT DISTINCT e.user_id, c.cohort_day,
             DATE_DIFF('day', c.cohort_day,
                       CAST(CAST(e.ts AS TIMESTAMP) AS DATE)) AS day_offset
      FROM events e JOIN cohort c ON e.user_id = c.user_id
    ),
    curve AS (
      SELECT cohort_day, day_offset, COUNT(*) AS n_active
      FROM act GROUP BY 1, 2
    )
    SELECT cohort_day, COUNT(*) AS n_points,
           ROUND(regr_slope(LN(n_active), day_offset), 6) + 0.0 AS slope,
           CASE WHEN regr_slope(LN(n_active), day_offset) < 0
                THEN ROUND(-0.6931471805599453
                           / regr_slope(LN(n_active), day_offset), 4)
           END AS halflife_days
    FROM curve GROUP BY cohort_day
"""


@register("retention_halflife", _RETENTION_HALFLIFE_SQL)
def _retention_halflife(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_io_spark.functions.numeric import round_pz

    ev = _cat(spark, sf_dir).table("events")
    curve = agg.cohort_retention(ev, "user_id", "ts")
    slope = F.regr_slope(F.log("active_users"), F.col("day_offset"))
    return curve.groupBy("cohort_day").agg(
        F.count(F.lit(1)).alias("n_points"),
        round_pz(slope, 6).alias("slope"),
        F.when(
            slope < 0, F.round(F.lit(-0.6931471805599453) / slope, 4)
        ).alias("halflife_days"),
    )


# ==========================================================================
# Embedding norm audit: per-label L2-norm distribution + outlier count
# (vector-quality gate before similarity/clustering pipelines)
# ==========================================================================
_EMB_NORM_SQL = """
    WITH norms AS (
      SELECT label, vec_id,
             SQRT(list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      FROM embeddings
    ),
    stats AS (
      SELECT label, AVG(nrm) AS mu, STDDEV_SAMP(nrm) AS sd
      FROM norms GROUP BY label
    )
    SELECT n.label, COUNT(*) AS n_vectors,
           ROUND(MIN(mu), 6) AS mean_norm,
           ROUND(MIN(sd), 6) AS std_norm,
           CAST(SUM(CASE WHEN sd > 0 AND ABS((nrm - mu) / sd) > 3
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM norms n JOIN stats s ON n.label = s.label
    GROUP BY n.label
"""


@register("embedding_norm_audit", _EMB_NORM_SQL)
def _embedding_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    emb = _cat(spark, sf_dir).table("embeddings")
    nrm = F.sqrt(
        F.aggregate(
            "embedding",
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    norms = emb.select("label", "vec_id", nrm.alias("__nrm"))
    w = W.partitionBy("label")
    scored = norms.withColumn("__mu", F.avg("__nrm").over(w)).withColumn(
        "__sd", F.stddev_samp("__nrm").over(w)
    )
    outlier = (F.col("__sd") > 0) & (
        F.abs((F.col("__nrm") - F.col("__mu")) / F.col("__sd")) > 3
    )
    return scored.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(F.min("__mu"), 6).alias("mean_norm"),
        F.round(F.min("__sd"), 6).alias("std_norm"),
        F.sum(F.when(outlier, 1).otherwise(0)).cast("bigint").alias(
            "n_outliers"
        ),
    )


# ==========================================================================
# Session-level summary: per user, sessions / events-per-session /
# bounce share + median session duration (built on win.sessionize)
# ==========================================================================
_SESSION_STATS_SQL = """
    WITH ordered AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
             LAG(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY ts)
               AS prev_ts
      FROM events
    ),
    assigned AS (
      SELECT event_id, user_id, ts,
             SUM(CASE WHEN prev_ts IS NULL
                        OR ts > prev_ts + INTERVAL '30 minutes'
                       THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts
                     ROWS UNBOUNDED PRECEDING) AS session_id
      FROM ordered
    ),
    sessions AS (
      SELECT user_id, session_id, COUNT(*) AS n_events,
             epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS dur_us
      FROM assigned GROUP BY 1, 2
    )
    SELECT user_id, COUNT(*) AS n_sessions,
           CAST(SUM(n_events) AS BIGINT) AS n_events,
           ROUND(AVG(n_events), 6) AS avg_events_per_session,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounces,
           ROUND(quantile_disc(dur_us, 0.5) / 1000000.0, 6)
             AS median_session_s
    FROM sessions GROUP BY user_id
"""


@register("session_stats", _SESSION_STATS_SQL)
def _session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = _cat(spark, sf_dir).table("events")
    assigned = win.sessionize(ev, "user_id", "ts", gap="30 minutes")
    sess = assigned.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("__ne"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias(
            "__dur"
        ),
    )
    ws = W.partitionBy("user_id").orderBy("__dur")
    wp = W.partitionBy("user_id")
    ranked = sess.withColumn("__rn", F.row_number().over(ws)).withColumn(
        "__n", F.count(F.lit(1)).over(wp)
    )
    med_sel = F.min(
        F.when(F.col("__rn") == F.ceil(F.col("__n") * F.lit(0.5)), F.col("__dur"))
    )
    return ranked.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("__ne").cast("bigint").alias("n_events"),
        F.round(F.avg("__ne"), 6).alias("avg_events_per_session"),
        F.sum(F.when(F.col("__ne") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_bounces"),
        F.round(med_sel / F.lit(1_000_000.0), 6).alias("median_session_s"),
    )


# ==========================================================================
# Gini coefficient of revenue concentration across customers (Lorenz
# rank formula over the aggregated per-customer revenue — one window)
# ==========================================================================
_GINI_SQL = """
    WITH rev AS (
      SELECT o_custkey, SUM(o_totalprice) AS r FROM orders GROUP BY 1
    ),
    ranked AS (
      SELECT r, ROW_NUMBER() OVER (ORDER BY r, o_custkey) AS i,
             COUNT(*) OVER () AS n, SUM(r) OVER () AS tot
      FROM rev
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_customers,
           ROUND(MAX(tot), 2) AS total_revenue,
           ROUND(2.0 * SUM(i * r) / (MAX(n) * MAX(tot))
                 - (MAX(n) + 1.0) / MAX(n), 6) AS gini
    FROM ranked
"""


@register("revenue_gini", _GINI_SQL)
def _revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    orders = _cat(spark, sf_dir).table("orders")
    rev = orders.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("__r"))
    ranked = rev.select(
        "__r",
        F.row_number().over(W.orderBy("__r", "o_custkey")).alias("__i"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("__n"),
        F.sum("__r").over(W.partitionBy()).alias("__tot"),
    )
    return ranked.agg(
        F.max("__n").cast("bigint").alias("n_customers"),
        F.round(F.max("__tot"), 2).alias("total_revenue"),
        F.round(
            F.lit(2.0) * F.sum(F.col("__i") * F.col("__r"))
            / (F.max("__n") * F.max("__tot"))
            - (F.max("__n") + F.lit(1.0)) / F.max("__n"),
            6,
        ).alias("gini"),
    )


# ==========================================================================
# Lead/lag cross-correlation between two daily event series (does 'view'
# activity predict 'purchase' activity k days later?)
# ==========================================================================
_LEADLAG_SQL = """
    WITH daily AS (
      SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS a,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS b
      FROM events GROUP BY 1
    ),
    lags AS (
      SELECT l.lag,
             corr(d.a, f.b) AS c,
             COUNT(*) AS n_days
      FROM (SELECT UNNEST(range(-3, 4)) AS lag) l
      JOIN daily d ON TRUE
      JOIN daily f ON f.day = d.day + CAST(l.lag AS INT)
      GROUP BY l.lag
    )
    SELECT CAST(lag AS INT) AS lag_days,
           ROUND(c, 6) + 0.0 AS correlation, n_days
    FROM lags
"""


@register("leadlag_correlation", _LEADLAG_SQL)
def _leadlag_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_io_spark.functions.numeric import round_pz

    ev = _cat(spark, sf_dir).table("events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("a"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("b"),
    )
    lags = spark.range(-3, 4).select(F.col("id").cast("int").alias("lag_days"))
    shifted = (
        lags.crossJoin(daily.select("day", "a"))
        .join(
            daily.select(F.col("day").alias("fday"), "b"),
            F.expr("fday = date_add(day, lag_days)"),
        )
    )
    return shifted.groupBy("lag_days").agg(
        round_pz(F.corr("a", "b"), 6).alias("correlation"),
        F.count(F.lit(1)).alias("n_days"),
    )


# ==========================================================================
# Readability scoring (Flesch-style with a vowel-group syllable proxy) —
# pure codegen regex counts, zero shuffles
# ==========================================================================
_READABILITY_SQL = """
    WITH f AS (
      SELECT doc_id,
             len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                             x -> x <> '')) AS n_words,
             len(regexp_extract_all(text, '[.!?]')) AS n_sents,
             len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syll
      FROM documents
    )
    SELECT doc_id, n_words, n_sents, n_syll,
           CASE WHEN n_words > 0 AND n_sents > 0 THEN
             ROUND(206.835 - 1.015 * (n_words * 1.0 / n_sents)
                           - 84.6 * (n_syll * 1.0 / n_words), 4)
           END AS flesch_score
    FROM f
"""


@register("readability_docs", _READABILITY_SQL)
def _readability_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _cat(spark, sf_dir).table("documents")
    # token_count_ws, not size(tokens(...)): size(NULL) = -1 under
    # non-ANSI leaked a -1 word count for NULL text (round-10)
    n_words = text.token_count_ws("text")
    # regexp_count == size(regexp_extract_all): same matches without
    # materializing each one into an array (round-8 text-battery lesson)
    n_sents = F.regexp_count(F.col("text"), F.lit("[.!?]"))
    n_syll = F.regexp_count(F.lower(F.col("text")), F.lit("[aeiouy]+"))
    ok = (n_words > 0) & (n_sents > 0)
    score = (
        F.lit(206.835)
        - F.lit(1.015) * (n_words * F.lit(1.0) / n_sents)
        - F.lit(84.6) * (n_syll * F.lit(1.0) / n_words)
    )
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sents.alias("n_sents"),
        n_syll.alias("n_syll"),
        F.when(ok, F.round(score, 4)).alias("flesch_score"),
    )


# ==========================================================================
# Per-class precision / recall / F1 of the language classifier (built on
# the same predictions as langid_confusion)
# ==========================================================================
_LANGID_PRF_SQL = f"""
    WITH pred AS ({_lang_oracle()}),
    j AS (
      SELECT d.lang AS t, pred.lang_pred AS p
      FROM documents d JOIN pred ON d.doc_id = pred.doc_id
    ),
    langs AS (
      SELECT t AS lang FROM j UNION SELECT p FROM j
    ),
    s AS (
      SELECT l.lang,
             (SELECT COUNT(*) FROM j WHERE j.t = l.lang AND j.p = l.lang) AS tp,
             (SELECT COUNT(*) FROM j WHERE j.p = l.lang) AS pred_n,
             (SELECT COUNT(*) FROM j WHERE j.t = l.lang) AS true_n
      FROM langs l
    )
    SELECT lang, CAST(tp AS BIGINT) AS tp,
           CAST(pred_n AS BIGINT) AS pred_n, CAST(true_n AS BIGINT) AS true_n,
           CASE WHEN pred_n > 0 THEN ROUND(tp * 1.0 / pred_n, 6) END AS precision,
           CASE WHEN true_n > 0 THEN ROUND(tp * 1.0 / true_n, 6) END AS recall,
           CASE WHEN pred_n > 0 AND true_n > 0 AND tp > 0
                THEN ROUND(2.0 * tp / (pred_n + true_n), 6) END AS f1
    FROM s
"""


@register("langid_prf", _LANGID_PRF_SQL)
def _langid_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Single lineage: inline lang_pred → tiny confusion matrix (langs²
    # rows) → each cell (t, p, n) exploded into its two per-class
    # contributions (n to true_n[t] + tp[t] when t = p; n to pred_n[p])
    # → one groupBy(lang) over the exploded cells. Exactly ONE FileScan
    # of documents and one data-proportional shuffle; the round-2 shape
    # re-ran the regex scan four times (langs/tp/pred_n/true_n branches
    # of the unpersisted join).
    docs = _cat(spark, sf_dir).table("documents")
    _, pred = text.lang_id_exprs("text")
    cells = (
        parallelize(docs, floor=CPU_HEAVY_FLOOR)
        .select(F.col("lang").alias("t"), pred.alias("p"))
        .groupBy("t", "p")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    contrib = cells.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("t").alias("lang"),
                    F.when(F.col("t") == F.col("p"), F.col("n"))
                    .otherwise(F.lit(0)).alias("tp"),
                    F.lit(0).cast("bigint").alias("pred_n"),
                    F.col("n").alias("true_n"),
                ),
                F.struct(
                    F.col("p").alias("lang"),
                    F.lit(0).cast("bigint").alias("tp"),
                    F.col("n").alias("pred_n"),
                    F.lit(0).cast("bigint").alias("true_n"),
                ),
            )
        ).alias("c")
    ).select("c.*")
    s = contrib.groupBy("lang").agg(
        F.sum("tp").cast("bigint").alias("tp"),
        F.sum("pred_n").cast("bigint").alias("pred_n"),
        F.sum("true_n").cast("bigint").alias("true_n"),
    )
    return s.select(
        "lang", "tp", "pred_n", "true_n",
        F.when(F.col("pred_n") > 0, F.round(F.col("tp") / F.col("pred_n"), 6)).alias("precision"),
        F.when(F.col("true_n") > 0, F.round(F.col("tp") / F.col("true_n"), 6)).alias("recall"),
        F.when(
            (F.col("pred_n") > 0) & (F.col("true_n") > 0) & (F.col("tp") > 0),
            F.round(F.lit(2.0) * F.col("tp") / (F.col("pred_n") + F.col("true_n")), 6),
        ).alias("f1"),
    )


# ==========================================================================
# Chi-square independence statistic over a month × priority contingency
# (the categorical independence test as one contingency pass)
# ==========================================================================
_CHISQ_SQL = """
    WITH c AS (
      SELECT CAST(EXTRACT(month FROM CAST(o_orderdate AS TIMESTAMP)) AS INT)
               AS m,
             o_orderpriority AS p, COUNT(*) AS c
      FROM orders GROUP BY 1, 2
    ),
    mm AS (SELECT m, SUM(c) AS cm FROM c GROUP BY m),
    pp AS (SELECT p, SUM(c) AS cp FROM c GROUP BY p),
    t AS (SELECT SUM(c) AS n FROM c)
    SELECT CAST(MAX(n) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           ROUND(SUM(POW(c - (cm * 1.0 * cp / n), 2)
                     / (cm * 1.0 * cp / n)), 6) AS chi_square
    FROM c JOIN mm USING (m) JOIN pp USING (p) CROSS JOIN t
"""


@register("chisq_priority_month", _CHISQ_SQL)
def _chisq_priority_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _cat(spark, sf_dir).table("orders")
    c = orders.groupBy(
        F.month("o_orderdate").alias("m"),
        F.col("o_orderpriority").alias("p"),
    ).agg(F.count(F.lit(1)).alias("c"))
    mm = c.groupBy("m").agg(F.sum("c").alias("cm"))
    pp = c.groupBy("p").agg(F.sum("c").alias("cp"))
    from pyspark.sql import Window as W

    j = (
        c.join(mm, "m")
        .join(pp, "p")
        .withColumn("n", F.sum("c").over(W.partitionBy()))
    )
    exp = F.col("cm") * F.lit(1.0) * F.col("cp") / F.col("n")
    return j.agg(
        F.max("n").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).alias("n_cells"),
        F.round(F.sum(F.pow(F.col("c") - exp, 2) / exp), 6).alias(
            "chi_square"
        ),
    )


# ==========================================================================
# Dedup yield report: duplicate-cluster size distribution + kept/total
# accounting from the exact-dedup pass
# ==========================================================================
_DEDUP_YIELD_SQL = """
    WITH groups AS (
      SELECT text, COUNT(*) AS sz FROM documents GROUP BY text
    )
    SELECT CAST(sz AS BIGINT) AS cluster_size,
           COUNT(*) AS n_clusters,
           CAST(SUM(sz) AS BIGINT) AS n_docs,
           CAST(SUM(sz - 1) AS BIGINT) AS n_removed
    FROM groups GROUP BY sz
"""


@register("dedup_yield", _DEDUP_YIELD_SQL)
def _dedup_yield(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _cat(spark, sf_dir).table("documents")
    groups = docs.groupBy("text").agg(F.count(F.lit(1)).alias("sz"))
    return groups.groupBy(F.col("sz").alias("cluster_size")).agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("sz").cast("bigint").alias("n_docs"),
        F.sum(F.col("sz") - 1).cast("bigint").alias("n_removed"),
    )


# ==========================================================================
# 2-D skyline (Pareto front): suppliers not dominated on
# (account balance, realized revenue) — sort one axis, running-max the
# other; no pairwise dominance join
# ==========================================================================
_PARETO_SQL = """
    WITH rev AS (
      SELECT s_suppkey, s_name, ROUND(MIN(s_acctbal), 2) AS acctbal,
             ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
      FROM supplier JOIN lineitem ON l_suppkey = s_suppkey
      GROUP BY s_suppkey, s_name
    ),
    ranked AS (
      SELECT *,
             MAX(revenue) OVER (ORDER BY acctbal DESC, s_suppkey
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) AS best_rev_above
      FROM rev
    )
    SELECT s_suppkey, s_name, acctbal, revenue
    FROM ranked
    WHERE best_rev_above IS NULL OR revenue > best_rev_above
"""


@register("pareto_suppliers", _PARETO_SQL)
def _pareto_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline without the quadratic dominance self-join: sort by one
    objective, keep rows whose OTHER objective beats every earlier row's
    (running max over the sorted order). The sort runs over the
    supplier-level AGGREGATE, not the fact."""
    from pyspark.sql import Window as W

    cat = _cat(spark, sf_dir)
    rev = (
        cat.table("supplier")
        .join(
            cat.table("lineitem"), F.col("l_suppkey") == F.col("s_suppkey")
        )
        .groupBy("s_suppkey", "s_name")
        .agg(
            F.round(F.min("s_acctbal"), 2).alias("acctbal"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )
    w = (
        W.orderBy(F.col("acctbal").desc(), "s_suppkey")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    ranked = rev.withColumn("__best", F.max("revenue").over(w))
    return ranked.where(
        F.col("__best").isNull() | (F.col("revenue") > F.col("__best"))
    ).select("s_suppkey", "s_name", "acctbal", "revenue")


# ==========================================================================
# Month-over-month revenue growth per nation (LAG over the aggregated
# series — the fact is shuffled once into the monthly rollup)
# ==========================================================================
_MOM_SQL = """
    WITH monthly AS (
      SELECT n_name,
             CAST(date_trunc('month', CAST(o_orderdate AS TIMESTAMP))
                  AS DATE) AS month,
             ROUND(SUM(o_totalprice), 2) AS revenue
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1, 2
    )
    SELECT n_name, month, revenue,
           ROUND(LAG(revenue) OVER w, 2) AS prev_revenue,
           CASE WHEN LAG(revenue) OVER w > 0 THEN
             FLOOR((revenue / LAG(revenue) OVER w - 1.0) * 1000000.0 + 0.5)
               / 1000000.0
           END AS mom_growth
    FROM monthly
    WINDOW w AS (PARTITION BY n_name ORDER BY month)
"""


@register("mom_revenue_growth", _MOM_SQL)
def _mom_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    cat = _cat(spark, sf_dir)
    monthly = (
        cat.table("orders")
        .join(
            cat.table("customer").select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            cat.table("nation").select("n_nationkey", "n_name"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(
            "n_name",
            F.to_date(F.date_trunc("month", "o_orderdate")).alias("month"),
        )
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )
    w = W.partitionBy("n_name").orderBy("month")
    prev = F.lag("revenue").over(w)
    # growth is a ratio of 2-decimal sums: floor-based rounding (see
    # robust_anomaly) — decimal ROUND diverges on terminating tails
    growth = F.floor(
        (F.col("revenue") / prev - 1.0) * F.lit(1_000_000.0) + F.lit(0.5)
    ) / F.lit(1_000_000.0)
    return monthly.select(
        "n_name", "month", "revenue",
        F.round(prev, 2).alias("prev_revenue"),
        F.when(prev > 0, growth).alias("mom_growth"),
    )


# ==========================================================================
# Vocabulary coverage curve: how many distinct tokens cover 50/90/99% of
# the corpus (tokenizer-budget planning); one wordcount + one tiny sort
# ==========================================================================
_VOCAB_COVERAGE_SQL = """
    WITH counts AS (
      SELECT t.token, COUNT(*) AS cnt
      FROM (SELECT list_filter(regexp_split_to_array(trim(text), '\\s+'),
                               x -> x <> '') AS w FROM documents) toks,
           UNNEST(w) AS t(token)
      GROUP BY t.token
    ),
    ranked AS (
      SELECT cnt,
             ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS rank,
             SUM(cnt) OVER (ORDER BY cnt DESC, token
                            ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(cnt) OVER () AS tot
      FROM counts
    )
    SELECT CAST(MAX(rank) AS BIGINT) AS vocab_size,
           CAST(MAX(tot) AS BIGINT) AS total_tokens,
           CAST(MIN(CASE WHEN cum >= 0.50 * tot THEN rank END) AS BIGINT)
             AS r50,
           CAST(MIN(CASE WHEN cum >= 0.90 * tot THEN rank END) AS BIGINT)
             AS r90,
           CAST(MIN(CASE WHEN cum >= 0.99 * tot THEN rank END) AS BIGINT)
             AS r99
    FROM ranked
"""


@register("vocab_coverage", _VOCAB_COVERAGE_SQL)
def _vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = _cat(spark, sf_dir).table("documents")
    counts = (
        parallelize(docs)
        .select(F.explode(text.tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    wo = W.orderBy(F.col("cnt").desc(), "token")
    ranked = counts.select(
        "cnt",
        F.row_number().over(wo).alias("rank"),
        F.sum("cnt").over(wo.rowsBetween(W.unboundedPreceding, 0)).alias("cum"),
        F.sum("cnt").over(W.partitionBy()).alias("tot"),
    )
    return ranked.agg(
        F.max("rank").cast("bigint").alias("vocab_size"),
        F.max("tot").cast("bigint").alias("total_tokens"),
        F.min(F.when(F.col("cum") >= 0.50 * F.col("tot"), F.col("rank")))
        .cast("bigint").alias("r50"),
        F.min(F.when(F.col("cum") >= 0.90 * F.col("tot"), F.col("rank")))
        .cast("bigint").alias("r90"),
        F.min(F.when(F.col("cum") >= 0.99 * F.col("tot"), F.col("rank")))
        .cast("bigint").alias("r99"),
    )


# ==========================================================================
# Zipf exponent: slope of ln(freq) vs ln(rank) over the token counts
# ==========================================================================
_ZIPF_SQL = """
    WITH counts AS (
      SELECT t.token, COUNT(*) AS cnt
      FROM (SELECT list_filter(regexp_split_to_array(trim(text), '\\s+'),
                               x -> x <> '') AS w FROM documents) toks,
           UNNEST(w) AS t(token)
      GROUP BY t.token
    ),
    ranked AS (
      SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS rank
      FROM counts
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size,
           ROUND(regr_slope(LN(cnt), LN(rank)), 6) + 0.0 AS zipf_slope,
           ROUND(regr_r2(LN(cnt), LN(rank)), 6) AS r2
    FROM ranked
"""


@register("zipf_exponent", _ZIPF_SQL)
def _zipf_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_io_spark.functions.numeric import round_pz
    from pyspark.sql import Window as W

    docs = _cat(spark, sf_dir).table("documents")
    counts = (
        parallelize(docs)
        .select(F.explode(text.tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    ranked = counts.select(
        "cnt",
        F.row_number().over(W.orderBy(F.col("cnt").desc(), "token")).alias("rank"),
    )
    return ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("vocab_size"),
        round_pz(F.regr_slope(F.log("cnt"), F.log("rank")), 6).alias(
            "zipf_slope"
        ),
        F.round(F.regr_r2(F.log("cnt"), F.log("rank")), 6).alias("r2"),
    )


# ==========================================================================
# Cross-source duplicate report: identical content appearing in >= 2
# sources (training-data leakage across domains)
# ==========================================================================
_CROSS_SOURCE_SQL = """
    SELECT substring(LOWER(REGEXP_REPLACE(text, '[^a-zA-Z0-9]', '', 'g')),
                     1, 64) AS content_key,
           MIN(doc_id) AS keep_id,
           COUNT(*) AS n_copies,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
    FROM documents
    GROUP BY 1
    HAVING COUNT(DISTINCT source) >= 2
"""


@register("cross_source_dups", _CROSS_SOURCE_SQL)
def _cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _cat(spark, sf_dir).table("documents")
    # exact text rarely collides across sources; a 64-char normalized
    # prefix catches the near-dup copies (same trade as blocked SNM)
    key = F.substring(
        F.lower(F.regexp_replace("text", "[^a-zA-Z0-9]", "")), 1, 64
    )
    return (
        docs.groupBy(key.alias("content_key"))
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct("source").alias("n_sources"),
        )
        .where(F.col("n_sources") >= 2)
    )


# ==========================================================================
# Two-sample Kolmogorov-Smirnov statistic between two event types'
# value distributions (union trick: one sort over distinct values)
# ==========================================================================
_KS_SQL = """
    WITH vals AS (
      SELECT value,
             SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS ca,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS cb
      FROM events WHERE event_type IN ('view', 'purchase')
      GROUP BY value
    ),
    run AS (
      SELECT SUM(ca) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) AS ra,
             SUM(cb) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) AS rb,
             SUM(ca) OVER () AS na, SUM(cb) OVER () AS nb
      FROM vals
    )
    SELECT CAST(MAX(na) AS BIGINT) AS n_a, CAST(MAX(nb) AS BIGINT) AS n_b,
           ROUND(MAX(ABS(ra * 1.0 / na - rb * 1.0 / nb)), 6) AS ks_stat
    FROM run
"""


@register("ks_test_values", _KS_SQL)
def _ks_test_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = _cat(spark, sf_dir).table("events").where(
        F.col("event_type").isin("view", "purchase")
    )
    vals = ev.groupBy("value").agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("cb"),
    )
    wo = W.orderBy("value").rowsBetween(W.unboundedPreceding, 0)
    run = vals.select(
        F.sum("ca").over(wo).alias("ra"),
        F.sum("cb").over(wo).alias("rb"),
        F.sum("ca").over(W.partitionBy()).alias("na"),
        F.sum("cb").over(W.partitionBy()).alias("nb"),
    )
    return run.agg(
        F.max("na").cast("bigint").alias("n_a"),
        F.max("nb").cast("bigint").alias("n_b"),
        F.round(
            F.max(F.abs(F.col("ra") / F.col("na") - F.col("rb") / F.col("nb"))),
            6,
        ).alias("ks_stat"),
    )


# ==========================================================================
# LSH quality evaluation: MinHash band candidates vs exact Jaccard >= 0.3
# ground truth — precision/recall of the sub-quadratic path, as a query
# ==========================================================================
def _lsh_eval_oracle(num_perm: int = 16, bands: int = 4) -> str:
    rpb = num_perm // bands
    p = dedup.MINHASH_P
    a = ", ".join(str(dedup._perm_a(j)) for j in range(num_perm))
    b = ", ".join(str(dedup._perm_b(j)) for j in range(num_perm))
    return (
        _SHINGLE_CTE
        + f""",
    sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i
      FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    ),
    exact AS (
      SELECT a, b FROM inter
      JOIN sz sa ON a = sa.doc_id JOIN sz sb ON b = sb.doc_id
      WHERE ROUND(i * 1.0 / (sa.sz + sb.sz - i), 6) >= 0.3
    ),
    perms AS (SELECT UNNEST(generate_series(0, {num_perm - 1})) AS j),
    sig AS (
      SELECT doc_id, j,
             MIN((([{a}][j+1]) * (sh % {p}) + ([{b}][j+1])) % {p}) AS minhash
      FROM sh, perms GROUP BY doc_id, j
    ),
    bkeys AS (
      SELECT doc_id, CAST(j // {rpb} AS INT) AS band,
             md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY j)) AS bkey
      FROM sig GROUP BY doc_id, CAST(j // {rpb} AS INT)
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      FROM bkeys x JOIN bkeys y ON x.band = y.band AND x.bkey = y.bkey
      WHERE x.doc_id < y.doc_id
    ),
    common AS (
      SELECT cand.a, cand.b FROM cand JOIN exact
        ON cand.a = exact.a AND cand.b = exact.b
    )
    SELECT (SELECT COUNT(*) FROM exact) AS n_exact,
           (SELECT COUNT(*) FROM cand) AS n_candidates,
           (SELECT COUNT(*) FROM common) AS n_common,
           ROUND((SELECT COUNT(*) FROM common) * 1.0
                 / (SELECT COUNT(*) FROM cand), 6) AS precision,
           ROUND((SELECT COUNT(*) FROM common) * 1.0
                 / (SELECT COUNT(*) FROM exact), 6) AS recall
    """
    )


@register("lsh_eval", _lsh_eval_oracle())
def _lsh_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_io_spark.caching import persist_tracked

    docs = _cat(spark, sf_dir).table("documents")
    # both pair relations are consumed twice (their count + the common
    # join) and each sits on a full shingle/signature pipeline — pin the
    # tiny pair sets so each pipeline runs once (round-6: 3.2 -> ~1.7 s)
    exact = persist_tracked(
        dedup.ngram_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.3
        ).select("a", "b")
    )
    cand = persist_tracked(
        dedup.minhash_lsh_candidates(
            docs, "doc_id", "text", num_perm=16, bands=4
        ).select("a", "b")
    )
    common = cand.join(exact, ["a", "b"])
    ne = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    nc = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    nm = common.agg(F.count(F.lit(1)).alias("n_common"))
    return (
        ne.crossJoin(nc)
        .crossJoin(nm)
        .select(
            "n_exact", "n_candidates", "n_common",
            F.round(F.col("n_common") / F.col("n_candidates"), 6).alias(
                "precision"
            ),
            F.round(F.col("n_common") / F.col("n_exact"), 6).alias("recall"),
        )
    )


# ==========================================================================
# Herfindahl-Hirschman concentration index of supplier revenue per nation
# ==========================================================================
_HHI_SQL = """
    WITH rev AS (
      SELECT n_name, s_suppkey,
             SUM(l_extendedprice * (1 - l_discount)) AS r
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      GROUP BY 1, 2
    )
    , tot AS (SELECT n_name, SUM(r) AS t FROM rev GROUP BY n_name)
    SELECT rev.n_name, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           ROUND(SUM(POW(r / t, 2)), 6) AS hhi
    FROM rev JOIN tot ON rev.n_name = tot.n_name
    GROUP BY rev.n_name
"""


@register("supplier_hhi", _HHI_SQL)
def _supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    cat = _cat(spark, sf_dir)
    rev = (
        cat.table("lineitem")
        .join(
            cat.table("supplier").select("s_suppkey", "s_nationkey"),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            cat.table("nation").select("n_nationkey", "n_name"),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name", "s_suppkey")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("r")
        )
    )
    share = F.col("r") / F.sum("r").over(W.partitionBy("n_name"))
    return rev.select("n_name", share.alias("__s")).groupBy("n_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
        F.round(F.sum(F.pow(F.col("__s"), 2)), 6).alias("hhi"),
    )


# ==========================================================================
# Sequence-packing efficiency report (on training.pack_sequences output)
# ==========================================================================
_PACKING_SQL = """
    WITH toks AS (
      SELECT doc_id,
             len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                             x -> x <> '')) AS n_tokens,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                  AS BIGINT) % 32 AS shard
      FROM documents
      WHERE text IS NOT NULL
    ),
    packed AS (
      SELECT shard, n_tokens,
             CAST(FLOOR((SUM(n_tokens) OVER (
               PARTITION BY shard
               ORDER BY CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
                              1, 15)) AS BIGINT), doc_id
               ROWS UNBOUNDED PRECEDING) - n_tokens) / 512.0) AS BIGINT)
               AS local_bin
      FROM toks
    ),
    bins AS (
      SELECT shard, local_bin, SUM(n_tokens) AS fill
      FROM packed GROUP BY 1, 2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
           CAST(SUM(fill) AS BIGINT) AS total_tokens,
           ROUND(AVG(LEAST(fill, 512) / 512.0), 6) AS mean_fill_ratio,
           CAST(SUM(CASE WHEN fill > 512 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_overflow_bins
    FROM bins
"""


@register("packing_efficiency", _PACKING_SQL)
def _packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_io_spark.operators import training

    docs = _cat(spark, sf_dir).table("documents")
    packed = training.pack_sequences(docs, "doc_id", "text", ctx_tokens=512, n_shards=32)
    bins = packed.groupBy("bin_id").agg(F.sum("n_tokens").alias("fill"))
    return bins.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
        F.sum("fill").cast("bigint").alias("total_tokens"),
        F.round(F.avg(F.least(F.col("fill"), F.lit(512)) / F.lit(512.0)), 6).alias(
            "mean_fill_ratio"
        ),
        F.sum(F.when(F.col("fill") > 512, 1).otherwise(0))
        .cast("bigint")
        .alias("n_overflow_bins"),
    )


# ==========================================================================
# Index of dispersion (Fano factor) of daily event counts per type —
# burstiness vs Poisson baseline (variance/mean of the daily series)
# ==========================================================================
_DISPERSION_SQL = """
    WITH daily AS (
      SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             COUNT(*) AS c
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
           ROUND(AVG(c), 6) AS mean_daily,
           ROUND(var_samp(c), 6) AS var_daily,
           CASE WHEN AVG(c) > 0
                THEN ROUND(var_samp(c) / AVG(c), 6) END AS dispersion
    FROM daily GROUP BY event_type
"""


@register("dispersion_events", _DISPERSION_SQL)
def _dispersion_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _cat(spark, sf_dir).table("events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))
    mean = F.avg("c")
    return daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.round(mean, 6).alias("mean_daily"),
        F.round(F.var_samp("c"), 6).alias("var_daily"),
        F.when(mean > 0, F.round(F.var_samp("c") / mean, 6)).alias(
            "dispersion"
        ),
    )


# ==========================================================================
# Charset profile per source: ASCII share, digit share, whitespace share
# (multilingual data-quality triage; pure codegen regex, zero shuffles
# past the per-source aggregate)
# ==========================================================================
_CHARSET_SQL = """
    WITH f AS (
      SELECT source, length(text) AS n,
             length(REGEXP_REPLACE(text, '[ -~]', '', 'g')) AS non_ascii,
             length(REGEXP_REPLACE(text, '[^0-9]', '', 'g')) AS digits,
             length(REGEXP_REPLACE(text, '\\S', '', 'g')) AS ws
      FROM documents
    )
    SELECT source, CAST(SUM(n) AS BIGINT) AS n_chars,
           FLOOR(SUM(non_ascii) * 1.0 / SUM(n) * 1000000 + 0.5) / 1000000
             AS non_ascii_ratio,
           FLOOR(SUM(digits) * 1.0 / SUM(n) * 1000000 + 0.5) / 1000000
             AS digit_ratio,
           FLOOR(SUM(ws) * 1.0 / SUM(n) * 1000000 + 0.5) / 1000000
             AS ws_ratio
    FROM f GROUP BY source
"""


@register("charset_profile", _CHARSET_SQL)
def _charset_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _cat(spark, sf_dir).table("documents")
    n = F.length("text")
    non_ascii = F.length(F.regexp_replace("text", "[ -~]", ""))
    digits = F.length(F.regexp_replace("text", "[^0-9]", ""))
    # translate-deletion count of the explicit RE2 whitespace set —
    # Java's \S excludes \x0B from "whitespace" differently than RE2's
    # (round-10 adversarial-corpus catch on a vertical-tab doc)
    ws = F.length("text") - F.length(F.translate(F.col("text"), text._WS, ""))
    f = docs.select(
        "source", n.alias("__n"), non_ascii.alias("__na"),
        digits.alias("__d"), ws.alias("__w"),
    )
    from etl_io_spark.functions.numeric import round_floor

    # floor-form: sums-of-counts ratios terminate (round-10 class)
    return f.groupBy("source").agg(
        F.sum("__n").cast("bigint").alias("n_chars"),
        round_floor(F.sum("__na") / F.sum("__n"), 6).alias("non_ascii_ratio"),
        round_floor(F.sum("__d") / F.sum("__n"), 6).alias("digit_ratio"),
        round_floor(F.sum("__w") / F.sum("__n"), 6).alias("ws_ratio"),
    )


# ==========================================================================
# Tail-heaviness ratio per group: p99 / p50 of price (exact percentiles)
# ==========================================================================
_TAIL_RATIO_SQL = f"""
    -- same explicit-interpolation + floor-form discipline as
    -- percentiles_by_flag (shared exact_percentiles Spark side and
    -- shared _pctl_term_sql oracle generator)
    WITH s AS (
      SELECT l_returnflag, l_extendedprice AS v,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                ORDER BY l_extendedprice) AS rn,
             COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem WHERE l_extendedprice IS NOT NULL
    ),
    p AS (
      SELECT l_returnflag,
             {_pctl_term_sql('0.50', 'p50', 2)},
             {_pctl_term_sql('0.99', 'p99', 2)}
      FROM s GROUP BY l_returnflag
    )
    SELECT l_returnflag, p50, p99,
           FLOOR(p99 / p50 * 1000000 + 0.5) / 1000000 AS tail_ratio
    FROM p
"""


@register("tail_ratio_prices", _TAIL_RATIO_SQL)
def _tail_ratio_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _cat(spark, sf_dir).table("lineitem")
    pct = agg.exact_percentiles(
        li, ["l_returnflag"], "l_extendedprice", (0.50, 0.99), round_to=2
    )
    from etl_io_spark.functions.numeric import round_floor

    return pct.select(
        "l_returnflag", "p50", "p99",
        # floor-form: a ratio of two 2-decimal-rounded doubles can
        # terminate at the 6th decimal (same cross-engine ROUND class)
        round_floor(F.col("p99") / F.col("p50"), 6).alias("tail_ratio"),
    )


# ==========================================================================
# Revenue decile lift table: NTILE(10) over per-customer revenue —
# n / total / share / cumulative share per decile (the reporting
# companion of the Gini scalar)
# ==========================================================================
_DECILES_SQL = """
    WITH rev AS (
      SELECT o_custkey, ROUND(SUM(o_totalprice), 2) AS r
      FROM orders GROUP BY 1
    ),
    d AS (
      SELECT r, NTILE(10) OVER (ORDER BY r DESC, o_custkey) AS decile
      FROM rev
    ),
    g AS (
      SELECT decile, COUNT(*) AS n_customers, ROUND(SUM(r), 2) AS revenue
      FROM d GROUP BY decile
    )
    SELECT CAST(decile AS INT) AS decile, n_customers, revenue,
           ROUND(revenue / SUM(revenue) OVER (), 6) AS share,
           ROUND(SUM(revenue) OVER (ORDER BY decile
                                    ROWS UNBOUNDED PRECEDING)
                 / SUM(revenue) OVER (), 6) AS cum_share
    FROM g
"""


@register("revenue_deciles", _DECILES_SQL)
def _revenue_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    orders = _cat(spark, sf_dir).table("orders")
    rev = orders.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("r")
    )
    d = rev.select(
        "r",
        F.ntile(10).over(W.orderBy(F.col("r").desc(), "o_custkey")).alias(
            "decile"
        ),
    )
    g = d.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("r"), 2).alias("revenue"),
    )
    tot = F.sum("revenue").over(W.partitionBy())
    cum = F.sum("revenue").over(
        W.orderBy("decile").rowsBetween(W.unboundedPreceding, 0)
    )
    return g.select(
        "decile", "n_customers", "revenue",
        F.round(F.col("revenue") / tot, 6).alias("share"),
        F.round(cum / tot, 6).alias("cum_share"),
    )


# ==========================================================================
# Heuristic curation-filter batteries (operators/filters.py): C4 content
# filters, Gopher document-quality rules, and the fastText/CCNet-style
# hashed linear quality classifier — each one map-only projection (the
# classifier adds one per-doc aggregation), oracled cell-for-cell
# ==========================================================================
from etl_io_spark.operators import filters  # noqa: E402

_TOKS_SQL = "list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')"


@register(
    "c4_filters_docs",
    r"""
    WITH f AS (
      SELECT doc_id,
             (position('{' IN text) > 0 OR position('}' IN text) > 0)
               AS has_curly,
             (position('lorem ipsum' IN lower(text)) > 0) AS has_lorem,
             regexp_matches(lower(text), '(^|\s)javascript($|\s)')
               AS has_javascript,
             CAST(length(text) - length(replace(replace(replace(
                  text, '.', ''), '!', ''), '?', '')) AS INT) AS n_sentences
      FROM documents
    )
    SELECT doc_id, has_curly, has_lorem, has_javascript, n_sentences,
           (NOT has_curly AND NOT has_lorem AND NOT has_javascript
            AND n_sentences >= 3) AS keep
    FROM f
    """,
)
def _c4_filters_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 page filters (filters.c4_filters): curly braces / lorem ipsum /
    'javascript' token / sentence-count floor, one codegen'd map."""
    return filters.c4_filters(
        _cat(spark, sf_dir).table("documents"), "doc_id", "text"
    )


@register(
    "gopher_rules_docs",
    f"""
    WITH t AS (
      SELECT doc_id, text, {_TOKS_SQL} AS toks FROM documents
    ),
    m AS (
      SELECT doc_id,
             len(toks) AS n_words,
             CASE WHEN len(toks) > 0 THEN
               CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
               / len(toks) ELSE 0.0 END AS mean_wlen,
             CASE WHEN len(toks) > 0 THEN
               CAST((length(text) - length(replace(text, '#', '')))
                 + (len(string_split(text, '...')) - 1)
                 + (length(text) - length(replace(text, '…', '')))
                 AS DOUBLE) / len(toks) ELSE 0.0 END AS symbol_ratio,
             CAST(len(list_filter(string_split(text, chr(10)),
                    ln -> regexp_matches(ln, '(\\.\\.\\.|…)\\s*$')))
                  AS DOUBLE) / len(string_split(text, chr(10)))
               AS ellipsis_end_ratio,
             CASE WHEN len(toks) > 0 THEN
               CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))
                 AS DOUBLE) / len(toks) ELSE 0.0 END AS alpha_ratio,
             len(list_filter(['the','be','to','of','and','that','have','with'],
                 w -> list_contains(toks, w))) AS stop_hits
      FROM t
    )
    SELECT doc_id,
           n_words,
           FLOOR(mean_wlen * 1000000 + 0.5) / 1000000 AS mean_word_len,
           FLOOR(symbol_ratio * 1000000 + 0.5) / 1000000 AS symbol_ratio,
           FLOOR(ellipsis_end_ratio * 1000000 + 0.5) / 1000000
             AS ellipsis_end_ratio,
           FLOOR(alpha_ratio * 1000000 + 0.5) / 1000000 AS alpha_word_ratio,
           CAST(stop_hits AS INT) AS stopword_hits,
           (n_words >= 50 AND n_words <= 100000) AS ok_words,
           (mean_wlen >= 3.0 AND mean_wlen <= 10.0) AS ok_word_len,
           (symbol_ratio <= 0.1) AS ok_symbols,
           (ellipsis_end_ratio <= 0.3) AS ok_ellipsis,
           (alpha_ratio >= 0.8) AS ok_alpha,
           (stop_hits >= 2) AS ok_stopwords,
           ((n_words >= 50 AND n_words <= 100000)
            AND (mean_wlen >= 3.0 AND mean_wlen <= 10.0)
            AND symbol_ratio <= 0.1 AND ellipsis_end_ratio <= 0.3
            AND alpha_ratio >= 0.8 AND stop_hits >= 2) AS keep
    FROM m
    """,
)
def _gopher_rules_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality rules (filters.gopher_rules): word-count bounds,
    mean-word-length window, symbol/ellipsis ratios, alpha-word ratio,
    required-stopword hits — one in-array map, no explode."""
    return filters.gopher_rules(
        _cat(spark, sf_dir).table("documents"), "doc_id", "text"
    )


@register(
    "quality_classifier_docs",
    f"""
    WITH toks AS (
      SELECT doc_id, UNNEST({_TOKS_SQL}) AS tok FROM documents
    ),
    ww AS (
      SELECT doc_id,
             ({_H.format(s="'w' || CAST(" + _H.format(s='tok') + " % 1024 AS VARCHAR)")}
              % 2001) - 1000 AS wi
      FROM toks
    ),
    agg AS (
      SELECT doc_id, COUNT(*) AS n_tokens, SUM(wi) AS wsum
      FROM ww GROUP BY doc_id
    ),
    j AS (
      SELECT d.doc_id,
             COALESCE(a.n_tokens, 0) AS n_tokens,
             CASE WHEN COALESCE(a.n_tokens, 0) > 0 THEN
               CAST(a.wsum AS DOUBLE)
               / (CAST(a.n_tokens AS DOUBLE) * 1000.0)
             ELSE 0.0 END AS logit_raw
      FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
    )
    SELECT doc_id, n_tokens,
           FLOOR(logit_raw * 1000000 + 0.5) / 1000000 AS logit,
           ROUND(1.0 / (1.0 + EXP(-logit_raw)), 6) AS score,
           (1.0 / (1.0 + EXP(-logit_raw)) >= 0.5) AS label
    FROM j
    """,
)
def _quality_classifier_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed linear quality scorer (filters.quality_classifier): token →
    md5 bucket → integer milli-weight, exact int64 per-doc sum, sigmoid
    score — the fastText/CCNet scoring topology with engine-reproducible
    stand-in weights (label boundary is an exact integer comparison)."""
    return filters.quality_classifier(
        _cat(spark, sf_dir).table("documents"), "doc_id", "text"
    )


# ==========================================================================
# Exact-substring duplication profile (operators/dedup.py
# substring_dup_stats): positional k-token windows, global window
# frequency, per-doc duplicated fraction — Lee et al. 2022's EXACTSUBSTR
# signal at token granularity
# ==========================================================================
@register(
    "substring_dedup_docs",
    f"""
    WITH t AS (
      SELECT doc_id, {_TOKS_SQL} AS l FROM documents
    ),
    wins AS (
      SELECT doc_id, {_H.format(s='g')} AS wh FROM (
        SELECT doc_id,
               l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' ' ||
               l[i+3] || ' ' || l[i+4] || ' ' || l[i+5] || ' ' ||
               l[i+6] || ' ' || l[i+7] AS g
        FROM (SELECT doc_id, l,
                     UNNEST(generate_series(1, len(l) - 7)) AS i
              FROM t))
    ),
    freq AS (SELECT wh, COUNT(*) AS n FROM wins GROUP BY wh),
    per AS (
      SELECT w.doc_id, COUNT(*) AS n_windows,
             SUM(CASE WHEN f.n > 1 THEN 1 ELSE 0 END) AS n_dup
      FROM wins w JOIN freq f USING (wh) GROUP BY w.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(p.n_windows, 0) AS BIGINT) AS n_windows,
           CAST(COALESCE(p.n_dup, 0) AS BIGINT) AS n_dup_windows,
           CAST(CAST(COALESCE(p.n_dup, 0) AS BIGINT) * 1000000
                // GREATEST(CAST(COALESCE(p.n_windows, 0) AS BIGINT), 1)
                AS BIGINT) AS dup_fraction_ppm
    FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id
    """,
)
def _substring_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication profile (dedup.substring_dup_stats,
    k=8): corpus-frequency of every positional 8-token window, per-doc
    duplicated-window fraction — the EXACTSUBSTR keep/trim signal.
    Graded columns are all BIGINT (``dup_fraction_ppm`` is the exact
    integer ``n_dup*1e6 div n_windows``) and the oracle's window
    expansion is a plain generate_series lateral join — no floats and
    no DuckDB list-comprehension syntax anywhere in the compared
    surface (round-4 driver hash divergence fix)."""
    return dedup.substring_dup_stats(
        _cat(spark, sf_dir).table("documents"), "doc_id", "text", k=8
    ).drop("dup_fraction")


# ==========================================================================
# HITS hubs & authorities (operators/graph.py hits): 3 exact-integer
# iterations over the DIRECTED customer→supplier trade pairs — the oracle
# unrolls the same iterations with zero float noise; only the final
# max-normalization divides (floor-form rounded)
# ==========================================================================
def _hits_oracle(iterations: int = 3) -> str:
    head = """
    WITH pairs AS (
      SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    h0 AS (SELECT c, CAST(1 AS BIGINT) AS v
           FROM (SELECT DISTINCT c FROM pairs))"""
    steps = []
    for i in range(1, iterations + 1):
        # CAST each iteration's SUM back to BIGINT: DuckDB types
        # SUM(BIGINT) as HUGEINT, and letting HUGEINT leak into the
        # compared columns risks driver-side canonicalization drift
        # against Spark's BIGINT (round-4 hash divergence fix)
        steps.append(f""",
    a{i} AS (SELECT s, CAST(SUM(h{i - 1}.v) AS BIGINT) AS v
             FROM pairs JOIN h{i - 1} USING (c) GROUP BY s),
    h{i} AS (SELECT c, CAST(SUM(a{i}.v) AS BIGINT) AS v
             FROM pairs JOIN a{i} USING (s) GROUP BY c)""")
    k = iterations
    return head + "".join(steps) + f""",
    merged AS (
      SELECT c AS node, v AS hub, CAST(0 AS BIGINT) AS auth FROM h{k}
      UNION ALL
      SELECT s AS node, CAST(0 AS BIGINT) AS hub, v AS auth FROM a{k}
    ),
    mx AS (SELECT MAX(hub) AS mh, MAX(auth) AS ma FROM merged)
    SELECT CASE WHEN node % 2 = 0 THEN 'c' || CAST(node // 2 AS VARCHAR)
                ELSE 's' || CAST(node // 2 AS VARCHAR) END AS node,
           hub, auth,
           CAST(CAST(hub AS HUGEINT) * 1000000 // mh AS BIGINT)
             AS hub_norm_ppm,
           CAST(CAST(auth AS HUGEINT) * 1000000 // ma AS BIGINT)
             AS auth_norm_ppm
    FROM merged, mx
    """


@register("hits_trade_graph", _hits_oracle())
def _hits_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (graph.hits, 3 iterations) over the
    directed customer→supplier trade pairs: hub customers buy from
    authoritative suppliers. Exact BIGINT scores through every
    iteration (parity-first formulation — see the operator docstring);
    parity-tagged int64 node keys, labels reconstructed at the end.
    Every graded column is BIGINT — normalizations are exact-integer
    ppm (``score*1e6 div max``) and the oracle casts each iteration's
    SUM back to BIGINT so no DOUBLE or HUGEINT reaches the driver's
    value hash (round-4 divergence fix)."""
    from etl_io_spark.operators import graph

    scores = graph.hits(_trade_pairs(spark, sf_dir), iterations=3)
    return scores.select(
        F.when(
            F.col("node") % 2 == 0,
            F.concat(F.lit("c"), F.expr("node DIV 2").cast("string")),
        )
        .otherwise(F.concat(F.lit("s"), F.expr("node DIV 2").cast("string")))
        .alias("node"),
        "hub",
        "auth",
        "hub_norm_ppm",
        "auth_norm_ppm",
    )


# ==========================================================================
# Bloom-filter membership gate (operators/dedup.py bloom_gate): md5-derived
# bit positions make the filter — and its false positives — deterministic,
# so the oracle reproduces every decision. m=256/k=2 is chosen small enough
# that the FP path is actually exercised at test scale.
# ==========================================================================
def _bloom_oracle(m_bits: int = 256, k: int = 2) -> str:
    def pos(expr: str, i: int) -> str:
        return (
            _H.format(s=f"CAST({expr} AS VARCHAR) || '#{i}'") + f" % {m_bits}"
        )

    b_list = ", ".join(pos("c_custkey", i) for i in range(k))
    p_list = ", ".join(pos("o_custkey", i) for i in range(k))
    return f"""
    WITH build AS (
      SELECT DISTINCT c_custkey FROM customer
      JOIN nation ON c_nationkey = n_nationkey WHERE n_name = 'NATION_0'
    ),
    bpos AS (
      SELECT DISTINCT UNNEST(list_distinct([{b_list}])) AS p FROM build
    ),
    probe AS (SELECT DISTINCT o_custkey FROM orders),
    need AS (
      SELECT o_custkey, len(list_distinct([{p_list}])) AS need FROM probe
    ),
    ppos AS (
      SELECT o_custkey, UNNEST(list_distinct([{p_list}])) AS p FROM probe
    ),
    hits AS (
      SELECT pp.o_custkey, COUNT(*) AS h
      FROM ppos pp JOIN bpos USING (p) GROUP BY pp.o_custkey
    )
    SELECT n.o_custkey, COALESCE(h.h, 0) = n.need AS maybe_member
    FROM need n LEFT JOIN hits h ON n.o_custkey = h.o_custkey
    """


@register("bloom_gate_orders", _bloom_oracle())
def _bloom_gate_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom membership gate (dedup.bloom_gate): ordering customers probed
    against NATION_0's customer set through a 256-bit / 2-hash filter —
    the shuffle-free semi-join alternative whose bit set broadcasts no
    matter how large the build side grows. Deliberately small filter so
    false positives occur and are oracle-verified bit-for-bit."""
    cat = _cat(spark, sf_dir)
    build = cat.table("customer").join(
        cat.table("nation").where(F.col("n_name") == "NATION_0"),
        F.col("c_nationkey") == F.col("n_nationkey"),
    )
    return dedup.bloom_gate(
        build,
        cat.table("orders"),
        "c_custkey",
        "o_custkey",
        m_bits=256,
        k=2,
    )


# ==========================================================================
# ACF of the event-count series + CUSUM mean-shift screen
# (operators/timeseries.py autocorrelation / cusum_changepoint)
# ==========================================================================
def _acf_oracle(max_lag: int = 6, bucket: str = "hour") -> str:
    lag_cols = ", ".join(
        f"LAG(CAST(n AS DOUBLE), {k}) OVER (ORDER BY b) AS l{k}"
        for k in range(1, max_lag + 1)
    )
    rows = "\n    UNION ALL\n".join(
        f"""    SELECT CAST({k} AS INT) AS lag,
           ROUND((SELECT CORR(CAST(n AS DOUBLE), l{k}) FROM lagged), 6) + 0.0
             AS acf,
           (SELECT COUNT(*) FROM lagged) AS n_buckets"""
        for k in range(1, max_lag + 1)
    )
    return f"""
    WITH counts AS (
      SELECT date_trunc('{bucket}', CAST(ts AS TIMESTAMP)) AS b,
             COUNT(*) AS n
      FROM events GROUP BY b
    ),
    lagged AS (SELECT n, {lag_cols} FROM counts)
{rows}
    """


@register("acf_events", _acf_oracle())
def _acf_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function (timeseries.autocorrelation): hourly
    event-count series correlated with itself at lags 1..6 — the raw
    stream collapses to span-bounded buckets FIRST, so the windowed part
    never sees data volume."""
    return timeseries.autocorrelation(
        _cat(spark, sf_dir).table("events"), max_lag=6, bucket="hour"
    )


@register(
    "cusum_changepoint_events",
    """
    WITH e AS (
      SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, event_id, value
      FROM events
    ),
    d AS (
      SELECT event_type, ts, event_id,
             value - AVG(value) OVER (PARTITION BY event_type) AS dv,
             STDDEV_SAMP(value) OVER (PARTITION BY event_type) AS sd,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM e
    ),
    w AS (
      SELECT event_type, ts, event_id, sd, n,
             SUM(dv) OVER (
               PARTITION BY event_type ORDER BY ts, event_id
             ) AS s
      FROM d
    ),
    r AS (
      SELECT *,
             ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY ABS(s) DESC, ts, event_id
             ) AS rn
      FROM w
    )
    SELECT event_type, n AS n_rows, ts AS peak_ts,
           ROUND(s, 6) + 0.0 AS peak_cusum,
           CASE WHEN sd > 0
                THEN ROUND(ABS(s) / (sd * SQRT(n)), 6) + 0.0 END
             AS cusum_stat
    FROM r WHERE rn = 1
    """,
)
def _cusum_changepoint_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM mean-shift screen (timeseries.cusum_changepoint): per
    event_type, the demeaned ordered prefix sum's peak location and
    Brownian-bridge-normalized statistic — one keyed shuffle, two window
    passes on the same partitioning."""
    return timeseries.cusum_changepoint(_cat(spark, sf_dir).table("events"))


# ==========================================================================
# RAKE keyword extraction (operators/text.py rake_keywords): stopword-run
# phrase segmentation, integer milli-scores (deg*1000 // freq) so phrase
# sums are exact int64 in both engines
# ==========================================================================
_RAKE_SW = "('the','a','and','of','to','in','is','it')"


@register(
    "rake_keywords_docs",
    f"""
    WITH t AS (
      SELECT doc_id, {_TOKS_SQL} AS l FROM documents
    ),
    tok AS (
      SELECT doc_id,
             UNNEST(generate_series(1, len(l))) AS pos,
             UNNEST(list_transform(l, x -> lower(x))) AS w
      FROM t
    ),
    m AS (
      SELECT doc_id, pos, w,
             (w IN {_RAKE_SW}) AS st,
             SUM(CASE WHEN w IN {_RAKE_SW} THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS pid
      FROM tok
    ),
    sized AS (
      SELECT doc_id, pid, pos, w,
             COUNT(*) OVER (PARTITION BY doc_id, pid) AS plen
      FROM m WHERE NOT st
    ),
    stats AS (
      SELECT w, COUNT(*) AS freq, SUM(plen) AS deg FROM sized GROUP BY w
    ),
    sc AS (
      SELECT s.doc_id, s.pid, s.pos, s.w,
             (st2.deg * 1000) // st2.freq AS ws
      FROM sized s JOIN stats st2 USING (w)
    ),
    ph AS (
      SELECT doc_id, pid,
             string_agg(w, ' ' ORDER BY pos) AS phrase,
             SUM(ws) AS ps
      FROM sc GROUP BY doc_id, pid
    ),
    rk AS (
      SELECT phrase, COUNT(*) AS n_occurrences, MIN(ps) AS ps
      FROM ph GROUP BY phrase
    ),
    fin AS (
      SELECT phrase, n_occurrences, ps,
             ROW_NUMBER() OVER (ORDER BY ps DESC, phrase) AS rn
      FROM rk
    )
    SELECT phrase, n_occurrences, ps / 1000.0 AS score
    FROM fin WHERE rn <= 20
    """,
)
def _rake_keywords_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keywords (text.rake_keywords): corpus top-20 stopword-free
    phrases by degree/frequency score — integer milli-score arithmetic
    end to end, so both engines rank identically."""
    return text.rake_keywords(
        _cat(spark, sf_dir).table("documents"), "doc_id", "text", top_k=20
    )


# ==========================================================================
# Count-min sketch vs exact heavy hitters (operators/aggregate.py
# countmin_compare): md5-bucketed cells make the sketch — collisions and
# all — engine-deterministic
# ==========================================================================
def _countmin_oracle(depth: int = 4, width: int = 256, top_k: int = 10) -> str:
    rs = ", ".join(str(r) for r in range(depth))
    cs = ", ".join(
        _H.format(s=f"k || '#{r}'") + f" % {width}" for r in range(depth)
    )
    return f"""
    WITH keyed AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events),
    cells AS (
      SELECT UNNEST([{rs}]) AS r, UNNEST([{cs}]) AS c FROM keyed
    ),
    sketch AS (SELECT r, c, COUNT(*) AS n FROM cells GROUP BY r, c),
    exact AS (SELECT k, COUNT(*) AS exact_n FROM keyed GROUP BY k),
    top AS (
      SELECT k, exact_n FROM (
        SELECT k, exact_n,
               ROW_NUMBER() OVER (ORDER BY exact_n DESC, k) AS rn
        FROM exact) WHERE rn <= {top_k}
    ),
    probe AS (
      SELECT k, exact_n, UNNEST([{rs}]) AS r, UNNEST([{cs}]) AS c FROM top
    ),
    est AS (
      SELECT p.k, p.exact_n, MIN(s.n) AS cm_estimate
      FROM probe p JOIN sketch s ON p.r = s.r AND p.c = s.c
      GROUP BY p.k, p.exact_n
    )
    SELECT k AS user_id, exact_n, cm_estimate,
           cm_estimate - exact_n AS overcount
    FROM est
    """


@register("countmin_users_events", _countmin_oracle())
def _countmin_users_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy hitters (aggregate.countmin_compare): 4×256
    md5-bucketed cell grid over the event stream, point-queried for the
    top-10 users against exact counts — the mergeable fixed-size
    frequency sketch next to the bitmap distinct rollups."""
    return agg.countmin_compare(
        _cat(spark, sf_dir).table("events"), "user_id",
        depth=4, width=256, top_k=10,
    )


# ==========================================================================
# Top principal direction via power iteration (operators/similarity.py
# power_iteration_top_pc) — iterative linear algebra as joins + partial
# aggregations, SQL-unrollable because the iteration count is fixed
# ==========================================================================
_TOP_PC_SQL = """
    WITH pts AS (
      SELECT vec_id,
             UNNEST(generate_series(0, len(embedding) - 1)) AS d,
             UNNEST(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS x
      FROM embeddings
    ),
    gram AS (
      SELECT a.d AS d1, b.d AS d2, SUM(a.x * b.x) AS g
      FROM pts a JOIN pts b USING (vec_id) GROUP BY a.d, b.d
    ),
    v1 AS (SELECT d1 AS dim, SUM(g) AS v FROM gram GROUP BY d1),
    v2 AS (SELECT g.d1 AS dim, SUM(g.g * v1.v) AS v
           FROM gram g JOIN v1 ON g.d2 = v1.dim GROUP BY g.d1),
    v3 AS (SELECT g.d1 AS dim, SUM(g.g * v2.v) AS v
           FROM gram g JOIN v2 ON g.d2 = v2.dim GROUP BY g.d1),
    mx AS (SELECT v AS m FROM v3 ORDER BY abs(v) DESC, dim LIMIT 1)
    SELECT CAST(dim AS INT) AS dim,
           ROUND(v / (SELECT m FROM mx), 6) + 0.0 AS loading
    FROM v3
"""


@register("embedding_top_pc", _TOP_PC_SQL)
def _embedding_top_pc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal direction of the embedding Gram matrix
    (similarity.power_iteration_top_pc, 3 fixed power iterations):
    per-dim loadings normalized to the max-|.| component — the
    anisotropy/common-direction diagnostic before whitening."""
    from etl_io_spark.operators import similarity as sim

    return sim.power_iteration_top_pc(
        _cat(spark, sf_dir).table("embeddings"), iterations=3
    )


# ==========================================================================
# Perceptual-hash media dedup (operators/multimodal.py perceptual_hash):
# aHash over the deterministic fake decode — rows-only (the decode is an
# Arrow mapInPandas stage, not SQL-expressible)
# ==========================================================================
@register("media_phash_dedup")
def _media_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """aHash perceptual dedup (multimodal.perceptual_hash): decode +
    8×8 downsample + mean-threshold bits fused in one Arrow pass, then
    GROUP BY the 64-bit fingerprint — identical payloads are guaranteed
    collisions, so duplicate texts' media twins collapse."""
    docs = _cat(spark, sf_dir).table("documents")
    hashed = mm.perceptual_hash(mm.synthesize_media(docs))
    return (
        hashed.groupBy("phash")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.min("media_id").alias("keep_id"),
        )
    )


# ==========================================================================
# Out-of-fold target encoding (operators/training.py target_encode_oof):
# the leakage-safe categorical encoder, md5 folds, leave-fold-out means
# ==========================================================================
@register(
    "target_encode_orders",
    f"""
    WITH per AS (
      SELECT o_orderpriority AS category,
             {_H.format(s='CAST(o_orderkey AS VARCHAR)')} % 5 AS fold,
             COUNT(*) AS n_rows,
             SUM(o_totalprice) AS s
      FROM orders GROUP BY 1, 2
    ),
    tot AS (
      SELECT category, fold, n_rows, s,
             SUM(s) OVER (PARTITION BY category) AS ts,
             SUM(n_rows) OVER (PARTITION BY category) AS tn
      FROM per
    )
    SELECT category, CAST(fold AS INT) AS fold, n_rows,
           CASE WHEN tn > n_rows THEN
             FLOOR((ts - s) / (tn - n_rows) * 1000000 + 0.5) / 1000000
           END AS oof_mean
    FROM tot
    """,
)
def _target_encode_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-fold target encoding (training.target_encode_oof):
    o_orderpriority encoded by leave-fold-out mean o_totalprice over 5
    md5 folds — each row's encoding never includes its own label."""
    from etl_io_spark.operators import training

    return training.target_encode_oof(
        _cat(spark, sf_dir).table("orders"),
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        folds=5,
    )


# ==========================================================================
# Association rules over order baskets (operators/aggregate.py
# basket_rules): confidence + lift on the single-fact-shuffle pair counts
# ==========================================================================
@register(
    "basket_rules_parts",
    """
    WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pc AS (
      SELECT a.l_partkey AS item_a, c.l_partkey AS item_b,
             COUNT(*) AS n_baskets
      FROM b a JOIN b c
        ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    ic AS (SELECT l_partkey, COUNT(*) AS n FROM b GROUP BY 1),
    nb AS (SELECT COUNT(DISTINCT l_orderkey) AS N FROM b),
    directed AS (
      SELECT item_a AS antecedent, item_b AS consequent, n_baskets FROM pc
      UNION ALL
      SELECT item_b AS antecedent, item_a AS consequent, n_baskets FROM pc
    )
    SELECT d.antecedent, d.consequent, d.n_baskets,
           FLOOR(d.n_baskets / CAST(ia.n AS DOUBLE) * 1000000 + 0.5)
             / 1000000 AS confidence,
           FLOOR(CAST(nb.N AS DOUBLE) * d.n_baskets
                 / (CAST(ia.n AS DOUBLE) * ib.n) * 1000000 + 0.5)
             / 1000000 AS lift
    FROM directed d
    JOIN ic ia ON d.antecedent = ia.l_partkey
    JOIN ic ib ON d.consequent = ib.l_partkey
    CROSS JOIN nb
    ORDER BY confidence DESC, lift DESC, antecedent, consequent
    LIMIT 50
    """,
)
def _basket_rules_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules A→B over order baskets (aggregate.basket_rules):
    confidence + lift from one fact-shuffle pair expansion plus
    broadcast item supports; floor-form int-ratio rounding."""
    return agg.basket_rules(
        _cat(spark, sf_dir).table("lineitem"), "l_orderkey", "l_partkey",
        min_count=2, k=50,
    )


# ==========================================================================
# Session entry/exit matrix (operators/window.py session_entry_exit):
# landing/exit types + bounce rates over 30-minute sessions
# ==========================================================================
@register(
    "session_entry_exit",
    """
    WITH e AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, event_id
      FROM events
    ),
    lagged AS (
      SELECT *, LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
      FROM e
    ),
    marked AS (
      SELECT *,
             CASE WHEN prev IS NULL
                       OR ts > prev + INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM lagged
    ),
    sess AS (
      SELECT *, SUM(brk) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    ),
    rn AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY user_id, session_id
                                ORDER BY ts, event_id) AS rf,
             ROW_NUMBER() OVER (PARTITION BY user_id, session_id
                                ORDER BY ts DESC, event_id DESC) AS rl
      FROM sess
    ),
    per AS (
      SELECT user_id, session_id,
             MAX(CASE WHEN rf = 1 THEN event_type END) AS entry_type,
             MAX(CASE WHEN rl = 1 THEN event_type END) AS exit_type,
             COUNT(*) AS n_events
      FROM rn GROUP BY user_id, session_id
    ),
    m AS (
      SELECT entry_type, exit_type, COUNT(*) AS n_sessions,
             SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS n_bounces
      FROM per GROUP BY entry_type, exit_type
    ),
    t AS (SELECT SUM(n_sessions) AS tot FROM m)
    SELECT entry_type, exit_type, n_sessions,
           CAST(n_bounces AS BIGINT) AS n_bounces,
           FLOOR(n_sessions / CAST(tot AS DOUBLE) * 1000000 + 0.5)
             / 1000000 AS session_share,
           FLOOR(n_bounces / CAST(n_sessions AS DOUBLE) * 1000000 + 0.5)
             / 1000000 AS bounce_rate
    FROM m CROSS JOIN t
    """,
)
def _session_entry_exit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entry/exit matrix with bounce rates (window.session_entry_exit):
    sessionize -> partial-aggregable min_by/max_by entry-exit reduce ->
    states^2 matrix with broadcast-total shares."""
    return win.session_entry_exit(
        _cat(spark, sf_dir).table("events"),
        "user_id", "ts", "event_type", "event_id",
    )


# ==========================================================================
# Point-in-time dimension join (operators/scd.py temporal_join): orders
# joined to a two-version SCD2 customer history at o_orderdate
# ==========================================================================
@register(
    "temporal_dim_join_orders",
    """
    WITH hist AS (
      SELECT c_custkey,
             'legacy' AS segment,
             TIMESTAMP '1990-01-01' AS valid_from,
             TIMESTAMP '1994-01-01'
               + INTERVAL (c_custkey % 1460) DAY AS valid_to
      FROM customer
      UNION ALL
      SELECT c_custkey, 'current',
             TIMESTAMP '1994-01-01' + INTERVAL (c_custkey % 1460) DAY,
             TIMESTAMP '9999-01-01'
      FROM customer
    )
    SELECT h.segment, COUNT(*) AS n_orders,
           ROUND(SUM(o.o_totalprice), 2) AS revenue
    FROM orders o JOIN hist h
      ON o.o_custkey = h.c_custkey
     AND o.o_orderdate >= h.valid_from AND o.o_orderdate < h.valid_to
    GROUP BY h.segment
    """,
)
def _temporal_dim_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row point-in-time SCD2 lookup (scd.temporal_join): a
    deterministic two-version customer history (cutover date derived
    from the key), each order matched to the version valid at its
    o_orderdate; revenue per dimension version."""
    cat = _cat(spark, sf_dir)
    cust = cat.table("customer").select("c_custkey")
    cut = F.expr(
        "TIMESTAMP '1994-01-01' + make_interval(0,0,0, CAST(c_custkey % 1460 AS INT))"
    )
    hist = cust.select(
        "c_custkey",
        F.lit("legacy").alias("segment"),
        F.lit("1990-01-01").cast("timestamp").alias("valid_from"),
        cut.alias("valid_to"),
    ).unionAll(
        cust.select(
            "c_custkey",
            F.lit("current").alias("segment"),
            cut.alias("valid_from"),
            F.lit("9999-01-01").cast("timestamp").alias("valid_to"),
        )
    )
    orders = cat.table("orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    from etl_io_spark.operators import scd

    joined = scd.temporal_join(
        orders.withColumnRenamed("o_custkey", "c_custkey"),
        hist,
        "c_custkey",
        "o_orderdate",
    )
    return joined.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


# ==========================================================================
# Cross-source quantile normalization (operators/aggregate.py
# quantile_normalize): per-source doc-length ranks mapped onto the global
# length distribution — the batch-effect corrector
# ==========================================================================
@register(
    "quantile_normalize_chars",
    """
    WITH ranked AS (
      SELECT doc_id, source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_chars NULLS FIRST, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY source) AS ng
      FROM documents
    ),
    g AS (
      SELECT n_chars AS gv,
             ROW_NUMBER() OVER (ORDER BY n_chars NULLS FIRST, doc_id)
               AS grank
      FROM documents
    ),
    n AS (SELECT COUNT(*) AS nt FROM documents)
    SELECT r.doc_id, r.source, r.n_chars,
           FLOOR((r.rn - 0.5) / r.ng * 1000000 + 0.5) / 1000000 AS q,
           g.gv AS normalized_value
    FROM ranked r CROSS JOIN n
    JOIN g ON g.grank = CAST(CEIL((r.rn - 0.5) / r.ng * nt) AS BIGINT)
    """,
)
def _quantile_normalize_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization (aggregate.quantile_normalize): per-source
    n_chars ranks mapped to the corpus-global length distribution —
    after it every source has the same marginal length profile."""
    return agg.quantile_normalize(
        _cat(spark, sf_dir).table("documents"), "source", "n_chars", "doc_id"
    )


# ==========================================================================
# Within-session event-type co-occurrence (window.sessionize →
# aggregate.cooccurrence_pairs composition): which behaviors happen in
# the same session — the session-scoped market basket
# ==========================================================================
@register(
    "session_baskets_events",
    """
    WITH e AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events
    ),
    lagged AS (
      SELECT *, LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
      FROM e
    ),
    sess AS (
      SELECT user_id, event_type,
             SUM(CASE WHEN prev IS NULL
                           OR ts > prev + INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM lagged
    ),
    b AS (
      SELECT DISTINCT user_id * 100000 + session_id AS basket, event_type
      FROM sess
    )
    SELECT a.event_type AS item_a, c.event_type AS item_b,
           COUNT(*) AS n_baskets
    FROM b a JOIN b c
      ON a.basket = c.basket AND a.event_type < c.event_type
    GROUP BY 1, 2
    HAVING COUNT(*) >= 2
    ORDER BY n_baskets DESC, item_a, item_b
    LIMIT 50
    """,
)
def _session_baskets_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-scoped market basket (sessionize → cooccurrence_pairs):
    event-type pairs co-occurring within the same 30-minute session —
    the composition witness for the behavioral and basket families
    (basket key = user_id·1e5 + session ordinal, one int64)."""
    ev = _cat(spark, sf_dir).table("events").select(
        "user_id", "ts", "event_type", "event_id"
    )
    sess = win.sessionize(ev, "user_id", "ts")
    with_basket = sess.select(
        (F.col("user_id") * 100000 + F.col("session_id")).alias("basket"),
        "event_type",
    )
    return agg.cooccurrence_pairs(
        with_basket, "basket", "event_type", min_count=2, k=50
    )


# --------------------------------------------------------------------------
# Round 8: the remaining 12 TPC-H query shapes, completing the 22-query
# suite (plans/pipelines.py; Q1/Q3/Q5/Q7/Q8/Q10/Q13/Q17/Q18/Q21 landed in
# earlier rounds). Registered AFTER the window so the r8 burn-down
# rotation is untouched; all 12 are tools/check.py + hash-parity swept and
# queued for the round-9 grading window.
#
# Round-9 window note: after CORRECTNESS_r08 these 12 are the ONLY
# oracled keys never driver-graded — the r9 rotation should be
# [4 cross-family sentinels] + these 12 + re-greens of any r8 non-green
# rows, padded with rotated-out long-stable keys up to 50. The 4
# no-oracle keys stay excluded (they can only return err: no_oracle).
# --------------------------------------------------------------------------


@register("min_cost_supplier", pipelines.MIN_COST_SUPPLIER_SQL)
def _min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pipelines.min_cost_supplier(_cat(spark, sf_dir))


@register("order_priority_check", pipelines.ORDER_PRIORITY_CHECK_SQL)
def _order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pipelines.order_priority_check(_cat(spark, sf_dir))


@register("forecast_revenue", pipelines.FORECAST_REVENUE_SQL)
def _forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pipelines.forecast_revenue(_cat(spark, sf_dir))


@register("product_type_profit", pipelines.PRODUCT_TYPE_PROFIT_SQL)
def _product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pipelines.product_type_profit(_cat(spark, sf_dir))


@register("important_part_values", pipelines.IMPORTANT_PART_VALUES_SQL)
def _important_part_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pipelines.important_part_values(_cat(spark, sf_dir))


@register("late_shipment_priority", pipelines.LATE_SHIPMENT_PRIORITY_SQL)
def _late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pipelines.late_shipment_priority(_cat(spark, sf_dir))


@register("promo_revenue_pct", pipelines.PROMO_REVENUE_PCT_SQL)
def _promo_revenue_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pipelines.promo_revenue_pct(_cat(spark, sf_dir))


@register("top_supplier", pipelines.TOP_SUPPLIER_SQL)
def _top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pipelines.top_supplier(_cat(spark, sf_dir))


@register("supplier_part_counts", pipelines.SUPPLIER_PART_COUNTS_SQL)
def _supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pipelines.supplier_part_counts(_cat(spark, sf_dir))


@register(
    "discounted_revenue_disjunct", pipelines.DISCOUNTED_REVENUE_DISJUNCT_SQL
)
def _discounted_revenue_disjunct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pipelines.discounted_revenue_disjunct(_cat(spark, sf_dir))


@register("potential_part_promotion", pipelines.POTENTIAL_PART_PROMOTION_SQL)
def _potential_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pipelines.potential_part_promotion(_cat(spark, sf_dir))


@register("dormant_customer_balance", pipelines.DORMANT_CUSTOMER_BALANCE_SQL)
def _dormant_customer_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pipelines.dormant_customer_balance(_cat(spark, sf_dir))


# --------------------------------------------------------------------------
# Round 11: classical decomposition, multi-touch attribution, boilerplate
# n-grams. All three enter _WINDOW_ORDER this round (new keys always do).
# --------------------------------------------------------------------------


@register(
    "stl_decompose_events",
    """
    -- mirrors timeseries.stl_decompose TERM BY TERM: every intermediate
    -- is an integer numerator (counts; y*w - sum_w; per-phase sums)
    -- divided ONCE at output, then floor-form rounded — bit-exact with
    -- no float-summation-order exposure. Phase = epoch_day % 7 (not
    -- dayofweek: Spark is 1=Sunday, DuckDB 0=Sunday).
    WITH daily AS (
      SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, COUNT(*) AS y
      FROM events WHERE ts IS NOT NULL GROUP BY 1
    ),
    win AS (
      SELECT day, y,
             SUM(y) OVER (ORDER BY day
                          ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS sw,
             COUNT(*) OVER (ORDER BY day
                            ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS cw
      FROM daily
    ),
    fullw AS (
      SELECT day, y, sw, y * 7 - sw AS dn,
             date_diff('day', DATE '1970-01-01', day) % 7 AS ph
      FROM win WHERE cw = 7
    ),
    phs AS (SELECT ph, SUM(dn) AS sp, COUNT(*) AS np FROM fullw GROUP BY ph)
    SELECT day, y,
           FLOOR(CAST(sw AS DOUBLE) / 7.0 * 10000 + 0.5) / 10000
             AS trend,
           FLOOR(CAST(sp AS DOUBLE) / CAST(7 * np AS DOUBLE) * 10000 + 0.5)
             / 10000 AS seasonal,
           FLOOR(CAST(dn * np - sp AS DOUBLE) / CAST(7 * np AS DOUBLE)
                 * 10000 + 0.5) / 10000 AS resid
    FROM fullw JOIN phs USING (ph)
    """,
)
def _stl_decompose_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition of the daily event-count series:
    trend (7-day centered MA), weekly seasonal (per-phase mean of the
    detrended series), residual."""
    ev = _cat(spark, sf_dir).table("events")
    return timeseries.stl_decompose(ev, "ts", period=7, trend_window=7)


@register(
    "conversion_attribution_events",
    """
    -- U-shaped multi-touch attribution in integer basis points
    -- (largest-remainder middles) — exact integer partition of 10000
    -- per conversion, summation-order-proof; single /10000.0 at output.
    -- The as-of forward assignment dedups conversions per (user, ts)
    -- (min event_id) so timestamp ties cannot diverge across engines.
    -- NULL contract: WHERE event_type <> 'purchase' implicitly drops
    -- NULL-type rows (and NULL user/ts never ASOF-match); the Spark
    -- side excludes all three explicitly (window.py NULL filter).
    WITH c AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS cts,
             MIN(event_id) AS conv_id
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id, CAST(ts AS TIMESTAMP)
    ),
    t AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type
      FROM events WHERE event_type <> 'purchase'
    ),
    m AS (
      SELECT t.event_type, t.ts, t.event_id, c.conv_id, c.cts
      FROM t ASOF LEFT JOIN c
        ON t.user_id = c.user_id AND t.ts <= c.cts
    ),
    k AS (
      SELECT event_type, conv_id,
             COUNT(*) OVER (PARTITION BY conv_id) AS n,
             ROW_NUMBER() OVER (PARTITION BY conv_id
                                ORDER BY ts, event_id) AS rn
      FROM m
      WHERE conv_id IS NOT NULL
        AND cts - ts <= INTERVAL 604800 SECONDS
    ),
    bp AS (
      SELECT event_type,
             CASE WHEN n = 1 THEN 10000
                  WHEN n = 2 THEN 5000
                  WHEN rn = 1 THEN 4000
                  WHEN rn = n THEN 4000
                  ELSE 2000 // (n - 2)
                       + CASE WHEN rn - 1 <= 2000 % (n - 2)
                              THEN 1 ELSE 0 END
             END AS bp
      FROM k
    )
    SELECT event_type AS touch_type, COUNT(*) AS n_touches,
           SUM(bp) / 10000.0 AS credit
    FROM bp GROUP BY event_type
    """,
)
def _conversion_attribution_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution over the events
    funnel: fractional conversion credit per touch type within a 7-day
    lookback."""
    ev = _cat(spark, sf_dir).table("events")
    return win.multi_touch_attribution(
        ev, lookback_seconds=7 * 86400
    )


@register(
    "boilerplate_ngrams_docs",
    """
    -- doc-frequency top-k word trigrams; _TOKS_SQL-convention RE2
    -- tokenization (Spark side spells the explicit [ \\t\\n\\f\\r]
    -- class); deterministic top-k cut via (doc_freq DESC, gram ASC)
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents
      WHERE text IS NOT NULL AND doc_id IS NOT NULL
    ),
    g AS (
      SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS gram
      FROM t, UNNEST(range(1, len(toks) - 1)) AS u(i)
      WHERE len(toks) >= 3
    )
    SELECT gram, COUNT(*) AS doc_freq
    FROM g GROUP BY gram
    ORDER BY doc_freq DESC, gram LIMIT 50
    """,
)
def _boilerplate_ngrams_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 word trigrams by document frequency — the boilerplate
    pre-pass (shared headers/footers/license blurbs) for corpus
    curation."""
    docs = _cat(spark, sf_dir).table("documents")
    return text.boilerplate_ngrams(docs, "doc_id", "text", n=3, top_k=50)


@register(
    "boilerplate_density_docs",
    """
    -- per-doc fraction of distinct trigrams with corpus doc-freq >= 2;
    -- int/int ratio -> floor-form round mirrored term by term
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents
      WHERE text IS NOT NULL AND doc_id IS NOT NULL
    ),
    g AS (
      SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS gram
      FROM t, UNNEST(range(1, len(toks) - 1)) AS u(i)
      WHERE len(toks) >= 3
    ),
    f AS (SELECT gram, COUNT(*) AS gdf FROM g GROUP BY gram)
    SELECT doc_id, COUNT(*) AS n_grams,
           FLOOR(CAST(SUM(CASE WHEN gdf >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*) * 10000 + 0.5) / 10000 AS boiler_frac
    FROM g JOIN f USING (gram)
    GROUP BY doc_id
    """,
)
def _boilerplate_density_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document boilerplate density: fraction of the doc's distinct
    trigrams that are corpus-frequent (doc freq >= 2) — the per-doc
    curation gate that composes with boilerplate_ngrams."""
    docs = _cat(spark, sf_dir).table("documents")
    return text.boilerplate_density(docs, "doc_id", "text", n=3, min_df=2)


@register(
    "survival_curve_users",
    """
    -- Kaplan-Meier over per-user activity lifetimes, right-censored at
    -- 1 day before the corpus max day (the testdata generator keeps
    -- every user active through the final days, so wider gaps censor
    -- EVERYONE and grade an empty frame). Integer counts; the product is
    -- EXP(SUM(LN(1 - d/n))) with the SUM taken by the ordered running
    -- window — a deterministic identical sequence of IEEE adds on both
    -- engines (a product aggregate would be order-exposed). CASTs pin
    -- BIGINT (DuckDB SUM(int) is HUGEINT — the r9 type-drift class).
    WITH e AS (
      SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ),
    lives AS (
      SELECT user_id, MIN(d) AS fd, MAX(d) AS ld FROM e GROUP BY user_id
    ),
    mx AS (SELECT MAX(d) AS maxd FROM e),
    pk AS (
      SELECT date_diff('day', fd, ld) AS dur,
             CASE WHEN date_diff('day', ld, maxd) >= 1 THEN 1 ELSE 0 END
               AS ev
      FROM lives, mx
    ),
    bd AS (
      SELECT dur, COUNT(*) AS n, CAST(SUM(ev) AS BIGINT) AS d
      FROM pk GROUP BY dur
    ),
    km AS (
      SELECT dur, n, d,
             CAST(SUM(n) OVER () - SUM(n) OVER (ORDER BY dur) + n
                  AS BIGINT) AS n_at_risk
      FROM bd
    ),
    km2 AS (
      -- d = n (terminal bucket, everyone churns): LN(0) would RAISE in
      -- DuckDB and return NULL (silently dropped from the SUM) in
      -- Spark — both sides spell the -infinity term explicitly so
      -- EXP(-inf) lands the exact 0.0
      SELECT dur, n_at_risk, d,
             SUM(CASE WHEN d > 0 AND d >= n_at_risk
                      THEN CAST('-infinity' AS DOUBLE)
                      WHEN d > 0
                      THEN LN(1 - CAST(d AS DOUBLE)
                                  / CAST(n_at_risk AS DOUBLE))
                      ELSE 0.0 END) OVER (ORDER BY dur) AS lnsum
      FROM km
    )
    SELECT dur AS duration_days, n_at_risk, d AS n_events,
           ROUND(EXP(lnsum), 6) AS survival
    FROM km2 WHERE d > 0
    """,
)
def _survival_curve_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier churn curve over user activity lifetimes (events
    table), right-censored for users still active near the corpus
    end."""
    ev = _cat(spark, sf_dir).table("events")
    return timeseries.survival_curve(ev, "user_id", "ts", censor_gap_days=1)


@register(
    "impute_interpolate_events",
    """
    -- the events table has no NULL values, so the key deterministically
    -- masks value where event_id % 7 = 0 and interpolates the gaps;
    -- interpolation arithmetic mirrored TERM BY TERM (epoch-us doubles,
    -- prev + (next-prev)*(t-pt)/(nt-pt), floor-form round); windows
    -- ordered (ts, event_id) on both sides — duplicate user timestamps
    -- would otherwise make neighbor choice engine-ambiguous
    WITH m AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
             CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
      FROM events
    ),
    n AS (
      SELECT event_id, user_id, v,
             CAST(epoch_us(ts) AS DOUBLE) AS um,
             LAST_VALUE(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
             LAST_VALUE(CASE WHEN v IS NOT NULL
                             THEN CAST(epoch_us(ts) AS DOUBLE) END
                        IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pt,
             FIRST_VALUE(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv,
             FIRST_VALUE(CASE WHEN v IS NOT NULL
                              THEN CAST(epoch_us(ts) AS DOUBLE) END
                         IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nt
      FROM m
    )
    -- nt <> pt guard mirrored from the Spark side (coincident
    -- neighbors at duplicate (user, ts) are unfillable): without it
    -- parity rests on DuckDB-version division semantics (1.0.0's
    -- 0.0/0.0 = NULL vs >=1.1's IEEE NaN default)
    SELECT event_id,
           CASE WHEN v IS NOT NULL THEN v
                WHEN nt <> pt
                THEN FLOOR((pv + (nv - pv) * (um - pt) / (nt - pt))
                           * 10000 + 0.5) / 10000 END AS value,
           (v IS NULL AND nt <> pt
            AND pv + (nv - pv) * (um - pt) / (nt - pt) IS NOT NULL)
             AS was_interpolated
    FROM n
    """,
)
def _impute_interpolate_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user linear time interpolation of (deterministically masked)
    missing event values — the pandas interpolate(method='time')
    contract; leading/trailing gaps stay NULL."""
    ev = _cat(spark, sf_dir).table("events")
    masked = ev.withColumn(
        "value",
        F.when(F.col("event_id") % 7 == 0, F.lit(None)).otherwise(
            F.col("value")
        ),
    )
    out = timeseries.interpolate_linear(
        masked, "user_id", "ts", "value", tiebreak_col="event_id"
    )
    return out.select("event_id", "value", "was_interpolated")


@register(
    "mixture_waterfill_langs",
    """
    -- water-filling token allocation: sort by cap/weight, saturated set
    -- is a prefix, tested with EXACT int64 cross-multiplication; the
    -- flooring shortfall distributes largest-remainder-first. All
    -- integer arithmetic (// and % on BIGINT only; window SUMs cast
    -- back from HUGEINT); ratio is an ORDER key only, identical doubles
    -- on both engines.
    WITH avail AS (
      SELECT lang, COUNT(*) AS n_docs,
             CAST(SUM(len(list_filter(string_split_regex(trim(text),
                  '\\s+'), x -> x <> ''))) AS BIGINT) AS tokens_available
      FROM documents GROUP BY lang
    ),
    keyed AS (
      SELECT lang, n_docs, tokens_available,
             CAST(COALESCE(CASE lang WHEN 'en' THEN 5000
                                     WHEN 'de' THEN 2500
                                     WHEN 'fr' THEN 1500 END,
                           1000) AS BIGINT) AS weight_bp,
             tokens_available * CAST(40000 AS BIGINT) // 10000
               AS cap_tokens
      FROM avail
    ),
    ord_ AS (
      SELECT *, CASE WHEN weight_bp > 0
                     THEN CAST(cap_tokens AS DOUBLE) / weight_bp
                     ELSE CAST('infinity' AS DOUBLE) END AS ratio
      FROM keyed
    ),
    pre AS (
      SELECT *,
        CAST(COALESCE(SUM(cap_tokens) OVER (ORDER BY ratio, lang
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS c_prev,
        CAST(COALESCE(SUM(weight_bp) OVER (ORDER BY ratio, lang
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS w_prev,
        CAST(SUM(weight_bp) OVER () AS BIGINT) AS w_tot
      FROM ord_
    ),
    s AS (
      SELECT *, (weight_bp > 0 AND cap_tokens * (w_tot - w_prev)
                 <= (CAST(50000 AS BIGINT) - c_prev) * weight_bp) AS sat
      FROM pre
    ),
    agg2 AS (
      SELECT *,
        CAST(COALESCE(SUM(CASE WHEN sat THEN cap_tokens END) OVER (), 0)
             AS BIGINT) AS c_sat,
        CAST(COALESCE(SUM(CASE WHEN NOT sat THEN weight_bp END)
             OVER (), 0) AS BIGINT) AS w_unsat
      FROM s
    ),
    xf AS (
      SELECT *,
        CASE WHEN NOT sat
             THEN (CAST(50000 AS BIGINT) - c_sat) * weight_bp
             ELSE CAST(0 AS BIGINT) END AS num,
        CASE WHEN sat THEN cap_tokens
             WHEN w_unsat > 0
               THEN ((CAST(50000 AS BIGINT) - c_sat) * weight_bp)
                    // w_unsat
             ELSE 0 END AS xfloor
      FROM agg2
    ),
    sh AS (
      SELECT *,
        CASE WHEN w_unsat > 0
             THEN (CAST(50000 AS BIGINT) - c_sat)
                  - CAST(SUM(CASE WHEN NOT sat THEN xfloor ELSE 0 END)
                         OVER () AS BIGINT)
             ELSE 0 END AS short,
        CASE WHEN NOT sat AND weight_bp > 0 AND w_unsat > 0
             THEN num % w_unsat ELSE -1 END AS rem
      FROM xf
    ),
    rk AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, lang) AS rn
      FROM sh
    )
    SELECT lang, n_docs, tokens_available, cap_tokens, weight_bp,
           sat AS saturated,
           CAST(xfloor + CASE WHEN rem >= 0 AND rn <= short
                              THEN 1 ELSE 0 END AS BIGINT)
             AS planned_tokens
    FROM rk
    """,
)
def _mixture_waterfill_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cap-aware water-filling allocation of a 50k-token budget across
    languages (en 50%, de 25%, fr 15%, default 10% weights; 4-epoch
    repeat cap). The SF ladder exercises every regime: sf0.001 budget >
    all caps (all saturated, leftover unallocated), sf0.01 mixed,
    sf0.1 nothing saturated."""
    docs = _cat(spark, sf_dir).table("documents")
    return training.mixture_waterfill(
        docs, "lang", "text",
        {"en": 5000, "de": 2500, "fr": 1500},
        budget_tokens=50_000, default_bp=1000, max_epochs_bp=40_000,
    )


def _bpe_chain_sql(n_merges: int) -> str:
    """Unrolled-CTE mirror of ``training.bpe_train`` (the established
    iterative-oracle pattern: pagerank/LPA/k-core). Each round: pair
    counts from the previous segmentation, a 1-row argmax (count DESC,
    left, right), and a literal double-space ``replace`` re-segmentation
    — byte-identical to the Spark side's (see bpe_train's docstring for
    why replace, not regex: RE2 has no lookarounds). The word column
    rides the whole chain so the apply oracle can join the trained
    vocabulary back onto documents."""
    parts = [
        """
    WITH wf AS (
      SELECT w, COUNT(*) AS freq FROM (
        SELECT UNNEST(list_filter(string_split_regex(trim(lower(text)),
                      '\\s+'), x -> x <> '')) AS w
        FROM documents WHERE text IS NOT NULL
      )
      WHERE w <> ''
        AND length(translate(w, 'abcdefghijklmnopqrstuvwxyz', '')) = 0
      GROUP BY w
    ),
    w0 AS (
      SELECT w, freq, '  ' || array_to_string(string_split(w, ''), '  ')
             || '  ' AS seg
      FROM wf
    )"""
    ]
    for k in range(1, n_merges + 1):
        parts.append(
            f""",
    s{k} AS (
      SELECT freq, list_filter(string_split(seg, '  '), x -> x <> '') AS s
      FROM w{k - 1}
    ),
    p{k} AS (
      SELECT s[i] AS l, s[i + 1] AS r, CAST(SUM(freq) AS BIGINT) AS cnt
      FROM s{k}, UNNEST(range(1, len(s))) AS u(i)
      GROUP BY s[i], s[i + 1]
    ),
    b{k} AS (SELECT {k} AS rnd, l, r, cnt FROM p{k}
             ORDER BY cnt DESC, l, r LIMIT 1),
    w{k} AS (
      -- LEFT JOIN ON TRUE, not a cross join: when the corpus exhausts
      -- merge pairs before round {k}, b{k} is EMPTY and a cross join
      -- would empty the whole vocabulary chain — the Spark loop
      -- breaks and keeps the learned merges, so the oracle must carry
      -- the vocab through no-op rounds unchanged (r12 self-review;
      -- load-bearing for the apply oracle, which reads the final w)
      SELECT w, freq,
             CASE WHEN l IS NULL THEN seg
                  ELSE replace(seg, ' ' || l || '  ' || r || ' ',
                               ' ' || l || r || ' ') END AS seg
      FROM w{k - 1} LEFT JOIN b{k} ON TRUE
    )"""
        )
    return "".join(parts)


def _bpe_oracle_sql(n_merges: int) -> str:
    union = "\n          UNION ALL ".join(
        f"SELECT * FROM b{k}" for k in range(1, n_merges + 1)
    )
    return (
        _bpe_chain_sql(n_merges)
        + f"""
    SELECT rnd AS round, l AS lsym, r AS rsym, cnt AS pair_count
    FROM ({union})
    """
    )


def _bpe_apply_oracle_sql(n_merges: int) -> str:
    """Merge chain + apply tail: per-doc word counts join the trained
    vocabulary's final segmentation; symbol count is pure length
    arithmetic over the double-space representation (2(n+1) pad
    spaces), BIGINT `//` only (the DECIMAL-division trap class)."""
    return (
        _bpe_chain_sql(n_merges)
        + f""",
    docw AS (
      SELECT doc_id, w FROM (
        SELECT doc_id,
               UNNEST(list_filter(string_split_regex(trim(lower(text)),
                      '\\s+'), x -> x <> '')) AS w
        FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
      )
      WHERE w <> ''
        AND length(translate(w, 'abcdefghijklmnopqrstuvwxyz', '')) = 0
    ),
    dw AS (SELECT doc_id, w, COUNT(*) AS k FROM docw GROUP BY doc_id, w),
    vs AS (
      SELECT w, (length(seg) - length(replace(seg, ' ', ''))) // 2 - 1
               AS nsym
      FROM w{n_merges}
    )
    SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_words,
           CAST(SUM(k * nsym) AS BIGINT) AS bpe_tokens
    FROM dw JOIN vs USING (w)
    GROUP BY doc_id
    """
    )


@register("bpe_train_merges", _bpe_oracle_sql(8))
def _bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training over the documents corpus: the first 8
    learned merge rules with their corpus pair frequencies (flagship
    iterative op, VERDICT r11 ask #6)."""
    docs = _cat(spark, sf_dir).table("documents")
    return training.bpe_train(docs, "text", n_merges=8)


@register("bpe_token_counts_docs", _bpe_apply_oracle_sql(8))
def _bpe_token_counts_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train→apply BPE pipeline: learn 8 merges, then re-segment the
    corpus and report per-document (n_words, bpe_tokens) — the corpus
    fertility under the TRAINED tokenizer (vs tokenizer_fertility's
    static proxy). The merge application runs over the distinct-word
    table only; symbol counts are length arithmetic, no array split."""
    docs = _cat(spark, sf_dir).table("documents")
    mrows = sorted(
        training.bpe_train(docs, "text", n_merges=8).collect(),
        key=lambda r: r["round"],
    )
    merges = [(r["lsym"], r["rsym"]) for r in mrows]
    return training.bpe_token_counts(docs, merges, "doc_id", "text")


@register(
    "survival_curve_censored_users",
    """
    -- Kaplan-Meier with a NON-TRIVIAL censored fraction (VERDICT r11
    -- ask #5): the testdata keeps every user active to the corpus end,
    -- so the plain key's censoring branch grades trivially. Each
    -- user's stream is deterministically truncated at their first
    -- activity day + (user_id % 28) days — synthetic heterogeneous
    -- lifetimes — then right-censored at 7 days before the truncated
    -- corpus max: users whose last kept activity falls in that final
    -- week (~25% of residues) enter the at-risk sets without counting
    -- as churn events. Same EXP(SUM(LN)) running-window product and
    -- explicit -infinity terminal term as survival_curve_users.
    -- events collapse to DISTINCT (user, day) FIRST: the curve only
    -- needs each user's min/max kept day, so the fd lookup + truncation
    -- filter run over the ~|users| x |days| frame, not the raw events
    -- (at 100x the raw form double-scanned 10M rows: 6.2 s -> distinct
    -- is one map-side-combining shuffle)
    WITH e AS (
      SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ),
    fd AS (SELECT user_id, MIN(d) AS fdy FROM e GROUP BY user_id),
    kept AS (
      SELECT e.user_id, e.d FROM e JOIN fd USING (user_id)
      WHERE date_diff('day', fdy, d) <= user_id % 28
    ),
    lives AS (
      SELECT user_id, MIN(d) AS fd2, MAX(d) AS ld FROM kept
      GROUP BY user_id
    ),
    mx AS (SELECT MAX(d) AS maxd FROM kept),
    pk AS (
      SELECT date_diff('day', fd2, ld) AS dur,
             CASE WHEN date_diff('day', ld, maxd) >= 7 THEN 1 ELSE 0 END
               AS ev
      FROM lives, mx
    ),
    bd AS (
      SELECT dur, COUNT(*) AS n, CAST(SUM(ev) AS BIGINT) AS d
      FROM pk GROUP BY dur
    ),
    km AS (
      SELECT dur, n, d,
             CAST(SUM(n) OVER () - SUM(n) OVER (ORDER BY dur) + n
                  AS BIGINT) AS n_at_risk
      FROM bd
    ),
    km2 AS (
      SELECT dur, n_at_risk, d,
             SUM(CASE WHEN d > 0 AND d >= n_at_risk
                      THEN CAST('-infinity' AS DOUBLE)
                      WHEN d > 0
                      THEN LN(1 - CAST(d AS DOUBLE)
                                  / CAST(n_at_risk AS DOUBLE))
                      ELSE 0.0 END) OVER (ORDER BY dur) AS lnsum
      FROM km
    )
    SELECT dur AS duration_days, n_at_risk, d AS n_events,
           ROUND(EXP(lnsum), 6) AS survival
    FROM km2 WHERE d > 0
    """,
)
def _survival_curve_censored_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier churn curve with deterministic per-user lifetime
    truncation (first day + user_id % 28) and a 7-day censor window —
    the key that grades the censoring branch non-trivially."""
    ev = _cat(spark, sf_dir).table("events")
    # ONE user-keyed exchange end to end: the truncation needs each
    # user's first day BEFORE it can pick the last kept day — instead of
    # distinct + fd groupBy + join (three corpus passes, 6.2→5.0 s at
    # the 100x probe), collect the user's DISTINCT day set map-side
    # (calendar-bounded: ≤ corpus days per user), compute first/last-
    # kept per row with array ops, and feed the two boundary days to
    # survival_curve — whose groupBy(user_id) rides the same
    # hashpartitioning(user_id) exchange (subset rule). The oracle keeps
    # the equivalent DISTINCT + MIN-join form; every op is integer/date
    # arithmetic, so the formulations are value-identical by
    # construction.
    per_user = (
        ev.where(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .groupBy("user_id")
        .agg(F.collect_set(F.col("ts").cast("date")).alias("__ds"))
    )
    fd = F.array_min("__ds")
    m = F.pmod("user_id", F.lit(28))
    last_kept = F.array_max(
        F.filter("__ds", lambda x: F.datediff(x, fd) <= m)
    )
    feed = per_user.select(
        "user_id", F.explode(F.array(fd, last_kept)).alias("__d")
    )
    return timeseries.survival_curve(
        feed, "user_id", "__d", censor_gap_days=7
    )


#: The ONLY keys allowed to skip the SQL oracle (driver grades rows-only).
#: Gate (VERDICT r5 ask #9): every rows-only key must carry an
#: accuracy-vs-exact test, named here so a future registration can't
#: silently skip its oracle — adding a key with ``sql=None`` without
#: extending this map (and writing the test) fails at import, which every
#: pytest run and the driver's own entry import hit immediately.
ROWS_ONLY_ACCURACY_TESTS: dict[str, str] = {
    "approx_distinct_users": "tests/test_asof_ivf.py::test_approx_count_distinct_accuracy",
    "approx_percentile_price": "tests/test_training.py::test_approx_percentile_accuracy",
    "media_features": "tests/test_multimodal.py::test_extract_features_exact_values",
    "media_phash_dedup": "tests/test_multimodal.py::test_frame_dedup_counts_cross_media_repeats",
    "sketch_rollup_users": "tests/test_analytics_ext.py::test_sketch_rollup_accuracy",
    "winsorize_prices_approx": "tests/test_analytics_ext.py::test_winsorize_approx_tracks_exact",
}

_rows_only = {k for k, (_, sql) in _REGISTRY.items() if sql is None}
if _rows_only != set(ROWS_ONLY_ACCURACY_TESTS):
    # An explicit raise, not `assert` — asserts are compiled out under
    # `python -O`, which would silently disable this guarantee (ADVICE r6).
    raise RuntimeError(
        "rows-only registry keys out of sync with ROWS_ONLY_ACCURACY_TESTS: "
        f"unexpected={sorted(_rows_only - set(ROWS_ONLY_ACCURACY_TESTS))} "
        f"stale={sorted(set(ROWS_ONLY_ACCURACY_TESTS) - _rows_only)}"
    )

# A typo in a freshly rotated _WINDOW_ORDER must FAIL, not silently
# shrink the 50-key grading window (`_ordered` keeps only names found in
# the registry) — the driver would then grade fewer keys than the
# rotation claims (ADVICE r9).
_unknown_window = [k for k in _WINDOW_ORDER if k not in _REGISTRY]
if _unknown_window:
    raise RuntimeError(
        f"_WINDOW_ORDER names absent from the registry: {_unknown_window}"
    )
