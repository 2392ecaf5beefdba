"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Protocol: one shared SparkSession (startup excluded — the driver grades
query throughput, not JVM boot); per key, MEDIAN OF 3 fresh-plan runs
(early-stop once a run passes SLOW_CUTOFF_S — long runs self-amortize
warmup noise), each run timed to full materialization via the noop sink
and followed by an untimed cache drain. Same protocol as
tools/baseline.py, so BENCH_rN rows are comparable to BASELINE.md rows:
single-run suites mis-attributed suite-position noise to plans
(pricing_summary read 0.74 s isolated vs 2.38 s in-suite in round 4
with an unchanged plan). The headline value is the sum of per-key
medians. Headline set spans scan/filter, join, agg, window, pivot,
events windowing and the north-star extensions. The printed line lists
the heaviest keys first (2-decimal values; see main()), so keys that
get faster can drop out of it while BENCH_FULL.json keeps every key.

KNOWN DIVERGENCE vs BASELINE.md (round-6 finding, protocol frozen per
VERDICT r5 ask #10): the timed window here opens AFTER `qs[name](...)`
returns, so DRIVER-SYNCHRONIZED iterative keys — whose construction
itself runs Spark actions — are understated: their iteration cost lands
outside t0. tools/baseline.py times `fn()` INCLUDING construction, so
its rows carry the full cost; this is the same class BASELINE.md's
honest aggregates already exclude in both directions. Compare iterative
keys against BASELINE.md, not this file. ROUND-7 UPDATE: the class
shrank to the connected-components family only (dedup_clusters,
entity_resolution, fuzzy_dedup_keep_best) — pagerank/bfs/kcore/hits now
construct with ZERO jobs (localCheckpoint→persist; node-count→broadcast
relation), so their bench rows carry the real cost for the first time
(hits 0.35 → ~2.5 s here is that visibility shift, not a regression:
the measured FULL call fell ~5.0 → ~2.7-3.7 s, BASELINE.md round-7).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: queries() keys graded as the headline set; anything absent is skipped
#: so bench.py never breaks while coverage grows.
HEADLINE = [
    "pricing_summary",
    "sql_passthrough",
    "dim_join_label",
    "semi_join_filter",
    "group_count",
    "count_distinct_group",
    "pivot_returnflag",
    "one_hot_priority",
    "window_topk_per_group",
    "window_running_sum",
    "events_tumbling_window",
    "events_session_window",
    "json_extract_events",
    "top_k_orders",
    "translate_crosswalk",
    "awards_pipeline",
    "asof_join_events",
    "range_join_attribution",
    "events_rollup_time",
    "salted_join_parts",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_lsh_exact",
    "dedup_simhash",
    "similarity_topk",
    "similarity_ann_lsh",
    "text_quality",
    "token_count",
    "doc_fingerprint",
    "media_frame_sample",
    "chunk_documents",
    "pack_sequences",
    "pii_redact",
    "percentiles_by_flag",
    "tfidf_top_terms",
    "pmi_collocations",
    "funnel_view_click_purchase",
    "retention_cohorts",
    "decontaminate_benchmark",
    "repetition_ratio",
    "histogram_price",
    "anomaly_zscore_events",
    "resample_ffill_events",
    "shipping_priority",
    "regional_revenue",
    "returned_customers",
    "small_quantity_revenue",
    "sole_late_suppliers",
    "market_share_nation",
    "customer_order_distribution",
    "ewma_events",
    "activity_streaks",
    "cumulative_reach",
    "char_entropy_docs",
    "lm_cross_entropy_docs",
    "snm_neardup_docs",
    "containment_pairs",
    "robust_anomaly_events",
    "bitmap_distinct_rollup",
    "first_last_event",
    "corr_stats_flags",
    "rolling_avg_events",
    "bm25_search",
    "corpus_curation",
    "market_basket_pairs",
    "trending_event_types",
    "winsorize_prices",
    "winsorize_prices_approx",
    "incremental_dedup",
    "sketch_rollup_users",
    "profile_lineitem",
    "dq_violations",
    "scd2_customer_merge",
    "embedding_centroids",
    "ab_test_events",
    "twap_events",
    "user_trend_slopes",
    "table_checksum_orders",
    "event_paths",
    "revenue_share_by_nation",
    "changelog_compaction",
    # round 2 additions
    "stream_interval_join",
    "merge_upsert_customer",
    "zorder_code_orders",
    "embedding_quantize",
    "segment_dedup_docs",
    "pagerank_trade_graph",
    "scd2_snapshot_lookup",
    "skew_lineitem_suppkey",
    "hard_negatives",
    "group_exclusive_split",
    # round 3 additions
    "lpa_communities_trade",
    "kcore_trade_graph",
    "assortativity_trade",
    "benford_totalprice",
    "decayed_counts_events",
    "seasonality_events",
    "fuzzy_dedup_keep_best",
    "dsir_weights_docs",
    "semdedup_embeddings",
    "ccnet_buckets_docs",
    "corpus_datacard",
    "tokenizer_fertility",    "substring_dedup_docs",
    "bloom_gate_orders",
    "semdedup_kmeans",
    "embedding_top_pc",
    "c4_filters_docs",
    "gopher_rules_docs",
    "quality_classifier_docs",
    "rake_keywords_docs",
    "hits_trade_graph",
    "countmin_users_events",
    "acf_events",
    "cusum_changepoint_events",
    "media_phash_dedup",
    "target_encode_orders",
    "dedup_jaccard_prefix",
    "basket_rules_parts",
    "triangle_count_cosuppliers",
    "session_entry_exit",
    "temporal_dim_join_orders",
    "quantile_normalize_chars",
    "session_baskets_events",
]


def main() -> None:
    from pyspark.sql import functions as F

    from etl_io_spark import caching
    from etl_io_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    # JVM warmup (startup is excluded per protocol): loads the noop sink,
    # codegen + shuffle machinery on a 1k-row synthetic job, and the
    # parquet reader/writer classes via a throwaway /tmp file, so the first
    # timed query doesn't pay one-time class-loading costs. No test data is
    # touched — nothing a query reads gets cached.
    (
        spark.range(1000)
        .groupBy(F.pmod("id", F.lit(7)))
        .agg(F.sum("id"))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        warm_path = os.path.join(td, "warm.parquet")
        spark.range(100).write.mode("overwrite").parquet(warm_path)
        spark.read.parquet(warm_path).write.format("noop").mode(
            "overwrite"
        ).save()

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    slow_cutoff = float(os.environ.get("BENCH_SLOW_CUTOFF", "20"))
    runs = int(os.environ.get("BENCH_RUNS", "3"))
    timings: dict[str, float] = {}
    for name in HEADLINE:
        if name not in qs:
            continue
        times = []
        for i in range(runs):
            # FRESH plan per run — re-executing one DataFrame object
            # reuses its shuffle-stage outputs and skips whole stages
            # (see tools/baseline.py _warm)
            df = qs[name](spark, SF_DIR)
            t0 = time.perf_counter()
            # noop sink forces full evaluation of every output column —
            # a count() would let Catalyst prune the projections being
            # timed.
            df.write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
            # drop caches the run materialized (untimed): repeats and
            # later queries should neither pay GC pressure for them nor
            # reuse them; the drain also releases localCheckpoint RDD
            # storage, invisible to clearCache.
            caching.drain_persisted()
            spark.catalog.clearCache()
            if times[-1] > slow_cutoff:
                break
        # statistics.median averages the middle pair when the early-stop
        # leaves an even-length sample (a slow run 2 breaks the loop);
        # the old sorted()[n//2] picked the SLOWEST of two runs there.
        timings[name] = round(statistics.median(times), 3)
    total = round(sum(timings.values()), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # Full per-query table for the judge (BASELINE.md cross-reference).
    with open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json"),
        "w",
    ) as fh:
        json.dump(
            {
                "metric": "headline_suite_wall_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf_val,
            },
            fh,
            indent=1,
        )
    # The driver records only the LAST 2000 chars of stdout; a line above
    # that silently records parsed=null (bit round 2 at ~2.6 kB). Emit the
    # heaviest queries until the line nears the cap and roll the rest into
    # an explicit remainder. The shown values are rounded to 2 decimals,
    # so sum(queries) + omitted_total_sec reconciles with ``value`` only
    # to within +-0.005 per shown key. The window is heaviest-first, so a
    # key that gets faster can drop out of it into the remainder.
    # r13 (VERDICT r12 ask #10, additions-only): print per-query seconds
    # at 2 decimals in the one-line JSON so ~15 more keys fit under the
    # driver's 2000-char stdout capture — the cap was dropping exactly
    # the keys that improved most. BENCH_FULL.json keeps 3 decimals; the
    # headline value and protocol are unchanged.
    by_time = sorted(timings.items(), key=lambda kv: -kv[1])
    printed = {k: round(v, 2) for k, v in timings.items()}
    shown: dict[str, float] = {}
    base = {
        "metric": "headline_suite_wall_sec",
        "value": total,
        "unit": "sec",
        "sf": sf_val,
        "n_queries": len(timings),
        "full_table": "BENCH_FULL.json",
    }
    for name, _secs in by_time:
        trial = dict(base)
        trial["queries"] = {**shown, name: printed[name]}
        rest = len(timings) - len(trial["queries"])
        if rest:
            trial["queries_omitted"] = rest
            trial["omitted_total_sec"] = round(
                total - sum(timings[k] for k in trial["queries"]), 3
            )
        # cap raised 1900 -> 1980 (r13): the driver records the LAST
        # 2000 stdout chars and this JSON line is the final output, so
        # only its own length + newline must fit; 20 chars of margin is
        # enough and buys ~1 more printed key.
        if len(json.dumps(trial, separators=(",", ":"))) > 1980:
            break
        shown[name] = printed[name]
    out = dict(base)
    out["queries"] = shown
    rest = len(timings) - len(shown)
    if rest:
        out["queries_omitted"] = rest
        out["omitted_total_sec"] = round(
            total - sum(timings[k] for k in shown), 3
        )
    print(json.dumps(out, separators=(",", ":")))


if __name__ == "__main__":
    main()
