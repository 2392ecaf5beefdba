"""Unpersist hygiene (VERDICT r3 ask #5): every graded query that pins
intermediates (persist_tracked) must leave the block manager
EMPTY after its action once the caller drains the caching ledger — the
long-session contract tools/check.py and bench.py rely on."""

from __future__ import annotations

import pytest

from etl_io_spark import caching, registry

from tests.conftest import SF_SMOKE

#: graded keys whose plans pin blocks: the iterative graph suite, the
#: shingle-sharing dedup plans, the
#: LSH-bucketed ANN, and the funnel/bitmap rollups.
PINNING_KEYS = [
    "pagerank_trade_graph",
    "lpa_communities_trade",
    "bfs_trade_reach",
    "kcore_trade_graph",
    "assortativity_trade",
    "triangle_count_cosuppliers",
    "dedup_ngram_jaccard",
    "dedup_lsh_exact",
    "fuzzy_dedup_keep_best",
    "similarity_ann_lsh",
    "funnel_view_click_purchase",
    "pmi_collocations",
]


def _storage_entries(spark) -> list[str]:
    """Names of RDDs currently holding blocks in the block manager —
    any RDD-level storage too, which spark.catalog.clearCache() does not
    see."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return [
        f"id={i.id()} name={i.name()}" for i in infos if i.isCached()
    ]


@pytest.mark.parametrize("key", PINNING_KEYS)
def test_query_leaves_block_manager_empty(spark, key):
    qs = registry.queries()
    if key not in qs:
        pytest.skip(f"{key} not registered")
    caching.drain_persisted()  # isolate from earlier tests in the session
    spark.catalog.clearCache()
    qs[key](spark, SF_SMOKE).count()
    caching.drain_persisted()
    spark.catalog.clearCache()  # catalog/table caches the query may use
    leftovers = _storage_entries(spark)
    assert leftovers == [], f"{key} left pinned blocks: {leftovers}"


def test_drain_is_idempotent_and_counts(spark):
    from pyspark.sql import Row

    caching.drain_persisted()
    df = caching.persist_tracked(spark.createDataFrame([Row(x=1)]))
    df.count()
    assert caching.drain_persisted() >= 1
    assert caching.drain_persisted() == 0


def test_concurrent_thread_ledgers_are_isolated(spark):
    """Two threads sharing ONE SparkSession (VERDICT r5 ask #8): a drain
    in thread A must never unpersist thread B's pinned blocks, and each
    thread's own drain must release exactly its own pins."""
    import threading

    from pyspark.sql import Row

    caching.drain_all()
    spark.catalog.clearCache()

    barrier = threading.Barrier(2)
    results: dict[str, object] = {}

    def worker(tag: str, n: int):
        df = caching.persist_tracked(
            spark.createDataFrame([Row(x=i, tag=tag) for i in range(n)])
        )
        df.count()  # materialize the blocks
        barrier.wait()  # both threads now hold live pins
        if tag == "a":
            # A drains while B's pin is live...
            results["a_drained"] = caching.drain_persisted()
            barrier.wait()
        else:
            barrier.wait()  # ...wait for A's drain to finish
            # B's blocks must still be materialized and drainable by B
            results["b_cached_after_a_drain"] = df.storageLevel.useMemory
            results["b_count"] = df.count()
            results["b_drained"] = caching.drain_persisted()

    ta = threading.Thread(target=worker, args=("a", 5))
    tb = threading.Thread(target=worker, args=("b", 7))
    ta.start(), tb.start()
    ta.join(60), tb.join(60)

    assert results["a_drained"] == 1  # A released only its own pin
    assert results["b_cached_after_a_drain"] is True
    assert results["b_count"] == 7
    assert results["b_drained"] == 1
    assert _storage_entries(spark) == []


def test_drain_all_releases_dead_thread_pins(spark):
    """A thread that pins and dies WITHOUT draining leaks JVM blocks the
    dead thread's local ledger can no longer reach; drain_all() (the
    teardown hatch, ADVICE r5) must release them from any thread."""
    import threading

    from pyspark.sql import Row

    caching.drain_all()
    spark.catalog.clearCache()

    def leaker():
        df = caching.persist_tracked(
            spark.createDataFrame([Row(x=i) for i in range(3)])
        )
        df.count()
        # exits without drain_persisted(): the pin outlives the thread

    t = threading.Thread(target=leaker)
    t.start()
    t.join(60)
    assert len(_storage_entries(spark)) > 0  # the leak is real
    assert caching.drain_persisted() == 0  # this thread's ledger is empty
    assert caching.drain_all() >= 1  # ...but drain_all reaches it
    assert _storage_entries(spark) == []
