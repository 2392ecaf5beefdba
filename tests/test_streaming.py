"""Structured Streaming tests: the same operator run in batch and via
readStream + availableNow trigger + memory sink must agree after the
source is exhausted (SURVEY.md §7 phase 4 parity strategy)."""

from __future__ import annotations

import shutil
import uuid

import pytest
from pyspark.sql import Row, functions as F

from etl_io_spark.catalog import TableCatalog
from etl_io_spark.streaming import windows as sw

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def event_source(spark, tmp_path_factory):
    """Copy the events table into a tmp dir to act as a file-stream source
    (testdata is read-only; a stream source dir must be listable)."""
    src_dir = tmp_path_factory.mktemp("events_stream")
    shutil.copy(f"{SF}/events.parquet", src_dir / "part-0.parquet")
    cat = TableCatalog(spark, SF)
    return str(src_dir), cat


def _run_stream(spark, stream_df, mode="complete"):
    name = f"q_{uuid.uuid4().hex[:8]}"
    q = sw.run_to_memory_sink(stream_df, name, output_mode=mode)
    out = spark.table(name)
    rows = out.collect()
    q.stop()
    return rows


def _as_sets(rows):
    return {tuple(r) for r in rows}


def test_tumbling_stream_matches_batch(spark, event_source):
    path, cat = event_source
    batch_df = cat.table("events")
    stream = cat.table_stream("events", path)
    got = _run_stream(
        spark, sw.tumbling_agg(stream, watermark="1 hour"), mode="complete"
    )
    want = sw.tumbling_agg(batch_df).collect()
    assert _as_sets(got) == _as_sets(want)
    assert len(want) > 0


def test_session_stream_matches_batch(spark, event_source):
    path, cat = event_source
    batch_df = cat.table("events")
    stream = cat.table_stream("events", path)
    got = _run_stream(
        spark, sw.session_agg(stream, watermark="1 hour"), mode="complete"
    )
    want = sw.session_agg(batch_df).collect()
    assert _as_sets(got) == _as_sets(want)


def test_stream_dedup_bounded_state(spark, event_source):
    path, cat = event_source
    batch_df = cat.table("events")
    stream = cat.table_stream("events", path)
    deduped = sw.dedup_events(
        stream, subset=["user_id", "event_type"], watermark="1 day"
    )
    got = _run_stream(spark, deduped.select("user_id", "event_type"), mode="append")
    want = batch_df.select("user_id", "event_type").distinct().collect()
    assert _as_sets(got) == _as_sets(want)


def test_batch_dedup_twin(spark):
    df = TableCatalog(spark, SF).table("events")
    out = sw.dedup_events(df, subset=["user_id", "event_type"])
    assert out.count() == df.select("user_id", "event_type").distinct().count()


def test_stream_static_enrichment_matches_batch(spark, event_source):
    """Stream-static join: a streaming fact enriched by a broadcast batch
    dim — the standard streaming enrichment shape (no state, the dim is
    re-broadcast per micro-batch, so dimension updates are picked up)."""
    path, cat = event_source
    dim = (
        cat.table("customer")
        .select(
            (F.col("c_custkey") % 100).alias("user_mod"), "c_mktsegment"
        )
        .dropDuplicates(["user_mod"])
    )

    def enrich(df):
        return (
            df.withColumn("user_mod", F.col("user_id") % 100)
            .join(F.broadcast(dim), "user_mod")
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    stream = cat.table_stream("events", path)
    got = _run_stream(spark, enrich(stream), mode="complete")
    want = enrich(cat.table("events")).collect()
    assert _as_sets(got) == _as_sets(want)
    assert len(got) > 0


def test_interval_join_stream_matches_batch(spark, event_source):
    """Stream-stream inner interval join: both sides watermarked; with the
    whole source in one availableNow batch, streaming output must equal the
    batch twin exactly."""
    path, cat = event_source
    ev_b = cat.table("events")

    def split(df):
        return (
            df.where(F.col("event_type") == "view"),
            df.where(F.col("event_type") == "click"),
        )

    lv, rv = split(cat.table_stream("events", path))
    got = _run_stream(
        spark,
        sw.interval_join(lv, rv, within="60 minutes", watermark="1 hour"),
        mode="append",
    )
    lb, rb = split(ev_b)
    want = sw.interval_join(lb, rb, within="60 minutes").collect()
    assert _as_sets(got) == _as_sets(want)
    assert len(want) > 0


def _merge_final_plans(spark, target_path):
    """Final adaptive plan trees of the per-batch merges that staged
    ``target_path``, read from the SQL status store."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    recent = store.executionsList(max(0, n - 50), 50)
    plans = (
        recent.apply(i).physicalPlanDescription()
        for i in range(recent.size())
    )
    return [
        p.split("\n+- == Final Plan ==")[1].split("\n+- == Initial Plan ==")[0]
        for p in plans
        if f"{target_path}__stage" in p
    ]


def _target_scans_shuffled(tree):
    """For each parquet scan outside the cached change batch in a
    formatted plan tree (a merge's target scans), whether a shuffle
    ``Exchange`` is among its ancestors, the preceding lines indented
    less. AQE can turn a shuffled join into a broadcast after the target
    has been shuffled, so the join names alone do not show it."""
    path, out = [], []
    for line in tree.splitlines():
        body = line.lstrip(" :|+-")
        depth = len(line) - len(body)
        name = body.removeprefix("* ")
        path = [(d, n) for d, n in path if d < depth]
        above = [n for _, n in path]
        if name.startswith("Scan parquet") and not any(
            n.startswith("InMemoryRelation") for n in above
        ):
            out.append(any(n.startswith("Exchange") for n in above))
        path.append((depth, name))
    return out


def _assert_target_unshuffled(trees, n_batches):
    assert len(trees) == n_batches
    for tree in trees:
        assert "BroadcastHashJoin" in tree
        assert "SortMergeJoin" not in tree and "ShuffledHashJoin" not in tree
        assert _target_scans_shuffled(tree) == [False, False]


def test_cdc_apply_stream_maintains_target(spark, tmp_path):
    """Streaming CDC apply: two micro-batches of changes folded into a
    parquet target must equal the sequential merge result, and every
    per-batch merge keeps the target unshuffled (the change batch
    broadcasts, as ``run_cdc_apply`` promises), for a file source and
    for a rate source, whose micro-batches carry no size statistics."""
    from etl_io_spark.streaming import sinks

    target_path = str(tmp_path / "target")
    spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "k int, v double"
    ).write.parquet(target_path)

    src = tmp_path / "changes"
    src.mkdir()

    def land(name, rows):
        # the file-stream source lists plain files, not parquet dirs —
        # stage the write, then move the single part file into place
        stage = tmp_path / f"stage_{name}"
        spark.createDataFrame(
            rows, "k int, op string, v double, seq long"
        ).coalesce(1).write.parquet(str(stage))
        part = next(stage.glob("part-*.parquet"))
        part.rename(src / f"{name}.parquet")

    land("b0", [(2, "U", 25.0, 1), (3, "D", 0.0, 2), (4, "I", 40.0, 3)])
    # same key twice in one batch: compaction must keep seq=5
    land("b1", [(4, "U", 41.0, 4), (4, "U", 42.0, 5), (1, "D", 0.0, 6)])

    stream = (
        spark.readStream.schema("k int, op string, v double, seq long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    sinks.run_cdc_apply(
        stream,
        target_path,
        key="k",
        checkpoint_dir=str(tmp_path / "ckpt"),
        ordering_col="seq",
    )
    got = {r["k"]: r["v"] for r in spark.read.parquet(target_path).collect()}
    assert got == {2: 25.0, 4: 42.0}
    _assert_target_unshuffled(_merge_final_plans(spark, target_path), 2)

    # a source that reports no size statistics: one batch, values 0..9
    rate_target = str(tmp_path / "rate_target")
    spark.createDataFrame(
        [(k, -1.0) for k in range(6)], "k long, v double"
    ).write.parquet(rate_target)
    rate = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 10)
        .load()
    )
    sinks.run_cdc_apply(
        rate.select(
            (F.col("value") % 4).alias("k"),
            F.lit("U").alias("op"),
            F.col("value").cast("double").alias("v"),
            F.col("value").alias("seq"),
        ),
        rate_target,
        key="k",
        checkpoint_dir=str(tmp_path / "rate_ckpt"),
        ordering_col="seq",
    )
    got = {r["k"]: r["v"] for r in spark.read.parquet(rate_target).collect()}
    assert got == {0: 8.0, 1: 9.0, 2: 6.0, 3: 7.0, 4: -1.0, 5: -1.0}
    _assert_target_unshuffled(_merge_final_plans(spark, rate_target), 1)
