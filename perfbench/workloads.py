"""The benchmark's workloads: which ops each one runs, and how an op is
built, executed and verified.

Every op runs in three phases, each a call into the engine's public API:
``build`` (plan construction, e.g. ``registry.queries()[key](spark, sf)``),
``act`` (the action that materializes or writes the output) and the drain
(``caching.drain_persisted`` plus ``clearCache``) that the runner applies
after each op.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass, field
from functools import cached_property

from pyspark.sql import functions as F

from etl_io_spark import registry
from etl_io_spark.catalog import TableCatalog
from etl_io_spark.sources import writers
from etl_io_spark.streaming import sinks, windows

from verify import compare, spark_rows

#: relational/ETL keys sent to the noop sink. NOTES.md lists the keys of
#: each family left out of these lists to fit the run-time budget.
ETL_QUERY_MIX = [
    "pricing_summary", "awards_pipeline", "translate_crosswalk",
    "pivot_returnflag", "one_hot_priority", "semi_join_filter",
    "window_topk_per_group", "shipping_priority", "market_share_nation",
    "sql_passthrough", "asof_join_events", "percentiles_by_flag",
]
#: fixed-iteration loop keys sent to the noop sink
ITERATIVE_LOOPS = [
    "pagerank_trade_graph", "kcore_trade_graph", "triangle_count_cosuppliers",
    "assortativity_trade",
]
#: corpus keys whose outputs are written with ``write_parquet``
CORPUS_KEYS = ["dedup_minhash_lsh", "gopher_rules_docs"]

#: small event files compacted by ``compact_parquet``
N_SMALL_FILES = 64
#: event files the stream reads, and how many it takes per trigger
N_STREAM_FILES = 6
STREAM_FILES_PER_TRIGGER = 2


@dataclass
class Ctx:
    """What ops share within one run."""

    spark: object
    sf_dir: str
    out_dir: str
    small_dir: str
    stream_dir: str
    n_orders: int
    queries: dict = field(default_factory=registry.queries)
    stream_runs: int = 0

    @cached_property
    def cat(self) -> TableCatalog:
        return TableCatalog(self.spark, self.sf_dir, register_views=False)


@dataclass
class Result:
    """What an op's action leaves behind for metrics and verification."""

    rows: tuple | None = None          # captured (columns, rows)
    paths: list[str] = field(default_factory=list)   # written outputs
    progress: list[dict] = field(default_factory=list)  # micro-batches
    run_id: str | None = None          # streaming query's job group
    pruned_count: int | None = None


class QueryOp:
    """A registry key sent to the noop sink (or collected, when the
    runner captures outputs for verification)."""

    kind = "query"

    def __init__(self, key: str) -> None:
        self.name = key

    def build(self, ctx: Ctx):
        return ctx.queries[self.name](ctx.spark, ctx.sf_dir)

    def act(self, ctx: Ctx, df, capture: bool) -> Result:
        if capture:
            return Result(rows=spark_rows(df))
        df.write.format("noop").mode("overwrite").save()
        return Result()

    def verify(self, ctx: Ctx, oracle, res: Result) -> str | None:
        return compare(res.rows, oracle.rows(registry.oracle_sql()[self.name]))


class CorpusOp(QueryOp):
    """A registry key whose output is written with ``write_parquet`` and
    verified by reading the files back."""

    kind = "corpus"

    def act(self, ctx: Ctx, df, capture: bool) -> Result:
        path = os.path.join(ctx.out_dir, self.name)
        return Result(paths=[writers.write_parquet(df, path)])

    def verify(self, ctx: Ctx, oracle, res: Result) -> str | None:
        back = spark_rows(ctx.spark.read.parquet(res.paths[0]))
        return compare(back, oracle.rows(registry.oracle_sql()[self.name]))


class TableWriteOp:
    """A writer from ``sources.writers`` applied to one base table;
    verified by reading the written files back against the source."""

    kind = "write"

    def __init__(self, name: str, table: str) -> None:
        self.name, self.table = name, table

    def build(self, ctx: Ctx):
        return ctx.cat.table(self.table)

    def _lo_hi(self, ctx: Ctx) -> tuple[int, int]:
        lo = ctx.n_orders // 3
        return lo, lo + max(1, ctx.n_orders // 50)

    def act(self, ctx: Ctx, df, capture: bool) -> Result:
        path = os.path.join(ctx.out_dir, self.name)
        if self.name == "write_parquet":
            writers.write_parquet(df, path,
                                  partition_by=("l_returnflag", "l_linestatus"))
        elif self.name == "write_zordered":
            writers.write_zordered(df, path, "l_partkey", "l_suppkey")
        elif self.name == "write_sorted":
            writers.write_sorted(df, path, ["o_orderkey"])
            lo, hi = self._lo_hi(ctx)
            n = (ctx.spark.read.parquet(path)
                 .where(F.col("o_orderkey").between(lo, hi)).count())
            return Result(paths=[path], pruned_count=n)
        return Result(paths=[path])

    def verify(self, ctx: Ctx, oracle, res: Result) -> str | None:
        problem = oracle.table_diff(res.paths[0], self.table)
        if problem is None and res.pruned_count is not None:
            lo, hi = self._lo_hi(ctx)
            (want,), = oracle.rows(
                f"SELECT count(*) FROM orders WHERE o_orderkey BETWEEN {lo} AND {hi}"
            )[1]
            if res.pruned_count != want:
                problem = f"pruned read-back got={res.pruned_count} want={want}"
        return problem


class CompactOp:
    """``compact_parquet`` over the small event files made in set-up."""

    kind = "write"
    name = "compact_parquet"

    def build(self, ctx: Ctx):
        return None

    def act(self, ctx: Ctx, _df, capture: bool) -> Result:
        path = os.path.join(ctx.out_dir, self.name)
        writers.compact_parquet(ctx.spark, ctx.small_dir, path)
        return Result(paths=[path])

    def verify(self, ctx: Ctx, oracle, res: Result) -> str | None:
        return oracle.table_diff(res.paths[0], "events")


class StreamOp:
    """File-stream ingest: the catalog's ``table_stream`` over the event
    files (the raw parquet schema plus the catalog's timestamp handling, so
    stream and batch plans are twins), a watermarked ``tumbling_agg``,
    drained into ``run_to_parquet_sink`` with a fresh checkpoint."""

    kind = "stream"
    name = "stream_ingest"

    def build(self, ctx: Ctx):
        stream = ctx.cat.table_stream("events", ctx.stream_dir,
                                      STREAM_FILES_PER_TRIGGER)
        return windows.tumbling_agg(stream, watermark="1 minute")

    def act(self, ctx: Ctx, agg, capture: bool) -> Result:
        ctx.stream_runs += 1
        base = os.path.join(ctx.out_dir, self.name, f"run{ctx.stream_runs}")
        prev = os.path.join(ctx.out_dir, self.name, f"run{ctx.stream_runs - 1}")
        shutil.rmtree(prev, ignore_errors=True)
        out, ckpt = os.path.join(base, "out"), os.path.join(base, "ckpt")
        q = sinks.run_to_parquet_sink(agg, out, ckpt)
        try:
            err = q.exception()
            if err is not None:
                raise RuntimeError(f"stream failed: {err}")
            progress = [_progress(p) for p in q.recentProgress]
        finally:
            q.stop()
        return Result(paths=[out, ckpt], progress=progress, run_id=str(q.runId))

    def verify(self, ctx: Ctx, oracle, res: Result) -> str | None:
        got = {tuple(r) for r in ctx.spark.read.parquet(res.paths[0]).collect()}
        if not got:
            return "stream sink wrote no rows"
        want = {tuple(r) for r in
                windows.tumbling_agg(ctx.cat.table("events")).collect()}
        extra = got - want
        if extra:
            return f"{len(extra)} stream rows not in the batch twin"
        return None


def _progress(p) -> dict:
    """The fields of one StreamingQueryProgress the benchmark uses."""
    d = json.loads(p.json)
    return {
        "timestamp": d["timestamp"],
        "duration_ms": d.get("durationMs", {}),
        "state_rows": sum(s.get("numRowsTotal", 0)
                          for s in d.get("stateOperators", [])),
        "input_rows": d.get("numInputRows", 0),
    }


def ops_for(workload: str) -> list:
    if workload == "etl_query_mix":
        return [QueryOp(k) for k in ETL_QUERY_MIX]
    if workload == "iterative_loops":
        return [QueryOp(k) for k in ITERATIVE_LOOPS]
    if workload == "corpus_ingest":
        return [CorpusOp(k) for k in CORPUS_KEYS] + [
            TableWriteOp("write_parquet", "lineitem"),
            TableWriteOp("write_sorted", "orders"),
            TableWriteOp("write_zordered", "lineitem"),
            CompactOp(),
            StreamOp(),
        ]
    raise ValueError(f"unknown workload {workload!r}")


#: ``etl_query_mix`` runs but is not in BENCHMARK.json (see NOTES.md)
WORKLOADS = ("iterative_loops", "corpus_ingest", "etl_query_mix")
