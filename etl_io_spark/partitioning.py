"""Two construction-time policies, each stated once: :func:`parallelize`
(how many tasks a compute-heavy stage gets) and :func:`fits_budget`
(whether an input is small enough to ship whole: :func:`broadcaster`
hints ``F.broadcast`` on the sides an operator derives from it, the
graph loops run every iteration in :func:`one_task`, and the layout
writers sort a scan in one task), plus :func:`gather`, which brings a
relation into one partition without an exchange.

Motivation (scale): Spark parallelizes a parquet scan by file splits, and a
split can't be finer than a row group. A big table written as few row
groups therefore scans as few tasks — and any CPU-heavy map chained onto
that scan (md5 shingling, regex extraction, embedding arithmetic, pandas
UDFs) underuses the cluster no matter how many cores exist. Likewise AQE
coalesces a small shuffle by BYTES, so a CPU-heavy keyed stage (window
frame aggregates, per-doc collects) over a few MiB lands on ~2 tasks.

``parallelize(df, keys=(), gate=None, floor=MIN_BYTES_PER_PARTITION)``
decides from ``leaf_scan_bytes(gate or df)`` alone — never from an
``.rdd`` partition probe, which under AQE executes upstream query stages
as jobs at plan construction. The whole decision table:

  leaf bytes of gate or df     no keys (round-robin)  with keys
  ---------------------------  ---------------------  -----------------------
  unknown, or >= SCALE_BYTES   df unchanged           df.repartition(*keys),
                                                      count sized by AQE
  below it, n <= 1             df unchanged           df.repartition(c, *keys)
  below it, n > 1              df.repartition(n)      df.repartition(c, *keys)

  where n = min(defaultParallelism, bytes // floor)
        c = min(defaultParallelism, spark.sql.shuffle.partitions)

  * tiny input: an exchange + AQE stage + (for pandas UDFs) a fleet of
    cold Python workers costs far more than single-task execution of
    sub-MiB data — measured 2-8x slower on the sf0.1 bench when spread
    unconditionally.
  * starved middle regime: the round-robin shuffle moves the raw input
    once; the downstream map is 10-100x the input, so a few percent of
    cost buys core-count speedup. A keyed call hash-partitions on the
    downstream window/groupBy key, so the pin REPLACES that operator's
    own exchange (same shuffle volume); its explicit count is exempt from
    AQE coalescing and capped by defaultParallelism, so a stock cluster's
    200 shuffle partitions never pins a small relation to 200 tasks.
  * scale (or unknown stats, which read huge): scans already have >=
    core-count splits and AQE's byte-sizing yields full parallelism, so
    round-robin is a no-op and a keyed call keeps the same hash
    partitioning (no extra exchange downstream) at an AQE-sized count.

Pass the operator's ORIGINAL source relation as ``gate`` when ``df`` sits
over joins or caches whose leaves differ from what the work scales with.
``floor`` is the useful work per added partition: the generic
``MIN_BYTES_PER_PARTITION``, or ``CPU_HEAVY_FLOOR`` for maps costing ~100x
the scan per byte (regex batteries, shingling, vector pair joins).

``fits_budget(gate)`` reads the same leaf stats against the session's
``broadcast_budget_bytes``: ``0 < budget and bytes <= budget``. It has
two uses. ``broadcaster(gate)`` returns the hint every broadcast side of
one operator call takes, and a graph operator (``operators/graph.py``:
pagerank, k_core, hits, label_propagation, triangle_stats,
degree_assortativity) whose input fits hands its whole edge list to
``one_task`` — gathered into one partition without a shuffle, then the
whole computation inside one numpy task — instead of a Spark stage
chain.
A join side is broadcast for one of two reasons, and this is the whole
decision table:

  side                                          hint
  --------------------------------------------  -----------------------
  Catalyst's own estimate is within             none: JoinSelection
  autoBroadcastJoinThreshold (one-row           broadcasts it by size
  aggregates, nation/region and other small
  scans, Range grids)
  passed through broadcaster(gate), leaf bytes
  of gate:
    0 < budget and bytes <= budget              F.broadcast
    bytes > budget, or unknown stats (read      identity (AQE decides)
    huge)
    budget 0 (autoBroadcastJoinThreshold=-1)    identity (AQE decides)

  * Catalyst-sized: a side whose optimized-plan estimate is accurate
    (a scan, a one-row aggregate) needs no hint, and at scale Catalyst
    stops broadcasting it exactly when it stops fitting. A side whose
    estimate a join inflates (customer ⋈ nation reads as GBs) or cannot
    know (a createDataFrame leaf) would lose its broadcast or flip its
    build side without a hint; it goes through ``broadcaster`` with the
    base table it derives from as the gate.

  * below the budget: the input scan bounds every side an operator
    derives from it up to a small constant factor — a degree, rank or
    label table, a per-doc array relation or a bigram model never has
    more rows than the input that produced it — so the hint stays far
    under the driver's hard broadcast limit, and it keeps the iterative
    loops' zero-exchange shapes (a |V|-row side streams in as a
    broadcast build each round instead of a shuffle of the |E|-row
    side).
  * above it (or unknown): no static hint. AQE re-plans each join at
    runtime from the MATERIALIZED stage size and still broadcasts a side
    that turns out small (lm_cross_entropy's model join at 10x data:
    one BroadcastHashJoin with the hint off, an interleaved wash against
    the forced hint) — exact sizing that a static estimate cannot beat,
    and nothing can abort at the driver's broadcast limit on a 100 TB
    input.
  * disabled: a session that turned auto-broadcast off gets no hint at
    all; its one-row cross joins plan as a cartesian product or
    sort-merge join, with the same rows.

Call ``broadcaster`` once per operator call, on the operator's own
input, before any loop, and pass every broadcast side through the
returned function.

The same rule sizes ``one_task``: an input that may be broadcast may
also be gathered into one task, and a session that disabled broadcast
or an input over the budget (or with unknown stats) keeps the
distributed loop.

``gather(df)`` is ``df.coalesce(1)``: the stage that produces ``df``
runs as one task and hands its rows on with no exchange, where
``repartition(1)`` would write every row to shuffle files and read them
back. The price is that producing stage's parallelism: a gathered input
fits the budget, so that is single-task work on at most the budget's
leaf bytes, but a costly producing stage shows it (the sf0.1 trade
graph's join + distinct: pagerank and k_core ~8% slower than behind a
shuffle, while every other gathered operator tied or won). The layout
writers therefore gather only a bare scan (projected or filtered). Over
the budget callers keep their distributed plans. A literal
``coalesce(1)`` or ``repartition(1)`` appears in this module only (a
source guard in the tests keeps it so); ``compact_parquet``'s
``coalesce(n)`` reaches one file too when ``n`` is 1, by merging scan
splits.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from typing import TYPE_CHECKING

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import StructType

if TYPE_CHECKING:
    import pandas as pd
    import pyarrow as pa

#: floor on useful work per added partition; below this, exchange + task
#: scheduling overhead exceeds the parallelism gain for any map we ship.
MIN_BYTES_PER_PARTITION = 8 * 1024 * 1024

#: compressed-bytes-per-partition floor for CPU-heavy maps. Parquet zstd
#: compresses prose ~5-10x AND the regex/shingle/pair maps cost ~100x the
#: scan per byte, so the generic 8 MiB floor leaves such scans single-task
#: until ~tens of MiB compressed — measured 2.8 s -> 0.6 s on the sf0.1
#: langid confusion query once the map spreads.
CPU_HEAVY_FLOOR = 32 * 1024

#: leaf bytes at and above which a relation is in the scale regime: its
#: scan already carries parallelism and AQE sizes its shuffles.
SCALE_BYTES = 1 << 30


def shuffle_parallelism(df: DataFrame) -> int:
    """``spark.sql.shuffle.partitions`` as an int, tolerating non-numeric
    values — some distributions set it to ``auto`` (Databricks AQE), which
    would make a bare ``int(conf.get(...))`` raise at plan-construction
    time (ADVICE r6). Falls back to the cluster's defaultParallelism."""
    raw = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    try:
        return int(raw)
    except (TypeError, ValueError):
        return df.sparkSession.sparkContext.defaultParallelism


def leaf_scan_bytes(df: DataFrame) -> int:
    """Summed Catalyst size of the optimized plan's LEAVES — i.e. the
    bytes the plan actually reads, before join/project inflation.

    The optimized plan's own size estimate is useless as a scale gate on
    a post-join plan: join estimates multiply (measured 20 GiB for a
    97k-row edge relation at sf0.01). Leaf stats are file-accurate for
    parquet scans and row-accurate for local/cached relations, so "how much source does
    this plan consume" is the honest no-job proxy for its scale regime.
    A leaf with an unknown estimate (Catalyst's 8 EiB-class default)
    makes the whole result unknown-large — callers gating a
    scale-protective choice (persist, checkpoint) should then take the
    protective branch."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    total = 0
    for i in range(leaves.size()):
        total += int(str(leaves.apply(i).stats().sizeInBytes()))
    return total


_SIZE_SUFFIXES = {"k": 1024, "m": 1024**2, "g": 1024**3, "t": 1024**4}


def broadcast_budget_bytes(df: DataFrame) -> int:
    """The session's ``spark.sql.autoBroadcastJoinThreshold`` in bytes —
    the budget a plan-construction-time broadcast decision should honor.
    Tolerates the suffixed forms the conf accepts (``10MB``, ``64m``) and
    returns 0 when auto-broadcast is disabled (``-1``) or unparsable, so
    callers gate conservatively."""
    raw = str(
        df.sparkSession.conf.get(
            "spark.sql.autoBroadcastJoinThreshold", "10485760"
        )
    ).strip().lower().removesuffix("b")
    mult = 1
    if raw and raw[-1] in _SIZE_SUFFIXES:
        mult = _SIZE_SUFFIXES[raw[-1]]
        raw = raw[:-1]
    try:
        return max(0, int(raw) * mult)
    except (TypeError, ValueError):
        return 0


def parallelize(
    df: DataFrame,
    keys: Sequence[str | Column] = (),
    gate: DataFrame | None = None,
    floor: int = MIN_BYTES_PER_PARTITION,
) -> DataFrame:
    """Apply the module's decision table to ``df``: round-robin without
    ``keys``, hash-partitioned on ``keys`` (names or Columns) with them.
    Probe-free: reads only Catalyst leaf stats, so construction runs no
    Spark job."""
    size = leaf_scan_bytes(gate if gate is not None else df)
    if size >= SCALE_BYTES:
        return df.repartition(*keys) if keys else df
    cores = df.sparkSession.sparkContext.defaultParallelism
    if keys:
        return df.repartition(min(cores, shuffle_parallelism(df)), *keys)
    n = min(cores, size // floor)
    return df.repartition(n) if n > 1 else df


def fits_budget(gate: DataFrame) -> bool:
    """Whether ``gate``'s leaves fit the session broadcast budget (false
    when broadcast is disabled or the stats are unknown). Probe-free:
    reads only Catalyst leaf stats, so construction runs no Spark job."""
    budget = broadcast_budget_bytes(gate)
    return 0 < budget and leaf_scan_bytes(gate) <= budget


def broadcaster(gate: DataFrame) -> Callable[[DataFrame], DataFrame]:
    """Apply the module's broadcast table to ``gate``, the operator's own
    input: ``F.broadcast`` when it fits the budget, else the identity."""
    return F.broadcast if fits_budget(gate) else (lambda df: df)


def gather(df: DataFrame) -> DataFrame:
    """All of ``df`` in one partition, with no exchange: the stage that
    produces it runs as a single task (see the module docstring). Only
    for inputs that pass :func:`fits_budget`."""
    return df.coalesce(1)


def one_task(
    df: DataFrame,
    kernel: Callable[[pa.Table], pd.DataFrame],
    schema: StructType | str,
) -> DataFrame:
    """:func:`gather` all of ``df`` into one partition and run ``kernel``
    once over it as a single Arrow table (an empty one when ``df`` has no
    rows); its pandas result rows follow ``schema``. For inputs that pass
    :func:`fits_budget`, whose whole computation (every iteration of a
    loop, a whole count) is cheaper in one task than as a chain of Spark
    stages. Arrow in, so a kernel reads nulls off validity bitmaps
    instead of extra flag columns. Where Spark proves
    ``df`` empty while planning (a false filter, an empty cached stage),
    it schedules no task and the result has no rows whatever the kernel
    returns."""
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    in_schema, out_schema = to_arrow_schema(df.schema), to_arrow_schema(schema)

    def run(batches):
        import pyarrow as pa

        batches = list(batches)
        table = (
            pa.Table.from_batches(batches) if batches else in_schema.empty_table()
        )
        yield from pa.Table.from_pandas(
            kernel(table), schema=out_schema, preserve_index=False
        ).to_batches()

    return gather(df).mapInArrow(run, schema)
