"""Window / ranking operators (SURVEY.md §2.7 — absent from the reference,
required for capability-parity-plus).

All are thin wrappers over ``pyspark.sql.Window``: one shuffle on the
partition keys, sort within partitions, no driver involvement. Ordering
columns should include a unique tiebreaker (we require it for top-k) so
results are deterministic — essential for oracle parity and for reproducible
pipelines at scale.
"""

from __future__ import annotations

from collections.abc import Sequence

from etl_io_spark.functions.numeric import round_pz  # noqa: E402
from pyspark.sql import Column, DataFrame, Window, functions as F

from etl_io_spark.caching import persist_tracked


def top_k_per_group(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    k: int,
    rank_alias: str = "rn",
) -> DataFrame:
    """Top-k rows per group via ``row_number`` over a window.

    ``order_by`` must be deterministic (include a unique tiebreaker).
    Spark evaluates this with a single hash shuffle on the group keys and
    a per-partition sort; with AQE, skewed groups split automatically.
    """
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return (
        df.withColumn(rank_alias, F.row_number().over(w))
        .where(F.col(rank_alias) <= k)
    )


def running_agg(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column | str],
    col: str,
    alias: str,
    fn=F.sum,
) -> DataFrame:
    """Running aggregate (cumulative sum by default) within each group."""
    w = (
        Window.partitionBy(*partition_by)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(alias, fn(col).over(w))


def lag_lead(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column | str],
    col: str,
    offset: int = 1,
    alias: str | None = None,
) -> DataFrame:
    """lag (offset>0) / lead (offset<0) within each group."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    fn = F.lag(col, offset) if offset > 0 else F.lead(col, -offset)
    return df.withColumn(alias or f"{col}_lag{offset}", fn.over(w))


def sessionize(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    gap: str = "30 minutes",
) -> DataFrame:
    """Event-level sessionization: assign every event a per-key session
    ordinal (``session_id`` starting at 1) that increments whenever the
    gap since the key's previous event exceeds ``gap``. The assignment
    twin of the session *aggregate* (streaming/windows.session_agg) —
    downstream per-session analyses (funnels within sessions, session
    joins) need the label on the event, not the rollup.

    One hash shuffle on ``key_col`` and one per-partition sort serve both
    window passes (lag + running sum share the frame), so the cost equals
    a single keyed window at any scale; no driver involvement, skewed
    keys split by AQE."""
    w = Window.partitionBy(key_col).orderBy(ts_col)
    prev = F.lag(ts_col).over(w)
    new_session = (
        prev.isNull()
        | (F.col(ts_col) > prev + F.expr(f"INTERVAL {gap}"))
    ).cast("int")
    run = (
        Window.partitionBy(key_col)
        .orderBy(ts_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(
        "session_id", F.sum(new_session).over(run).cast("bigint")
    )


def rolling_zscore(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column | str],
    col: str,
    lookback: int = 20,
    round_to: int = 4,
) -> DataFrame:
    """Rolling z-score anomaly detection: each row's value scored against
    the mean/sample-stddev of its ``lookback`` PRECEDING rows (the row
    itself excluded, so an outlier can't mask itself). The standard
    streaming-metrics anomaly primitive, expressed as one keyed window —
    a single hash shuffle on ``partition_by``, per-partition sort, frame
    aggregates inside the window operator. ``order_by`` must include a
    unique tiebreaker for deterministic frames.

    ``zscore`` is NULL until 2 preceding rows exist or when the trailing
    stddev is 0; ``is_anomaly`` flags |z| > 3 on the rounded score (exact
    comparison, no float-edge dependence on unrounded bits)."""
    # keyed parallelize (r13-opt, VERDICT r12 ask #7): the per-key frame
    # aggregates (rolling mean + stddev over 20-row frames) are
    # CPU-heavy per byte, and AQE's byte-sized coalescing hands the
    # whole sorted window stage to ~2 tasks at small shuffle sizes. The
    # pinned keyed exchange substitutes for the window's own exchange
    # (same shuffle volume) and keeps task-count parallelism; strict
    # no-op at scale, where byte-sizing already yields it. Interleaved
    # A/B median of 7 at sf0.1: 1.07 -> 0.48 s (7/7 pairwise). The
    # sessionize site measured a WASH-to-loss under the same A/B (its
    # downstream basket shuffle dominates) and stays unpinned.
    from etl_io_spark.partitioning import parallelize

    df = parallelize(df, keys=partition_by)
    w = (
        Window.partitionBy(*partition_by)
        .orderBy(*order_by)
        .rowsBetween(-lookback, -1)
    )
    mean = F.avg(col).over(w)
    sd = F.stddev_samp(col).over(w)
    z = round_pz(
        F.when(sd > 0, (F.col(col) - mean) / sd), round_to
    )
    return df.withColumn("zscore", z).withColumn(
        "is_anomaly", F.when(z.isNotNull(), F.abs(z) > 3)
    )


def funnel_steps(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    steps: Sequence[str],
    within: str | None = None,
) -> DataFrame:
    """Ordered-step funnel: for every entity that performed ``steps[0]``,
    the earliest timestamp of each subsequent step that happened strictly
    AFTER the previous chosen step (and, if ``within`` is set, no later
    than ``previous + within``), plus the completion ``depth``. The
    standard product-analytics conversion query (view → click → purchase).

    One filtered aggregate per step, chained by equi-joins on the entity
    key — every shuffle is keyed by ``user_col`` and each step's input is
    pre-filtered to one event type (predicate reaches the scan), so cost
    is steps × (filtered scan + keyed join), never a cross join or a
    per-entity sort. Partial completions survive via left joins: depth =
    number of steps reached. Deterministic: each step takes MIN(ts).
    """
    t1 = F.col(ts_col).alias("__ts")
    chain = (
        df.where(F.col(type_col) == steps[0])
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("t1"))
    )
    stages = [chain]
    for k in range(2, len(steps) + 1):
        prev = stages[-1]
        ev = df.where(F.col(type_col) == steps[k - 1]).select(
            F.col(user_col), t1
        )
        cond = F.col("__ts") > F.col(f"t{k-1}")
        if within is not None:
            cond = cond & (
                F.col("__ts")
                <= F.col(f"t{k-1}") + F.expr(f"INTERVAL {within}")
            )
        stages.append(
            ev.join(prev, user_col)
            .where(cond)
            .groupBy(user_col)
            .agg(F.min("__ts").alias(f"t{k}"))
        )
    out = stages[0]
    for k, s in enumerate(stages[1:], start=2):
        out = out.join(s, user_col, "left")
    depth = F.lit(1)
    for k in range(2, len(steps) + 1):
        depth = F.when(F.col(f"t{k}").isNotNull(), F.lit(k)).otherwise(depth)
    return out.select(
        user_col,
        *[f"t{k}" for k in range(1, len(steps) + 1)],
        depth.cast("int").alias("depth"),
    )


def event_path_ngrams(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    event_col: str,
    tiebreak_col: str,
    n: int = 3,
    k: int = 20,
) -> DataFrame:
    """Sequential path mining: the top-``k`` most common ``n``-step event
    sequences across entities (the "view > click > purchase" report).

    One groupBy per entity collects the (ts, tiebreak, event) structs and
    sorts them IN the aggregate row (``array_sort`` on struct ordering —
    map-side after one keyed shuffle, never a global sort); per-entity
    n-grams are then assembled positionally and exploded, and one final
    partial-agg count + TakeOrdered produces the ranking. Entity
    sequences live in one array each, so memory is bounded by the
    longest entity history, not the table."""
    ordered = (
        df.groupBy(key_col)
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col(ts_col).alias("t"),
                        F.col(tiebreak_col).alias("tb"),
                        F.col(event_col).alias("e"),
                    )
                )
            ).alias("__seq")
        )
        .select(
            F.col(key_col),
            F.transform("__seq", lambda s: s["e"]).alias("__ev"),
        )
    )
    sz = F.size("__ev")
    grams = ordered.where(sz >= n).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), sz - (n - 1)),
                lambda i: F.concat_ws(
                    " > ", *[F.element_at("__ev", i + j) for j in range(n)]
                ),
            )
        ).alias("path")
    )
    return (
        grams.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), "path")
        .limit(k)
    )


def transition_matrix(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    state_col: str,
    tiebreak_col: str,
    round_to: int = 6,
) -> DataFrame:
    """First-order Markov transition matrix over per-entity event
    sequences: for every ordered (from_state → to_state) step, its count
    and conditional probability ``P(to | from)`` — the behavioral-model
    summary behind next-event prediction and anomalous-flow detection.

    One keyed window (lead over the entity's timeline — deterministic via
    the unique tiebreak) emits steps map-side; one partial-aggregable
    groupBy counts them; the per-from normalization is a window over the
    COUNTED matrix (states², not events), so the fact is shuffled once.
    """
    from pyspark.sql import Window as W

    w = W.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    steps = (
        df.withColumn("__next", F.lead(state_col).over(w))
        .where(F.col("__next").isNotNull())
        .select(F.col(state_col).alias("from_state"), F.col("__next").alias("to_state"))
    )
    counts = steps.groupBy("from_state", "to_state").agg(
        F.count(F.lit(1)).alias("n")
    )
    per_from = W.partitionBy("from_state")
    return counts.select(
        "from_state",
        "to_state",
        "n",
        F.round(F.col("n") / F.sum("n").over(per_from), round_to).alias("p"),
    )


def funnel_latency(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    steps: Sequence[str],
    within: str | None = None,
    round_to: int = 6,
) -> DataFrame:
    """Step-latency summary on top of ``funnel_steps``: per transition
    (step k → step k+1), how many entities converted and the DISCRETE
    median / p90 seconds they took — where funnels stall, not just where
    they leak. Discrete quantiles (``quantile_disc`` rank selection over
    integer microseconds) are pure selections, so differential engines
    agree bit-for-bit with no interpolation arithmetic.

    Shape: the funnel chain's keyed joins, then one melt (map-side) to
    (transition, Δt) rows and one window-sort per transition — the
    quantile input is conversions only, already a sliver of the fact.
    """
    from pyspark.sql import Window as W

    # the chain feeds one melt branch per transition — cache it so the
    # step joins run once, not once per transition
    fs = persist_tracked(funnel_steps(df, user_col, ts_col, type_col, steps, within))
    parts = []
    for k in range(1, len(steps)):
        dt = F.unix_micros(F.col(f"t{k + 1}")) - F.unix_micros(F.col(f"t{k}"))
        parts.append(
            fs.where(F.col(f"t{k + 1}").isNotNull()).select(
                F.lit(f"{steps[k - 1]}->{steps[k]}").alias("transition"),
                dt.alias("__dt_us"),
            )
        )
    un = parts[0]
    for p in parts[1:]:
        un = un.unionAll(p)
    w = W.partitionBy("transition").orderBy("__dt_us")
    part = W.partitionBy("transition")
    n = F.count(F.lit(1)).over(part)
    ranked = un.withColumn("__rn", F.row_number().over(w)).withColumn(
        "__n", n
    )

    def _disc(q: float, name: str):
        # DuckDB quantile_disc rank convention: ceil(n·q) (1-based).
        # Note this equals floor((n-1)·q)+1 at q=0.5 but NOT at q=0.9.
        tgt = F.ceil(F.col("__n") * F.lit(q))
        sel = F.min(F.when(F.col("__rn") == tgt, F.col("__dt_us")))
        return F.round(sel / F.lit(1_000_000.0), round_to).alias(name)

    return ranked.groupBy("transition").agg(
        F.count(F.lit(1)).alias("n_converted"),
        _disc(0.5, "median_s"),
        _disc(0.9, "p90_s"),
    )


def session_entry_exit(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    type_col: str,
    id_col: str,
    gap: str = "30 minutes",
    round_to: int = 6,
) -> DataFrame:
    """Landing/exit-page analytics over sessionized events: for every
    (entry_type, exit_type) combination, the number of sessions, the
    bounce count (single-event sessions) and their shares — the classic
    web-analytics entry/exit matrix, generalized to any event stream.

    Rides :func:`sessionize` (one keyed shuffle); the per-session
    entry/exit reduce via ``min_by``/``max_by`` over (ts, id) is
    partial-aggregable (no second window sort), and the final matrix is
    states² rows with shares computed against a 1-row broadcast total.
    Tie-breaks on (ts, id) keep both engines deterministic when events
    share a timestamp. Shares are int/int ratios → floor-form rounding.
    """
    from etl_io_spark.functions.numeric import round_floor

    sess = sessionize(df, key_col, ts_col, gap)
    order_key = F.struct(F.col(ts_col), F.col(id_col))
    per_session = sess.groupBy(key_col, "session_id").agg(
        F.min_by(type_col, order_key).alias("entry_type"),
        F.max_by(type_col, order_key).alias("exit_type"),
        F.count(F.lit(1)).alias("__n_events"),
    )
    matrix = per_session.groupBy("entry_type", "exit_type").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum((F.col("__n_events") == 1).cast("int")).alias("n_bounces"),
    )
    total = matrix.agg(F.sum("n_sessions").alias("__tot"))
    return matrix.crossJoin(total).select(
        "entry_type",
        "exit_type",
        "n_sessions",
        F.col("n_bounces").cast("bigint").alias("n_bounces"),
        round_floor(
            F.col("n_sessions") / F.col("__tot").cast("double"), round_to
        ).alias("session_share"),
        round_floor(
            F.col("n_bounces") / F.col("n_sessions").cast("double"), round_to
        ).alias("bounce_rate"),
    )


def multi_touch_attribution(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    conversion_type: str = "purchase",
    lookback_seconds: int = 7 * 86400,
) -> DataFrame:
    """U-shaped (position-based) multi-touch conversion attribution:
    every non-conversion touch is assigned to the user's NEXT conversion
    within ``lookback_seconds`` (an as-of-forward match — each touch
    credits exactly one conversion), then the conversion's credit is
    split across its ordered touches: a lone touch takes it all, two
    touches split evenly, three-plus give 40% to the first, 40% to the
    last, and 20% shared across the middles. Returns per touch type:
    ``n_touches`` and total fractional ``credit`` (conversions).

    Credit is computed in integer BASIS POINTS (10000 = one
    conversion) with the largest-remainder method for the middle share
    (each middle gets ``2000 div (n-2)``; the remainder goes one
    basis point apiece to the earliest middles) — attribution stays an
    exact integer partition of 10000 per conversion, sums are exact in
    any order on any engine, and the single divide-by-10000 at output
    is the same IEEE op everywhere. No float-summation-order exposure.

    Plan — a single scan, a single data-sized exchange: conversions and
    touches come from the SAME table, so the as-of forward assignment
    inlines as one carry window over all events (``joins.asof_join``'s
    union trick without the union): order (user, ts DESC, conv-side
    first, id DESC) and carry the last conversion (ts, id) struct —
    at equal timestamps the touch still sees the conversion (side
    ordering) and the carried struct is the MIN-id conversion (id DESC
    puts it last in scan order), matching the oracle's per-(user, ts)
    dedup without a groupBy. The rank/count windows then partition by
    (user, conv) — conv is functionally dependent on user, so the
    subset rule reuses the same exchange. Total: 1 exchange + 2 sorts
    (carry order, position order) + a partial-aggregable groupBy(type);
    vs the compose-from-asof_join form this drops a second scan, the
    union, and a conversions-dedup exchange (BASELINE.md r11 A/B). No
    fan-out, no range join, no driver collect."""
    is_conv = F.col(type_col) == conversion_type
    # NULL users/timestamps/types are excluded explicitly to mirror what
    # the SQL mirror does implicitly (a NULL join key or NULL ts
    # comparison never matches; WHERE event_type <> 'purchase' drops
    # NULL types) — Spark's Window.partitionBy would instead group all
    # NULL users TOGETHER, and a NULL type falls through
    # F.when(is_conv, 0).otherwise(1) to the TOUCH side, fabricating a
    # touch_type=NULL output group (r11 self-review + r11 ADVICE catch)
    events = events.where(
        F.col(user_col).isNotNull()
        & F.col(ts_col).isNotNull()
        & F.col(type_col).isNotNull()
    )
    ev = events.select(
        F.col(user_col),
        F.col(ts_col),
        F.col(type_col),
        F.col(id_col),
        F.when(is_conv, 0).otherwise(1).alias("__side"),
        F.when(
            is_conv,
            F.struct(
                F.col(ts_col).alias("__cts"), F.col(id_col).alias("__cid")
            ),
        ).alias("__p"),
    )
    wcarry = (
        Window.partitionBy(user_col)
        .orderBy(
            F.col(ts_col).desc(), F.col("__side").asc(), F.col(id_col).desc()
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    gap = F.unix_micros(F.col("__c.__cts")) - F.unix_micros(F.col(ts_col))
    m = (
        ev.withColumn("__c", F.last("__p", ignorenulls=True).over(wcarry))
        .where(
            (F.col("__side") == 1)
            & F.col("__c").isNotNull()
            & (gap <= F.lit(int(lookback_seconds) * 1_000_000))
        )
        .withColumn("__conv_id_asof", F.col("__c.__cid"))
    )
    wc = Window.partitionBy(user_col, "__conv_id_asof")
    wo = wc.orderBy(F.col(ts_col).asc(), F.col(id_col).asc())
    # the count rides the SAME ordered spec with a full frame (identical
    # value to an unordered partition count) so both windows share one
    # sort — an unordered count spec forced its own (user, conv) sort
    n = F.count(F.lit(1)).over(
        wo.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    rn = F.row_number().over(wo)
    mid_share = F.expr("2000 DIV (__n - 2)")
    mid_extra = F.when(
        F.col("__rn") - 1 <= F.lit(2000) % (F.col("__n") - F.lit(2)), 1
    ).otherwise(0)
    bp = (
        F.when(F.col("__n") == 1, 10000)
        .when(F.col("__n") == 2, 5000)
        .when(F.col("__rn") == 1, 4000)
        .when(F.col("__rn") == F.col("__n"), 4000)
        .otherwise(mid_share + mid_extra)
    )
    return (
        m.withColumn("__n", n)
        .withColumn("__rn", rn)
        .withColumn("__bp", bp.cast("bigint"))
        .groupBy(F.col(type_col).alias("touch_type"))
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            (F.sum("__bp") / F.lit(10000.0)).alias("credit"),
        )
    )
