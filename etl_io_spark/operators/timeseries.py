"""Time-series regularization operators (north-star extension — absent
from the reference, which has no timestamp types at all, SURVEY.md §1.3;
required for the ``events`` table and any metrics/monitoring pipeline).

Everything here is built-in DataFrame ops: the resample grid is generated
*distributed* (``sequence`` + ``explode`` per key — never a driver-side
loop over keys or a collected date range), and gap filling is one keyed
window. At 100 TB the cost profile is: one partial-aggregable groupBy for
last-observation-per-bucket, one groupBy for per-key bounds, one keyed
join, one keyed window — all sharing the entity key, so AQE coalesces
them onto the same partitioning.
"""

from __future__ import annotations

from etl_io_spark.functions.numeric import round_floor, round_pz  # noqa: E402
from pyspark.sql import DataFrame, Window, functions as F


def resample_ffill(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    step: str = "1 hour",
    tiebreak_col: str | None = None,
    round_to: int = 2,
) -> DataFrame:
    """Resample an irregular per-key series onto a fixed ``step`` grid with
    forward fill (last observation carried forward) — the standard
    time-series regularization before joins/models that need aligned
    clocks.

    Per key: the grid spans ``date_trunc(step-unit, min(ts)) ..
    date_trunc(step-unit, max(ts))`` inclusive. Within each bucket the
    LAST observation wins (``max_by`` over (ts, tiebreak), a
    partial-aggregable pick — deterministic given a unique tiebreaker);
    empty buckets carry the most recent earlier bucket's value, with
    ``filled`` marking carried rows.

    Plan shape — the grid NEVER shuffles: one partial-agg groupBy
    collapses rows to observed buckets, one keyed window computes each
    observed bucket's successor (``lead``), and the carry-forward run
    ``[bucket, next_bucket)`` is emitted map-side by
    ``posexplode(sequence(...))`` (pos > 0 == carried). Grid rows exist
    only downstream of the last exchange, so cost scales with
    observations shuffled + grid rows written, not grid rows shuffled —
    the earlier join-grid-then-window formulation shuffled the (often
    10-100x larger) grid twice.

    The unit for truncation is parsed from ``step`` ("1 hour" → HOUR);
    only single-unit steps are supported (that is what keeps bucket
    assignment a pure ``date_trunc``, i.e. map-side)."""
    unit = step.split()[-1].rstrip("s").upper()
    tie = (ts_col, tiebreak_col) if tiebreak_col else (ts_col,)
    bucket = F.date_trunc(unit, F.col(ts_col))
    obs = df.groupBy(
        F.col(key_col), bucket.alias("__bucket")
    ).agg(
        F.expr(
            f"max_by({value_col}, struct({', '.join(tie)}))"
        ).alias("__v")
    )
    w = Window.partitionBy(key_col).orderBy("__bucket")
    step_iv = F.expr(f"INTERVAL {step}")
    run_end = F.coalesce(
        F.lead("__bucket").over(w) - step_iv, F.col("__bucket")
    )
    return (
        obs.withColumn("__end", run_end)
        .select(
            key_col,
            "__v",
            F.posexplode(
                F.sequence("__bucket", "__end", step_iv)
            ).alias("__pos", "bucket_ts"),
        )
        .select(
            key_col,
            "bucket_ts",
            F.round("__v", round_to).alias(value_col),
            (F.col("__pos") > 0).alias("filled"),
        )
    )


def rolling_avg_time(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    window_seconds: int = 3600,
    round_to: int = 4,
) -> DataFrame:
    """Time-based trailing average: for every row, the mean of
    ``value_col`` over the last ``window_seconds`` (inclusive) within the
    same key — a RANGE window over real timestamps, not a row-count
    frame, so irregular event spacing is handled exactly.

    One keyed shuffle + one window sort. The frame is expressed in
    microseconds over ``unix_micros(ts)`` so sub-second event spacing
    still resolves; equal timestamps are frame-peers (RANGE semantics)
    in both Spark and the SQL oracle."""
    w = (
        Window.partitionBy(key_col)
        .orderBy(F.unix_micros(F.col(ts_col)))
        .rangeBetween(-(window_seconds * 1_000_000), 0)
    )
    return df.withColumn(
        f"rolling_avg_{value_col}", F.round(F.avg(value_col).over(w), round_to)
    )


def time_weighted_avg(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Per-key time-weighted average (TWAP): each observation is weighted
    by how long it remained current (the gap to the NEXT observation),
    with the final observation carrying zero weight — the standard
    time-series summary when sampling is irregular (a price held for an
    hour should outweigh ten ticks in a second).

    One keyed window (lead) produces the holding duration map-side and
    one partial-aggregable groupBy folds Σ(v·Δt)/Σ(Δt); keys with a
    single observation — or whose observations all share one timestamp,
    where Σ(Δt)=0 — fall back to the plain average. The Σ(Δt)>0 guard is
    explicit (not a coalesce over the NULL of Spark's non-ANSI divide) so
    the degenerate case agrees with IEEE engines, where 0/0 is NaN, by
    construction."""
    w = Window.partitionBy(key_col).orderBy(F.col(ts_col), F.col(value_col))
    dt = (
        F.unix_micros(F.lead(ts_col).over(w))
        - F.unix_micros(F.col(ts_col))
    ).cast("double")
    base = df.select(
        F.col(key_col), F.col(value_col), dt.alias("__dt")
    )
    return base.groupBy(key_col).agg(
        F.round(
            F.when(
                F.sum("__dt") > 0,
                F.sum(F.col(value_col) * F.col("__dt")) / F.sum("__dt"),
            ).otherwise(F.avg(value_col)),
            round_to,
        ).alias(f"twap_{value_col}"),
        F.count(F.lit(1)).alias("n_obs"),
    )


def trend_slopes(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Per-key least-squares trend of ``value_col`` over time: slope (per
    hour), intercept, fit quality (r²) and n — drift/trend detection per
    entity in ONE partial-aggregable pass (Spark's ``regr_*`` aggregates
    carry the co-moments; no window, no sort, no per-key fitting loop).
    """
    x = (F.unix_micros(F.col(ts_col)) / F.lit(3_600_000_000.0))  # hours
    y = F.col(value_col)
    return df.groupBy(key_col).agg(
        round_pz(F.regr_slope(y, x), round_to).alias("slope_per_hour"),
        round_pz(F.regr_intercept(y, x), round_to).alias("intercept"),
        F.round(F.regr_r2(y, x), round_to).alias("r2"),
        F.count(F.lit(1)).alias("n_obs"),
    )


def impute_group_mean(
    df: DataFrame,
    key_col: str,
    value_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Null imputation with the per-key mean of the NON-null values — the
    baseline feature-cleaning op before models that can't take nulls.

    One unsorted window per key computes the non-null mean (avg skips
    nulls natively) without collapsing rows — a single keyed shuffle, no
    join-back. Keys whose values are ALL null stay null (flagged by
    ``was_imputed`` so downstream can drop or escalate)."""
    w = Window.partitionBy(key_col)
    mean = F.avg(value_col).over(w)
    imputed = F.when(
        F.col(value_col).isNull(), F.round(mean, round_to)
    ).otherwise(F.round(F.col(value_col), round_to))
    return df.withColumn("was_imputed", F.col(value_col).isNull() & mean.isNotNull()).withColumn(
        value_col, imputed
    )


def ewma_score(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    halflife_seconds: float = 86400.0,
    round_to: int = 6,
) -> DataFrame:
    """Per-key exponentially-time-decayed sum of ``value_col`` evaluated
    at the key's LAST event — the recency-weighted engagement/activity
    score: ``s = Σ_j v_j · 2^(-(t_last - t_j)/halflife)``.

    The recursive EWMA is factored into one prefix-free aggregation via
    ``s = e^(-λ(t_last - t_0)) · Σ_j v_j e^(λ(t_j - t_0))`` with ``t_0``
    the per-key min — so the whole thing is ONE keyed window (min ts,
    unsorted) + ONE partial-aggregable groupBy on the same key (a single
    exchange; no per-key sequential scan, no UDF). Timestamps enter as
    exact integer microseconds, so both engines of a differential test
    see bit-identical exp() arguments.

    Range limit: the factorization computes ``exp(λ·(span))`` — finite
    for ``span/halflife < ~700`` half-lives (IEEE double overflow). For
    longer spans, segment the series (e.g. by month) and fold segments
    with one extra decay step; contributions older than ~50 half-lives
    are below double precision relative to the tail either way.
    """
    import math

    lam = math.log(2.0) / float(halflife_seconds)
    w0 = Window.partitionBy(key_col)
    base = df.select(
        F.col(key_col),
        F.col(value_col),
        F.unix_micros(F.col(ts_col)).alias("__tm"),
    ).withColumn("__t0", F.min("__tm").over(w0))
    rel = (F.col("__tm") - F.col("__t0")) / F.lit(1_000_000.0)
    return base.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(
            F.sum(F.col(value_col) * F.exp(F.lit(lam) * rel))
            * F.exp(
                F.lit(-lam)
                * ((F.max("__tm") - F.min("__t0")) / F.lit(1_000_000.0))
            ),
            round_to,
        ).alias("ewma_score"),
    )


def ewma_score_typed(
    df: DataFrame,
    key_col: str,
    type_col: str,
    ts_col: str,
    value_col: str,
    halflife_by: dict[str, float],
    default_halflife: float = 86400.0,
    round_to: int = 6,
) -> DataFrame:
    """Per-(key, type) time-decayed score with a PER-TYPE halflife — the
    second-config composition of :func:`ewma_score` that gives the
    stateful streaming fold (``streaming.stateful.ewma_stream``) a
    driver-visible batch contract: same recursion, same factorization,
    but λ is looked up from the event type instead of fixed.

    λ is constant WITHIN each (key, type) group, so the prefix-free
    factorization of :func:`ewma_score` still applies verbatim with λ
    as a column (``max(λ)`` in the final aggregate reads the group's
    constant). Shape is unchanged: one keyed window (min ts) + one
    partial-aggregable groupBy on the same composite key — a single
    exchange, no UDF, no per-key scan.

    Range limit: inherits :func:`ewma_score`'s ``exp(λ·span)`` overflow
    ceiling (~700 half-lives per IEEE double), but here the ceiling is
    PER TYPE — worst case = the SHORTEST configured halflife. E.g. a
    6-hour ``view`` halflife overflows at a ~6-month (key, type) span,
    far tighter than the 1-day default's ~2-year ceiling. Segment long
    series per the :func:`ewma_score` note, sized for the shortest
    halflife in ``halflife_by`` (``ewma_stream_typed`` shares this
    limit for its per-batch folds).
    """
    import math

    lam_by = {
        t: math.log(2.0) / float(h) for t, h in sorted(halflife_by.items())
    }
    default_lam = math.log(2.0) / float(default_halflife)
    # zero-arg create_map builds a map<void,void> that cannot be probed
    # with a string key — an empty spec means every type gets the default
    mapping = (
        F.create_map(*[F.lit(x) for t, l in lam_by.items() for x in (t, l)])
        if lam_by
        else F.lit(None).cast("map<string,double>")
    )
    w0 = Window.partitionBy(key_col, type_col)
    base = (
        df.select(
            F.col(key_col),
            F.col(type_col),
            F.col(value_col),
            F.unix_micros(F.col(ts_col)).alias("__tm"),
        )
        .withColumn(
            "__lam",
            F.coalesce(
                F.element_at(mapping, F.col(type_col)), F.lit(default_lam)
            ),
        )
        .withColumn("__t0", F.min("__tm").over(w0))
    )
    rel = (F.col("__tm") - F.col("__t0")) / F.lit(1_000_000.0)
    return base.groupBy(key_col, type_col).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(
            F.sum(F.col(value_col) * F.exp(F.col("__lam") * rel))
            * F.exp(
                -F.max("__lam")
                * ((F.max("__tm") - F.min("__t0")) / F.lit(1_000_000.0))
            ),
            round_to,
        ).alias("ewma_score"),
    )


def rolling_distinct(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    window_days: int = 7,
) -> DataFrame:
    """Trailing-window distinct entities per day ("rolling 7-day active
    users"): for each ACTIVE day ``d``, the count of distinct keys with
    at least one event in ``[d - window_days + 1, d]``.

    Spark has no ``count_distinct`` over a RANGE window (per-row set
    state). The r10 form was cover-day fan-out (explode each distinct
    (key, day) pair onto its ``window_days`` cover days, count distinct
    keys per day) — ``window_days x |pairs|`` shuffle rows plus
    count_distinct's dedup exchange; the 100x-events probe measured a
    3.16x 10x->100x marginal against the oracle (BASELINE.md r11).

    The shipped form is an interval SWEEP, fan-out-free: (1) collapse
    events to distinct (key, day) pairs (partial-aggregable groupBy);
    (2) per key, merge overlapping cover intervals ``[d, d+W-1]`` with
    gaps-and-islands — a new island starts when the day gap >= W — so
    each key contributes DISJOINT covered intervals; (3) emit +1 at
    each interval's start day and -1 the day after it ends, aggregate
    deltas per day (tiny: <= 2 x islands rows), and one running sum
    over the day axis turns deltas into "distinct keys whose coverage
    contains this day". Active days that are not interval endpoints
    ride along as zero-delta rows so the prefix sum lands on them; only
    active days are returned (partial leading/trailing windows never
    fabricate days the data never saw).

    Scale: shuffles are the pair dedup and the per-key island window —
    both |pairs|-sized and keyed by the entity; ``window_days`` no
    longer multiplies anything. The final running sum is a single-task
    window over ONE row per distinct day (bounded by the calendar —
    ~366/year — not by data volume), after a day-level aggregate whose
    map-side combine has already collapsed everything else."""
    if window_days < 1:
        # a descending interval would silently credit users to PAST
        # days instead of failing
        raise ValueError(f"window_days must be >= 1, got {window_days}")
    day = F.col(ts_col).cast("date")
    # NULL keys/timestamps are excluded explicitly: the SQL mirror drops
    # them implicitly (COUNT(DISTINCT key) skips NULL keys;
    # generate_series over a NULL day yields no rows) while Spark's
    # window/groupBy would happily count a NULL key and fabricate a
    # day=NULL output row (r11 self-review catch — same class as the
    # weighted_percentiles NULL fix)
    pairs = (
        df.where(F.col(key_col).isNotNull() & F.col(ts_col).isNotNull())
        .select(F.col(key_col).alias("__k"), day.alias("__d"))
        .distinct()
    )
    wk = Window.partitionBy("__k").orderBy("__d")
    islands = (
        pairs.withColumn(
            "__new",
            F.when(
                F.datediff(
                    F.col("__d"), F.lag("__d").over(wk)
                ).isNull()
                | (
                    F.datediff(F.col("__d"), F.lag("__d").over(wk))
                    >= window_days
                ),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "__isl",
            F.sum("__new").over(
                wk.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("__k", "__isl")
        .agg(
            F.min("__d").alias("__start"),
            F.date_add(F.max("__d"), window_days - 1).alias("__end"),
        )
    )
    deltas = islands.select(
        F.col("__start").alias("day"), F.lit(1).alias("__delta")
    ).unionByName(
        islands.select(
            F.date_add(F.col("__end"), 1).alias("day"),
            F.lit(-1).alias("__delta"),
        )
    )
    # active days ride along with delta 0 so the prefix sum lands on
    # them; the flag filters the output back to data-backed days
    axis = deltas.withColumn("__active", F.lit(0)).unionByName(
        pairs.select(
            F.col("__d").alias("day"),
            F.lit(0).alias("__delta"),
            F.lit(1).alias("__active"),
        )
    )
    per_day = axis.groupBy("day").agg(
        F.sum("__delta").alias("__delta"),
        F.max("__active").alias("__active"),
    )
    run = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        per_day.withColumn("__cum", F.sum("__delta").over(run))
        .where(F.col("__active") == 1)
        .select(
            "day",
            F.col("__cum").alias(f"rolling_{window_days}d_distinct"),
        )
    )


def activity_streaks(
    df: DataFrame,
    key_col: str,
    ts_col: str,
) -> DataFrame:
    """Per-key activity streaks (gaps-and-islands): collapse events to
    distinct active DAYS, then group consecutive days into islands with
    the classic ``day - row_number`` anchor (consecutive days share one
    anchor; any gap starts a new one). Returns one row per key:
    ``n_active_days``, ``n_streaks``, ``longest_streak`` (days),
    ``longest_streak_start`` (its first day — earliest such streak on
    ties).

    Shape: one keyed groupBy to distinct days (partial-aggregable), one
    keyed window for row_number (same key ⇒ same exchange under AQE),
    then two more partial-aggregable groupBys (island, key). Everything
    is keyed by the entity — no global sort, no self-join.
    """
    days = df.select(
        F.col(key_col), F.to_date(F.col(ts_col)).alias("__day")
    ).distinct()
    w = Window.partitionBy(key_col).orderBy("__day")
    anchored = days.withColumn(
        "__anchor",
        F.date_sub(F.col("__day"), F.row_number().over(w)),
    )
    islands = anchored.groupBy(key_col, "__anchor").agg(
        F.count(F.lit(1)).alias("__len"),
        F.min("__day").alias("__start"),
    )
    return islands.groupBy(key_col).agg(
        F.sum("__len").cast("bigint").alias("n_active_days"),
        F.count(F.lit(1)).alias("n_streaks"),
        F.max("__len").alias("longest_streak"),
        F.expr("min_by(__start, struct(-__len, __start))").alias(
            "longest_streak_start"
        ),
    )


def cumulative_reach(
    df: DataFrame,
    key_col: str,
    ts_col: str,
) -> DataFrame:
    """Daily audience accounting: per day, distinct active keys
    (``n_active``), first-ever-seen keys (``n_new``) and the running
    total of distinct keys to date (``cum_reach``) — the exact
    cumulative-distinct curve, computed WITHOUT a distinct-over-growing-
    window (quadratic) by the first-seen decomposition:
    ``cum_reach(d) = Σ_{d'<=d} n_new(d')``.

    Shape: one groupBy (key, day) to collapse events, one groupBy key for
    first-seen (both partial-aggregable), one tiny day-level agg and a
    running-sum window over the day axis (bounded by #days, so the
    unpartitioned window is safe at any corpus size).
    """
    kd = df.select(
        F.col(key_col).alias("__k"), F.to_date(F.col(ts_col)).alias("day")
    ).distinct()
    first_seen = kd.groupBy("__k").agg(F.min("day").alias("__first"))
    daily = kd.groupBy("day").agg(F.count(F.lit(1)).alias("n_active"))
    new = first_seen.groupBy(F.col("__first").alias("day")).agg(
        F.count(F.lit(1)).alias("n_new")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        daily.join(new, "day", "left")
        .withColumn("n_new", F.coalesce("n_new", F.lit(0)))
        .withColumn("cum_reach", F.sum("n_new").over(w).cast("bigint"))
        .select("day", "n_active", "n_new", "cum_reach")
    )


def peak_concurrency(
    df: DataFrame,
    key_col: str,
    start_col,
    end_col,
) -> DataFrame:
    """Sweep-line peak concurrency per key: the maximum number of
    intervals ``[start, end)`` open at one instant, and the earliest
    instant attaining it — capacity planning / max-parallel-sessions in
    one pass, no interval self-join (the naive overlap join is quadratic
    in concurrent load; the sweep is linear in events).

    Shape: each interval emits a (+1 at start, -1 at end) delta map-side;
    one keyed window (ordered by time with ends before starts, so
    touching intervals don't overlap) computes the running occupancy;
    one partial-aggregable groupBy takes the max and its earliest time.
    Ties within an instant are order-independent: all -1s precede +1s,
    so the running values within an instant form one monotone run whose
    endpoint is the occupancy after the instant.

    ``start_col``/``end_col`` are Column expressions (or names) yielding
    integer microseconds — integer domain end-to-end, so differential
    engines agree bit-for-bit.
    """
    s = F.col(start_col) if isinstance(start_col, str) else start_col
    e = F.col(end_col) if isinstance(end_col, str) else end_col
    starts = df.select(
        F.col(key_col), s.alias("__t"), F.lit(1).alias("__d")
    )
    ends = df.select(F.col(key_col), e.alias("__t"), F.lit(-1).alias("__d"))
    w = (
        Window.partitionBy(key_col)
        .orderBy("__t", "__d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run = starts.unionAll(ends).withColumn("__run", F.sum("__d").over(w))
    return run.groupBy(key_col).agg(
        F.max("__run").cast("bigint").alias("peak_concurrent"),
        F.timestamp_micros(
            F.expr("min_by(__t, struct(-__run, __t))")
        ).alias("peak_at"),
    )


def time_decayed_stats(
    df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    half_life_s: float = 86400.0,
    round_to: int = 6,
) -> DataFrame:
    """Exponentially time-decayed count and sum per key, anchored at the
    corpus-wide max timestamp: each row contributes
    ``w = 2^(-(t_max - t) / half_life)``. The freshness-weighted rollup
    behind trending scores and decayed popularity counters — a batch twin
    of the streaming EWMA (``ewma_score``) that needs no per-key ordering
    at all.

    Shape: one 1-row global max (broadcast back via cross join — never a
    driver collect), one partial-aggregable groupBy. Timestamp deltas are
    computed in exact integer MICROSECONDS (``unix_micros``) before the
    single float ``pow``, so engines agree on every weight to the ulp.
    """
    tmax = df.agg(F.max(F.unix_micros(F.col(ts_col))).alias("__tmax"))
    age_s = (F.col("__tmax") - F.unix_micros(F.col(ts_col))) / F.lit(1e6)
    w = F.pow(F.lit(0.5), age_s / F.lit(half_life_s))
    return (
        df.crossJoin(tmax)
        .groupBy(key_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(w), round_to).alias("decayed_n"),
            F.round(F.sum(w * F.col(value_col)), round_to).alias(
                "decayed_sum"
            ),
        )
    )


def seasonality_strength(
    df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    round_to: int = 6,
) -> DataFrame:
    """Hour-of-day seasonality strength per key: bucket events into
    hourly counts, then compare the variance of the 24 hour-of-day mean
    counts against the variance of the full hourly series —
    ``strength = var(hod_means) / var(hourly)`` approaches 1 when the
    daily cycle explains the series and 0 when counts are flat/noisy
    (both are ``var_samp`` with their own n−1 denominators — 23 vs
    n_hours−1 — so a perfectly cyclic series can land slightly ABOVE 1;
    it is a screen, not a bounded R²).
    The classic variance-decomposition screen for "does this metric
    breathe daily?" before fitting anything seasonal. Hours with zero
    events carry no row (the variance is over OBSERVED hours) — dense
    grids belong to ``resample_ffill`` upstream when that matters.

    Shape: two stacked partial-aggregable groupBys (hourly counts →
    hour-of-day means) and one per-key variance join — no windows, no
    ordering. ``var_samp`` on both engines; output rounded, NULL when
    the hourly variance is zero (constant series — strength undefined).
    """
    hourly = (
        df.groupBy(
            F.col(key_col),
            F.date_trunc("hour", F.col(ts_col)).alias("__h"),
        )
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    per_key = hourly.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.var_samp(F.col("__n").cast("double")).alias("__var_tot"),
    )
    hod_means = (
        hourly.groupBy(
            F.col(key_col), F.hour(F.col("__h")).alias("__hod")
        )
        .agg(F.avg(F.col("__n").cast("double")).alias("__m"))
        .groupBy(key_col)
        .agg(F.var_samp("__m").alias("__var_hod"))
    )
    return (
        per_key.join(hod_means, key_col)
        .select(
            key_col,
            "n_hours",
            F.round("__var_tot", round_to).alias("var_hourly"),
            F.round("__var_hod", round_to).alias("var_hod_means"),
            F.round(
                F.when(
                    F.col("__var_tot") > 0,
                    F.col("__var_hod") / F.col("__var_tot"),
                ),
                round_to,
            ).alias("strength"),
        )
    )


def autocorrelation(
    df: DataFrame,
    ts_col: str = "ts",
    max_lag: int = 8,
    bucket: str = "minute",
    round_to: int = 6,
) -> DataFrame:
    """Autocorrelation function of the event-count series: bucket events
    into fixed time bins, then Pearson-correlate the count series with
    itself shifted by 1..max_lag bins — the standard "is there memory /
    periodicity at lag k?" diagnostic run before any forecasting model.

    Scale shape: the raw stream collapses FIRST through one
    partial-aggregable groupBy into per-bucket counts, so everything
    after is bounded by the WALL-CLOCK SPAN (minutes in the observation
    window), not data volume — 100 TB over a year is still ~500k minute
    rows. The lag alignment is one ordered window over that bounded
    series (single-partition by construction and by bound), and all
    max_lag correlations are independent buffers of ONE final aggregate;
    the (lag, acf) long form unpivots map-side from the 1-row result.
    Missing buckets are genuinely absent rows (lag is over OBSERVED
    buckets) — resample upstream for strict fixed-step semantics.

    Pearson r is variance-convention invariant, so Spark ``corr`` and
    SQL ``CORR`` agree to float noise; outputs are rounded with negative
    zero normalized (an ACF near 0 legitimately rounds to ±0).
    """
    counts = df.groupBy(
        F.date_trunc(bucket, F.col(ts_col)).alias("__b")
    ).agg(F.count(F.lit(1)).alias("__n"))
    w = Window.orderBy("__b")
    lagged = counts.select(
        F.col("__n").cast("double").alias("__x"),
        *[
            F.lag(F.col("__n").cast("double"), k).over(w).alias(f"__l{k}")
            for k in range(1, max_lag + 1)
        ],
    )
    row = lagged.agg(
        F.count(F.lit(1)).alias("__nb"),
        *[
            round_pz(F.corr("__x", f"__l{k}"), round_to).alias(f"__a{k}")
            for k in range(1, max_lag + 1)
        ],
    )
    stack_args = ", ".join(f"{k}, __a{k}" for k in range(1, max_lag + 1))
    return row.select(
        F.col("__nb").alias("n_buckets"),
        F.expr(f"stack({max_lag}, {stack_args}) AS (lag, acf)"),
    ).select("lag", "acf", "n_buckets")


def cusum_changepoint(
    df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
    round_to: int = 6,
) -> DataFrame:
    """CUSUM mean-shift screen per key: demean the value series against
    its key's global mean, walk the cumulative sum in time order, and
    report where |S_t| peaks plus the normalized statistic
    ``max|S_t| / (σ·√n)`` — large values flag a sustained mean shift (the
    drifting-sensor / regime-change detector), values ~O(1) are
    consistent with a stable mean (Brownian-bridge excursion scale).

    ONE keyed window (mean/std/count over the unordered partition fold
    into the same window spec family as the ordered running sum — a
    single shuffle on the key), then a per-key max_by reduction. The
    running sum is an ORDERED prefix sum — both engines fold it strictly
    left-to-right over the same (ts, id) order, so cross-engine noise
    does not accumulate the way a repartitioned global sum would. The
    argmax row is tie-broken by earliest (ts, id); σ=0 keys (constant
    series) return NULL statistics rather than engine-specific 0/0.
    """
    wk = Window.partitionBy(key_col)
    wo = wk.orderBy(ts_col, id_col)
    walked = df.select(
        key_col,
        ts_col,
        id_col,
        (
            F.sum(F.col(value_col) - F.avg(value_col).over(wk)).over(wo)
        ).alias("__s"),
        F.stddev_samp(value_col).over(wk).alias("__sd"),
        F.count(F.lit(1)).over(wk).alias("__n"),
    )
    # second window pass rides the SAME key partitioning (no new shuffle,
    # just a per-partition re-sort) — a window expression cannot appear
    # inside another window's ORDER BY in one select
    scored = walked.withColumn(
        "__rn",
        F.row_number().over(
            wk.orderBy(F.abs(F.col("__s")).desc(), F.col(ts_col), F.col(id_col))
        ),
    )
    return scored.where(F.col("__rn") == 1).select(
        key_col,
        F.col("__n").alias("n_rows"),
        F.col(ts_col).alias("peak_ts"),
        round_pz(F.col("__s"), round_to).alias("peak_cusum"),
        round_pz(
            F.when(
                F.col("__sd") > 0,
                F.abs(F.col("__s")) / (F.col("__sd") * F.sqrt("__n")),
            ),
            round_to,
        ).alias("cusum_stat"),
    )


def stl_decompose(
    df: DataFrame,
    ts_col: str = "ts",
    period: int = 7,
    trend_window: int = 7,
    round_to: int = 4,
) -> DataFrame:
    """Additive moving-average decomposition of the daily event-count
    series: ``y = trend + seasonal + resid`` per day (the classical
    decomposition — one smoothing pass, not the iterated loess of
    Cleveland STL; absent from the reference, which has no timestamp
    types at all).

    * ``trend`` — centered moving average of width ``trend_window``
      (odd) over the ACTIVE-day series in row order; edge days without
      a full window are trimmed (standard MA convention), so the output
      has ``n_days - trend_window + 1`` rows.
    * ``seasonal`` — per-phase mean of the detrended series, where
      ``phase = epoch_day % period`` (epoch-day arithmetic, NOT
      day-of-week builtins: Spark's ``dayofweek`` is 1=Sunday while
      DuckDB's is 0=Sunday — the modulo convention is engine-neutral).
    * ``resid`` — detrended minus seasonal; the three parts sum to
      ``y`` exactly before rounding.

    Cross-engine exactness: every intermediate is an INTEGER numerator
    (counts, ``y*w - sum_w``, per-phase integer sums) divided ONCE at
    output — both engines perform the identical int64→double division,
    then the identical floor-form round, so the output is bit-exact
    without any float-summation-order exposure.

    Scale: one partial-aggregable day groupBy (shuffle carries one row
    per distinct day), one calendar-bounded single-task window over the
    day axis (~366 rows/year), one broadcast-sized phase-stats join.
    Nothing is event-volume-sized past the first combine."""
    if trend_window % 2 != 1 or trend_window < 1:
        raise ValueError(
            f"trend_window must be odd and >= 1, got {trend_window}"
        )
    if period < 1:
        raise ValueError(f"period must be >= 1, got {period}")
    half = trend_window // 2
    # drop NULL timestamps BEFORE the day groupBy: a day=NULL row would
    # enter the centered-MA window NULLS FIRST on Spark but NULLS LAST
    # in a SQL mirror, corrupting the edge days on one engine only (r11
    # self-review catch); oracles carry the same WHERE ts IS NOT NULL
    daily = (
        df.where(F.col(ts_col).isNotNull())
        .groupBy(F.col(ts_col).cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("y"))
    )
    w = Window.orderBy("day").rowsBetween(-half, half)
    full = (
        daily.withColumn("__sw", F.sum("y").over(w))
        .withColumn("__cw", F.count(F.lit(1)).over(w))
        .where(F.col("__cw") == trend_window)
        .withColumn(
            "__dn", F.col("y") * F.lit(trend_window) - F.col("__sw")
        )
        .withColumn(
            "__ph",
            F.pmod(
                F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")),
                F.lit(period),
            ),
        )
    )
    phase = full.groupBy("__ph").agg(
        F.sum("__dn").alias("__sp"), F.count(F.lit(1)).alias("__np")
    )
    j = full.join(phase, "__ph")
    den = (F.lit(trend_window) * F.col("__np")).cast("double")
    return j.select(
        "day",
        "y",
        round_floor(
            F.col("__sw").cast("double") / F.lit(float(trend_window)),
            round_to,
        ).alias("trend"),
        round_floor(F.col("__sp").cast("double") / den, round_to).alias(
            "seasonal"
        ),
        round_floor(
            (F.col("__dn") * F.col("__np") - F.col("__sp")).cast("double")
            / den,
            round_to,
        ).alias("resid"),
    )


def survival_curve(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    censor_gap_days: int = 7,
    round_to: int = 6,
) -> DataFrame:
    """Kaplan-Meier survival estimate of per-key activity LIFETIMES
    (days between a key's first and last event) with right censoring:
    a key whose last activity falls within ``censor_gap_days`` of the
    corpus's last day may still be alive, so it contributes to the
    at-risk set without counting as a churn event — the standard
    churn/retention estimator (absent from the reference; complements
    ``cohort_retention``'s raw activity curves with the censored MLE).

    Returns one row per distinct EVENT duration: ``duration_days``,
    ``n_at_risk`` (keys with lifetime >= duration), ``n_events``
    (uncensored lifetimes equal to it), ``survival`` = Π (1 - d_i/n_i)
    over event durations <= it.

    Cross-engine exactness: lifetimes, at-risk and event counts are
    pure integer arithmetic; the product is evaluated as
    ``EXP(SUM(LN(1 - d/n)))`` with the SUM taken by a running window
    over the duration order — a deterministic, identical sequence of
    IEEE adds on both engines (a product/sum aggregate would be
    summation-order-exposed), so plain ROUND is safe (ln/exp outputs
    are non-terminating). NULL keys/timestamps are excluded explicitly
    (the SQL mirror's COUNT/grouping would drop or misplace them —
    r11 NULL-contract checklist).

    Scale: one partial-aggregable groupBy(key) collapses events to
    lifetimes; a one-row global max broadcasts in-plan (no collect);
    everything after the second groupBy is duration-grain — bounded by
    the calendar, not the data — including the single-task running
    window."""
    filt = df.where(F.col(key_col).isNotNull() & F.col(ts_col).isNotNull())
    lives = filt.groupBy(key_col).agg(
        F.min(F.col(ts_col).cast("date")).alias("__first"),
        F.max(F.col(ts_col).cast("date")).alias("__last"),
    )
    # corpus max derives from lives, not a second scan of the fact —
    # both consumers sit over the identical groupBy exchange, so
    # ReuseExchange dedups it and the input is scanned once
    corpus = lives.agg(F.max("__last").alias("__maxd"))
    per_key = lives.crossJoin(corpus).select(
        F.datediff("__last", "__first").alias("__dur"),
        (
            F.datediff("__maxd", "__last") >= F.lit(int(censor_gap_days))
        ).alias("__event"),
    )
    by_dur = per_key.groupBy("__dur").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.col("__event").cast("bigint")).alias("__d"),
    )
    wo = Window.orderBy("__dur")
    run = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # at-risk = keys with lifetime >= this duration = total - shorter
    base = (
        by_dur.withColumn(
            "__tot", F.sum("__n").over(
                wo.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            )
        )
        .withColumn("__cum_n", F.sum("__n").over(run))
        .withColumn(
            "n_at_risk", F.col("__tot") - F.col("__cum_n") + F.col("__n")
        )
        .withColumn(
            "__lnterm",
            # the terminal bucket can have d == n (every remaining
            # at-risk key churns there): true survival is 0, but
            # Spark's non-ANSI log(0) returns NULL (the window SUM
            # would silently DROP the term and report ~1.0) and a SQL
            # LN(0) raises — both sides spell the -infinity term
            # explicitly so EXP(-inf) lands the exact 0.0 (r11 review)
            F.when(
                (F.col("__d") > 0) & (F.col("__d") >= F.col("n_at_risk")),
                F.lit(float("-inf")),
            )
            .when(
                F.col("__d") > 0,
                F.log(
                    F.lit(1.0)
                    - F.col("__d").cast("double")
                    / F.col("n_at_risk").cast("double")
                ),
            )
            .otherwise(F.lit(0.0)),
        )
        .withColumn("__lnsum", F.sum("__lnterm").over(run))
    )
    return base.where(F.col("__d") > 0).select(
        F.col("__dur").alias("duration_days"),
        "n_at_risk",
        F.col("__d").alias("n_events"),
        F.round(F.exp("__lnsum"), round_to).alias("survival"),
    )


def interpolate_linear(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str | None = None,
    round_to: int = 4,
) -> DataFrame:
    """Per-key LINEAR time interpolation of missing values: each NULL
    takes the straight-line value between its nearest non-null
    neighbors in time (the pandas ``interpolate(method='time')``
    contract); leading/trailing NULLs — no neighbor on one side — stay
    NULL. Distinct from ``impute_group_mean`` (which ignores WHEN the
    gap happens). ``was_interpolated`` marks filled rows.

    One keyed sort serves all four neighbor lookups: ``last(value/ts,
    ignorenulls)`` over the preceding frame and ``first(...)`` over the
    following frame share the same (key, ts-ordered) window partition —
    Spark evaluates both frames in a single Window pipeline over one
    exchange + one sort.

    Exactness: the interpolation expression — prev + (next - prev) *
    (ts - prev_ts) / (next_ts - prev_ts) with timestamps in integral
    microseconds — is a fixed sequence of IEEE ops on identical inputs,
    mirrored term by term in oracles, then floor-form rounded (value
    data is typically fixed-decimal, the terminating-ROUND class).
    Duplicate timestamps within a key make neighbor choice
    engine-ambiguous — pass ``tiebreak_col`` (a unique id) to pin the
    total order, and mirror it in the oracle's window ORDER BY."""
    um = F.unix_micros(F.col(ts_col)).cast("double")
    order = [F.col(ts_col)] + (
        [F.col(tiebreak_col)] if tiebreak_col else []
    )
    w = Window.partitionBy(key_col).orderBy(*order)
    prev_f = w.rowsBetween(Window.unboundedPreceding, -1)
    next_f = w.rowsBetween(1, Window.unboundedFollowing)
    pv = F.last(value_col, ignorenulls=True).over(prev_f)
    pt = F.last(
        F.when(F.col(value_col).isNotNull(), um), ignorenulls=True
    ).over(prev_f)
    nv = F.first(value_col, ignorenulls=True).over(next_f)
    nt = F.first(
        F.when(F.col(value_col).isNotNull(), um), ignorenulls=True
    ).over(next_f)
    # Coincident neighbors (pt == nt, possible with duplicate (key, ts)
    # rows) would divide by zero: Spark's non-ANSI double division gives
    # NaN/Inf (was_interpolated would read true with a garbage value)
    # while DuckDB's result is version-dependent (1.0.0: 0.0/0.0 = NULL;
    # >= 1.1 defaults to IEEE NaN). Such gaps are unfillable — keep them
    # NULL identically on both engines (r11 ADVICE; the oracle carries
    # the mirrored nt <> pt guard).
    interp = F.when(nt != pt, pv + (nv - pv) * (um - pt) / (nt - pt))
    filled = F.when(F.col(value_col).isNotNull(), F.col(value_col)).otherwise(
        round_floor(interp, round_to)
    )
    return df.withColumn(
        "was_interpolated",
        F.col(value_col).isNull() & interp.isNotNull(),
    ).withColumn(value_col, filled)
