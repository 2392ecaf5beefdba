"""Join operators (SURVEY.md §2.3) + the crosswalk ``translate`` pipeline.

The reference's joins are pandas ``merge`` calls (etl_io.py:385-386, 936-939)
plus a collect-IDs-into-IN-list pattern (etl_io.py:354-357). Spark-first
re-expression:

  * ``dim_join`` hints the dim through ``partitioning.broadcaster`` while
    it fits the broadcast budget (J1) — at 100 TB the fact side never
    shuffles for a broadcast join; ``translate``'s deduplicated crosswalk
    is broadcast by Catalyst's own size estimate;
  * the IN-list pattern becomes a ``left_semi`` join (J4): the filter stays
    on the cluster, no driver round-trip, and AQE can still turn it into a
    broadcast;
  * ``translate`` (Rosetta, etl_io.py:898-941) keeps pandas merge semantics:
    ``how`` passthrough including Spark's extra ``left_semi``/``left_anti``,
    duplicate-key row multiplication (inner-join semantics are identical),
    and the list-column explode done natively (F6) instead of a row loop.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql.types import ArrayType, StringType

from etl_io_spark.partitioning import broadcaster


def dim_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str | Sequence[str],
    how: str = "inner",
) -> DataFrame:
    """Fact × dimension equi-join (J1; etl_io.py:385-386).

    Hints the dim side when its leaves fit the broadcast budget
    (``partitioning.broadcaster``): harmless when AQE would have chosen
    broadcast anyway, decisive when stale stats would have picked a
    shuffle join on a 100 TB fact table. A dim past the budget is left to
    AQE's runtime strategy.
    """
    return fact.join(broadcaster(dim)(dim), on=on, how=how)


def semi_join_filter(
    fact: DataFrame, keys: DataFrame, on: str | Sequence[str]
) -> DataFrame:
    """Filter fact rows to those with a key match (J4).

    Replaces the reference's collect-UNITIDs-then-IN-list round trip
    (etl_io.py:354-357): the key set never leaves the executors.
    """
    return fact.join(keys, on=on, how="left_semi")


def anti_join(
    fact: DataFrame, keys: DataFrame, on: str | Sequence[str]
) -> DataFrame:
    """Rows with NO key match — the complement the reference couldn't
    express without a second round trip."""
    return fact.join(keys, on=on, how="left_anti")


def parse_list_column(
    df: DataFrame, col: str, out: str | None = None
) -> DataFrame:
    """Parse a stringified Python/JSON list column into a real array.

    F6; the reference stores ``cip_2020`` as ``"['11.0101', '11.0201']"``
    and parses with ``ast.literal_eval`` in a row loop (etl_io.py:924-934).
    Here: normalize quotes, ``from_json`` to ``array<string>`` — pure
    codegen, no Python.
    """
    out = out or col
    normalized = F.regexp_replace(F.col(col), "'", '"')
    return df.withColumn(out, F.from_json(normalized, ArrayType(StringType())))


def explode_list(
    df: DataFrame, col: str, out: str | None = None, keep_empty: bool = False
) -> DataFrame:
    """One output row per array element (F6 second half; etl_io.py:927-934).

    ``keep_empty=True`` uses ``explode_outer`` so rows with null/empty lists
    survive with a null element (the reference's loop drops them — default
    matches the reference).
    """
    out = out or col
    fn = F.explode_outer if keep_empty else F.explode
    return df.withColumn(out, fn(F.col(col) if out != col else F.col(col)))


def translate(
    data: DataFrame,
    crosswalk: DataFrame,
    left: str,
    right: str,
    data_2: DataFrame | None = None,
    how: str = "inner",
    list_col: str | None = None,
) -> DataFrame:
    """Crosswalk translation (Q7 ``Rosetta.translate``, etl_io.py:898-941).

    Pipeline: project crosswalk to (left, right) → dropDuplicates → dropna →
    (optionally parse+explode a stringified list column) → join ``data`` on
    ``left`` → optionally chain-join ``data_2`` on ``right`` (J2/J3).

    The crosswalk is a small code-mapping dim by construction, so
    Catalyst broadcasts it by size; the two fact sides therefore never
    co-shuffle, and Catalyst reorders the chained join freely.
    """
    xw = crosswalk.select(left, right)
    if list_col == right:
        xw = parse_list_column(xw, right)
        xw = xw.withColumn(right, F.explode(right))
    elif list_col == left:
        xw = parse_list_column(xw, left)
        xw = xw.withColumn(left, F.explode(left))
    xw = xw.dropDuplicates([left, right]).na.drop()
    out = data.join(xw, on=left, how=how)
    if data_2 is not None:
        out = out.join(data_2, on=right, how=how)
    return out


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    ts_col: str = "ts",
    right_cols: Sequence[str] = (),
    suffix: str = "_asof",
    direction: str = "backward",
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """As-of join: attach to each left row the nearest right row within
    the same key group (time-series enrichment; absent from the
    reference — SURVEY.md §2.3 "not present" list — but essential for
    the events table).

    ``direction`` (the pandas ``merge_asof`` contract):
      * ``backward`` (default): most recent right row with
        ``right.ts <= left.ts``;
      * ``forward``: earliest right row with ``right.ts >= left.ts``;
      * ``nearest``: whichever of the two is closer in time, ties to
        the backward match (pandas tie rule).
    ``tolerance_seconds`` nulls out a match whose time gap exceeds it.

    Spark-native single-shuffle plan (the union trick): tag both sides,
    union them, and carry the latest right payload forward with
    ``last(..., ignorenulls=True)`` over (key, ts, side) ordering — right
    rows sort before left rows at equal ts, so ties match. ``forward``
    is the same carry over the REVERSED ordering; ``nearest`` evaluates
    both windows over the SAME partitioning (one exchange, two Tungsten
    sorts) and picks per row. Cost is ONE shuffle of |left|+|right| rows
    keyed by the join key; there is no range-condition join (which Spark
    would plan as a broadcast nested-loop — quadratic) and state per key
    is O(1). Skewed keys behave like any window: AQE cannot split a
    single partitionBy key, so pre-filter pathological keys if one key
    dominates.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"unknown asof direction: {direction!r}")
    if direction == "nearest" or tolerance_seconds is not None:
        # the gap arithmetic below is unix_micros — fine for backward/
        # forward (pure ordering, any orderable ts works) but these two
        # options need a real TIMESTAMP; fail with a named requirement
        # instead of an opaque unix_micros analysis error
        from pyspark.sql.types import TimestampType

        for side, df_ in (("left", left), ("right", right)):
            if not isinstance(df_.schema[ts_col].dataType, TimestampType):
                raise TypeError(
                    f"asof_join direction='nearest'/tolerance_seconds "
                    f"need a TIMESTAMP {ts_col!r}; {side} side has "
                    f"{df_.schema[ts_col].dataType.simpleString()} — cast "
                    f"it, or use direction backward/forward without "
                    f"tolerance (any orderable type)"
                )
    keys = [on] if isinstance(on, str) else list(on)
    rcols = list(right_cols) or [
        c for c in right.columns if c not in keys and c != ts_col
    ]
    # "__rts" is reserved inside the payload struct and "__side"/
    # "__payload"/"__mb"/"__mf"/"__m" as working columns — a user column
    # with one of these names would create duplicate struct fields or be
    # silently swallowed by the final drop() (ADVICE r10); fail loudly
    reserved = {"__side", "__payload", "__mb", "__mf", "__m"}
    clashes = sorted(
        {c for c in left.columns if c in reserved}
        | {c for c in rcols if c in reserved or c == "__rts"}
        # the output withColumn would silently OVERWRITE a left column
        # that already bears a payload output name (r11 self-review —
        # the same silent-swallow class the working-name guard covers)
        | {f"{c}{suffix}" for c in rcols if f"{c}{suffix}" in left.columns}
    )
    if clashes:
        raise ValueError(
            f"asof_join reserves column names {sorted(reserved | {'__rts'})}"
            f" and the payload output names (<right_col>{suffix!r}) "
            f"internally; rename input columns {clashes}"
        )
    # the right event time rides inside the payload ("__rts") so nearest
    # and tolerance can measure the gap after the carry
    payload = F.struct(
        *[F.col(c) for c in rcols], F.col(ts_col).alias("__rts")
    )
    l_tagged = left.select(
        *[F.col(c) for c in left.columns],
        F.lit(1).alias("__side"),
        F.lit(None).cast(
            right.select(payload.alias("p")).schema["p"].dataType
        ).alias("__payload"),
    )
    r_tagged = right.select(
        *[F.col(k) for k in keys],
        F.col(ts_col),
        F.lit(0).alias("__side"),
        payload.alias("__payload"),
    )
    # align schemas: left columns missing on the right become nulls
    for c in left.columns:
        if c not in r_tagged.columns:
            r_tagged = r_tagged.withColumn(
                c, F.lit(None).cast(left.schema[c].dataType)
            )
    unioned = r_tagged.select(l_tagged.columns).unionByName(l_tagged)

    def carry(descending: bool) -> Column:
        w = (
            Window.partitionBy(*keys)
            .orderBy(
                F.col(ts_col).desc() if descending else F.col(ts_col).asc(),
                F.col("__side").asc(),
            )
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return F.last("__payload", ignorenulls=True).over(w)

    carried = unioned
    if direction in ("backward", "nearest"):
        carried = carried.withColumn("__mb", carry(descending=False))
    if direction in ("forward", "nearest"):
        carried = carried.withColumn("__mf", carry(descending=True))
    if direction == "backward":
        m = F.col("__mb")
    elif direction == "forward":
        m = F.col("__mf")
    else:
        gap_b = F.unix_micros(F.col(ts_col)) - F.unix_micros(
            F.col("__mb.__rts")
        )
        gap_f = F.unix_micros(F.col("__mf.__rts")) - F.unix_micros(
            F.col(ts_col)
        )
        m = (
            F.when(F.col("__mb").isNull(), F.col("__mf"))
            .when(F.col("__mf").isNull(), F.col("__mb"))
            .when(gap_f < gap_b, F.col("__mf"))
            .otherwise(F.col("__mb"))
        )
    if tolerance_seconds is not None:
        gap = F.abs(
            F.unix_micros(F.col(ts_col)) - F.unix_micros(m["__rts"])
        )
        m = F.when(gap <= F.lit(int(tolerance_seconds * 1_000_000)), m)
    out = (
        carried.where(F.col("__side") == 1)
        .withColumn("__m", m)
        .drop("__side", "__payload", "__mb", "__mf")
    )
    for c in rcols:
        out = out.withColumn(f"{c}{suffix}", F.col("__m")[c])
    return out.drop("__m")


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str | Sequence[str],
    how: str = "inner",
    salt: int = 16,
) -> DataFrame:
    """Skew-busting equi-join: split each hot key on the big side into
    ``salt`` sub-keys and replicate the small side once per sub-key.

    A plain shuffle join puts ALL rows of a hot key in one task — the
    classic 100 TB straggler. Salting appends pmod(hash(row), salt) to the
    big side's join key (deterministic, derived from the whole row) and
    explodes the small side ×``salt``, so the hot key spreads over
    ``salt`` tasks. Result is row-identical to the unsalted join for
    inner/left joins (every (key, salt) pair still meets its match).

    Complements AQE skew handling: AQE splits oversized *partitions* after
    a stage materializes; salting prevents the single-giant-task shape up
    front and also covers joins AQE won't rewrite (e.g. under windowed
    stages). Use when one side is far too big to broadcast and key
    frequency is known-skewed.
    """
    keys = [on] if isinstance(on, str) else list(on)
    b = big.withColumn(
        "__salt",
        F.pmod(
            F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(salt)
        ).cast("int"),
    )
    s = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    return b.join(s, keys + ["__salt"], how).drop("__salt")


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    on: str | Sequence[str],
    ts_col: str = "ts",
    start_col: str = "t0",
    end_col: str = "t1",
    bucket: str = "1 hour",
) -> DataFrame:
    """Point-in-interval join (range join; absent from the reference and
    from Spark's equi-join repertoire — a raw range predicate plans as a
    broadcast nested-loop join, quadratic at scale).

    Bucketization turns it into an equi-join: points key on their time
    bucket, intervals explode to every bucket they overlap (≤ 2 when the
    interval length ≤ bucket width), the join runs on (keys..., bucket) as
    a plain hash join, and the exact ``start <= ts < end`` predicate
    filters the candidates. Cost scales with true matches + bucket-hash
    collisions, never |points| × |intervals|. Pick ``bucket`` close to the
    typical interval length: too small explodes the interval side, too
    large inflates candidate pairs.
    """
    keys = [on] if isinstance(on, str) else list(on)
    w = F.expr(f"INTERVAL {bucket}")
    wsec = F.unix_timestamp(F.to_timestamp(F.lit("1970-01-01 00:00:00")) + w)
    p = points.withColumn(
        "__bucket", F.floor(F.unix_timestamp(ts_col) / wsec).cast("long")
    )
    i = intervals.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(F.unix_timestamp(start_col) / wsec).cast("long"),
                F.floor(F.unix_timestamp(end_col) / wsec).cast("long"),
            )
        ),
    )
    return (
        p.join(i, keys + ["__bucket"])
        .where((F.col(ts_col) >= F.col(start_col)) & (F.col(ts_col) < F.col(end_col)))
        .drop("__bucket")
    )
