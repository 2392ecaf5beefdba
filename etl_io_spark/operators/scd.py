"""Slowly-changing-dimension (type 2) history maintenance — the standard
warehouse pattern for the reference's yearly-drifting dimension tables
(the IPEDS catalog changes schema/content per dataset year, etl_io.py:21-26;
SCD2 is how an engine keeps that history queryable instead of the
reference's approach of hard-coding the year into table names).

``scd2_merge`` folds a full dimension snapshot into an existing history:
one full-outer join on the business key decides unchanged / changed /
new / deleted per entity, and the output is built from that single join —
no per-case rescans. At 100 TB dimension scale the join is the only
shuffle; attribute comparison is a null-safe struct equality evaluated
map-side.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F

from etl_io_spark.partitioning import broadcaster


def merge_upsert(
    target: DataFrame,
    changes: DataFrame,
    key: str,
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """MERGE-style CDC apply (SCD type 1): fold a change batch into a
    target table.

    ``changes`` carries one row per key (pre-compact a changelog with
    ``changelog_compaction`` first) with an ``op`` column: ``delete_op``
    rows remove the key; any other op upserts the row's attributes.

    Plan shape — the target is NEVER shuffled (a naive full-outer join
    would shuffle it: Spark cannot broadcast any side of a full outer):

      1. keep/update/delete: target LEFT JOIN broadcast(changes) — pure
         map-side pass over the target.
      2. inserts: matched keys (target LEFT SEMI broadcast(change keys),
         also map-side, output ≤ |changes|) are broadcast-anti-joined
         against the change batch.

    Two map-only target scans instead of one shuffled join — at 100 TB
    the scan is the cheap part and the shuffle is the killer; both scans
    stay partition-pruned when the key is the partition/bucket column.
    All three broadcast sides derive from the change batch, so one
    ``partitioning.broadcaster(changes)`` gates them; ``matched`` needs
    the hint because Catalyst estimates a left-semi join at its left
    side's size, which is the whole target. A change batch without size
    statistics (an RDD leaf, a rate or Kafka micro-batch) gets no hint
    and the target is shuffled; ``streaming.sinks.run_cdc_apply`` caches
    each compacted batch first, so its size is known.
    """
    attrs = [c for c in target.columns if c != key]
    ch = changes.select(
        F.col(key).alias("__k"),
        F.col(op_col).alias("__op"),
        *[F.col(a).alias(f"__c_{a}") for a in attrs],
    )
    bc = broadcaster(changes)
    j = target.join(bc(ch), F.col(key) == F.col("__k"), "left")
    in_change = F.col("__k").isNotNull()
    deleted = in_change & (F.col("__op") == delete_op)
    kept = j.where(~deleted).select(
        F.col(key),
        *[
            F.when(in_change, F.col(f"__c_{a}")).otherwise(F.col(a)).alias(a)
            for a in attrs
        ],
    )
    matched = target.join(
        bc(ch.select("__k")), F.col(key) == F.col("__k"), "left_semi"
    ).select(F.col(key).alias("__mk"))
    inserts = (
        ch.where(F.col("__op") != delete_op)
        .join(bc(matched), F.col("__k") == F.col("__mk"), "left_anti")
        .select(
            F.col("__k").alias(key),
            *[F.col(f"__c_{a}").alias(a) for a in attrs],
        )
    )
    return kept.unionByName(inserts)


def scd2_merge(
    history: DataFrame,
    snapshot: DataFrame,
    key: str,
    attrs: Sequence[str],
    as_of: str,
    from_col: str = "valid_from",
    to_col: str = "valid_to",
    close_missing: bool = False,
) -> DataFrame:
    """Merge a point-in-time ``snapshot`` (one row per ``key``) into an
    SCD2 ``history`` (open rows have ``valid_to IS NULL``).

    Per business key, against the open row:
      * attrs unchanged         → open row passes through
      * attrs changed           → open row closes at ``as_of``; a new open
                                  row with the snapshot attrs starts there
      * key only in snapshot    → new open row
      * key only in history     → closed at ``as_of`` when
                                  ``close_missing`` (full-snapshot
                                  semantics) else passes through
    Already-closed history rows always pass through unchanged.
    """
    as_of_d = F.lit(as_of).cast("date")
    closed = history.where(F.col(to_col).isNotNull())
    cur = history.where(F.col(to_col).isNull())

    snap = snapshot.select(
        F.col(key).alias("__k"), *[F.col(a).alias(f"__s_{a}") for a in attrs]
    )
    j = cur.join(snap, cur[key] == snap["__k"], "full_outer")

    same = F.lit(True)
    for a in attrs:
        same = same & F.col(a).eqNullSafe(F.col(f"__s_{a}"))
    in_cur = F.col(key).isNotNull()
    in_snap = F.col("__k").isNotNull()

    # surviving open rows: unchanged, or history-only when not closing
    keep_open = j.where(
        (in_cur & in_snap & same)
        | (in_cur & ~in_snap & F.lit(not close_missing))
    ).select(key, *attrs, from_col, to_col)
    # rows to close: changed, or history-only under full-snapshot semantics
    close = j.where(
        (in_cur & in_snap & ~same) | (in_cur & ~in_snap & F.lit(close_missing))
    ).select(key, *attrs, from_col, as_of_d.alias(to_col))
    # new open rows: changed (new version) or brand-new key
    open_new = j.where(in_snap & (~in_cur | ~same)).select(
        F.col("__k").alias(key),
        *[F.col(f"__s_{a}").alias(a) for a in attrs],
        as_of_d.alias(from_col),
        F.lit(None).cast("date").alias(to_col),
    )
    return (
        closed.select(key, *attrs, from_col, to_col)
        .unionByName(keep_open)
        .unionByName(close)
        .unionByName(open_new)
    )


def scd2_snapshot_at(
    history: DataFrame,
    as_of: str,
    from_col: str = "valid_from",
    to_col: str = "valid_to",
) -> DataFrame:
    """Point-in-time view of an SCD2 history: the row version of each key
    that was active on ``as_of`` (``valid_from <= as_of < valid_to``, open
    rows have NULL ``valid_to``). The read-side complement of
    ``scd2_merge`` — pure filter, so partition pruning on ``valid_from``
    ranges carries it at warehouse scale."""
    d = F.lit(as_of).cast("date")
    return history.where(
        (F.col(from_col) <= d)
        & (F.col(to_col).isNull() | (F.col(to_col) > d))
    )


def temporal_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    ts_col: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    how: str = "inner",
) -> DataFrame:
    """Point-in-time dimension join (the READ side of SCD2 at fact
    granularity): each fact row picks the dimension version whose
    validity interval contains its timestamp —
    ``fact.key = dim.key AND valid_from <= fact.ts < valid_to``, with a
    NULL ``valid_to`` treated as open-ended (the current version, as
    ``scd2_merge`` emits and ``scd2_snapshot_at`` reads it).

    The physical plan is a plain EQUI-join on the key with the interval
    predicate as a post-join filter: per fact row the pre-filter match
    set is that key's version count (small by SCD construction), so
    unlike a pure range join nothing quadratic can happen and the
    broadcast/sort-merge choice is AQE's as usual. Versions must be
    non-overlapping per key (scd2_merge's invariant) for the result to
    stay 1:1 under ``how='inner'``; facts outside every interval drop
    (or survive null-extended under ``how='left'``).

    Complements ``scd2_snapshot_at`` (one constant snapshot date for the
    whole query) — here the lookup date varies per row.
    """
    d = dim
    for c in d.columns:
        if c == key:
            d = d.withColumnRenamed(c, f"__dim_{c}")
    # NULL valid_to is an OPEN row (scd2_merge emits them; matches
    # scd2_snapshot_at) — a bare `ts < valid_to` would be NULL for the
    # current version and silently drop/null-extend its facts
    cond = (
        (fact[ts_col] >= d[valid_from])
        & (d[valid_to].isNull() | (fact[ts_col] < d[valid_to]))
        & (fact[key] == d[f"__dim_{key}"])
    )
    return fact.join(d, cond, how).drop(f"__dim_{key}")
