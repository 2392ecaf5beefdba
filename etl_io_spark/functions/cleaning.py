"""Cleaning layer: decode, rename, code normalization.

Re-expresses the reference's ``clean`` step (etl_io.py:140-154): per-column
code->label decode from a metadata dict (F1) and bulk column rename from a
varname dict (F2) — plus the CIP zero-pad normalizer (F3, etl_io.py:374-381)
and small string helpers (F4/F5/F7/F8).

Decode strategy by dictionary size:
  * small dicts (the common case — value labels): an inline ``MAP`` literal
    with ``F.coalesce(map[col], col)`` so unmapped codes pass through
    unchanged (the reference's ``df.replace`` semantics). Stays entirely in
    whole-stage codegen; zero shuffle, zero UDF.
  * large dicts: a dimension table joined with ``joins.dim_join`` — at
    100 TB the fact side never moves, the dim broadcasts.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from itertools import chain

from pyspark.sql import DataFrame, functions as F


def decode_map(
    df: DataFrame,
    mapping: Mapping[str, Mapping[object, object]],
) -> DataFrame:
    """Dict-based value decode (F1; etl_io.py:151 ``df.replace(metadata)``).

    ``mapping`` is ``{column: {code: label}}``. Unmapped codes are preserved
    (pandas ``replace`` semantics). Output columns become the label type
    (string for label dicts), matching the reference's behavior of mixing
    labels into the code column.
    """
    out = df
    for col, codes in mapping.items():
        if col not in df.columns or not codes:
            continue
        entries = list(
            chain.from_iterable((F.lit(str(k)), F.lit(v)) for k, v in codes.items())
        )
        m = F.create_map(*entries)
        out = out.withColumn(
            col, F.coalesce(m[F.col(col).cast("string")], F.col(col).cast("string"))
        )
    return out


def rename_columns(df: DataFrame, mapping: Mapping[str, str]) -> DataFrame:
    """Bulk rename (F2; etl_io.py:153 ``df.rename(columns=varnames)``).

    Unknown keys are ignored, like pandas rename.
    """
    present = {k: v for k, v in mapping.items() if k in df.columns}
    return df.withColumnsRenamed(present)


def normalize_code(col: str, int_width: int = 2) -> F.Column:
    """Zero-pad dotted codes: ``1.1001`` -> ``01.1001``, ``1`` -> ``01``.

    F3; reference loop at etl_io.py:374-381 (``'{:>02d}'.format(int(front))``)
    as a single codegen'd expression: split on '.', lpad the integer part,
    re-attach the fraction when present.
    """
    parts = F.split(F.col(col).cast("string"), r"\.")
    front = F.lpad(parts.getItem(0), int_width, "0")
    has_frac = F.size(parts) > 1
    return F.when(has_frac, F.concat_ws(".", front, parts.getItem(1))).otherwise(front)


def concat_label(*cols: str, sep: str = ", ") -> F.Column:
    """Human-readable concat (F4; etl_io.py:274 ``COUNTYNM + ', ' + STABBR``)."""
    return F.concat_ws(sep, *cols)


def copy_column(df: DataFrame, src: str, dst: str) -> DataFrame:
    """Column copy/overwrite (F5; etl_io.py:273)."""
    return df.withColumn(dst, F.col(src))


def fill_na(df: DataFrame, value: object, subset: Sequence[str] | None = None) -> DataFrame:
    """fillna (F8; etl_io.py:871)."""
    return df.na.fill(value, subset=list(subset) if subset else None)


def normalize_text(col: str | F.Column) -> F.Column:
    """Canonical text normalization for matching/dedup keys: lowercase,
    strip punctuation to spaces, collapse whitespace runs, trim. Pure
    codegen'd regexp chain — the shape every fuzzy/exact text key should
    pass through before hashing so 'Fast  Join!' and 'fast join' agree."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.lower(c)
    # explicit RE2 whitespace class, not Java's \s (round-10: Java \s
    # also matches \x0B, which the DuckDB oracle's RE2 does not)
    c = F.regexp_replace(c, "[^a-z0-9 \t\n\f\r]", " ")
    c = F.regexp_replace(c, "[ \t\n\f\r]+", " ")
    return F.trim(c)


def table_checksum(
    df: DataFrame, cols: Sequence[str] | None = None
) -> DataFrame:
    """Order-insensitive whole-table fingerprint: per-row 60-bit md5 hash
    of the '|'-joined column values (nulls rendered as '∅'), summed — a
    one-row reconciliation checksum two systems can compare after a copy
    (the check `to_sqlite3`-style copies need; the reference copies with
    no verification at etl_io.py:203-219).

    md5-derived so ANY engine reproduces it; summation makes it
    row-order-independent; one partial-aggregable pass, the shuffle
    carries a single partial per partition."""
    from etl_io_spark.operators.text import hash60

    use = list(cols) if cols is not None else df.columns
    row = F.concat_ws(
        "|", *[F.coalesce(F.col(c).cast("string"), F.lit("∅")) for c in use]
    )
    # sum in DECIMAL(38,0): a bigint sum of 2^60-scale hashes wraps after
    # ~2^3 rows; decimal holds ~1e18 rows' worth exactly in every engine
    return df.agg(
        F.sum(hash60(row).cast("decimal(38,0)")).alias("checksum"),
        F.count(F.lit(1)).alias("n_rows"),
    )
