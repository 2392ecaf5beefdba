"""Sinks (SURVEY.md §2.1, S13-S14).

The reference's only sink is a whole-database copy into sqlite3 via a
per-table ``DataFrame.to_sql`` loop (etl_io.py:203-219), plus a TODO naming
never-built ``to_excel and to_db methods`` (etl_io.py:947). The Spark-native
sink surface is wider and is what a 100 TB pipeline actually needs:

  * partitioned / bucketed parquet — the primary warehouse format. Partition
    columns drive partition pruning on read; bucketing co-locates join keys
    so repeated joins on the bucket key shuffle neither side.
  * whole-catalog copy — the ``to_sqlite3`` equivalent: every registered
    table written through one writer config.
  * JDBC — the ``to_db`` intent; gated because this container ships no
    JDBC driver jar.
  * Excel — the ``to_excel`` intent; driver-side by nature (a .xlsx is not
    a distributed format), explicitly collect-bounded. Round 8: written
    with a minimal stdlib OOXML writer (ECMA-376 zip+XML), no openpyxl.

Every writer takes a DataFrame and returns the written path/identifier so
pipelines can chain read-back verification.
"""

from __future__ import annotations

import os
from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, functions as F

from etl_io_spark.partitioning import fits_budget, gather, leaf_scan_bytes


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] = (),
    mode: str = "overwrite",
    max_records_per_file: int | None = None,
) -> str:
    """Parquet sink with optional hive-style partitioning.

    ``partition_by`` should be low-cardinality columns that downstream
    queries filter on (date, region): each distinct value becomes a
    directory, and Catalyst prunes unread partitions at scan time.
    ``max_records_per_file`` caps file size so a skewed partition writes
    many files instead of one huge one."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    if max_records_per_file is not None:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    w.parquet(path)
    return path


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_by: Sequence[str],
    num_buckets: int = 32,
    sort_by: Sequence[str] = (),
    mode: str = "overwrite",
) -> str:
    """Bucketed managed table (saveAsTable — bucketing requires a catalog
    table, not a bare path). Joins/aggs on the bucket key between two
    tables bucketed the same way run shuffle-free — the 100 TB answer to
    "this fact table is joined on the same key every day"."""
    w = df.write.mode(mode).bucketBy(num_buckets, *bucket_by)
    if sort_by:
        w = w.sortBy(*sort_by)
    w.saveAsTable(table)
    return table


def write_csv(
    df: DataFrame, path: str, sep: str = ",", mode: str = "overwrite"
) -> str:
    """CSV/TSV sink (header on; the reference's flat-file world)."""
    df.write.mode(mode).option("header", True).option("sep", sep).csv(path)
    return path


def copy_warehouse(
    tables: Mapping[str, DataFrame],
    target_dir: str,
    partition_by: Mapping[str, Sequence[str]] | None = None,
    mode: str = "overwrite",
) -> dict[str, str]:
    """Whole-catalog copy — the ``to_sqlite3`` equivalent (S13;
    etl_io.py:203-219): write every table in the mapping under
    ``target_dir/<name>.parquet``, optionally partitioned per-table.
    Returns {table: written_path}."""
    out: dict[str, str] = {}
    pb = partition_by or {}
    for name, df in tables.items():
        path = os.path.join(target_dir, f"{name}.parquet")
        out[name] = write_parquet(df, path, partition_by=pb.get(name, ()), mode=mode)
    return out


def to_sqlite3(
    tables: Mapping[str, DataFrame],
    db_path: str,
    max_rows_per_table: int = 1_000_000,
) -> dict[str, int]:
    """Literal ``to_sqlite3`` sink (S13; etl_io.py:203-219): copy every
    table into one sqlite3 database file via the stdlib driver —
    driver-side by nature (sqlite is a single-writer embedded engine, so
    there is nothing to distribute; this is the reference's actual sink
    and works out of the box here).

    Bounded collect like ``to_excel``: refuses tables above
    ``max_rows_per_table`` so a 100 TB fact table fails fast instead of
    OOMing the driver — at scale use ``copy_warehouse``/``write_jdbc``.
    Returns {table: rows_written}."""
    import sqlite3

    con = sqlite3.connect(db_path)
    out: dict[str, int] = {}
    try:
        for name, df in tables.items():
            n = df.limit(max_rows_per_table + 1).count()
            if n > max_rows_per_table:
                raise ValueError(
                    f"table {name!r} exceeds {max_rows_per_table} rows; "
                    "to_sqlite3 is driver-side — use copy_warehouse for "
                    "big tables"
                )
            pdf = df.toPandas()
            pdf.to_sql(name, con, if_exists="replace", index=False)
            out[name] = len(pdf)
        con.commit()
    finally:
        con.close()
    return out


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    properties: Mapping[str, str] | None = None,
    mode: str = "overwrite",
) -> str:
    """JDBC sink (S14 ``to_db`` intent). Thin passthrough to
    ``df.write.jdbc`` — fails with a clear error when the named driver
    jar is not on the classpath, which is the honest behavior: silently
    landing to a file would not be "to_db". Exercised end-to-end against
    Spark's bundled embedded Derby (write + read-back compare,
    tests/test_stateful_writers.py::test_write_jdbc_derby_roundtrip);
    external engines (postgres, mysql) need their driver jar on
    ``spark.jars``."""
    df.write.jdbc(url=url, table=table, mode=mode, properties=dict(properties or {}))
    return table


def _xlsx_col(i: int) -> str:
    """0-based column index -> A1-style letters (0 -> A, 26 -> AA)."""
    s = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s = chr(65 + r) + s
    return s


_XLSX_STATIC = {
    "[Content_Types].xml": (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
        "</Types>"
    ),
    "_rels/.rels": (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
        "</Relationships>"
    ),
    "xl/workbook.xml": (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        '<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets>'
        "</workbook>"
    ),
    "xl/_rels/workbook.xml.rels": (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
        "</Relationships>"
    ),
}


def to_excel(df: DataFrame, path: str, max_rows: int = 100_000) -> str:
    """Excel sink (S14 ``to_excel``; closes the reference's never-built
    TODO at etl_io.py:947) — driver-side by nature (.xlsx is not a
    distributed format).

    Bounded collect: refuses more than ``max_rows`` so a fat-finger on a
    100 TB table fails fast instead of OOMing the driver; at scale,
    aggregate first — an Excel sheet is a REPORT surface, not a data
    sink.

    Round 8: the openpyxl env gate is gone — .xlsx is just a zip of
    OOXML parts (ECMA-376, public spec), so the sink writes a minimal
    single-sheet workbook with the stdlib ``zipfile`` + hand-built
    SpreadsheetML: header row from column names, numbers/bools as native
    cell types, everything else as inline strings (no shared-string
    table — inline is valid and single-pass), nulls as blank cells.
    Deterministic output (fixed zip timestamps), zero dependencies."""
    import math
    import re
    import zipfile
    from xml.sax.saxutils import escape

    # XML 1.0 cannot represent most C0 control characters AT ALL — not
    # even escaped — so saxutils.escape alone yields a corrupt (not
    # well-formed) sheet for e.g. a \x00 in a curated-text sample. OOXML's
    # convention is the _xHHHH_ escape (ECMA-376 §22.9.2.19 ST_Xstring);
    # literal "_xHHHH_" sequences are protected by escaping their own
    # underscore first.
    # XML 1.0 Char excludes C0 controls (minus TAB/LF/CR), lone
    # surrogates, and U+FFFE/U+FFFF — none are representable even as
    # entities, so all get the ECMA-376 _xHHHH_ escape.
    _ILLEGAL_XML = re.compile(
        "[\x00-\x08\x0B\x0C\x0E-\x1F\ud800-\udfff\ufffe\uffff]"
    )
    _XESC = re.compile("_(?=x[0-9A-Fa-f]{4}_)")

    def _xstr(s: str) -> str:
        s = _XESC.sub("_x005F_", s)
        return _ILLEGAL_XML.sub(lambda m: f"_x{ord(m.group()):04X}_", s)

    n = df.limit(max_rows + 1).count()
    if n > max_rows:
        raise ValueError(
            f"to_excel is driver-side and capped at {max_rows} rows; "
            "filter/aggregate first or raise max_rows explicitly"
        )
    import pandas as pd

    pdf = df.toPandas()

    def cell(ref: str, v) -> str:
        # pd.isna covers None, float NaN AND pd.NaT (a null timestamp is
        # neither None nor a float — it previously fell through to the
        # string branch and wrote the literal text "NaT")
        try:
            if v is None or pd.isna(v):
                return ""
        except (TypeError, ValueError):  # non-scalar (array cell): not null
            pass
        if isinstance(v, bool):
            return f'<c r="{ref}" t="b"><v>{int(v)}</v></c>'
        if isinstance(v, (int, float)) and not (
            isinstance(v, float) and math.isinf(v)
        ):
            return f'<c r="{ref}"><v>{v!r}</v></c>'
        return (
            f'<c r="{ref}" t="inlineStr"><is><t xml:space="preserve">'
            f"{_xstr(escape(str(v)))}</t></is></c>"
        )

    rows_xml = []
    header = "".join(
        cell(f"{_xlsx_col(j)}1", str(c)) for j, c in enumerate(pdf.columns)
    )
    rows_xml.append(f'<row r="1">{header}</row>')
    for i, rec in enumerate(pdf.itertuples(index=False), start=2):
        body = "".join(
            cell(f"{_xlsx_col(j)}{i}", v) for j, v in enumerate(rec)
        )
        rows_xml.append(f'<row r="{i}">{body}</row>')
    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        f"<sheetData>{''.join(rows_xml)}</sheetData></worksheet>"
    )
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for name, data in {
            **_XLSX_STATIC,
            "xl/worksheets/sheet1.xml": sheet,
        }.items():
            # fixed timestamp: byte-identical output for identical input
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, data)
    return path


def _scan_only(df: DataFrame) -> bool:
    """Whether ``df``'s optimized plan is a data-source scan (a
    ``LogicalRelation``, such as a parquet read) under nothing but
    projections and filters. Gathering such an input costs one task that
    reads its files; a join, an aggregate, a Python UDF or an RDD
    upstream would instead run in that one task in place of the stage
    the range exchange keeps parallel."""
    plan = df._jdf.queryExecution().optimizedPlan()
    while plan.nodeName() in ("Project", "Filter"):
        plan = plan.children().apply(0)
    return plan.nodeName() == "LogicalRelation"


def _clustered(
    df: DataFrame, keys: Sequence[str], num_files: int | None
) -> DataFrame:
    """``df`` laid out for a clustered write on ``keys``: each output file
    holds a disjoint key range, sorted inside.

    When ``num_files`` is None and ``df`` is a scan (``_scan_only``) that
    fits the broadcast budget (``partitioning.fits_budget``), it is
    gathered into one task and sorted there: one globally sorted file,
    with no sampling job and no range exchange. Otherwise
    ``repartitionByRange`` samples the key distribution (so file sizes
    stay balanced under skew) and range-exchanges the rows into
    ``num_files`` files, or as many as AQE sizes.
    """
    if num_files is None and _scan_only(df) and fits_budget(df):
        out = gather(df)
    elif num_files is not None:
        out = df.repartitionByRange(num_files, *keys)
    else:
        out = df.repartitionByRange(*keys)
    return out.sortWithinPartitions(*keys)


def write_zordered(
    df: DataFrame,
    path: str,
    x_col: str,
    y_col: str,
    num_files: int | None = None,
    mode: str = "overwrite",
) -> str:
    """Z-order-clustered parquet layout: rows are range-clustered and
    sorted by the Morton interleave of ``(x_col, y_col)``, so parquet
    min/max stats stay tight for BOTH columns — filters on either one skip
    most files at read time. ``write_sorted`` delivers that only for its
    leading key; this is the two-dimensional upgrade (the lakehouse
    "Z-ORDER BY" primitive) built from pure Catalyst bit arithmetic.

    The layout is ``write_sorted``'s on the helper ``__z`` column (one
    sorted file for a scan within the broadcast budget, else one range
    exchange), dropped before the write."""
    from etl_io_spark.functions.encoding import morton2

    out = df.withColumn("__z", morton2(F.col(x_col), F.col(y_col)))
    _clustered(out, ["__z"], num_files).drop("__z").write.mode(mode).parquet(path)
    return path


def write_sorted(
    df: DataFrame,
    path: str,
    sort_cols: Sequence[str],
    num_files: int | None = None,
    mode: str = "overwrite",
) -> str:
    """Range-clustered parquet layout: every output file holds a DISJOINT
    key range, and ``sortWithinPartitions`` orders rows inside, so every
    parquet row-group's min/max stats are tight — point/range filters on
    the sort key then skip whole files and row groups at read time (the
    poor man's clustered index, and at 100 TB the difference between
    reading one file and reading all of them).

    A scan (optionally projected or filtered) within the broadcast budget,
    with no ``num_files``, is written as one sorted file from one task,
    with no exchange; any other input keeps the range exchange:
    ``repartitionByRange`` samples the key distribution, so file sizes
    stay balanced under skew (unlike hash-modulo splits of an ordered
    key)."""
    _clustered(df, sort_cols, num_files).write.mode(mode).parquet(path)
    return path


def write_avro(df: DataFrame, path: str, mode: str = "overwrite") -> str:
    """Avro sink — env-gated passthrough (needs the spark-avro jar; fails
    fast with Spark's deploy hint when absent, like ``write_jdbc``)."""
    df.write.mode(mode).format("avro").save(path)
    return path


def compact_parquet(
    spark,
    path: str,
    out_path: str,
    target_mb: int = 128,
    sort_cols: Sequence[str] = (),
) -> int:
    """Small-file compaction (the table-maintenance job every streaming
    sink eventually needs): rewrite a parquet directory into
    ``n = ceil(bytes / target_mb)`` files, optionally re-clustering on
    ``sort_cols`` while the data is in motion anyway. ``bytes`` is the
    scan's own size statistic (``partitioning.leaf_scan_bytes``), read
    from the listing Spark makes to plan the scan, on any filesystem.

    Thousands of kilobyte files (the natural output of frequent
    micro-batches) make every downstream scan schedule thousands of
    splits and hammer the namenode/object-store listing — compaction
    restores ~target_mb row groups so scans plan few, large, prunable
    splits. Returns the output file count.

    Without ``sort_cols`` no row is shuffled whenever ``target_mb`` MiB is
    at least ``spark.sql.files.maxPartitionBytes``: a scan split holds at
    most that many bytes, so the scan has at least ``n`` splits and
    ``coalesce(n)`` merges them into exactly ``n`` files (at 100 TB a
    listing-sized merge instead of a 100 TB round-robin shuffle). A
    smaller target keeps ``repartition(n)``, which can split a file.
    With ``sort_cols`` the rows are range-exchanged into ``n`` files and
    sorted inside each."""
    import math

    df = spark.read.parquet(path)
    n = max(1, math.ceil(leaf_scan_bytes(df) / (target_mb * 1024 * 1024)))
    if sort_cols:
        out = df.repartitionByRange(n, *sort_cols).sortWithinPartitions(
            *sort_cols
        )
    elif target_mb * 1024 * 1024 >= (
        spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    ):
        out = df.coalesce(n)
    else:
        out = df.repartition(n)
    out.write.mode("overwrite").parquet(out_path)
    return n


def write_bucketed(
    df,
    table: str,
    bucket_cols,
    n_buckets: int = 8,
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """Bucketed (and optionally sorted) parquet table sink — the layout
    that makes repeated joins/aggregations on ``bucket_cols`` exchange-free:
    two tables bucketed the same way join with NO shuffle (and no sort,
    when ``sort`` pre-orders the buckets), because Spark's bucketing
    contract hash-places rows at WRITE time. At 100 TB this converts every
    recurring fact⋈fact join on the bucket key from the cluster's biggest
    shuffle into a local zip — the write-once/join-many trade.

    Catalog-table sink (``saveAsTable``): bucket metadata lives in the
    metastore; plain ``parquet(path)`` writes cannot carry it."""
    w = (
        df.write.mode(mode)
        .format("parquet")
        .bucketBy(n_buckets, *([bucket_cols] if isinstance(bucket_cols, str) else bucket_cols))
    )
    if sort:
        cols = [bucket_cols] if isinstance(bucket_cols, str) else bucket_cols
        w = w.sortBy(*cols)
    w.saveAsTable(table)
