"""Tests for the applyInPandasWithState operator and the sink surface
(SURVEY.md §2.1 S13-S14, §2.7 streaming UDAF row)."""

from __future__ import annotations

import os
import shutil
import uuid

import pytest
from pyspark.sql import functions as F

from etl_io_spark.catalog import TableCatalog
from etl_io_spark.sources import writers
from etl_io_spark.streaming import stateful, windows as sw
from tests.conftest import writer_path

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def event_source(spark, tmp_path_factory):
    src_dir = tmp_path_factory.mktemp("events_state_stream")
    shutil.copy(f"{SF}/events.parquet", src_dir / "part-0.parquet")
    cat = TableCatalog(spark, SF)
    return str(src_dir), cat


def test_stateful_profile_matches_batch_twin(spark, event_source):
    path, cat = event_source
    stream = cat.table_stream("events", path)
    name = f"q_{uuid.uuid4().hex[:8]}"
    q = sw.run_to_memory_sink(
        stateful.user_profile_stream(stream), name, output_mode="append"
    )
    q.stop()
    # one source file + availableNow → one trigger → one update row per key;
    # the last (only) non-closed row per user must equal the batch aggregate
    got = {
        r["user_id"]: (r["n"], r["total"], r["min_v"], r["max_v"], r["mean_v"])
        for r in spark.table(name).where(~F.col("closed")).collect()
    }
    want = {
        r["user_id"]: (r["n"], r["total"], r["min_v"], r["max_v"], r["mean_v"])
        for r in stateful.user_profile_batch(cat.table("events")).collect()
    }
    assert got == want
    assert len(got) > 0


def test_batch_twin_shape(spark):
    out = stateful.user_profile_batch(TableCatalog(spark, SF).table("events"))
    assert set(out.columns) == {
        "user_id", "n", "total", "min_v", "max_v", "mean_v", "closed",
    }
    row = out.where(F.col("n") > 1).first()
    assert row["min_v"] <= row["mean_v"] <= row["max_v"]


def test_write_parquet_partitioned_roundtrip(spark, tmp_path):
    cat = TableCatalog(spark, SF)
    df = cat.table("orders")
    path = writers.write_parquet(
        df, str(tmp_path / "orders_p"), partition_by=["o_orderpriority"]
    )
    # hive layout: one dir per priority → partition pruning on read
    dirs = [d for d in os.listdir(path) if d.startswith("o_orderpriority=")]
    assert len(dirs) == df.select("o_orderpriority").distinct().count()
    back = spark.read.parquet(path)
    assert back.count() == df.count()
    pruned = back.where(F.col("o_orderpriority") == "1-URGENT")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan


def test_copy_warehouse_all_tables(spark, tmp_path):
    cat = TableCatalog(spark, SF)
    tables = {n: cat.table(n) for n in ("region", "nation")}
    out = writers.copy_warehouse(tables, str(tmp_path / "wh"))
    assert set(out) == {"region", "nation"}
    for name, path in out.items():
        assert spark.read.parquet(path).count() == tables[name].count()


def test_write_csv_roundtrip(spark, tmp_path):
    cat = TableCatalog(spark, SF)
    df = cat.table("region")
    path = writers.write_csv(df, str(tmp_path / "region_tsv"), sep="\t")
    back = (
        spark.read.option("header", True)
        .option("sep", "\t")
        .schema(df.schema)
        .csv(path)
    )
    assert sorted(back.collect()) == sorted(df.collect())


def test_to_excel_row_cap(spark):
    df = TableCatalog(spark, SF).table("orders")
    with pytest.raises(ValueError, match="capped"):
        writers.to_excel(df, "/tmp/never.xlsx", max_rows=5)


def test_to_excel_round_trip(spark, tmp_path):
    """S14 stdlib xlsx sink (round 8, no openpyxl): write a mixed-type
    frame and read the OOXML parts back with zipfile + ElementTree —
    header row, native number/bool cells, inline strings (XML-escaped),
    blank cells for nulls, and a valid part inventory."""
    import zipfile
    import xml.etree.ElementTree as ET

    df = spark.createDataFrame(
        [
            (1, 2.5, True, "plain"),
            (2, None, False, "esc <&> \"quoted\""),
            (3, -0.125, None, None),
        ],
        "k int, x double, f boolean, s string",
    )
    path = writers.to_excel(df, str(tmp_path / "out.xlsx"))
    ns = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
    with zipfile.ZipFile(path) as z:
        names = set(z.namelist())
        assert {"[Content_Types].xml", "xl/workbook.xml",
                "xl/worksheets/sheet1.xml"} <= names
        sheet = ET.fromstring(z.read("xl/worksheets/sheet1.xml"))
    rows = sheet.findall(f"{ns}sheetData/{ns}row")
    assert len(rows) == 4  # header + 3 data rows

    def cells(row):
        out = {}
        for c in row.findall(f"{ns}c"):
            ref = c.get("r")
            col = "".join(ch for ch in ref if ch.isalpha())
            if c.get("t") == "inlineStr":
                out[col] = c.find(f"{ns}is/{ns}t").text
            else:
                out[col] = c.find(f"{ns}v").text
        return out

    assert cells(rows[0]) == {"A": "k", "B": "x", "C": "f", "D": "s"}
    r1 = cells(rows[1])
    assert (int(r1["A"]), float(r1["B"]), r1["C"], r1["D"]) == (
        1, 2.5, "1", "plain")
    r2 = cells(rows[2])
    assert r2["D"] == 'esc <&> "quoted"' and "B" not in r2  # null -> blank
    r3 = cells(rows[3])
    assert float(r3["B"]) == -0.125 and "C" not in r3 and "D" not in r3


def test_bucketed_table_shuffle_free_join(spark, tmp_path):
    """Two tables bucketed on the join key join without an Exchange —
    the S13-at-scale payoff."""
    cat = TableCatalog(spark, SF)
    writers.write_bucketed_table(
        cat.table("orders"), "b_orders", ["o_custkey"], num_buckets=4
    )
    writers.write_bucketed_table(
        cat.table("customer"), "b_customer", ["c_custkey"], num_buckets=4
    )
    a = spark.table("b_orders")
    b = spark.table("b_customer")
    joined = a.join(b, a.o_custkey == b.c_custkey)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan.replace("BroadcastExchange", "")
    assert joined.count() > 0
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")


def test_parquet_sink_checkpoint_exactly_once(spark, event_source, tmp_path):
    """Watermarked tumbling agg -> checkpointed parquet sink: emitted
    windows match the batch result for closed windows, and a restart with
    the same checkpoint re-emits NOTHING (source already committed)."""
    from pyspark.sql import functions as F

    from etl_io_spark.streaming import sinks

    path, cat = event_source
    out_dir = str(tmp_path / "sink_out")
    ckpt = str(tmp_path / "sink_ckpt")

    def run():
        stream = cat.table_stream("events", path)
        agg = sw.tumbling_agg(stream, watermark="1 minute")
        sinks.run_to_parquet_sink(agg, out_dir, ckpt)

    run()
    got = spark.read.parquet(out_dir)
    n_first = got.count()
    assert n_first > 0
    # append mode only emits watermark-closed windows -> subset of batch
    want = {
        tuple(r)
        for r in sw.tumbling_agg(cat.table("events")).collect()
    }
    assert {tuple(r) for r in got.collect()} <= want
    # restart: same checkpoint, no new source files -> zero new rows
    run()
    assert spark.read.parquet(out_dir).count() == n_first


def test_foreach_batch_receives_batches(spark, event_source, tmp_path):
    from etl_io_spark.streaming import sinks

    path, cat = event_source
    target = str(tmp_path / "fb_out")
    ckpt = str(tmp_path / "fb_ckpt")

    def handle(batch_df, batch_id):
        # idempotent-by-batch-id contract: write to a batch-keyed dir
        batch_df.write.mode("overwrite").parquet(f"{target}/batch={batch_id}")

    stream = cat.table_stream("events", path)
    sinks.run_foreach_batch(stream.select("event_id", "user_id"), handle, ckpt)
    back = spark.read.parquet(f"{target}/batch=0")
    assert back.count() == cat.table("events").count()


def test_to_sqlite3_roundtrip(spark, tmp_path):
    import sqlite3

    cat = TableCatalog(spark, SF)
    tables = {n: cat.table(n) for n in ("region", "nation")}
    db = str(tmp_path / "copy.db")
    out = writers.to_sqlite3(tables, db)
    assert out == {n: df.count() for n, df in tables.items()}
    con = sqlite3.connect(db)
    try:
        for n, df in tables.items():
            rows = con.execute(f"SELECT COUNT(*) FROM {n}").fetchone()[0]
            assert rows == df.count()
        names = con.execute(
            "SELECT r_name FROM region ORDER BY r_regionkey"
        ).fetchall()
        assert [r[0] for r in names] == [
            r["r_name"]
            for r in tables["region"].orderBy("r_regionkey").collect()
        ]
    finally:
        con.close()


def test_to_sqlite3_row_cap(spark, tmp_path):
    df = TableCatalog(spark, SF).table("orders")
    with pytest.raises(ValueError, match="driver-side"):
        writers.to_sqlite3({"orders": df}, str(tmp_path / "cap.db"),
                           max_rows_per_table=5)


def test_write_sorted_produces_disjoint_file_ranges(spark, tmp_path):
    import pyspark.sql.functions as SF

    from etl_io_spark.sources.writers import write_sorted

    df = spark.range(0, 10_000).select(
        (SF.col("id") * 37 % 9973).alias("k"), SF.col("id").alias("v")
    )
    path = str(tmp_path / "sorted")
    write_sorted(df, path, ["k"], num_files=4)
    back = spark.read.parquet(path)
    ranges = (
        back.groupBy(SF.input_file_name().alias("f"))
        .agg(SF.min("k").alias("lo"), SF.max("k").alias("hi"))
        .collect()
    )
    assert len(ranges) == 4
    spans = sorted((r["lo"], r["hi"]) for r in ranges)
    for (prev_lo, prev_hi), (lo, hi) in zip(spans, spans[1:]):
        assert prev_hi <= lo  # disjoint, clustered ranges
    # a point filter must prune to a single file's row groups
    assert back.where(SF.col("k") == spans[0][0]).count() >= 1


def _morton_py(x: int, y: int) -> int:
    z = 0
    for i in range(16):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


def test_morton2_matches_reference_bit_interleave(spark):
    import pyspark.sql.functions as SF

    from etl_io_spark.functions.encoding import morton2

    cases = [(0, 0), (1, 0), (0, 1), (65535, 65535), (12345, 54321), (7, 70000)]
    df = spark.createDataFrame(cases, "x int, y int").select(
        "x", "y", morton2(SF.col("x"), SF.col("y")).alias("z")
    )
    for r in df.collect():
        assert r["z"] == _morton_py(r["x"] & 0xFFFF, r["y"] & 0xFFFF)


def test_write_zordered_clusters_both_dimensions(spark, tmp_path):
    import pyspark.sql.functions as SF

    from etl_io_spark.sources.writers import write_zordered

    # 64x64 grid in random-ish order: z-order layout must keep BOTH x and y
    # per-file ranges far below the global range (a single-column sort
    # achieves this only for its leading key).
    df = spark.range(0, 4096).select(
        ((SF.col("id") * 2654435761) % 4096 % 64).alias("x"),
        ((SF.col("id") * 2654435761) % 4096 / 64).cast("int").alias("y"),
    )
    path = str(tmp_path / "zordered")
    write_zordered(df, path, "x", "y", num_files=16)
    back = spark.read.parquet(path)
    stats = (
        back.groupBy(SF.input_file_name())
        .agg(
            (SF.max("x") - SF.min("x")).alias("xr"),
            (SF.max("y") - SF.min("y")).alias("yr"),
        )
        .collect()
    )
    assert len(stats) == 16
    avg_xr = sum(r["xr"] for r in stats) / len(stats)
    avg_yr = sum(r["yr"] for r in stats) / len(stats)
    # global range is 63 in each dimension; 16 z-tiles of a 64x64 grid are
    # 16x16 blocks => per-file range 15. Allow slack for range-boundary
    # straddling, but both dimensions must cluster.
    assert avg_xr <= 32, avg_xr
    assert avg_yr <= 32, avg_yr


def test_compact_parquet_reduces_file_count(spark, tmp_path):
    from etl_io_spark.sources.writers import compact_parquet

    src = str(tmp_path / "fragmented")
    # 40 tiny files
    spark.range(0, 4000).repartition(40).write.parquet(src)
    import glob

    assert len(glob.glob(f"{src}/part-*.parquet")) == 40
    out = str(tmp_path / "compacted")
    n = []
    stages = _stages_per_job(spark, lambda: n.append(
        compact_parquet(spark, src, out, target_mb=128)))
    assert n == [1]
    assert set(stages) == {1}  # scan splits merged, nothing shuffled
    files = glob.glob(f"{out}/part-*.parquet")
    assert len(files) == 1
    assert spark.read.parquet(out).count() == 4000


def test_compact_parquet_sorted_recluster(spark, tmp_path):
    import pyspark.sql.functions as SF

    from etl_io_spark.sources.writers import compact_parquet

    src = str(tmp_path / "frag2")
    spark.range(0, 2000).select((SF.col("id") * 7919 % 2000).alias("k")) \
        .repartition(20).write.parquet(src)
    out = str(tmp_path / "compact2")
    compact_parquet(spark, src, out, target_mb=128, sort_cols=["k"])
    back = spark.read.parquet(out)
    assert back.count() == 2000
    (f,) = _part_files(out)
    keys = [r[0] for r in _file_rows(f)]
    assert keys == sorted(keys)


def _stages_per_job(spark, action) -> list[int]:
    """Run ``action`` and return the stage count of every job it ran; a
    job that reads a shuffle lists its map stage too (run or skipped), so
    all ones means no row was shuffled."""
    sc = spark.sparkContext
    group = f"writer_regime_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "writer regime")
    try:
        action()
    finally:
        sc.setJobGroup(None, None)
    # the status store fills from the listener bus, which lags the action
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    ids = sc.statusTracker().getJobIdsForGroup(group)
    assert ids, "no job recorded"
    return [len(sc.statusTracker().getJobInfo(i).stageIds) for i in ids]


def _part_files(path: str) -> list[str]:
    import glob

    return sorted(glob.glob(f"{path}/part-*.parquet"))


def _file_rows(path: str) -> list[tuple]:
    """One parquet file's rows in file order."""
    import pyarrow.parquet as pq

    return list(zip(*pq.read_table(path).to_pydict().values()))


def _layout_write(writer: str, df, path: str) -> None:
    if writer == "write_sorted":
        writers.write_sorted(df, path, ["x"])
    else:
        writers.write_zordered(df, path, "x", "y")


@pytest.mark.parametrize("writer", ["write_sorted", "write_zordered"])
def test_layout_writers_gather_or_range(spark, tmp_path, writer):
    """Both regimes of the layout writers write the same multiset of
    rows. A parquet scan within the broadcast budget (forced) is gathered
    into one task: one file in key order, written with no shuffle. Over
    it (forced) the range exchange splits the rows across files."""
    src = str(tmp_path / "src")
    spark.range(0, 5000).select(
        (F.col("id") * 7919 % 5000).alias("x"),
        (F.col("id") * 104729 % 97).alias("y"),
    ).repartition(4).write.parquet(src)
    df = spark.read.parquet(src)

    rows = {}
    for gathered in (True, False):
        path = str(tmp_path / f"{writer}_{gathered}")
        with writer_path(gathered):
            stages = _stages_per_job(
                spark, lambda: _layout_write(writer, df, path))
        rows[gathered] = sorted(map(tuple, spark.read.parquet(path).collect()))
        files = _part_files(path)
        if gathered:
            assert stages == [1], stages
            assert len(files) == 1
            key = (lambda r: r[0]) if writer == "write_sorted" else (
                lambda r: _morton_py(r[0], r[1]))
            got = [key(r) for r in _file_rows(files[0])]
            assert got == sorted(got)
        else:
            assert max(stages) > 1, stages
    assert rows[True] == rows[False] == sorted(map(tuple, df.collect()))


@pytest.mark.parametrize(
    "derive, gathered",
    [("scan", True), ("filtered", True), ("aggregate", False),
     ("python_udf", False), ("rdd", False)],
)
def test_layout_writers_gather_only_scans(spark, tmp_path, derive, gathered):
    """Within the broadcast budget (forced) the layout writers gather only
    a parquet scan, projected or filtered. Any other input keeps the range
    exchange: gathering it would run its producing stage (an aggregate, a
    Python UDF, an RDD) in one task."""
    src = str(tmp_path / "src")
    spark.range(0, 2000).select(
        (F.col("id") % 500).alias("x"), (F.col("id") % 7).alias("y")
    ).write.parquet(src)
    scan = spark.read.parquet(src)
    df = {
        "scan": lambda: scan,
        "filtered": lambda: scan.where(F.col("y") > 2).withColumn("z", F.col("x") * 2),
        "aggregate": lambda: scan.groupBy("x", "y").count(),
        "python_udf": lambda: scan.select(
            F.udf(lambda v: v + 1, "long")("x").alias("x"), "y"),
        "rdd": lambda: spark.createDataFrame(scan.rdd.map(tuple), scan.schema),
    }[derive]()
    with writer_path(True):
        plan = writers._clustered(df, ["x"], None)._jdf.queryExecution()
    layout = plan.optimizedPlan().children().apply(0).nodeName()
    assert layout == ("Repartition" if gathered else "RepartitionByExpression")


def _fragmented(spark, path: str, n_files: int = 20) -> int:
    """~2.4 MB of incompressible doubles in ``n_files`` files; returns the
    row count."""
    spark.range(0, 150_000).select(
        F.rand(1).alias("x"), F.rand(2).alias("y")
    ).repartition(n_files).write.parquet(path)
    return 150_000


@pytest.mark.parametrize("max_partition_mb, shuffles", [(1, False), (4, True)])
def test_compact_parquet_file_count_regimes(
    spark, tmp_path, max_partition_mb, shuffles
):
    """``compact_parquet`` returns the number of part files it wrote.
    With ``target_mb`` at or above ``spark.sql.files.maxPartitionBytes``
    it merges scan splits without a shuffle; below it, it round-robins."""
    src, out = str(tmp_path / "frag"), str(tmp_path / "compacted")
    n_rows = _fragmented(spark, src)
    key = "spark.sql.files.maxPartitionBytes"
    orig = spark.conf.get(key)
    spark.conf.set(key, str(max_partition_mb * 1024 * 1024))
    try:
        n = []
        stages = _stages_per_job(spark, lambda: n.append(
            writers.compact_parquet(spark, src, out, target_mb=1)))
    finally:
        spark.conf.set(key, orig)
    assert n[0] >= 2 and len(_part_files(out)) == n[0]
    assert (max(stages) > 1) == shuffles, stages
    assert spark.read.parquet(out).count() == n_rows


def test_avro_gated_with_clear_error(spark, tmp_path):
    from etl_io_spark.sources.writers import write_avro

    with pytest.raises(Exception, match="avro|Avro"):
        write_avro(spark.range(3).toDF("id"), str(tmp_path / "a.avro"))


def test_write_jdbc_derby_roundtrip(spark, tmp_path):
    """Exercise the real `to_db` write path against Spark's BUNDLED
    embedded Derby (the jars ship with the distro for the Hive
    metastore), offline — write + read-back compare. Until round 9 this
    path had never executed in-container (no external JDBC driver jar
    ships; VERDICT r8 ask #6)."""
    from etl_io_spark.sources.writers import write_jdbc

    url = f"jdbc:derby:{tmp_path / 'jdbc_rt'};create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5), (3, None, None)],
        "id bigint, name string, v double",
    )
    assert write_jdbc(df, url, "rt_table", properties=props) == "rt_table"
    back = spark.read.jdbc(url, "rt_table", properties=props)
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, df.collect())
    )
    # overwrite mode replaces, not appends
    write_jdbc(df.limit(1), url, "rt_table", properties=props)
    assert spark.read.jdbc(url, "rt_table", properties=props).count() == 1


def test_ewma_stream_matches_batch_twin(spark, event_source):
    from etl_io_spark.operators import timeseries

    path, cat = event_source
    stream = cat.table_stream("events", path)
    name = f"q_{uuid.uuid4().hex[:8]}"
    q = sw.run_to_memory_sink(
        stateful.ewma_stream(stream, halflife_seconds=3600.0), name,
        output_mode="append",
    )
    q.stop()
    got = {
        r["user_id"]: (r["n_events"], r["ewma_score"])
        for r in spark.table(name).collect()
    }
    want = {
        r["user_id"]: (r["n_events"], r["ewma_score"])
        for r in timeseries.ewma_score(
            cat.table("events"), "user_id", "ts", "value",
            halflife_seconds=3600.0,
        ).collect()
    }
    assert got.keys() == want.keys() and len(got) > 0
    for k in got:
        assert got[k][0] == want[k][0]
        # recursive fold vs prefix factorization: same value modulo
        # float association
        assert abs(got[k][1] - want[k][1]) < 1e-4


def test_ewma_stream_typed_matches_batch_twin(spark, event_source):
    """Per-type-halflife variant: the stateful fold keyed by (user, type)
    must match timeseries.ewma_score_typed — the batch contract that the
    graded `ewma_decay_by_type` registry key pins against the oracle."""
    from etl_io_spark.operators import timeseries

    hl = {"view": 21600.0, "click": 86400.0, "purchase": 604800.0}
    path, cat = event_source
    stream = cat.table_stream("events", path)
    name = f"q_{uuid.uuid4().hex[:8]}"
    q = sw.run_to_memory_sink(
        stateful.ewma_stream_typed(stream, halflife_by=hl), name,
        output_mode="append",
    )
    q.stop()
    got = {
        (r["user_id"], r["event_type"]): (r["n_events"], r["ewma_score"])
        for r in spark.table(name).collect()
    }
    want = {
        (r["user_id"], r["event_type"]): (r["n_events"], r["ewma_score"])
        for r in timeseries.ewma_score_typed(
            cat.table("events"), "user_id", "event_type", "ts", "value",
            halflife_by=hl,
        ).collect()
    }
    assert got.keys() == want.keys() and len(got) > 0
    # distinct halflives must actually bite: a user's view score decays
    # faster than their purchase score, so at least the types present
    types = {t for _, t in got}
    assert {"view", "click", "purchase"} <= types
    for k in got:
        assert got[k][0] == want[k][0]
        assert abs(got[k][1] - want[k][1]) < 1e-4


def test_ewma_fold_carries_state_across_batches(spark):
    import math

    import pandas as pd

    lam = math.log(2.0) / 3600.0
    b1 = pd.DataFrame({"__tm": [0], "value": [1.0]})
    b2 = pd.DataFrame({"__tm": [3_600_000_000], "value": [2.0]})
    s1 = stateful._ewma_fold(None, b1, lam)
    s2 = stateful._ewma_fold(s1, b2, lam)
    # one halflife later: 2 + 1*0.5
    assert abs(s2[0] - 2.5) < 1e-12 and s2[2] == 2
    # identical to folding both rows in one batch
    both = stateful._ewma_fold(None, pd.concat([b1, b2]), lam)
    assert both == s2


def test_xlsx_col_letters():
    assert [writers._xlsx_col(i) for i in (0, 1, 25, 26, 27, 51, 52, 701, 702)] == [
        "A", "B", "Z", "AA", "AB", "AZ", "BA", "ZZ", "AAA"
    ]


def test_to_excel_control_chars_nat_and_literal_escapes(spark, tmp_path):
    """XML 1.0 cannot represent C0 control characters even escaped —
    they must become OOXML _xHHHH_ escapes (with literal _xHHHH_ text
    protected), and a null timestamp (pd.NaT — neither None nor float
    NaN) must be a blank cell, not the text 'NaT'."""
    import datetime
    import xml.etree.ElementTree as ET
    import zipfile

    from etl_io_spark.sources.writers import to_excel

    df = spark.createDataFrame(
        [
            ("bad\x00char\x01", datetime.datetime(2020, 1, 1), 1.5),
            ("_x0000_ literal", None, None),
        ],
        "s string, ts timestamp, v double",
    )
    path = to_excel(df, str(tmp_path / "t.xlsx"))
    with zipfile.ZipFile(path) as z:
        xml_txt = z.read("xl/worksheets/sheet1.xml").decode()
    ET.fromstring(xml_txt)  # well-formed
    assert "_x0000_" in xml_txt and "_x0001_" in xml_txt
    assert "_x005F_x0000_ literal" in xml_txt
    assert "NaT" not in xml_txt


def test_quality_classifier_inplan_twin_matches_literal_table(spark):
    """Past _MAX_LITERAL_BUCKETS the classifier swaps the driver-folded
    weight array for the in-plan per-token md5 — values must be
    identical."""
    from etl_io_spark.operators import filters

    docs = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "lorem ipsum dolor"), (3, "")],
        "doc_id long, text string",
    )
    a = sorted(
        map(tuple, filters.quality_classifier(docs, "doc_id", "text").collect())
    )
    old_gate = filters._MAX_LITERAL_BUCKETS
    try:
        filters._MAX_LITERAL_BUCKETS = 0
        b = sorted(
            map(
                tuple,
                filters.quality_classifier(docs, "doc_id", "text").collect(),
            )
        )
    finally:
        filters._MAX_LITERAL_BUCKETS = old_gate
    assert a == b
