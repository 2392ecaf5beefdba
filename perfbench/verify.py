"""Output verification against the engine's DuckDB oracles.

Query outputs are compared with ``tools/check.py``'s canonicalization
(imported, not copied): same row count, same column names, and identical
sorted canonical row strings. Written tables are read back by DuckDB and
compared with their source table as multisets.
"""

from __future__ import annotations

import os

import duckdb

from etl_io_spark.catalog import STAR_TABLES
from tools.check import _canon_rows


class Oracle:
    """DuckDB views over the benchmark's generated tables."""

    def __init__(self, sf_dir: str) -> None:
        self.con = duckdb.connect()
        self.con.execute("SET threads = 2")
        # Spark writes UTC-adjusted timestamps; read them back as UTC
        self.con.execute("SET TimeZone = 'UTC'")
        for t in STAR_TABLES:
            p = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(p):
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    def rows(self, sql: str) -> tuple[list[str], list[tuple]]:
        rel = self.con.sql(sql)
        return list(rel.columns), rel.fetchall()

    def table_diff(self, path: str, table: str) -> str | None:
        """None when the parquet under ``path`` (hive-partitioned or not)
        holds exactly the rows of ``table``, else a description."""
        cols = self.con.execute(f"DESCRIBE SELECT * FROM {table}").fetchall()
        names = ", ".join(f'"{c[0]}"' for c in cols)
        casts = ", ".join(f'CAST("{c[0]}" AS {c[1]}) AS "{c[0]}"' for c in cols)
        back = (f"SELECT {casts} FROM read_parquet('{path}/**/*.parquet', "
                "hive_partitioning = true)")
        got, want, extra = self.con.execute(
            f"SELECT (SELECT count(*) FROM ({back})), "
            f"(SELECT count(*) FROM {table}), "
            f"(SELECT count(*) FROM ({back} EXCEPT ALL "
            f"SELECT {names} FROM {table}))"
        ).fetchone()
        if got != want or extra:
            return (f"read-back of {table}: rows got={got} want={want}, "
                    f"{extra} rows not in the source")
        return None

    def close(self) -> None:
        self.con.close()


def compare(got: tuple[list[str], list[tuple]],
            want: tuple[list[str], list[tuple]]) -> str | None:
    """None when equal, else a one-line description of the first problem."""
    (gcols, grows), (wcols, wrows) = got, want
    if len(grows) != len(wrows):
        return f"rowcount got={len(grows)} want={len(wrows)}"
    if sorted(gcols) != sorted(wcols):
        return f"columns got={sorted(gcols)} want={sorted(wcols)}"
    g, w = _canon_rows(gcols, grows), _canon_rows(wcols, wrows)
    if g != w:
        first = next((a, b) for a, b in zip(g, w) if a != b)
        return f"values differ; first: {first}"
    return None


def spark_rows(df) -> tuple[list[str], list[tuple]]:
    return df.columns, [tuple(r) for r in df.collect()]
