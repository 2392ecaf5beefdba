"""Handler facades mirroring the reference's public API, Spark-first.

The reference exposes three user-facing classes (SURVEY.md §2.8):
``IPEDSHandler`` (awards/programs/schools tabulations over a geo-filtered
institution set), ``ONETHandler`` (quant/qual views with pivot / one-hot),
and ``Rosetta`` (crosswalk translate). These facades reproduce each entry
point's *semantics* on the driver star schema (FIXTURES.md role mapping:
units ≙ customers, geo ≙ nation/region/segment, fact ≙ orders, element
table ≙ events), with the reference's pathologies replaced by their intent:

  * ``get_unitid``'s collect-IDs-into-IN round trip (etl_io.py:354-357)
    → a left-semi join that never leaves the cluster;
  * ``schools()`` counting rows where it documents distinct schools
    (etl_io.py:591-599) → COUNT(DISTINCT unit);
  * accepted-but-ignored kwargs (``school_query``'s cip_level/rename/label,
    etl_io.py:278-280) → not reproduced; every parameter acts.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, functions as F

from etl_io_spark.catalog import TableCatalog
from etl_io_spark.functions import cleaning
from etl_io_spark.operators import joins, reshape


class StarTabulation:
    """``IPEDSHandler``-shaped tabulations (etl_io.py:17-605) on the star
    schema: unit dim = customer x nation x region; fact = orders."""

    #: decode table for order priorities (the CIPCODE->label analogue)
    PRIORITY_LABELS: Mapping[str, str] = {
        "1-URGENT": "Urgent",
        "2-HIGH": "High",
        "3-MEDIUM": "Medium",
        "4-NOT SPECIFIED": "Unspecified",
        "5-LOW": "Low",
    }

    def __init__(self, cat: TableCatalog) -> None:
        self.cat = cat

    # -- get_unitid analogue (etl_io.py:245-276) ---------------------------
    def get_units(
        self,
        region: str | Sequence[str] | None = None,
        nation: str | Sequence[str] | None = None,
        segment: str | Sequence[str] | None = None,
    ) -> DataFrame:
        """Geo-filtered unit dimension. Returns a DataFrame of unit keys +
        geography labels — never a collected ID list."""

        def _lst(v):
            return [v] if isinstance(v, str) else list(v)

        units = (
            self.cat.table("customer")
            .withColumnRenamed("c_nationkey", "n_nationkey")
            .join(self.cat.table("nation"), "n_nationkey")
            .withColumnRenamed("n_regionkey", "r_regionkey")
            .join(self.cat.table("region"), "r_regionkey")
        )
        if region is not None:
            units = units.where(F.col("r_name").isin(_lst(region)))
        if nation is not None:
            units = units.where(F.col("n_name").isin(_lst(nation)))
        if segment is not None:
            units = units.where(F.col("c_mktsegment").isin(_lst(segment)))
        return units.select(
            F.col("c_custkey").alias("unit_id"),
            F.col("n_name").alias("geo_nation"),
            F.col("r_name").alias("geo_region"),
            F.col("c_mktsegment").alias("segment"),
        )

    # -- school_query analogue (etl_io.py:278-388) -------------------------
    def unit_query(
        self,
        region=None,
        nation=None,
        segment=None,
        codes: Sequence[str] | None = None,
        keep_geography: str | None = None,
    ) -> DataFrame:
        """Fact rows for the selected units: semi-join on the unit dim (J4),
        optional code filter (P5) and kept-geography attach (J1)."""
        units = self.get_units(region, nation, segment)
        fact = self.cat.table("orders").withColumnRenamed("o_custkey", "unit_id")
        out = fact.join(
            units.select("unit_id") if keep_geography is None else units,
            "unit_id",
            "inner" if keep_geography else "left_semi",
        )
        if keep_geography:
            out = out.select(fact.columns + [keep_geography])
        if codes is not None:
            out = out.where(F.col("o_orderpriority").isin(list(codes)))
        return out

    # -- awards analogue (etl_io.py:390-479) -------------------------------
    def awards(
        self,
        region=None,
        nation=None,
        segment=None,
        codes=None,
        keep_geography: str | None = None,
        label: bool = False,
    ) -> DataFrame:
        """Group-SUM tabulation over the unit query: measures summed per
        code (x optional geography), codes optionally decoded to labels."""
        rows = self.unit_query(region, nation, segment, codes, keep_geography)
        keys = ([keep_geography] if keep_geography else []) + ["o_orderpriority"]
        out = rows.groupBy(*keys).agg(
            F.round(F.sum("o_totalprice"), 2).alias("sum_totalprice"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        if label:
            out = cleaning.decode_map(
                out, {"o_orderpriority": dict(self.PRIORITY_LABELS)}
            )
        return out

    # -- programs analogue (etl_io.py:481-556) -----------------------------
    def programs(
        self, region=None, nation=None, segment=None, keep_geography: str | None = None
    ) -> DataFrame:
        """Group-COUNT: how many units offer each code (PROG_COUNT shape)."""
        rows = self.unit_query(region, nation, segment, keep_geography=keep_geography)
        keys = ([keep_geography] if keep_geography else []) + ["o_orderpriority"]
        return rows.groupBy(*keys).agg(
            F.countDistinct("unit_id").alias("prog_count")
        )

    # -- schools analogue (etl_io.py:558-605), intent semantics ------------
    def units_count(
        self, region=None, nation=None, segment=None, keep_geography: str | None = None
    ) -> DataFrame:
        """Distinct-unit count (the reference's documented intent; its
        row-count behavior is the noted bug)."""
        rows = self.unit_query(region, nation, segment, keep_geography=keep_geography)
        keys = [keep_geography] if keep_geography else []
        if keys:
            return rows.groupBy(*keys).agg(F.countDistinct("unit_id").alias("n_units"))
        return rows.select(F.countDistinct("unit_id").alias("n_units"))


class StarElements:
    """``ONETHandler``-shaped quant/qual views (etl_io.py:607-875) on the
    events table: user_id ≙ SOC code, event_type ≙ Element, value ≙
    Data Value."""

    def __init__(self, cat: TableCatalog) -> None:
        self.cat = cat

    def quant_view(
        self,
        users: Sequence[int] | None = None,
        summary: bool = False,
        pivot: bool = False,
    ) -> DataFrame:
        """Long projection, optional PRODUCT summary (A7: the IM×LV scale
        multiply, etl_io.py:816-818), optional wide pivot (R1/R2)."""
        ev = self.cat.table("events").select("user_id", "event_type", "value")
        if users is not None:
            ev = ev.where(F.col("user_id").isin(list(users)))
        if summary:
            long = ev.groupBy("user_id", "event_type").agg(
                F.round(F.product("value"), 6).alias("value")
            )
        else:
            long = ev
        if not pivot:
            return long
        return reshape.pivot_wide(
            long,
            index="user_id",
            pivot_col="event_type",
            value_col="value",
            values=["click", "error", "purchase", "signup", "view"],
            agg_fn=lambda c: F.round(F.sum(c), 2),
        )

    def qual_view(
        self, users: Sequence[int] | None = None, onehot: bool = False
    ) -> DataFrame:
        """Passthrough or one-hot encoding (R3; etl_io.py:870-871)."""
        ev = self.cat.table("events").select("user_id", "event_type")
        if users is not None:
            ev = ev.where(F.col("user_id").isin(list(users)))
        if not onehot:
            return ev
        return reshape.one_hot(
            ev,
            index="user_id",
            category_col="event_type",
            values=["click", "error", "purchase", "signup", "view"],
        )


#: ``Rosetta.translate`` is exposed directly as joins.translate — the
#: facade adds nothing beyond the operator (etl_io.py:877-941).
translate = joins.translate


class Rosetta:
    """``Rosetta``-shaped crosswalk facade (etl_io.py:877-941) with a real
    DataFrame crosswalk instead of an eagerly-loaded CSV.

    The reference constructor reads rosetta_stone.csv and ``translate``
    dedups, drops nulls, explodes the stringified list column in a Python
    row loop, then chains pandas merges. Here construction is lazy and
    ``translate`` delegates to the broadcast-join operator; ``list_col``
    names a stringified-list column to parse+explode natively."""

    def __init__(self, crosswalk: DataFrame, list_col: str | None = None) -> None:
        self.crosswalk = crosswalk
        self.list_col = list_col

    def translate(
        self,
        data: DataFrame,
        left: str,
        right: str,
        data_2: DataFrame | None = None,
        how: str = "inner",
    ) -> DataFrame:
        return joins.translate(
            data,
            self.crosswalk,
            left=left,
            right=right,
            data_2=data_2,
            how=how,
            list_col=self.list_col,
        )
