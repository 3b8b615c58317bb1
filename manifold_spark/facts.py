"""Fact load: surrogate-key resolution + append (reference J1, J2, D9, F10).

Reproduces `populate_presentation_fact_stock`
(`/root/reference/plugins/helpers/sql_queries_presentation.py:105-140`):
left-join the weekly staging stock rows to the three dimensions, resolve
surrogate keys (missing dim → null FK, row kept), derive the integer
yyyyMMdd date key from the varchar stock_date, and append.

Divergence from the literal reference SQL (documented intent per SURVEY §7
risk 4): the reference joins the whole SCD2 dim — which fans out once a key
has expired versions; we join ACTIVE rows only, so each fact row resolves
exactly one surrogate key. Surrogate key columns are `<entity>_id`.

Scale: the dims are orders of magnitude smaller than the fact stream, so
all three lookups are explicit `broadcast()` hash joins — zero shuffle of
the fact rows; the whole load is scan → project → 3 broadcast joins →
append, one stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from manifold_spark.schema import SCD2_SENTINEL


def _active(dim: DataFrame) -> DataFrame:
    return dim.filter(F.col("record_end_date") == F.lit(SCD2_SENTINEL).cast("date"))


def date_key(col: F.Column) -> F.Column:
    """varchar date → int yyyyMMdd (reference F10, :119)."""
    return F.date_format(F.to_date(col), "yyyyMMdd").cast("int")


def load_fact_stock(
    stock: DataFrame,
    dim_broker: DataFrame,
    dim_asset: DataFrame,
    dim_geography: DataFrame,
    id_offset: int = 0,
) -> DataFrame:
    """Resolve FKs for one weekly staging stock snapshot.

    Returns columns (id, broker_id, asset_id, geography_id, price,
    quantity, date_id) matching the presentation DDL (:91-102).
    """
    f = stock.alias("f")
    br = broadcast(_active(dim_broker).select("broker_id", "broker")).alias("br")
    a = broadcast(_active(dim_asset).select("asset_id", "contract_number")).alias("a")
    g = broadcast(
        _active(dim_geography).select("geography_id", "country", "county", "parish")
    ).alias("g")

    joined = (
        f.join(br, F.col("f.broker") == F.col("br.broker"), "left")  # J1
        .join(a, F.col("f.contract_number") == F.col("a.contract_number"), "left")  # J1
        .join(  # J2: 3-col composite geography key
            g,
            [
                F.col("f.country").eqNullSafe(F.col("g.country")),
                F.col("f.county").eqNullSafe(F.col("g.county")),
                F.col("f.parish").eqNullSafe(F.col("g.parish")),
            ],
            "left",
        )
    )
    resolved = joined.select(
        F.col("br.broker_id").alias("broker_id"),
        F.col("a.asset_id").alias("asset_id"),
        F.col("g.geography_id").alias("geography_id"),
        F.col("f.price").alias("price"),
        F.col("f.quantity").alias("quantity"),
        date_key(F.col("f.stock_date")).alias("date_id"),
    )
    # Fact `id identity(0,1)` (:94): deterministic dense sequence like the
    # dims, but assigned DISTRIBUTED (hash-bucketed row_number + bucket
    # offsets) — the weekly batch is ~50M rows at reference scale and must
    # not funnel through a single-partition sort. Re-runs of a week replace
    # the week's date_id partition (the pipeline's partition overwrite).
    from manifold_spark.scd2 import assign_surrogate_keys_distributed

    return assign_surrogate_keys_distributed(
        resolved, "id", ["date_id", "asset_id", "broker_id", "geography_id", "price"], offset=id_offset
    ).select("id", "broker_id", "asset_id", "geography_id", "price", "quantity", "date_id")
