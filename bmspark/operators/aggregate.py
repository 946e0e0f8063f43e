"""Aggregation stage (SURVEY.md §2.4) — the metrics/metamonitor graft.

The reference's only aggregation is counting: per-stage msgs in/out/drop
counters (metamonitor.go upstream) and the metrics stage's projection of
telemetry trees into tagged points (metrics.go) that a TSDB then
aggregates. The north_star pulls that downstream aggregation in-engine:
windowed group-bys per (domain, lang, hour(warc_ts)), counter hierarchies
as rollups, and the salted two-phase variant for
hot keys.

All shapes here compile to partial+final HashAggregate (map-side combine
free from Catalyst) — at 100 TB the shuffle carries only the partial
states, never raw rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hourly_counters(
    df: DataFrame,
    ts: str = "warc_ts",
    dims: tuple[str, ...] = ("domain", "lang"),
    measures: dict[str, Column] | None = None,
) -> DataFrame:
    """A2 — the flagship counter table: group by (dims…, hour) with count
    plus caller measures. ``date_trunc`` keeps hour as a proper timestamp
    (partition-prunable, oracle-matchable)."""
    aggs = [F.count(F.lit(1)).alias("n_pages")]
    for name, expr in (measures or {}).items():
        aggs.append(expr.alias(name))
    return df.groupBy(
        *dims, F.date_trunc("hour", F.col(ts)).alias("hour")
    ).agg(*aggs)


def rollup_counters(df: DataFrame, dims: list[str]) -> DataFrame:
    """A5 — counter hierarchy: per-(dims…), per-(prefix…), grand total in
    one pass (the metamonitor exposes several granularities; rollup
    computes all of them in a single shuffle)."""
    return df.rollup(*dims).agg(
        F.count(F.lit(1)).alias("n"),
        F.grouping_id().alias("grouping_level"),
    )


def cube_counters(df: DataFrame, dims: list[str]) -> DataFrame:
    """A5 variant — full cube over the dims (every granularity of the
    counter hierarchy in one shuffle)."""
    return df.cube(*dims).agg(
        F.count(F.lit(1)).alias("n"),
        F.grouping_id().alias("grouping_level"),
    )


def grouped_zscore(
    df: DataFrame, key: str, value: str, id_col: str
) -> DataFrame:
    """U3 — grouped-map surface (applyInPandas): per-key z-score
    normalization of ``value``. The one sanctioned use of grouped pandas:
    per-group logic that needs the whole group in memory. Semantically
    equals the window form avg/stddev_samp OVER (PARTITION BY key) — the
    DuckDB oracle checks exactly that equality, proving the pandas path
    against the relational one.

    Scale note: group = one key's rows must fit a worker; for web-scale
    keys prefer the window form. This operator exists for the API surface
    and for genuinely iterative per-group algorithms.
    """
    import pandas as pd

    out_schema = f"{id_col} long, {key} string, z double"

    def norm(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        std = pdf[value].std(ddof=1)
        mean = pdf[value].mean()
        z = (pdf[value] - mean) / std if std and std > 0 else pdf[value] * 0.0
        # floor-truncate at 4dp (matches SQL floor(); int() would truncate
        # toward zero and diverge on negative z)
        return pd.DataFrame({
            id_col: pdf[id_col],
            key: pdf[key],
            "z": np.floor(z * 10000) / 10000,
        })

    return df.select(id_col, key, value).groupBy(key).applyInPandas(norm, out_schema)


def tpch_q1ish(lineitem: DataFrame) -> DataFrame:
    """A6 — pricing-summary shape over the driver's lineitem (TPC-H Q1
    analog): validates multi-measure partial/final agg + expression
    arithmetic against the oracle."""
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit("2024-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base_price"),
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_disc_price"),
            F.avg("l_quantity").alias("avg_qty"),
            F.avg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# U4 — true UDAF surface (grouped-agg pandas UDF, Arrow-batched)
# ---------------------------------------------------------------------------

def median_udaf():
    """A genuine user-defined AGGREGATE: pandas grouped-agg UDF (Series →
    scalar), usable inside groupBy().agg() like any built-in. Median is
    the canonical non-algebraic aggregate (no partial-merge form), and
    it's order-independent, so the DuckDB oracle matches exactly.

    Scale note: a grouped-agg pandas UDF ships each group's column to one
    Python worker — right for bounded groups (10^2..10^6 rows); for
    unbounded groups prefer approx percentile_approx (sketch-mergeable).
    """
    import numpy as np
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit functionType: this module uses `from __future__ import
    # annotations`, which stringifies type hints and defeats pandas_udf's
    # hint inference
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def _median(v):
        return float(np.median(v.dropna()))

    return _median
