"""Generic string column profiler — the one-call table health scan.

The reference profiles telemetry attributes (key catalogs, cardinality,
samples); a pipeline wants the same glance for any text table before it
joins or aggregates it: null and empty rates, exact distincts, length
range and mean. `string_profile` is that scan as ONE aggregation — the
`dataset_card` idiom generalized to arbitrary columns (the transcripts
in the driver query).

Scale shape: a single hash aggregation computes every column's
statistics in one pass (the multi-count-distinct expands to a
grouping-set pass, all map-side combinable — the same expand
`attribute_catalog` uses); the unpivot to long form runs on the 1-row
result. Nothing driver-side, no second scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def string_profile(df: DataFrame, columns: list[str]) -> DataFrame:
    """One row per profiled column — ``(column, n_rows, n_nulls,
    n_empty, n_distinct, min_length, max_length, avg_length)``; distinct
    counting runs on md5 digests so wide text never widens the agg
    state.
    """
    aggs = []
    for c in columns:
        col = F.col(c)
        s = F.coalesce(col.cast("string"), F.lit(None))
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            F.sum(col.isNull().cast("long")).alias(f"{c}__nulls"),
            F.sum((F.length(F.trim(s)) == 0).cast("long")).alias(
                f"{c}__empty"
            ),
            F.countDistinct(F.md5(s)).alias(f"{c}__nd"),
            F.min(F.length(s)).alias(f"{c}__minl"),
            F.max(F.length(s)).alias(f"{c}__maxl"),
            F.round(F.avg(F.length(s)), 4).alias(f"{c}__avgl"),
        ]
    wide = df.agg(*aggs)
    stacked = ", ".join(
        f"'{c}', {c}__n, {c}__nulls, {c}__empty, {c}__nd, {c}__minl, "
        f"{c}__maxl, {c}__avgl"
        for c in columns
    )
    return wide.selectExpr(
        f"stack({len(columns)}, {stacked}) AS "
        "(column, n_rows, n_nulls, n_empty, n_distinct, min_length, "
        "max_length, avg_length)"
    )
