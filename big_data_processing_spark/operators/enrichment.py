"""Enrichment operators: bucketing, guarded ratios, sink projection.

Re-expresses the reference's derived-feature stage
(`/root/reference/src/data_processing/spark_processor.py:180-198`)
and its sink projection (`:338-349`).

All three are pure narrow projections — no shuffle, fully inside
whole-stage codegen, and Catalyst constant-folds the literals. At
100 TB these run at scan speed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# (label, upper_bound) pairs; the last bucket is the catch-all.
Bucket = tuple[str, float]


def bucket_column(col: Column, buckets: list[Bucket], default: str) -> Column:
    """Left-closed ``when`` ladder (reference semantics,
    `spark_processor.py:185-189`: value < bound → label; the pandas
    twin's right-closed ``pd.cut`` is deliberately NOT copied —
    SURVEY.md §7.3)."""
    expr: Column | None = None
    for label, upper in buckets:
        cond = col < F.lit(upper)
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
    return expr.otherwise(default) if expr is not None else F.lit(default)


def bucketize(
    df: DataFrame,
    column: str,
    buckets: list[Bucket],
    default: str,
    out: str,
) -> DataFrame:
    """P1: append a categorical bucket column
    (reference `spark_processor.py:185-189`)."""
    return df.withColumn(out, bucket_column(F.col(column), buckets, default))


def guarded_ratio(
    df: DataFrame,
    numerator: str,
    denominator: str,
    out: str,
    scale: float = 1.0,
    default: float = 0.0,
) -> DataFrame:
    """P2/P3: ``num/den*scale`` where ``den > 0`` else ``default``
    (reference `spark_processor.py:190-195`)."""
    ratio = F.col(numerator) / F.col(denominator) * F.lit(scale)
    return df.withColumn(
        out,
        F.when(F.col(denominator) > 0, ratio).otherwise(F.lit(float(default))),
    )


# The ETL's P1 buckets on lineitem: left-closed when-ladder
# (`spark_processor.py:185-189` shape), and the equivalent SQL CASE.
QTY_BUCKETS = [("short", 10.0), ("medium", 25.0), ("long", 40.0)]
QTY_DEFAULT = "very_long"
QTY_BUCKET_CASE = (
    "CASE WHEN l_quantity < 10 THEN 'short' "
    "WHEN l_quantity < 25 THEN 'medium' "
    "WHEN l_quantity < 40 THEN 'long' "
    "ELSE 'very_long' END"
)


def enrich(df: DataFrame) -> DataFrame:
    """P1 + P2 + P3 on the cleaned lineitem table
    (spark_processor.py:180-198 shape)."""
    df = bucketize(df, "l_quantity", QTY_BUCKETS, QTY_DEFAULT, "qty_category")
    df = guarded_ratio(df, "l_extendedprice", "l_quantity", "price_per_unit")
    df = guarded_ratio(
        df, "l_discount", "l_extendedprice", "discount_pct", scale=100.0
    )
    return df


def sink_projection(
    df: DataFrame, columns: list[tuple[str, str, str | None]]
) -> DataFrame:
    """P4: select + rename + cast in one projection
    (reference `spark_processor.py:338-349`).

    ``columns`` is ``(source, alias, cast_type_or_None)``. One
    ``select`` keeps the pruned column set visible to the scan.
    """
    exprs = []
    for source, alias, cast_type in columns:
        col = F.col(source)
        if cast_type is not None:
            col = col.cast(cast_type)
        exprs.append(col.alias(alias))
    return df.select(*exprs)
