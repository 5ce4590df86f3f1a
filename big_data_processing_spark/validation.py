"""Single-pass data-quality validation.

Re-expresses the reference's DataValidator
(`/root/reference/src/data_processing/data_validator.py:102-184`)
— null counts per column (F3/A8, `:122-125`), duplicate count (A7,
`:128-129`), business-rule violation counts (F4, `:136-141`),
quality score (A9, `:143-152`), and the schema gate (`:157-184`).

Spark-first design
------------------
The reference launched ~``2 + 2*ncols`` Spark jobs (one ``count()``
per null check per column). Here ALL null counts and ALL violation
counts are a single ``df.agg(...)`` of ``sum(when(...))`` columns —
one scan, one job; at 100 TB this is the difference between one
pass and dozens. The duplicate count needs a second pass because
``count_distinct`` over all columns is a shuffle-heavy exact
operation (kept for parity; ``approx=True`` switches to
``approx_count_distinct`` — the 100 TB choice).

The schema gate is driver-only metadata (no job at all).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# (metric_name, predicate-Column) pairs, e.g. fare<0 | fare>1000.
ViolationRule = tuple[str, Column]


def null_count_columns(columns: list[str]) -> list[Column]:
    """One ``count_if(isnull)`` per column — composable into one agg
    (a count, so an empty table reads 0, not NULL)."""
    return [F.count_if(F.col(c).isNull()).alias(f"null_{c}") for c in columns]


def violation_count_columns(rules: list[ViolationRule]) -> list[Column]:
    return [F.count_if(pred).alias(name) for name, pred in rules]


def quality_metrics(
    df: DataFrame,
    rules: list[ViolationRule] | None = None,
    include_duplicates: bool = True,
    approx: bool = False,
) -> DataFrame:
    """One-row DataFrame of quality metrics (reference's metric dict,
    `data_validator.py:56-64`, computed in one aggregation pass).

    Columns: ``total_rows``, ``null_<col>`` per column, violation
    counts per rule, ``duplicate_count``, and ``quality_score`` =
    ``max(0, (rows - Σviolations) / rows * 100)`` rounded to 2 dp
    (formula at `data_validator.py:150-152`).
    """
    rules = rules or []
    aggs: list[Column] = [F.count(F.lit(1)).alias("total_rows")]
    aggs += null_count_columns(df.columns)
    aggs += violation_count_columns(rules)
    metrics = df.agg(*aggs)

    if include_duplicates:
        # A7: total - distinct over all columns (data_validator.py:128-129).
        if approx:
            distinct = df.agg(
                F.approx_count_distinct(F.struct(*df.columns)).alias("d")
            )
        else:
            distinct = df.distinct().agg(F.count(F.lit(1)).alias("d"))
        metrics = metrics.crossJoin(
            distinct.select((F.col("d")).alias("distinct_rows"))
        ).withColumn(
            "duplicate_count", F.col("total_rows") - F.col("distinct_rows")
        ).drop("distinct_rows")

    if rules:
        total_violations = sum(
            (F.col(name) for name, _ in rules), start=F.lit(0)
        )
        # try_divide: an empty table scores 0.0, not DIVIDE_BY_ZERO
        score = F.try_divide(
            F.col("total_rows") - total_violations, F.col("total_rows")
        ) * F.lit(100.0)
        metrics = metrics.withColumn(
            "quality_score",
            F.round(F.greatest(F.lit(0.0), score), 2),
        )
    return metrics


def completeness(df: DataFrame) -> DataFrame:
    """A8: per-column completeness % in one pass
    (reference `data_validator.py:122-125` — one job per column)."""
    total = F.count(F.lit(1))
    aggs = [
        F.round(
            (total - F.sum(F.col(c).isNull().cast("long")))
            / total
            * F.lit(100.0),
            2,
        ).alias(c)
        for c in df.columns
    ]
    return df.agg(*aggs)


@dataclass
class SchemaCheck:
    """Result of the driver-only schema gate
    (reference `data_validator.py:157-184`)."""

    valid: bool
    missing_critical: list[str] = field(default_factory=list)
    missing_optional: list[str] = field(default_factory=list)


def validate_schema(
    df: DataFrame,
    expected: set[str],
    critical: set[str],
) -> SchemaCheck:
    """Hard-fail only on missing critical columns; missing optional
    columns warn-but-pass (`data_validator.py:173-181`)."""
    present = set(df.columns)
    missing = expected - present
    missing_critical = sorted(missing & critical)
    return SchemaCheck(
        valid=not missing_critical,
        missing_critical=missing_critical,
        missing_optional=sorted(missing - critical),
    )


def dtype_report(df: DataFrame) -> dict[str, str]:
    """Per-column type-name map (reference P5,
    `data_validator.py:132-133`) — driver-only metadata, no job."""
    return dict(df.dtypes)
