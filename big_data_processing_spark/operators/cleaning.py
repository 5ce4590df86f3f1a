"""Cleaning operators: conjunctive range filters and data-dependent
IQR outlier removal.

Re-expresses the reference's cleaning stage
(`/root/reference/src/data_processing/spark_processor.py:104-140`):
F1 — a chain of range predicates (`:110-118`); F2 — two-phase IQR
outlier removal: aggregate quartiles, compute scalar bounds on the
driver, filter by them (`:120-133`).

Spark-first design
------------------
- F1 is built as ONE conjunctive predicate, not 8 chained
  ``.filter`` calls: Catalyst would collapse the chain anyway, but
  a single predicate keeps intent visible and pushes down to the
  parquet scan as row-group min/max pruning (check ``PushedFilters``
  in ``.explain``).
- F2 keeps the reference's two-job shape — an aggregate job for the
  quartiles, then a lazily-extended bounded filter — which is the
  idiomatic Spark pattern for data-dependent scalar predicates. At
  100 TB the quartile job reads only the one column (column
  pruning) and ``exact=False`` switches to ``percentile_approx``,
  which aggregates a bounded-size sketch instead of sorting.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# (column, low, high, low_inclusive, high_inclusive)
RangeRule = tuple[str, float | None, float | None, bool, bool]


def range_predicate(rules: list[RangeRule]) -> Column:
    """Fold range rules into one conjunctive Column predicate."""
    terms: list[Column] = []
    for col_name, low, high, low_incl, high_incl in rules:
        col = F.col(col_name)
        if low is not None:
            terms.append(col >= F.lit(low) if low_incl else col > F.lit(low))
        if high is not None:
            terms.append(col <= F.lit(high) if high_incl else col < F.lit(high))
    if not terms:
        return F.lit(True)
    return reduce(lambda a, b: a & b, terms)


def range_filter(df: DataFrame, rules: list[RangeRule]) -> DataFrame:
    """F1: keep rows satisfying every range rule
    (reference `spark_processor.py:110-118`)."""
    return df.filter(range_predicate(rules))


# The ETL's F1 rules on lineitem (`spark_processor.py:110-118` shape),
# as range rules and as the equivalent SQL predicate.
CLEAN_RULES = [
    ("l_extendedprice", 0.0, 100000.0, False, False),  # 0 < price < 100000
    ("l_quantity", 0.0, 50.0, False, False),  # 0 < qty < 50
    ("l_discount", 0.0, 0.08, True, True),  # 0 <= disc <= 0.08
]
CLEAN_WHERE = (
    "l_extendedprice > 0 AND l_extendedprice < 100000 "
    "AND l_quantity > 0 AND l_quantity < 50 "
    "AND l_discount >= 0 AND l_discount <= 0.08"
)


def clean(df: DataFrame) -> DataFrame:
    return range_filter(df, CLEAN_RULES)


def exact_percentile_values(
    df: DataFrame,
    column: str,
    ps: list[float],
    group_cols: list[str] | None = None,
) -> DataFrame:
    """DISTRIBUTED exact percentiles, bit-identical to Spark's
    ``percentile(column, array(ps))`` (r12, guide §5): Spark's exact
    ``percentile`` is an ObjectHashAggregate whose final merge pulls
    every partial value-count map through ONE reducer thread and
    sorts the full value multiset there — measured 1-2 s per
    aggregate job on 600k doubles at sf0.1, the reason
    ``mad_outlier_filter``'s two percentile jobs cost more than its
    full-table filter. This formulation keeps every step a codegen'd
    shuffle operator:

    1. ``(group, value) → count`` partial aggregation — the shuffle
       carries one row per DISTINCT value (map-side combined);
    2. a cumulative-count window ordered by value within each group
       (for the ungrouped form that window is one partition of
       NARROW (value, count) rows — a Tungsten sort of the distinct
       values, not a merge of per-partition value maps);
    3. one tiny aggregate picks, per requested percentile p, the
       values at 0-based ranks ``floor(pos)`` / ``ceil(pos)`` where
       ``pos = p·(n−1)``, and the final projection interpolates
       ``(ceil(pos)−pos)·v_lo + (pos−floor(pos))·v_hi`` — the exact
       expression (and IEEE evaluation order) of Spark's
       ``Percentile.getPercentile``, so results match the aggregate
       bit-for-bit (property-pinned in tests/test_cleaning.py).

    Returns one row per group: (*group_cols, q array<double> in the
    order of ``ps``). NULLs in ``column`` are excluded, like the
    aggregate. At 100 TB the approx sketch stays the documented
    path; this is the oracle-parity exact twin."""
    from pyspark.sql.window import Window

    gc = list(group_cols or [])
    counts = (
        df.filter(F.col(column).isNotNull())
        .groupBy(*gc, column)
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    w_ord = Window.partitionBy(*gc).orderBy(column)
    w_all = Window.partitionBy(*gc)
    cum = counts.withColumn("__cum", F.sum("__c").over(w_ord)).withColumn(
        "__n", F.sum("__c").over(w_all)
    )
    aggs = [F.max("__n").alias("__n")]
    for j, p in enumerate(ps):
        pos = F.lit(float(p)) * (F.col("__n") - 1).cast("double")
        lo, hi = F.floor(pos), F.ceil(pos)
        prev = F.col("__cum") - F.col("__c")
        aggs.append(
            F.min(
                F.when((prev <= lo) & (lo < F.col("__cum")), F.col(column))
            ).alias(f"__lo{j}")
        )
        aggs.append(
            F.min(
                F.when((prev <= hi) & (hi < F.col("__cum")), F.col(column))
            ).alias(f"__hi{j}")
        )
    g = cum.groupBy(*gc).agg(*aggs)
    vals = []
    for j, p in enumerate(ps):
        pos = F.lit(float(p)) * (F.col("__n") - 1).cast("double")
        lo, hi = F.floor(pos), F.ceil(pos)
        vlo = F.col(f"__lo{j}").cast("double")
        vhi = F.col(f"__hi{j}").cast("double")
        vals.append(
            F.when(lo == hi, vlo).otherwise(
                (hi.cast("double") - pos) * vlo
                + (pos - lo.cast("double")) * vhi
            )
        )
    return g.select(*gc, F.array(*vals).alias("q"))


def iqr_bounds(
    df: DataFrame, column: str, k: float = 1.5, exact: bool = True
) -> tuple[float | None, float | None]:
    """Compute Tukey-fence bounds ``[q1 - k*IQR, q3 + k*IQR]``.

    One aggregate job over a single column. ``exact=True`` uses the
    sort-based exact percentile for oracle parity (reference's
    pandas path, `spark_processor.py:86-87`); ``exact=False`` uses
    the sketch-based ``percentile_approx`` the reference's Spark
    path uses (`:121-124`) — the right choice at 100 TB.

    With no non-NULL value the quartiles, and so both bounds, are
    NULL (``None``), as in SQL: a filter on NULL fences keeps no row.
    """
    if exact:
        # distributed exact twin of the percentile aggregate — no
        # single-reducer value-map merge (see exact_percentile_values)
        row = exact_percentile_values(df, column, [0.25, 0.75]).first()
    else:
        row = df.select(
            F.expr(f"percentile_approx({column}, array(0.25, 0.75))")
            .alias("q")
        ).first()
    q = row["q"]
    if q is None or None in q:
        return None, None
    q1, q3 = float(q[0]), float(q[1])
    iqr = q3 - q1
    return q1 - k * iqr, q3 + k * iqr


def iqr_filter(
    df: DataFrame, column: str, k: float = 1.5, exact: bool = True
) -> DataFrame:
    """F2: drop rows where ``column`` lies outside the Tukey fences
    (reference `spark_processor.py:120-133`; bounds inclusive)."""
    low, high = iqr_bounds(df, column, k=k, exact=exact)
    return df.filter(F.col(column).between(F.lit(low), F.lit(high)))


def mad_bounds(
    df: DataFrame, column: str, cutoff: float = 3.5, exact: bool = True
) -> tuple[float, float]:
    """Robust (median/MAD) outlier bounds — the Iglewicz-Hoaglin
    modified z-score rule: keep x where
    ``|0.6745 (x - median) / MAD| <= cutoff``. Unlike Tukey fences
    (:func:`iqr_bounds`), MAD has a 50% breakdown point — a heavy
    contaminated tail cannot drag the fence with it.

    Two scalar aggregate jobs (median, then median absolute
    deviation) — same bounded collect boundary as IQR; use
    ``exact=False`` (sketch percentiles) at 100 TB."""
    if exact:
        # distributed exact twin — no single-reducer value-map merge
        med = float(
            exact_percentile_values(df, column, [0.5]).first()["q"][0]
        )
        dev = df.select(F.abs(F.col(column) - F.lit(med)).alias("__dev"))
        mad = float(
            exact_percentile_values(dev, "__dev", [0.5]).first()["q"][0]
        )
    else:
        med = float(
            df.select(
                F.expr(f"percentile_approx({column}, 0.5)").alias("m")
            ).first()["m"]
        )
        mad = float(
            df.select(
                F.expr(f"percentile_approx(abs({column} - {med!r}), 0.5)")
                .alias("m")
            ).first()["m"]
        )
    if mad == 0.0:  # degenerate: >50% of values identical
        return med, med
    half_width = cutoff * mad / 0.6745
    return med - half_width, med + half_width


def mad_filter(
    df: DataFrame, column: str, cutoff: float = 3.5, exact: bool = True
) -> DataFrame:
    """Drop rows whose ``column`` fails the modified z-score rule
    (bounds inclusive) — the robust sibling of :func:`iqr_filter`."""
    low, high = mad_bounds(df, column, cutoff=cutoff, exact=exact)
    return df.filter(F.col(column).between(F.lit(low), F.lit(high)))
