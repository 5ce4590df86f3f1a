"""Reference-parity queries (SURVEY.md §2) over the testdata corpus.

The ``lineitem`` table plays the reference's taxi-trip table
(FIXTURES.md §2 mapping): ``l_extendedprice`` → fare-like,
``l_quantity`` → distance-like, ``l_discount`` → tip-like,
``l_returnflag`` → vendor-like key, ``l_linestatus`` →
payment-type-like key.

Each query cites the reference operator it re-expresses
(file:line under /root/reference/).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_processing_spark.operators.aggregates import (
    column_stats,
    grouped_stats,
    summary_rollup,
)
from big_data_processing_spark.operators.cleaning import (
    CLEAN_RULES,  # noqa: F401 — re-exported
    CLEAN_WHERE,
    clean,
    iqr_filter,
)
from big_data_processing_spark.operators.enrichment import (
    QTY_BUCKET_CASE,
    QTY_BUCKETS,
    QTY_DEFAULT,
    bucketize,
    enrich,
    guarded_ratio,
    sink_projection,
)
from big_data_processing_spark.operators.sampling import fraction_sample
from big_data_processing_spark.operators.sorting import top_k
from big_data_processing_spark.plans.registry import register
from big_data_processing_spark.sources.catalog import load_table
from big_data_processing_spark.validation import quality_metrics

# ---------------------------------------------------------------------------
# Shared pipeline pieces (the reference's clean → enrich flow,
# spark_processor.py:104-198, instantiated on lineitem). The rules,
# buckets, ``clean`` and ``enrich`` live in operators/cleaning.py and
# operators/enrichment.py, so ``pipeline`` can use them without
# importing the query registry.
# ---------------------------------------------------------------------------


def _lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "lineitem")


ENRICH_SELECT = (
    f"*, {QTY_BUCKET_CASE} AS qty_category, "
    "CASE WHEN l_quantity > 0 THEN l_extendedprice / l_quantity "
    "ELSE 0.0 END AS price_per_unit, "
    "CASE WHEN l_extendedprice > 0 THEN l_discount / l_extendedprice * 100.0 "
    "ELSE 0.0 END AS discount_pct"
)


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship pipeline (SURVEY.md §7.1): scan → F1 clean → P1
    bucket → A1 grouped stats → O1 sort."""
    return QUERIES_A1(spark, sf_dir)


# Exact cross-engine double aggregation — canonical definitions and
# rationale in operators/aggregates.py (dsum/davg/DSUM_SQL/DAVG_SQL).
from big_data_processing_spark.operators.aggregates import (  # noqa: E402
    DAVG_SQL,
    DSUM_SQL,
    davg as _davg,
    davg_decimal as _davg_decimal,
    dsum as _dsum,
    dsum_decimal as _dsum_decimal,
)


# ---------------------------------------------------------------------------
# §2.2 Filters
# ---------------------------------------------------------------------------


@register(
    "clean_range_filter",
    f"SELECT * FROM lineitem WHERE {CLEAN_WHERE}",
    doc="F1 conjunctive range-predicate filter (spark_processor.py:110-118)",
)
def q_clean_range_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return clean(_lineitem(spark, sf_dir))


@register(
    "iqr_outlier_filter",
    """
    WITH b AS (
      SELECT quantile_cont(l_extendedprice, 0.25) AS q1,
             quantile_cont(l_extendedprice, 0.75) AS q3
      FROM lineitem
    )
    SELECT l.* FROM lineitem l, b
    WHERE l.l_extendedprice >= b.q1 - 1.5 * (b.q3 - b.q1)
      AND l.l_extendedprice <= b.q3 + 1.5 * (b.q3 - b.q1)
    """,
    doc="F2 two-phase IQR outlier removal (spark_processor.py:120-133); "
    "exact percentile for oracle parity, percentile_approx at scale",
)
def q_iqr_outlier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return iqr_filter(_lineitem(spark, sf_dir), "l_extendedprice", exact=True)


# ---------------------------------------------------------------------------
# §2.3 Projections / derived columns
# ---------------------------------------------------------------------------


@register(
    "bucketize",
    "SELECT l_orderkey, l_linenumber, l_quantity, "
    f"{QTY_BUCKET_CASE} AS qty_category FROM lineitem",
    doc="P1 conditional bucketing (spark_processor.py:185-189)",
)
def q_bucketize(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = bucketize(
        _lineitem(spark, sf_dir), "l_quantity", QTY_BUCKETS, QTY_DEFAULT,
        "qty_category",
    )
    return df.select("l_orderkey", "l_linenumber", "l_quantity", "qty_category")


@register(
    "derived_ratios",
    "SELECT l_orderkey, l_linenumber, "
    "CASE WHEN l_quantity > 0 THEN l_extendedprice / l_quantity "
    "ELSE 0.0 END AS price_per_unit, "
    "CASE WHEN l_extendedprice > 0 THEN l_discount / l_extendedprice * 100.0 "
    "ELSE 0.0 END AS discount_pct "
    "FROM lineitem",
    doc="P2/P3 guarded division + percentage (spark_processor.py:190-195)",
)
def q_derived_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _lineitem(spark, sf_dir)
    df = guarded_ratio(df, "l_extendedprice", "l_quantity", "price_per_unit")
    df = guarded_ratio(
        df, "l_discount", "l_extendedprice", "discount_pct", scale=100.0
    )
    return df.select("l_orderkey", "l_linenumber", "price_per_unit", "discount_pct")


@register(
    "sink_projection",
    "SELECT l_orderkey AS order_id, CAST(l_suppkey AS INTEGER) AS supplier_id, "
    "CAST(l_quantity AS REAL) AS quantity, CAST(l_extendedprice AS REAL) AS price, "
    "CAST(l_discount AS REAL) AS discount, l_returnflag AS return_flag "
    "FROM lineitem",
    doc="P4 column pruning + rename + cast (spark_processor.py:338-349)",
)
def q_sink_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sink_projection(
        _lineitem(spark, sf_dir),
        [
            ("l_orderkey", "order_id", None),
            ("l_suppkey", "supplier_id", "int"),
            ("l_quantity", "quantity", "float"),
            ("l_extendedprice", "price", "float"),
            ("l_discount", "discount", "float"),
            ("l_returnflag", "return_flag", None),
        ],
    )


# ---------------------------------------------------------------------------
# §2.4 Aggregations
# ---------------------------------------------------------------------------


@register(
    "vendor_stats",
    f"""
    SELECT l_returnflag,
           count(*) AS total_trips,
           {DSUM_SQL.format(c="l_extendedprice")} AS total_revenue,
           {DAVG_SQL.format(c="l_quantity")} AS avg_quantity,
           {DAVG_SQL.format(c="l_extendedprice")} AS avg_price,
           {DAVG_SQL.format(c="l_discount")} AS avg_discount,
           {DAVG_SQL.format(c="l_tax")} AS avg_tax
    FROM (SELECT * FROM lineitem WHERE {CLEAN_WHERE})
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    doc="A1 grouped agg by vendor-like key over the cleaned table "
    "(spark_processor.py:223-232); fixed-point sums so the values "
    "are partitioning-independent at every scale",
)
def QUERIES_A1(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = clean(_lineitem(spark, sf_dir))
    return grouped_stats(
        df,
        ["l_returnflag"],
        [
            F.count(F.lit(1)).alias("total_trips"),
            _dsum("l_extendedprice").alias("total_revenue"),
            _davg("l_quantity").alias("avg_quantity"),
            _davg("l_extendedprice").alias("avg_price"),
            _davg("l_discount").alias("avg_discount"),
            _davg("l_tax").alias("avg_tax"),
        ],
    )


@register(
    "category_stats",
    f"""
    SELECT qty_category,
           count(*) AS total_trips,
           {DAVG_SQL.format(c="l_extendedprice")} AS avg_price,
           {DAVG_SQL.format(c="l_quantity")} AS avg_quantity,
           {DAVG_SQL.format(c="l_discount")} AS avg_discount,
           CAST(sum(CAST(floor(price_per_unit * 1000000) AS BIGINT))
                AS DOUBLE) / count(*) / 1000000 AS avg_price_per_unit
    FROM (SELECT {ENRICH_SELECT}
          FROM (SELECT * FROM lineitem WHERE {CLEAN_WHERE}))
    GROUP BY qty_category ORDER BY qty_category
    """,
    doc="A2 grouped agg by derived bucket (spark_processor.py:258-266); "
    "fixed-point sums so the values are partitioning-independent. The "
    "derived ratio aggregates via floor(x*1e6) — round()/decimal-cast "
    "of a full-precision ratio is engine-dependent at half "
    "boundaries, while floor of the identical IEEE expression tree "
    "is bit-identical and the integer sum is order-free",
)
def q_category_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = enrich(clean(_lineitem(spark, sf_dir)))
    return grouped_stats(
        df,
        ["qty_category"],
        [
            F.count(F.lit(1)).alias("total_trips"),
            _davg("l_extendedprice").alias("avg_price"),
            _davg("l_quantity").alias("avg_quantity"),
            _davg("l_discount").alias("avg_discount"),
            (
                F.sum(
                    F.floor(F.col("price_per_unit") * 1000000)
                ).cast("double")
                / F.count(F.lit(1))
                / 1000000
            ).alias("avg_price_per_unit"),
        ],
    )


@register(
    "payment_stats",
    f"""
    SELECT l_linestatus,
           count(*) AS total_trips,
           {DAVG_SQL.format(c="l_extendedprice")} AS avg_price,
           {DAVG_SQL.format(c="l_discount")} AS avg_discount,
           round(({DAVG_SQL.format(c="l_discount")})
                 / ({DAVG_SQL.format(c="l_extendedprice")}) * 100.0, 6)
             AS discount_price_ratio_pct
    FROM (SELECT * FROM lineitem WHERE {CLEAN_WHERE})
    GROUP BY l_linestatus ORDER BY l_linestatus
    """,
    doc="A3 grouped agg with post-agg ratio-of-averages, preserved exactly "
    "(spark_processor.py:295-303, expr :301); fixed-point sums",
)
def q_payment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = clean(_lineitem(spark, sf_dir))
    return grouped_stats(
        df,
        ["l_linestatus"],
        [
            F.count(F.lit(1)).alias("total_trips"),
            _davg("l_extendedprice").alias("avg_price"),
            _davg("l_discount").alias("avg_discount"),
            F.round(
                _davg("l_discount") / _davg("l_extendedprice") * 100.0, 6
            ).alias("discount_price_ratio_pct"),
        ],
    )


_STATS_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


@register(
    "column_stats",
    " UNION ALL ".join(
        f"SELECT '{c}' AS \"column\", round(min({c}), 2) AS min, "
        f"round(max({c}), 2) AS max, round(avg({c}), 2) AS mean, "
        f"round(stddev({c}), 2) AS stddev FROM lineitem"
        for c in _STATS_COLS
    ),
    doc="A4 global per-column min/max/avg/stddev, 2 dp, ALL columns in one "
    "pass (vs one job per column at spark_processor.py:377-400)",
)
def q_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return column_stats(_lineitem(spark, sf_dir), _STATS_COLS)


@register(
    "quality_metrics",
    f"""
    SELECT count(*) AS total_rows,
           CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_l_quantity,
           CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS null_l_extendedprice,
           CAST(sum(CASE WHEN l_extendedprice > 100000 THEN 1 ELSE 0 END) AS BIGINT)
             AS invalid_price,
           CAST(sum(CASE WHEN l_quantity >= 50 THEN 1 ELSE 0 END) AS BIGINT) AS invalid_qty,
           CAST(sum(CASE WHEN l_discount > 0.08 THEN 1 ELSE 0 END) AS BIGINT) AS invalid_discount,
           CAST(count(*) - (SELECT count(*) FROM (SELECT DISTINCT * FROM lineitem))
             AS BIGINT) AS duplicate_count,
           round(greatest(0.0,
             (count(*)
              - sum(CASE WHEN l_extendedprice > 100000 THEN 1 ELSE 0 END)
              - sum(CASE WHEN l_quantity >= 50 THEN 1 ELSE 0 END)
              - sum(CASE WHEN l_discount > 0.08 THEN 1 ELSE 0 END))
             * 100.0 / count(*)), 2) AS quality_score
    FROM lineitem
    """,
    doc="F3/F4/F5 + A6-A9: single-pass quality metrics "
    "(replaces the per-column count() jobs at data_validator.py:102-155)",
)
def q_quality_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _lineitem(spark, sf_dir).select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate",
    )
    rules = [
        ("invalid_price", F.col("l_extendedprice") > 100000),
        ("invalid_qty", F.col("l_quantity") >= 50),
        ("invalid_discount", F.col("l_discount") > 0.08),
    ]
    out = quality_metrics(df, rules)
    return out.select(
        "total_rows",
        F.col("null_l_quantity"),
        F.col("null_l_extendedprice"),
        "invalid_price",
        "invalid_qty",
        "invalid_discount",
        "duplicate_count",
        "quality_score",
    )


@register(
    "summary_rollup",
    f"""
    SELECT CAST(sum(total_trips) AS BIGINT) AS total_total_trips,
           round(sum(total_revenue), 2) AS total_total_revenue,
           round(avg(avg_quantity), 6) AS mean_avg_quantity,
           round(avg(avg_price), 6) AS mean_avg_price
    FROM (
      SELECT l_returnflag, count(*) AS total_trips,
             {DSUM_SQL.format(c="l_extendedprice")} AS total_revenue,
             {DAVG_SQL.format(c="l_quantity")} AS avg_quantity,
             {DAVG_SQL.format(c="l_extendedprice")} AS avg_price
      FROM (SELECT * FROM lineitem WHERE {CLEAN_WHERE})
      GROUP BY l_returnflag
    )
    """,
    doc="A10 second-level rollup over A1's output, in-engine instead of "
    "driver pandas (main.py:213-219)",
)
def q_summary_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = clean(_lineitem(spark, sf_dir))
    grouped = grouped_stats(
        df,
        ["l_returnflag"],
        [
            F.count(F.lit(1)).alias("total_trips"),
            F.sum("l_extendedprice").alias("total_revenue"),
            F.avg("l_quantity").alias("avg_quantity"),
            F.avg("l_extendedprice").alias("avg_price"),
        ],
        order_by=[],
    )
    rolled = summary_rollup(
        grouped, ["total_trips", "total_revenue"], ["avg_quantity", "avg_price"]
    )
    return rolled.select(
        F.col("total_total_trips"),
        F.round("total_total_revenue", 2).alias("total_total_revenue"),
        F.round("mean_avg_quantity", 6).alias("mean_avg_quantity"),
        F.round("mean_avg_price", 6).alias("mean_avg_price"),
    )


@register(
    "two_key_agg_sql",
    f"""
    SELECT l_returnflag, qty_category,
           count(*) AS trip_count,
           {DAVG_SQL.format(c="l_extendedprice")} AS avg_price,
           {DAVG_SQL.format(c="l_discount")} AS avg_discount,
           {DAVG_SQL.format(c="l_quantity")} AS avg_quantity
    FROM (SELECT {ENRICH_SELECT}
          FROM (SELECT * FROM lineitem WHERE {CLEAN_WHERE}))
    GROUP BY l_returnflag, qty_category
    ORDER BY l_returnflag, qty_category
    LIMIT 100
    """,
    doc="A11/§2.9 SQL surface: two-key GROUP BY via spark.sql over a temp "
    "view (main.py:332-340); fixed-point sums",
)
def q_two_key_agg_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    enrich(clean(_lineitem(spark, sf_dir))).createOrReplaceTempView(
        "lineitem_processed"
    )
    return spark.sql(
        """
        SELECT l_returnflag, qty_category,
               count(*) AS trip_count,
               CAST(sum(CAST(floor(l_extendedprice * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6 / count(*) AS avg_price,
               CAST(sum(CAST(floor(l_discount * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6 / count(*) AS avg_discount,
               CAST(sum(CAST(floor(l_quantity * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6 / count(*) AS avg_quantity
        FROM lineitem_processed
        GROUP BY l_returnflag, qty_category
        ORDER BY l_returnflag, qty_category
        LIMIT 100
        """
    )


# ---------------------------------------------------------------------------
# §2.5 Sorts / top-k and §2.6 sampling
# ---------------------------------------------------------------------------


@register(
    "topk_orders",
    "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
    "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",
    doc="O2 top-k without full sort — TakeOrderedAndProject "
    "(main.py:326-327)",
)
def q_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    return top_k(df, [F.col("o_totalprice").desc(), F.col("o_orderkey")], 10)


@register(
    "bernoulli_sample",
    None,  # seeded RNG differs across engines — driver rows-only check
    doc="SA1 seeded Bernoulli fraction sample (main.py:149-153); "
    "no oracle: Spark's XORShiftRandom stream is engine-specific",
)
def q_bernoulli_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fraction_sample(_lineitem(spark, sf_dir), fraction=0.01, seed=42)


@register(
    "rollup_flag_status",
    f"""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid,
           count(*) AS n,
           round({DSUM_SQL.format(c="l_quantity")}, 2) AS sum_qty,
           round({DSUM_SQL.format(c="l_extendedprice")}, 2) AS sum_price
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    ORDER BY gid, l_returnflag, l_linestatus
    """,
    doc="A10 as a first-class multi-level rollup: per-(flag,status) "
    "subtotals, per-flag subtotals, and the grand total in ONE "
    "aggregation pass via df.rollup + grouping_id (the idiomatic "
    "upgrade over the reference's driver-side re-agg, main.py:213-219). "
    "The grand-total row sums the WHOLE table's money mass, so the "
    "Spark side uses the decimal fixed-point accumulator "
    "(dsum_decimal): the codegen long path wraps silently past "
    "~9.2e18 micro-units (~sf40 here) while DuckDB promotes to "
    "HUGEINT — r6 ADVICE overflow policy, operators/aggregates.py",
)
def q_rollup_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _lineitem(spark, sf_dir)
    return (
        df.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count(F.lit(1)).alias("n"),
            F.round(_dsum_decimal("l_quantity"), 2).alias("sum_qty"),
            F.round(_dsum_decimal("l_extendedprice"), 2).alias("sum_price"),
        )
        .select(
            "l_returnflag", "l_linestatus", "gid", "n", "sum_qty", "sum_price"
        )
        .orderBy("gid", "l_returnflag", "l_linestatus")
    )


@register(
    "cube_flag_status",
    f"""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid,
           count(*) AS n,
           round({DAVG_SQL.format(c="l_quantity")}, 6) AS avg_qty
    FROM lineitem
    GROUP BY CUBE(l_returnflag, l_linestatus)
    ORDER BY gid, l_returnflag, l_linestatus
    """,
    doc="CUBE companion to rollup_flag_status: all 2^k grouping-set "
    "combinations in one aggregation pass (df.cube + grouping_id). "
    "Decimal accumulator on the grand-total path (overflow policy, "
    "operators/aggregates.py dsum_decimal)",
)
def q_cube_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _lineitem(spark, sf_dir)
    return (
        df.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count(F.lit(1)).alias("n"),
            F.round(_davg_decimal("l_quantity"), 6).alias("avg_qty"),
        )
        .select(
            "l_returnflag", "l_linestatus", "gid", "n", "avg_qty"
        )
        .orderBy("gid", "l_returnflag", "l_linestatus")
    )


@register(
    "completeness_report",
    """
    SELECT round((count(*) - sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END))
                 * 100.0 / count(*), 2) AS l_quantity,
           round((count(*) - sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END))
                 * 100.0 / count(*), 2) AS l_extendedprice,
           round((count(*) - sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END))
                 * 100.0 / count(*), 2) AS l_returnflag
    FROM lineitem
    """,
    doc="A8 per-column completeness %% in ONE pass (reference ran a "
    "count() job per column, data_validator.py:122-125)",
)
def q_completeness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_processing_spark.validation import completeness

    df = _lineitem(spark, sf_dir).select(
        "l_quantity", "l_extendedprice", "l_returnflag"
    )
    return completeness(df)


@register(
    "stratified_sample",
    None,  # seeded per-stratum Bernoulli — engine-specific RNG stream
    doc="SA-family extension: per-stratum sampleBy (class-balancing "
    "sample for training sets); one scan, no shuffle",
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_processing_spark.operators.sampling import (
        stratified_sample,
    )

    df = _lineitem(spark, sf_dir)
    return stratified_sample(
        df, "l_returnflag", {"A": 0.05, "N": 0.01, "R": 0.05}, seed=42
    )


@register(
    "systematic_sample",
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    WHERE (l_orderkey * 10 + l_linenumber) % 97 = 0
    ORDER BY l_orderkey, l_linenumber
    """,
    doc="SA-family: deterministic 1-in-97 systematic sample by key "
    "arithmetic — engine-independent (the hash-checked member of "
    "the sampling family, unlike seeded-RNG SA1/SA2), reproducible "
    "across runs and partitionings; predicate pushes to the scan",
)
def q_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_processing_spark.operators.sampling import (
        systematic_sample,
    )

    df = _lineitem(spark, sf_dir).withColumn(
        "__k", F.col("l_orderkey") * 10 + F.col("l_linenumber")
    )
    return (
        systematic_sample(df, "__k", every=97, offset=0)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")
    )


@register(
    "mad_outlier_filter",
    """
    WITH m AS (
      SELECT quantile_cont(l_extendedprice, 0.5) AS med FROM lineitem
    ), d AS (
      SELECT any_value(m.med) AS med,
             quantile_cont(abs(l.l_extendedprice - m.med), 0.5) AS mad
      FROM lineitem l CROSS JOIN m
    )
    SELECT l.* FROM lineitem l CROSS JOIN d
    WHERE l.l_extendedprice >= d.med - 3.5 * d.mad / 0.6745
      AND l.l_extendedprice <= d.med + 3.5 * d.mad / 0.6745
    """,
    doc="Robust outlier removal via the Iglewicz-Hoaglin modified "
    "z-score (median/MAD, cutoff 3.5): the 50%-breakdown-point "
    "sibling of iqr_outlier_filter — a contaminated tail cannot drag "
    "the fence; exact percentile for parity, percentile_approx at "
    "scale",
)
def q_mad_outlier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_processing_spark.operators.cleaning import mad_filter

    return mad_filter(_lineitem(spark, sf_dir), "l_extendedprice", exact=True)
