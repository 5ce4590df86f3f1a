from __future__ import annotations

from big_data_processing_spark.operators.enrichment import (
    bucketize,
    guarded_ratio,
    sink_projection,
)

BUCKETS = [("short", 1.0), ("medium", 5.0), ("long", 10.0)]


def test_bucket_boundaries_left_closed(spark):
    # Reference when-ladder semantics: value < bound (SURVEY.md §7.3)
    df = spark.createDataFrame(
        [(0.5,), (1.0,), (4.99,), (5.0,), (9.99,), (10.0,), (50.0,)],
        "d double",
    )
    out = bucketize(df, "d", BUCKETS, "very_long", "cat")
    got = {r.d: r.cat for r in out.collect()}
    assert got == {
        0.5: "short",
        1.0: "medium",  # boundary goes to the NEXT bucket (left-closed)
        4.99: "medium",
        5.0: "long",
        9.99: "long",
        10.0: "very_long",
        50.0: "very_long",
    }


def test_guarded_ratio_zero_denominator(spark):
    df = spark.createDataFrame(
        [(10.0, 2.0), (10.0, 0.0), (10.0, -1.0)], "num double, den double"
    )
    out = guarded_ratio(df, "num", "den", "r")
    got = [r.r for r in out.collect()]
    assert got == [5.0, 0.0, 0.0]  # zero AND negative denominators guarded


def test_guarded_ratio_scale(spark):
    df = spark.createDataFrame([(3.0, 4.0)], "num double, den double")
    out = guarded_ratio(df, "num", "den", "pct", scale=100.0)
    assert out.collect()[0].pct == 75.0


def test_sink_projection_rename_and_cast(spark):
    df = spark.createDataFrame([(1, 2.5, "x")], "a long, b double, c string")
    out = sink_projection(
        df, [("a", "id", "int"), ("b", "val", "float"), ("c", "name", None)]
    )
    assert out.columns == ["id", "val", "name"]
    types = dict(out.dtypes)
    assert types == {"id": "int", "val": "float", "name": "string"}


def test_reporting_views(spark):
    from big_data_processing_spark.operators.cleaning import clean
    from big_data_processing_spark.operators.enrichment import enrich
    from big_data_processing_spark.plans.views import create_reporting_views
    from big_data_processing_spark.sources.catalog import load_table
    from tests.conftest import SF0001

    processed = enrich(clean(load_table(spark, SF0001, "lineitem")))
    create_reporting_views(spark, processed)
    cat = spark.sql(
        "SELECT * FROM category_summary ORDER BY qty_category"
    ).collect()
    ven = spark.sql(
        "SELECT * FROM vendor_summary ORDER BY l_returnflag"
    ).collect()
    assert {r.qty_category for r in cat} <= {
        "short", "medium", "long", "very_long"
    }
    assert len(ven) == 3  # A/N/R return flags
    assert sum(r.total_trips for r in ven) == processed.count()
