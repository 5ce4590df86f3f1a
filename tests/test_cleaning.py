from __future__ import annotations

import pytest

from big_data_processing_spark.operators.cleaning import (
    iqr_bounds,
    iqr_filter,
    range_filter,
)


def _df(spark, values):
    return spark.createDataFrame([(float(v),) for v in values], "x double")


def test_range_filter_bounds_inclusivity(spark):
    df = _df(spark, [0, 1, 5, 10, 11])
    # exclusive low, inclusive high
    out = range_filter(df, [("x", 0.0, 10.0, False, True)])
    assert sorted(r.x for r in out.collect()) == [1.0, 5.0, 10.0]
    # inclusive low, exclusive high
    out = range_filter(df, [("x", 0.0, 10.0, True, False)])
    assert sorted(r.x for r in out.collect()) == [0.0, 1.0, 5.0]


def test_range_filter_conjunction(spark):
    df = spark.createDataFrame(
        [(1.0, 1.0), (1.0, 100.0), (100.0, 1.0)], "a double, b double"
    )
    out = range_filter(
        df, [("a", 0.0, 10.0, False, False), ("b", 0.0, 10.0, False, False)]
    )
    assert out.count() == 1


def test_range_filter_empty_rules_is_identity(spark):
    df = _df(spark, [1, 2, 3])
    assert range_filter(df, []).count() == 3


def test_iqr_bounds_quartiles(spark):
    # 1..5: q1=2, q3=4, iqr=2 → bounds [-1, 7]
    df = _df(spark, [1, 2, 3, 4, 5])
    low, high = iqr_bounds(df, "x")
    assert (low, high) == (-1.0, 7.0)


def test_iqr_constant_column_keeps_all(spark):
    # IQR=0 → bounds collapse to the constant; nothing is dropped
    df = _df(spark, [7, 7, 7, 7])
    assert iqr_filter(df, "x").count() == 4


def test_iqr_filter_drops_outlier(spark):
    values = list(range(1, 21)) + [1000]
    df = _df(spark, values)
    out = sorted(r.x for r in iqr_filter(df, "x").collect())
    assert 1000.0 not in out
    assert len(out) == 20


@pytest.mark.parametrize("exact", [True, False])
def test_iqr_no_values_gives_null_fences(spark, exact):
    # no non-NULL value: NULL quartiles, NULL fences, no row kept
    df = spark.createDataFrame([(None,), (None,)], "x double")
    for frame in (df, df.limit(0)):
        assert iqr_bounds(frame, "x", exact=exact) == (None, None)
        assert iqr_filter(frame, "x", exact=exact).count() == 0


def test_iqr_approx_close_to_exact(spark):
    df = _df(spark, range(1, 1001))
    lo_e, hi_e = iqr_bounds(df, "x", exact=True)
    lo_a, hi_a = iqr_bounds(df, "x", exact=False)
    assert abs(lo_e - lo_a) < 20 and abs(hi_e - hi_a) < 20


def test_stratified_sample_fractions(spark):
    from pyspark.sql import functions as F

    from big_data_processing_spark.operators.sampling import (
        stratified_sample,
    )

    df = spark.range(20_000).select(
        (F.col("id") % 2 == 0).cast("string").alias("s"), "id"
    )
    out = stratified_sample(
        df, "s", {"true": 0.5, "false": 0.1}, seed=7
    )
    counts = {r.s: r.n for r in out.groupBy("s").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert abs(counts["true"] / 10_000 - 0.5) < 0.05
    assert abs(counts["false"] / 10_000 - 0.1) < 0.05


def test_mad_filter_robust_to_contaminated_tail(spark):
    from big_data_processing_spark.operators.cleaning import (
        iqr_filter,
        mad_filter,
    )

    # 70 inliers around 100 + a 30-point contaminated tail at 10_000:
    # the tail is >25% of the data, so Tukey fences (q3 inside the
    # tail's reach) widen, while MAD's 50% breakdown point holds firm
    rows = [(i, 100.0 + (i % 7)) for i in range(70)] + [
        (100 + i, 10_000.0 + i) for i in range(30)
    ]
    df = spark.createDataFrame(rows, "id long, x double")
    mad_kept = {r.id for r in mad_filter(df, "x").collect()}
    assert mad_kept == set(range(70))  # tail fully rejected
    iqr_kept = {r.id for r in iqr_filter(df, "x").collect()}
    assert len(iqr_kept) > 70  # Tukey fence dragged by the tail

    # degenerate corpus: >50% identical values -> MAD = 0 -> keep
    # exactly the median value
    df2 = spark.createDataFrame(
        [(i, 5.0) for i in range(60)] + [(100 + i, 9.0) for i in range(40)],
        "id long, x double",
    )
    kept2 = {r.id for r in mad_filter(df2, "x").collect()}
    assert kept2 == set(range(60))


def test_exact_percentile_values_matches_aggregate(spark):
    """The distributed exact-percentile formulation must reproduce
    Spark's percentile() aggregate BIT-FOR-BIT — including the
    interpolation boundary where pos = p*(n-1) lands between two
    distinct values, on ties, and on single-value groups (r12: the
    aggregate's single-reducer value-map merge was replaced by a
    value→count partial agg + cumulative window; VERDICT r11 #6)."""
    import random

    from pyspark.sql import functions as F

    from big_data_processing_spark.operators.cleaning import (
        exact_percentile_values,
    )

    rng = random.Random(7)
    cases = [
        [1.0],
        [1.0, 2.0],
        [3.0, 1.0, 2.0, 2.0, 2.0],  # heavy tie block
        [rng.uniform(-100, 100) for _ in range(257)],
        [float(rng.randint(0, 9)) for _ in range(100)],  # few distinct
    ]
    ps = [0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 1.0]
    for vals in cases:
        df = spark.createDataFrame([(v,) for v in vals], "x double")
        want = df.select(
            F.expr(
                f"percentile(x, array({', '.join(str(p) for p in ps)}))"
            ).alias("q")
        ).first()["q"]
        got = exact_percentile_values(df, "x", ps).first()["q"]
        assert list(got) == list(want), (vals[:8], list(got), list(want))


def test_exact_percentile_values_grouped_and_nulls(spark):
    from pyspark.sql import functions as F

    from big_data_processing_spark.operators.cleaning import (
        exact_percentile_values,
    )

    rows = [("a", 1.0), ("a", 2.0), ("a", None), ("b", 5.0),
            ("b", 7.0), ("b", 11.0), ("c", 4.0)]
    df = spark.createDataFrame(rows, "g string, x double")
    want = {
        r["g"]: list(r["q"])
        for r in df.groupBy("g")
        .agg(F.expr("percentile(x, array(0.25, 0.5))").alias("q"))
        .collect()
    }
    got = {
        r["g"]: list(r["q"])
        for r in exact_percentile_values(
            df, "x", [0.25, 0.5], ["g"]
        ).collect()
    }
    assert got == want
