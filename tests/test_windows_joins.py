from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from big_data_processing_spark.operators.joins import (
    dim_join,
    fact_join,
    salted_join,
)
from big_data_processing_spark.operators.windows import (
    running_total,
    sessionize,
    topk_per_group,
)


def test_dim_join_broadcast_in_plan(spark):
    fact = spark.range(100).select(F.col("id").alias("k"), F.lit(1.0).alias("v"))
    dim = spark.createDataFrame([(0, "a"), (1, "b")], "k long, name string")
    out = dim_join(fact, dim, "k")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert out.count() == 2


def test_fact_join(spark):
    a = spark.range(10).select(F.col("id").alias("k"))
    b = spark.range(5).select(F.col("id").alias("k"))
    assert fact_join(a, b, "k").count() == 5


def test_salted_join_matches_plain_join(spark):
    left = spark.createDataFrame(
        [(1, "x")] * 50 + [(2, "y")] * 3, "k long, lv string"
    )
    right = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, rv double")
    plain = fact_join(left, right, "k").groupBy("k").count()
    salted = salted_join(left, right, "k", salt=4).groupBy("k").count()
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, salted.collect())
    )


def test_topk_per_group(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("a", 2.0), ("b", 9.0)], "g string, v double"
    )
    out = topk_per_group(df, ["g"], [F.col("v").desc()], 2).collect()
    got = {(r.g, r.v, r.rank) for r in out}
    assert got == {("a", 3.0, 1), ("a", 2.0, 2), ("b", 9.0, 1)}


def test_running_total(spark):
    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 5.0), ("a", 3, 1.0)],
        "g string, i long, v double",
    )
    out = running_total(df, ["g"], [F.col("i")], "v").collect()
    assert [r.running_total for r in sorted(out, key=lambda r: r.i)] == [
        10.0, 15.0, 16.0,
    ]


def test_sessionize_gap_splits(spark):
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, t0, 1),
        (1, t0 + dt.timedelta(minutes=10), 2),   # same session
        (1, t0 + dt.timedelta(minutes=50), 3),   # gap 40 > 30 → new session
        (2, t0, 4),                               # other user
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long")
    out = sessionize(df, "user_id", "ts", 30.0, tiebreak=["event_id"])
    got = {r.event_id: r.session_id for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 2, 4: 1}


def test_sessionize_exact_gap_not_new_session(spark):
    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(1, t0, 1), (1, t0 + dt.timedelta(minutes=30), 2)],
        "user_id long, ts timestamp, event_id long",
    )
    out = sessionize(df, "user_id", "ts", 30.0, tiebreak=["event_id"])
    assert {r.session_id for r in out.collect()} == {1}  # gap > 30 strictly


def test_asof_join_basic(spark):
    from big_data_processing_spark.operators.joins import asof_join

    t0 = dt.datetime(2024, 1, 1)

    def ts(m):
        return t0 + dt.timedelta(minutes=m)

    left = spark.createDataFrame(
        [(1, ts(10), 100), (1, ts(0), 101), (2, ts(5), 102)],
        "k long, ts timestamp, lid long",
    )
    right = spark.createDataFrame(
        [(1, ts(5), 7.0), (1, ts(9), 8.0), (3, ts(0), 9.0)],
        "k long, ts timestamp, quote double",
    )
    out = asof_join(
        left, right, on="k", left_ts="ts", right_ts="ts",
        payload_cols=["quote"],
    )
    got = {r.lid: r.asof_quote for r in out.collect()}
    # lid=100 at t+10 → latest quote ≤ t+10 is 8.0 (t+9)
    # lid=101 at t+0 → no quote yet → null; lid=102 key has no quotes
    assert got == {100: 8.0, 101: None, 102: None}


def test_asof_join_equal_ts_matches_and_inner(spark):
    from big_data_processing_spark.operators.joins import asof_join

    t0 = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(1, t0, 100), (2, t0, 101)], "k long, ts timestamp, lid long"
    )
    right = spark.createDataFrame(
        [(1, t0, 5.0)], "k long, ts timestamp, quote double"
    )
    out = asof_join(
        left, right, on="k", left_ts="ts", right_ts="ts",
        payload_cols=["quote"], how="inner",
    )
    rows = out.collect()
    assert [(r.lid, r.asof_quote) for r in rows] == [(100, 5.0)]


def test_cosine_near_dup_pairs(spark):
    from big_data_processing_spark.functions.similarity import (
        cosine_near_dup_pairs,
    )

    df = spark.createDataFrame(
        [
            (1, 0, [1.0, 0.0]),
            (2, 0, [1.0, 0.01]),   # ~parallel to 1 → near-dup
            (3, 0, [0.0, 1.0]),    # orthogonal
            (4, 1, [1.0, 0.0]),    # other block: never paired with 1
        ],
        "vec_id long, label int, embedding array<float>",
    )
    out = cosine_near_dup_pairs(df, ["label"], threshold=0.95)
    assert [(r.id_a, r.id_b) for r in out.collect()] == [(1, 2)]


def test_connected_components_chain_and_island(spark):
    from big_data_processing_spark.operators.graph import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (6, 5), (7, 7)],
        "id_a long, id_b long",
    )
    got = {
        r.id: r.comp for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 7}


def test_dedup_clusters_representatives(spark):
    from big_data_processing_spark.operators.graph import dedup_clusters

    # transitive chain: a~b, b~c (a!~c directly) must form ONE cluster
    pairs = spark.createDataFrame(
        [(10, 20), (20, 30), (40, 50)], "id_a long, id_b long"
    )
    rows = dedup_clusters(pairs).collect()
    clusters = {}
    for r in rows:
        clusters.setdefault(r.cluster_id, set()).add(r.id)
    assert clusters == {10: {10, 20, 30}, 40: {40, 50}}
    reps = {r.id for r in rows if r.is_representative}
    assert reps == {10, 40}


def test_salted_join_rejects_right_preserving(spark):
    import pytest
    from pyspark.sql import functions as F

    left = spark.range(10).select(F.col("id").alias("k"))
    right = spark.range(5).select(F.col("id").alias("k"))
    for how in ("right", "full", "outer"):
        with pytest.raises(ValueError, match="salted_join"):
            salted_join(left, right, "k", salt=4, how=how)
    # left-preserving types still work
    n = salted_join(left, right, "k", salt=4, how="left_anti").count()
    assert n == 5


def test_interval_join_pairs_and_boundaries(spark):
    from big_data_processing_spark.operators.joins import interval_join

    def ts(h, m=0, s=0):
        return dt.datetime(2024, 1, 1, h, m, s)

    left = spark.createDataFrame(
        [(1, 100, ts(12, 0)), (1, 101, ts(15, 0)), (2, 200, ts(12, 0))],
        "k long, lid long, l_ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (1, 900, ts(11, 0)),      # exactly max_gap before lid 100: kept
            (1, 901, ts(10, 59, 59)), # just beyond the gap: dropped
            (1, 902, ts(11, 30)),     # within gap of lid 100
            (1, 903, ts(12, 0)),      # equal ts: kept
            (1, 904, ts(12, 1)),      # after left: dropped for lid 100
            (3, 905, ts(12, 0)),      # wrong key
        ],
        "k long, rid long, r_ts timestamp",
    )
    got = sorted(
        (r.lid, r.rid)
        for r in interval_join(
            left, right, "k", "l_ts", "r_ts", max_gap_sec=3600
        ).collect()
    )
    assert got == [(100, 900), (100, 902), (100, 903)]


def test_interval_join_matches_naive_range_join(spark):
    """Bucketed formulation is exactly the naive equi-join + range
    filter, pair for pair, on clustered random data."""
    import random

    from big_data_processing_spark.operators.joins import interval_join

    rnd = random.Random(7)
    base = dt.datetime(2024, 1, 1)
    lrows = [
        (rnd.randrange(5), i, base + dt.timedelta(seconds=rnd.randrange(20000)))
        for i in range(200)
    ]
    rrows = [
        (rnd.randrange(5), 1000 + i, base + dt.timedelta(seconds=rnd.randrange(20000)))
        for i in range(200)
    ]
    left = spark.createDataFrame(lrows, "k long, lid long, l_ts timestamp")
    right = spark.createDataFrame(rrows, "k long, rid long, r_ts timestamp")
    gap = 1800
    got = sorted(
        (r.lid, r.rid)
        for r in interval_join(
            left, right, "k", "l_ts", "r_ts", max_gap_sec=gap
        ).collect()
    )
    naive = sorted(
        (r.lid, r.rid)
        for r in left.join(right, "k")
        .filter(
            (F.col("r_ts") <= F.col("l_ts"))
            & (
                F.col("r_ts")
                >= F.col("l_ts") - F.make_interval(secs=F.lit(gap))
            )
        )
        .collect()
    )
    assert got == naive and len(got) > 0


def test_interval_join_rejects_outer(spark):
    import pytest

    from big_data_processing_spark.operators.joins import interval_join

    left = spark.createDataFrame([(1, dt.datetime(2024, 1, 1))], "k long, l_ts timestamp")
    with pytest.raises(ValueError):
        interval_join(left, left, "k", "l_ts", "l_ts", 60, how="left")


def test_asof_join_forward_direction(spark):
    from big_data_processing_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, "k", 10), (2, "k", 25), (3, "k", 50)],
        "id long, k string, t long",
    )
    right = spark.createDataFrame(
        [("k", 20, "a"), ("k", 25, "b"), ("k", 40, "c")],
        "k string, t long, tag string",
    )
    fwd = {
        r.id: r.nxt_tag
        for r in asof_join(
            left, right, "k", "t", "t", ["tag"], prefix="nxt_",
            direction="forward",
        ).collect()
    }
    # next right at-or-after: 10->a(20), 25->b(equal ts matches), 50->None
    assert fwd == {1: "a", 2: "b", 3: None}
    bwd = {
        r.id: r.prev_tag
        for r in asof_join(
            left, right, "k", "t", "t", ["tag"], prefix="prev_",
            direction="backward",
        ).collect()
    }
    assert bwd == {1: None, 2: "b", 3: "c"}


def test_gap_fill_forward_fills_per_series(spark):
    from big_data_processing_spark.operators.windows import gap_fill
    import datetime as dt

    def t(h):
        return dt.datetime(2024, 1, 1, h)

    rows = [
        ("a", t(0), 10.0),
        ("a", t(3), 40.0),  # gap: hours 1,2 filled with 10.0
        ("b", t(1), 5.0),
        ("b", t(2), 6.0),  # no gap
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    out = gap_fill(df, "ts", ["v"], step="1 hour", partition_cols=["k"])
    got = {
        (r.k, r.ts.hour): (r.v, r.filled) for r in out.collect()
    }
    assert got == {
        ("a", 0): (10.0, False),
        ("a", 1): (10.0, True),
        ("a", 2): (10.0, True),
        ("a", 3): (40.0, False),
        ("b", 1): (5.0, False),
        ("b", 2): (6.0, False),
    }


def test_gap_fill_keeps_unaligned_observations(spark):
    from pyspark.sql import functions as F

    from big_data_processing_spark.operators.windows import gap_fill

    df = spark.createDataFrame(
        [
            ("2024-01-01 00:00:00", 1.0),
            ("2024-01-01 00:30:00", 7.0),   # off the hourly grid
            ("2024-01-01 02:00:00", 3.0),
        ],
        "ts string, v double",
    ).select(F.col("ts").cast("timestamp").alias("ts"), "v")
    rows = {
        r.ts.isoformat(): (r.v, r.filled)
        for r in gap_fill(df, "ts", ["v"], step="1 hour").collect()
    }
    # unaligned 00:30 row survives (full outer join), not dropped
    assert rows["2024-01-01T00:30:00"] == (7.0, False)
    # the 01:00 grid row forward-fills from the unaligned neighbor
    assert rows["2024-01-01T01:00:00"] == (7.0, True)
    assert rows["2024-01-01T02:00:00"] == (3.0, False)


def test_rolling_median_discrete_and_interpolated(spark):
    from pyspark.sql import functions as F

    from big_data_processing_spark.operators.windows import rolling_median

    df = spark.createDataFrame(
        [("a", i, v) for i, v in enumerate([5.0, 1.0, 4.0, 2.0, 3.0])],
        "k string, i int, v double",
    )
    disc = {
        r.i: r.roll_median
        for r in rolling_median(df, ["k"], [F.col("i")], "v", n=3).collect()
    }
    # frames: [5], [5,1], [5,1,4], [1,4,2], [4,2,3]
    # sorted:  [5], [1,5], [1,4,5], [1,2,4], [2,3,4] → lower-median
    assert disc == {0: 5.0, 1: 1.0, 2: 4.0, 3: 2.0, 4: 3.0}
    interp = {
        r.i: r.roll_median
        for r in rolling_median(
            df, ["k"], [F.col("i")], "v", n=4, interpolate=True
        ).collect()
    }
    # frames: [5], [5,1], [5,1,4], [5,1,4,2], [1,4,2,3]
    # sorted:  [5], [1,5], [1,4,5], [1,2,4,5], [1,2,3,4]
    assert interp == {0: 5.0, 1: 3.0, 2: 4.0, 3: 3.0, 4: 2.5}
