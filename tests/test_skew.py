"""Skewed-key stress evidence (r6 verdict Next #8): the 100 TB skew
stance measured, not just flagged.

Three facts pinned here:

1. AQE's runtime skew-split actually fires on a planted ~20%-mass
   hot key once a partition crosses the skew thresholds — asserted
   on the final adaptive plan (``skew=true`` shuffle read), with
   thresholds lowered to make test-scale data cross them (at real
   scale the 256 MB defaults fire the same path).
2. ``salted_join`` bounds the hot key's post-shuffle partition mass
   to ~mass/salt — the deterministic no-AQE remedy — and matches
   the plain join's result exactly.
3. Group-by skew is benign by construction: the two-phase hash
   aggregate collapses the hot key map-side (partial_count /
   partial_sum in the plan), so the reducer sees one row per input
   partition, never the 20% mass.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_processing_spark.operators.joins import salted_join


def _skewed_pair(spark, n_left=200_000, n_right=500):
    """Left fact with ~20% of rows on key 1; small-but-unbroadcast
    right side keyed 0..n_right-1."""
    left = spark.range(n_left).select(
        F.when(F.col("id") % 5 == 0, F.lit(1))
        .otherwise(F.col("id") % n_right)
        .alias("k"),
        (F.col("id") % 97).cast("double").alias("v"),
    )
    right = spark.range(n_right).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).alias("grp"),
    )
    return left, right


def test_aqe_skew_split_fires(spark):
    """The unsalted shuffle join's hot partition is split by AQE at
    runtime: the final adaptive plan shows a skewed shuffle read."""
    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.shuffle.partitions",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        )
    }
    try:
        # force a shuffle join and make test-scale partitions cross
        # the skew bar (defaults: 256 MB / factor 5 — the same code
        # path real 100 TB partitions trip without tuning). The
        # partition count is pinned too: with only a few partitions
        # the hot key shares its partition with so many cold rows
        # that no partition reaches twice the median, so the result
        # would depend on the session's shuffle width. At 16 the hot
        # partition carries ~4x the median; the shuffle carries only
        # the pruned, well-compressed join key, hence the small
        # byte threshold.
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.shuffle.partitions", "16")
        conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "8KB",
        )
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4KB")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        left, right = _skewed_pair(spark)
        joined = left.join(right, on="k").groupBy("grp").count()
        rows = joined.collect()
        assert len(rows) == 7
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, (
            "AQE skew-split did not fire on the hot partition:\n"
            + plan[:2000]
        )
    finally:
        for k, v in saved.items():
            conf.set(k, v)


def test_salted_join_bounds_hot_partition_mass(spark):
    """Salting spreads the hot key across `salt` shards: the largest
    (key, salt) group carries ~mass/salt, and the join result is
    identical to the plain join."""
    left, right = _skewed_pair(spark, n_left=50_000)
    salt = 8
    hot_mass = left.filter(F.col("k") == 1).count()
    assert hot_mass >= 0.19 * 50_000  # the skew is really planted

    # the shard profile the shuffle will see: per-(key, salt) counts
    # (rand(42) is uniform; allow 2x headroom over the ideal shard)
    shards = (
        left.withColumn("__salt", (F.rand(42) * salt).cast("int"))
        .groupBy("k", "__salt")
        .count()
    )
    max_shard = shards.agg(F.max("count")).collect()[0][0]
    assert max_shard <= 2 * hot_mass / salt, (
        f"hot key not spread: max shard {max_shard}, "
        f"mass {hot_mass}, salt {salt}"
    )

    plain = (
        left.join(right, on="k")
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("v"), 6).alias("tv"),
        )
    )
    salted = (
        salted_join(left, right, "k", salt=salt)
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("v"), 6).alias("tv"),
        )
    )
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, salted.collect())
    )


def test_hot_key_agg_partial_aggregates_map_side(spark):
    """Group-by over the hot key plans a two-phase hash aggregate:
    partial (map-side) functions appear below the exchange, so the
    hot key reduces to one row per input partition pre-shuffle."""
    left, _ = _skewed_pair(spark)
    agg = left.groupBy("k").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("tv")
    )
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in plan and "partial_sum" in plan, plan[:2000]
