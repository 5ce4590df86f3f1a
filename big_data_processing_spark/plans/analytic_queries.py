"""Round-5 analytic additions: heavy hitters via a distributed
Misra-Gries sketch, exact rolling median, cohort retention,
cumulative distinct users, and a TPC-H Q5-shaped multi-join.

All north-star extensions (the reference's SQL surface is flat
group-bys over Postgres — SURVEY.md §2.9/§2.8; it has no sketches,
window frames, cohort logic, or multi-fact joins). Every query is
value-checked against a DuckDB oracle (rounding policy:
``plans/registry.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from big_data_processing_spark import partitioning
from big_data_processing_spark.functions.sketches import heavy_hitters
from big_data_processing_spark.operators.aggregates import (
    dsum,
    dsum_round,
    dsum_round_sql,
)
from big_data_processing_spark.operators.windows import rolling_median
from big_data_processing_spark.plans.registry import register
from big_data_processing_spark.sources.catalog import load_table

# ---------------------------------------------------------------------------
# Heavy hitters: Misra-Gries candidates + exact recount
# ---------------------------------------------------------------------------


@register(
    "token_heavy_hitters",
    """
    WITH t AS (
      SELECT unnest(regexp_split_to_array(lower(text), ' +')) AS token
      FROM documents
    ), tt AS (SELECT token FROM t WHERE token <> ''),
    tot AS (SELECT count(*) AS n FROM tt)
    SELECT token, count(*) AS n
    FROM tt GROUP BY token
    HAVING count(*) > 0.002 * (SELECT n FROM tot)
    """,
    doc="Exact tokens above 0.2% corpus frequency, found by the "
    "two-pass sketch-then-recount pattern: per-partition capacity-k "
    "Misra-Gries (mapInPandas, Arrow-batched) proposes a provable "
    "superset of the true heavy hitters, then one exact grouped count "
    "restricted to the broadcast candidate set removes false "
    "positives (functions/sketches.py). The full-vocabulary groupBy "
    "never happens — the oracle's plain HAVING is the semantics, not "
    "the plan",
)
def q_token_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower(F.col("text")), " +")).alias("token")
    ).filter(F.col("token") != "")
    return heavy_hitters(toks, "token", threshold_frac=0.002)


# ---------------------------------------------------------------------------
# Exact rolling median (bounded ROWS frame, JVM-side)
# ---------------------------------------------------------------------------


@register(
    "rolling_median_price",
    """
    SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
           quantile_disc(l_extendedprice, 0.5) OVER (
             PARTITION BY l_suppkey
             ORDER BY l_shipdate, l_orderkey, l_linenumber,
                      l_extendedprice
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW
           ) AS roll_median
    FROM lineitem
    """,
    doc="Trailing-5 exact moving (discrete) median of line price per "
    "supplier: collect_list over the ROWS frame + array_sort + "
    "middle element, all JVM expressions (operators/windows.py "
    "rolling_median). Discrete median returns an input value — "
    "bit-identical cross-engine, no rounding policy. "
    "l_extendedprice in the sort breaks the corpus's (orderkey, "
    "linenumber) collisions so frame membership is "
    "engine-independent",
)
def q_rolling_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "lineitem")
    out = rolling_median(
        df,
        ["l_suppkey"],
        [
            F.col("l_shipdate"),
            F.col("l_orderkey"),
            F.col("l_linenumber"),
            F.col("l_extendedprice"),
        ],
        "l_extendedprice",
        n=5,
    )
    return out.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        "l_extendedprice",
        "roll_median",
    )


# ---------------------------------------------------------------------------
# Cohort retention matrix
# ---------------------------------------------------------------------------


@register(
    "retention_cohorts",
    """
    WITH f AS (
      SELECT user_id, date_trunc('day', min(ts)) AS cohort_day
      FROM events GROUP BY user_id
    )
    SELECT f.cohort_day,
           CAST(date_diff('day', f.cohort_day,
                          date_trunc('day', e.ts)) AS INT)
             AS days_since,
           count(DISTINCT e.user_id) AS n_users,
           count(*) AS n_events
    FROM events e JOIN f USING (user_id)
    GROUP BY 1, 2
    """,
    doc="Cohort retention: users bucketed by first-activity day, "
    "counted distinct in each subsequent day (day grain — the corpus "
    "spans one month; week/month grain is the same plan with a "
    "different date_trunc). Two keyed shuffles (first-seen agg on "
    "user_id; cohort-cell agg), both partial-aggregated, and the "
    "user_id join reuses the first agg's partitioning. Classic "
    "product-analytics matrix the reference cannot express",
)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    first = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort_day")
    )
    return (
        ev.join(first, "user_id")
        .select(
            "cohort_day",
            F.datediff(
                F.date_trunc("day", F.col("ts")), F.col("cohort_day")
            )
            .cast("int")
            .alias("days_since"),
            "user_id",
        )
        .groupBy("cohort_day", "days_since")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# Cumulative distinct users (first-seen trick — no COUNT(DISTINCT) OVER)
# ---------------------------------------------------------------------------


@register(
    "cumulative_distinct_users",
    """
    WITH f AS (
      SELECT user_id, min(date_trunc('day', ts)) AS first_day
      FROM events GROUP BY user_id
    ), d AS (
      SELECT first_day, count(*) AS new_users FROM f GROUP BY first_day
    )
    SELECT first_day, new_users,
           CAST(sum(new_users) OVER (
             ORDER BY first_day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cum_users
    FROM d
    """,
    doc="Distinct users ever seen, per day — the first-seen trick: "
    "mark each user's first day (one keyed agg), count new users per "
    "day, cumulative-sum. Replaces COUNT(DISTINCT) OVER (which no "
    "engine runs distributed) with two partial-agg shuffles; the "
    "final ordered window runs over the DAILY grain (≤ a few "
    "thousand rows for years of data — bounded, same documented "
    "bound as hourly_gap_fill)",
)
def q_cumulative_distinct_users(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("day", F.col("ts"))).alias("first_day")
    )
    daily = first.groupBy("first_day").agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = (
        Window.orderBy("first_day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return daily.withColumn("cum_users", F.sum("new_users").over(w))


# ---------------------------------------------------------------------------
# TPC-H Q5-shaped multi-join: local supplier volume
# ---------------------------------------------------------------------------


@register(
    "local_supplier_volume",
    f"""
    SELECT n_name,
           {dsum_round_sql("l_extendedprice * (1 - l_discount)", 2)}
             AS revenue,
           count(*) AS n_lines
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN customer ON o_custkey = c_custkey
                 AND c_nationkey = s_nationkey
    JOIN nation ON n_nationkey = s_nationkey
    GROUP BY n_name
    """,
    doc="TPC-H Q5 shape: revenue shipped by a supplier in the "
    "customer's own nation. Join strategy by table role: "
    "lineitem⋈orders is the one fact-fact shuffle (orderkey); "
    "supplier and nation broadcast (10k·SF / 25 rows); customer "
    "joins on custkey — broadcast at test SF, a keyed shuffle at "
    "100 TB where Catalyst's size estimate flips it automatically. "
    "Filter c_nationkey = s_nationkey applied in the join condition "
    "so mismatched rows never reach the agg. Revenue aggregates in "
    "fixed point (floor(x·1e6 + 0.5) long sum — exact and unbiased, "
    "r6 ADVICE) and the 2-dp display rounding happens IN INTEGER "
    "SPACE (dsum_round): the 4-decimal product makes the sum land "
    "on an exact ...xx50 tie about once per 100 groups, where "
    "Spark's decimal HALF_UP and DuckDB's binary-nearest round() "
    "disagree — one nation's revenue did exactly that at sf1",
)
def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_processing_spark.functions.sketches import (
        bloom_scan_filter,
    )

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    # Cost-gated Bloom reduction on the customer join: the dim here
    # is the UNFILTERED customer table (every order matches), so the
    # measured gate declines and the plain join runs — the negative
    # leg of the bloom_semi_join_revenue pattern, plan-asserted in
    # tests/test_plans.py. A selective customer predicate would flip
    # it on with no other change to this query.
    orders, _ = bloom_scan_filter(
        orders, "o_custkey", cust, "c_custkey",
        domain_count=cust.count(),
    )
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(
            cust,
            (orders.o_custkey == cust.c_custkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
    )
    return (
        joined.withColumn(
            "rev", F.col("l_extendedprice") * (1 - F.col("l_discount"))
        )
        .groupBy("n_name")
        .agg(
            dsum_round("rev", 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "promo_revenue_share",
    f"""
    SELECT date_trunc('month', l_shipdate) AS month,
           {dsum_round_sql("l_extendedprice * (1 - l_discount)", 2)}
             AS revenue,
           {dsum_round_sql(
               "CASE WHEN p_type = 'PROMO' THEN "
               "l_extendedprice * (1 - l_discount) ELSE 0.0 END", 2)}
             AS promo_revenue,
           round(({dsum_round_sql(
               "CASE WHEN p_type = 'PROMO' THEN "
               "l_extendedprice * (1 - l_discount) ELSE 0.0 END", 2)})
             / ({dsum_round_sql(
                 "l_extendedprice * (1 - l_discount)", 2)}), 6)
             AS promo_share
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY 1
    ORDER BY 1
    """,
    doc="TPC-H Q14 shape: monthly promo-revenue share via conditional "
    "aggregation over the lineitem⋈part join. part broadcasts (2k·SF "
    "rows, two columns after pruning) so the fact table never "
    "shuffles for the join; one partial-agg'd groupBy(month) is the "
    "only exchange. Both sums use the integer-space dsum_round "
    "recipe (the 4-decimal revenue product is exactly the "
    "decimal-tie class local_supplier_volume hit at sf1) and the "
    "share divides the two already-identical doubles "
    "(round-before-divide, the nation_revenue_share recipe)",
)
def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    agg = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .withColumn("rev", rev)
        .withColumn(
            "promo_rev",
            F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0)),
        )
        .groupBy(F.date_trunc("month", F.col("l_shipdate")).alias("month"))
        .agg(
            dsum_round("rev", 2).alias("revenue"),
            dsum_round("promo_rev", 2).alias("promo_revenue"),
        )
    )
    return agg.select(
        "month",
        "revenue",
        "promo_revenue",
        F.round(F.col("promo_revenue") / F.col("revenue"), 6).alias(
            "promo_share"
        ),
    ).orderBy("month")


# ---------------------------------------------------------------------------
# Z-order (Morton) curve — multi-dimensional layout clustering key
# ---------------------------------------------------------------------------


@register(
    "events_zorder_curve",
    """
    WITH s0 AS (
      SELECT event_id,
             (user_id & 65535) AS x,
             (CAST(floor(value) AS BIGINT) & 65535) AS y
      FROM events
    ), s1 AS (
      SELECT event_id, ((x | (x << 8)) & 16711935) AS x,
                       ((y | (y << 8)) & 16711935) AS y FROM s0
    ), s2 AS (
      SELECT event_id, ((x | (x << 4)) & 252645135) AS x,
                       ((y | (y << 4)) & 252645135) AS y FROM s1
    ), s3 AS (
      SELECT event_id, ((x | (x << 2)) & 858993459) AS x,
                       ((y | (y << 2)) & 858993459) AS y FROM s2
    ), s4 AS (
      SELECT event_id, ((x | (x << 1)) & 1431655765) AS x,
                       ((y | (y << 1)) & 1431655765) AS y FROM s3
    )
    SELECT event_id, (x | (y << 1)) AS zval FROM s4
    """,
    doc="Morton z-value of (user_id, floor(value)) low 16 bits — the "
    "clustering key behind zorder_layout (sources/layout.py): "
    "bit-spread multiply-mask ladder as pure JVM shiftleft/AND/OR "
    "expressions, bit-identical to the oracle's SQL ladder. Range-"
    "partitioning + sorting on this key bounds every parquet file in "
    "BOTH dimensions, so min/max stats prune filters on either "
    "column — Delta OPTIMIZE ZORDER semantics without the table "
    "format",
)
def q_events_zorder_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_processing_spark.sources.layout import z_value

    ev = load_table(spark, sf_dir, "events")
    x = F.col("user_id").bitwiseAND(F.lit(65535))
    y = F.floor(F.col("value")).cast("long").bitwiseAND(F.lit(65535))
    return ev.select("event_id", z_value(x, y).alias("zval"))


# ---------------------------------------------------------------------------
# Deterministic weighted sampling (A-ES, md5-keyed)
# ---------------------------------------------------------------------------


@register(
    "weighted_sample_orders",
    """
    SELECT o_orderkey, o_totalprice FROM (
      SELECT o_orderkey, o_totalprice,
             pow((CAST(concat('0x', substr(md5(concat('w7:',
                    CAST(o_orderkey AS VARCHAR))), 1, 8)) AS BIGINT)
                  + 0.5) / 4294967296.0,
                 1.0 / o_totalprice) AS wkey
      FROM orders
    ) ORDER BY wkey DESC, o_orderkey LIMIT 200
    """,
    doc="Weighted sample without replacement (Efraimidis-Spirakis "
    "A-ES), 200 orders with inclusion probability proportional to "
    "o_totalprice. The uniform comes from md5(seed:id), not a seeded "
    "RNG — identical on any engine/partitioning, so the sample is a "
    "value-checked driver row, unlike engine-RNG Bernoulli samples. "
    "Plans as TakeOrderedAndProject: per-partition top-k, no shuffle "
    "(operators/sampling.py weighted_sample)",
)
def q_weighted_sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_processing_spark.operators.sampling import weighted_sample

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    return weighted_sample(
        orders, "o_orderkey", "o_totalprice", k=200, seed="w7"
    )


# ---------------------------------------------------------------------------
# Ratio-to-report: share-of-total windows over an aggregate
# ---------------------------------------------------------------------------


@register(
    "nation_revenue_share",
    """
    WITH a AS (
      SELECT n_name, n_regionkey,
             round(CAST(sum(CAST(floor(o_totalprice * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6, 2) AS revenue
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name, n_regionkey
    )
    SELECT n_name, revenue,
           round(revenue / sum(revenue) OVER (), 6) AS share_global,
           round(revenue / sum(revenue) OVER (
             PARTITION BY n_regionkey), 6) AS share_in_region
    FROM a
    """,
    doc="Ratio-to-report: each nation's revenue share of the world "
    "and of its region — unbounded window sums OVER the nation-grain "
    "AGGREGATE (25 rows), never over the fact table; the heavy work "
    "is one partial-agg'd groupBy, the share windows are driver-"
    "trivial. The round-before-divide on both sides pins the "
    "numerator/denominator to identical doubles cross-engine",
)
def q_nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    agg = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name", "n_regionkey")
        .agg(F.round(dsum("o_totalprice"), 2).alias("revenue"))
    )
    w_all = Window.partitionBy()
    w_reg = Window.partitionBy("n_regionkey")
    return agg.select(
        "n_name",
        "revenue",
        F.round(F.col("revenue") / F.sum("revenue").over(w_all), 6).alias(
            "share_global"
        ),
        F.round(F.col("revenue") / F.sum("revenue").over(w_reg), 6).alias(
            "share_in_region"
        ),
    )


# ---------------------------------------------------------------------------
# Audio: real WAV decode, value-checked (mirrors image_decode_features)
# ---------------------------------------------------------------------------


@register(
    "audio_decode_features",
    """
    WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 64),
    s AS (
      SELECT ids.doc_id,
             ((ids.doc_id * 31 + i.range * 737) % 65536) - 32768 AS v
      FROM ids, range(0, 96) i
      WHERE i.range < 64 + ids.doc_id % 32
    )
    SELECT doc_id AS media_id, 8000 AS sample_rate,
           CAST(count(*) AS INT) AS n_samples,
           round(avg(v), 6) AS mean_amp,
           round(sqrt(avg(CAST(v AS DOUBLE) * v)), 6) AS rms,
           CAST(max(abs(v)) AS INT) AS peak
    FROM s GROUP BY doc_id
    """,
    doc="REAL audio decode, value-checked: per doc a deterministic "
    "PCM16 mono WAV is synthesized (sample i = (id*31 + i*737) mod "
    "65536 - 32768, length 64 + id mod 32), parsed by the pure-numpy "
    "RIFF chunk walker (functions/multimodal.py decode_wav), and "
    "reduced to (sample_rate, n, mean, RMS, peak) inside the Arrow "
    "kernel; the oracle regenerates the waveform arithmetically. "
    "Bytes→samples→features end-to-end — the audio sibling of "
    "image_decode_features",
)
def q_audio_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import pandas as pd

    from big_data_processing_spark.functions.multimodal import (
        decode_wav,
        make_wav,
    )
    from big_data_processing_spark.partitioning import spread

    ids = spread(
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 64),
        "doc_id",
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        def one(doc_id: int):
            rate, v = decode_wav(
                make_wav(64 + int(doc_id) % 32, seed=int(doc_id))
            )
            a = v.astype(np.int64)
            return (
                rate,
                a.size,
                float(a.sum()) / a.size,
                float(np.sqrt((a * a).sum() / a.size)),
                int(np.abs(a).max()),
            )

        for pdf in batches:
            t = pdf["doc_id"].map(one)
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "sample_rate": t.map(lambda x: x[0]).astype("int32"),
                    "n_samples": t.map(lambda x: x[1]).astype("int32"),
                    "mean_amp": t.map(lambda x: x[2]),
                    "rms": t.map(lambda x: x[3]),
                    "peak": t.map(lambda x: x[4]).astype("int32"),
                }
            )

    out = ids.mapInPandas(
        kernel,
        schema="media_id long, sample_rate int, n_samples int, "
        "mean_amp double, rms double, peak int",
    )
    return out.select(
        "media_id",
        "sample_rate",
        "n_samples",
        F.round("mean_amp", 6).alias("mean_amp"),
        F.round("rms", 6).alias("rms"),
        "peak",
    )


@register(
    "audio_decode_mixed",
    """
    WITH ids AS (
      SELECT doc_id, doc_id % 4 AS fmt FROM documents WHERE doc_id < 64
    ), meta AS (
      SELECT doc_id, fmt, 48 + doc_id % 16 AS n,
             CASE fmt WHEN 0 THEN 2 ELSE 1 END AS ch
      FROM ids
    ), s AS (
      SELECT m.doc_id, m.fmt, m.n, m.ch,
             CASE m.fmt
               WHEN 0 THEN CAST(((m.doc_id * 31 + j.range * 737)
                                 % 65536) - 32768 AS DOUBLE)
               WHEN 1 THEN CAST((m.doc_id * 31 + j.range * 737)
                                % 256 AS DOUBLE)
               WHEN 2 THEN CAST(((m.doc_id * 31 + j.range * 737)
                                 % 16777216) - 8388608 AS DOUBLE)
               ELSE (((m.doc_id * 31 + j.range * 737) % 65536)
                     - 32768) / 32768.0
             END AS v
      FROM meta m, range(0, 128) j
      WHERE j.range < m.n * m.ch
    )
    SELECT doc_id AS media_id, fmt, 8000 AS sample_rate,
           CAST(max(n) AS INT) AS n_frames,
           CAST(max(ch) AS INT) AS channels,
           round(avg(v), 6) AS mean_amp,
           round(sqrt(avg(v * v)), 6) AS rms,
           round(max(abs(v)), 6) AS peak
    FROM s GROUP BY doc_id, fmt
    ORDER BY media_id
    """,
    doc="Mixed-format audio decode, value-checked end-to-end: per doc "
    "a REAL WAV by doc_id mod 4 — interleaved PCM16 STEREO, unsigned "
    "PCM8, 24-bit PCM (3-byte little-endian sign extension), or "
    "IEEE-float32 (format tag 3, samples dyadic rationals exactly "
    "representable in f32 and SQL doubles) — through the RIFF chunk "
    "walker (functions/multimodal.py decode_wav) to frame/channel "
    "counts and amplitude stats; the oracle regenerates every "
    "waveform arithmetically over the interleaved index. With this, "
    "decode_wav covers the whole uncompressed WAV family; "
    "NotImplementedError remains only for compressed format tags",
)
def q_audio_decode_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import pandas as pd

    from big_data_processing_spark.functions.multimodal import (
        decode_wav,
        make_wav,
    )
    from big_data_processing_spark.partitioning import spread

    ids = spread(
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 64),
        "doc_id",
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        def one(doc_id: int):
            i, f = int(doc_id), int(doc_id) % 4
            n = 48 + i % 16
            if f == 0:
                wav = make_wav(n, seed=i, channels=2)
            elif f == 1:
                wav = make_wav(n, seed=i, bits=8)
            elif f == 2:
                wav = make_wav(n, seed=i, bits=24)
            else:
                wav = make_wav(n, seed=i, bits=32, audio_format=3)
            rate, v = decode_wav(wav)
            ch = 1 if v.ndim == 1 else v.shape[1]
            # float64 is exact for every supported sample type
            # (ints < 2^31; float32 dyadics) so these stats match
            # the SQL oracle bit-for-bit before the shared rounding
            a = v.astype(np.float64)
            return (
                rate,
                v.shape[0],
                ch,
                float(a.sum()) / a.size,
                float(np.sqrt((a * a).sum() / a.size)),
                float(np.abs(a).max()),
            )

        for pdf in batches:
            t = pdf["doc_id"].map(one)
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "fmt": (pdf["doc_id"] % 4).astype("int64"),
                    "sample_rate": t.map(lambda x: x[0]).astype("int32"),
                    "n_frames": t.map(lambda x: x[1]).astype("int32"),
                    "channels": t.map(lambda x: x[2]).astype("int32"),
                    "mean_amp": t.map(lambda x: x[3]),
                    "rms": t.map(lambda x: x[4]),
                    "peak": t.map(lambda x: x[5]),
                }
            )

    out = ids.mapInPandas(
        kernel,
        schema="media_id long, fmt long, sample_rate int, "
        "n_frames int, channels int, mean_amp double, rms double, "
        "peak double",
    ).transform(partitioning.pin)
    # pinned before the sort: the orderBy's range partitioner
    # samples its child — unpinned, every WAV decodes TWICE
    return out.select(
        "media_id",
        "fmt",
        "sample_rate",
        "n_frames",
        "channels",
        F.round("mean_amp", 6).alias("mean_amp"),
        F.round("rms", 6).alias("rms"),
        F.round("peak", 6).alias("peak"),
    ).orderBy("media_id")


# ---------------------------------------------------------------------------
# Sequence analytics: event-type transition matrix with dwell times
# ---------------------------------------------------------------------------


@register(
    "event_type_transitions",
    """
    WITH s AS (
      SELECT user_id, event_type,
             lead(event_type) OVER w AS next_type,
             date_diff('microsecond', ts, lead(ts) OVER w) AS gap_us
      FROM events
      WINDOW w AS (PARTITION BY user_id
                   ORDER BY ts, event_id)
    )
    SELECT event_type, next_type,
           count(*) AS n,
           round(CAST(sum(gap_us) AS DOUBLE) / count(*) / 1000000.0,
                 3) AS avg_gap_s
    FROM s WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    """,
    doc="Markov transition matrix over per-user event sequences: "
    "lead() window partitioned by user (one keyed shuffle, bounded "
    "per-user state) → grouped count + mean dwell seconds. The "
    "(event_id) tie-break pins simultaneous-timestamp order cross-"
    "engine, and the dwell mean is computed as exact integer-µs sum "
    "÷ count ÷ 1e6 in that order on BOTH sides (float division is "
    "order-sensitive; same exact integer → same double everywhere). "
    "Sequence/journey analytics the reference cannot express",
)
def q_event_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
        (
            F.unix_micros(F.lead("ts").over(w)) - F.unix_micros(F.col("ts"))
        ).alias("gap_us"),
    ).filter(F.col("next_type").isNotNull())
    return s.groupBy("event_type", "next_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.sum("gap_us").cast("double")
            / F.count(F.lit(1))
            / F.lit(1000000.0),
            3,
        ).alias("avg_gap_s"),
    )


# ---------------------------------------------------------------------------
# Graph: triangle counting on the co-purchase graph
# ---------------------------------------------------------------------------


@register(
    "copurchase_triangles",
    """
    WITH p AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), e AS (
      SELECT pa, pb FROM p GROUP BY pa, pb HAVING count(*) >= 2
    )
    SELECT count(*) AS n_triangles,
           (SELECT count(*) FROM e) AS n_edges
    FROM e e1
    JOIN e e2 ON e2.pa = e1.pb
    JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
    """,
    doc="Triangle count on the part co-purchase graph (edge = two "
    "parts in >= 2 common orders). Edges are id-oriented (pa < pb) "
    "so each triangle is counted once via two equi-joins — the "
    "standard distributed triangle enumeration; the >= 2 support "
    "filter is the degree valve (it prunes the long tail of "
    "incidental co-occurrence that drives Σd(v)² at scale; at 100 TB "
    "orient by DEGREE, not id, to bound the join fan-out to "
    "O(m^1.5)). Per-order pair generation is a self-join on "
    "orderkey — bounded by lines-per-order (~4), never corpus-"
    "quadratic",
)
def q_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    a = li.alias("a")
    b = li.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(
        F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb")
    )
    e = (
        pairs.groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
        .select("pa", "pb")
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = e1.join(e2, F.col("e2.pa") == F.col("e1.pb")).join(
        e3,
        (F.col("e3.pa") == F.col("e1.pa"))
        & (F.col("e3.pb") == F.col("e2.pb")),
    )
    n_edges = e.groupBy().agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        tri.groupBy()
        .agg(F.count(F.lit(1)).alias("n_triangles"))
        .crossJoin(F.broadcast(n_edges))
    )


# ---------------------------------------------------------------------------
# Data-quality: referential-integrity orphan audit
# ---------------------------------------------------------------------------


@register(
    "referential_orphans",
    """
    SELECT 'lineitem->orders' AS relationship,
           count(*) AS n_child,
           CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_orphans
    FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
    UNION ALL
    SELECT 'orders->customer', count(*),
           CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders LEFT JOIN customer ON o_custkey = c_custkey
    UNION ALL
    SELECT 'customer->nation', count(*),
           CAST(sum(CASE WHEN n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
    """,
    doc="Referential-integrity audit: orphan counts across the three "
    "FK relationships via left joins (unmatched parent → NULL). "
    "Each branch is one keyed join partial-agg'd to a single row, so "
    "the union is three bounded jobs — the cross-table member of the "
    "validation family (F3-F5 cover single-table nulls/violations)",
)
def q_referential_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey")

    def audit(child, parent, ckey, pkey, label):
        j = child.join(parent, F.col(ckey) == F.col(pkey), "left")
        return j.groupBy().agg(
            F.lit(label).alias("relationship"),
            F.count(F.lit(1)).alias("n_child"),
            F.sum(
                F.when(F.col(pkey).isNull(), 1).otherwise(0)
            ).alias("n_orphans"),
        ).select("relationship", "n_child", "n_orphans")

    return (
        audit(li, orders.select("o_orderkey"), "l_orderkey",
              "o_orderkey", "lineitem->orders")
        .unionAll(audit(orders, cust.select("c_custkey"), "o_custkey",
                        "c_custkey", "orders->customer"))
        .unionAll(audit(cust, nation, "c_nationkey", "n_nationkey",
                        "customer->nation"))
    )


# ---------------------------------------------------------------------------
# Data-quality: Benford first-digit distribution
# ---------------------------------------------------------------------------


@register(
    "benford_first_digit",
    """
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                              AS VARCHAR), 1, 1) AS INT) AS digit
      FROM orders WHERE o_totalprice >= 1
    ), t AS (SELECT count(*) AS n FROM d)
    SELECT digit, count(*) AS n_obs,
           round(count(*) / (SELECT CAST(n AS DOUBLE) FROM t), 6)
             AS p_obs,
           round(log10(1.0 + 1.0 / digit), 6) AS p_benford
    FROM d GROUP BY digit
    """,
    doc="Benford's-law audit: observed first-digit distribution of "
    "order totals vs the log10(1+1/d) expectation — the classic "
    "fabricated-data screen. One grouped count over a pure "
    "projection (digit = first char of the integer part); the "
    "9-row observed/expected table is what a fraud monitor "
    "thresholds on. Both sides compute p_obs as count/total in one "
    "double division",
)
def q_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") >= 1
    )
    d = orders.select(
        F.substring(
            F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    total = d.groupBy().agg(F.count(F.lit(1)).alias("_n"))
    return (
        d.groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_obs"))
        .crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n_obs",
            F.round(
                F.col("n_obs") / F.col("_n").cast("double"), 6
            ).alias("p_obs"),
            F.round(
                F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit")), 6
            ).alias("p_benford"),
        )
    )


# ---------------------------------------------------------------------------
# Stream-stream join parity (driver-visible, value-checked)
# ---------------------------------------------------------------------------

@register(
    "streaming_join_parity",
    """
    WITH p AS (
      SELECT user_id, event_id AS purchase_id, ts AS purchase_ts,
             value AS purchase_value
      FROM events WHERE event_type = 'purchase'
    ), c AS (
      SELECT user_id, event_id AS click_id, ts AS click_ts
      FROM events WHERE event_type = 'click'
    )
    SELECT date_trunc('hour', purchase_ts) AS purchase_hour,
           count(*) AS n_pairs,
           count(DISTINCT purchase_id) AS n_purchases,
           round(sum(purchase_value), 6) AS total_purchase_value
    FROM p JOIN c ON p.user_id = c.user_id
      AND c.click_ts <= p.purchase_ts
      AND c.click_ts >= p.purchase_ts - INTERVAL 1 HOUR
    GROUP BY 1
    """,
    doc="Stream-STREAM join parity, value-checked end-to-end: the "
    "REAL watermarked interval join (streaming/joins.py "
    "interval_join_streams — both sides buffered in keyed state, "
    "evicted by the other side's watermark minus the time bound) "
    "runs over the events stream fanned out into purchase/click "
    "sides, lands in a memory sink, and the pair table is aggregated "
    "to per-hour attribution counts; the oracle is the equivalent "
    "batch interval join. Events are re-chunked into 4 time-range-"
    "ordered files delivered one per micro-batch, so CROSS-BATCH "
    "state buffering and watermark eviction are exercised end-to-"
    "end: a batch-2 purchase must still find its batch-1 clicks in "
    "the join state, while state older than watermark+gap has been "
    "evicted. In-order arrival means no datum is later than the "
    "watermark, so the check stays exact — a state-eviction or "
    "join-condition regression breaks this row",
)
def q_streaming_join_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_processing_spark.sources.maintenance import (
        scratch_dir,
    )

    from big_data_processing_spark.streaming.joins import (
        purchase_click_attribution_stream,
    )
    from big_data_processing_spark.streaming.windowed import (
        read_event_stream,
        run_stream_to_memory,
        stream_state_partitions,
    )

    # Time-range chunking (ascending partition ranges → lexicographic
    # file order → in-arrival-order micro-batches): late data never
    # crosses the watermark, so the multi-batch run is exact.
    work = scratch_dir("sjp_chunks", sf_dir)
    events = load_table(spark, sf_dir, "events")
    events.repartitionByRange(4, "ts").write.parquet(f"{work}/chunks")
    # FileStreamSource batches new files by modification time; the
    # write stamps all 4 chunks in the same instant, so pin mtimes
    # ascending in partition order (part-00000 = earliest ts range)
    # to make arrival order deterministic and time-ordered.
    import glob as globmod
    import os

    for i, p in enumerate(
        sorted(globmod.glob(f"{work}/chunks/part-*.parquet"))
    ):
        os.utime(p, (1_000_000_000 + i * 60, 1_000_000_000 + i * 60))
    stream = read_event_stream(spark, f"{work}/chunks", glob="part-*.parquet")
    pairs = purchase_click_attribution_stream(
        stream, max_gap="1 hour", watermark="2 hours"
    )
    # Fixed sink name: re-invocation replaces the memory table
    # instead of accumulating sjp_N pair tables in driver memory.
    got = run_stream_to_memory(
        pairs, "sjp", output_mode="append",
        state_partitions=stream_state_partitions(
            spark, f"{work}/chunks", glob="part-*.parquet"
        ),
    )
    out = got.groupBy(
        F.date_trunc("hour", F.col("purchase_ts")).alias("purchase_hour")
    ).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("purchase_id").alias("n_purchases"),
        F.round(F.sum("purchase_value"), 6).alias("total_purchase_value"),
    )
    return out


@register(
    "streaming_late_drop_parity",
    """
    WITH m AS (SELECT max(ts) AS tmax FROM events),
    live AS (
      SELECT e.* FROM events e, m
      WHERE e.ts >= m.tmax - INTERVAL 24 HOUR
    )
    SELECT date_trunc('hour', ts) AS hour, event_type,
           count(*) AS n_events,
           round(sum(value), 6) AS total_value
    FROM live
    GROUP BY 1, 2
    HAVING date_trunc('hour', min(ts)) + INTERVAL 1 HOUR
           <= (SELECT tmax FROM m) - INTERVAL 2 HOUR
    ORDER BY 1, 2
    """,
    doc="WATERMARK-DROP parity, value-checked end-to-end — the "
    "riskiest streaming behavior at scale made driver-visible "
    "(r6 verdict Missing #3). The corpus's last 24 hours stream "
    "in first, advancing the watermark to tmax - 2h; the REST of "
    "the month then arrives as deliberately late data, every row "
    "20+ hours below the watermark (far from the boundary, so "
    "strict-vs-non-strict drop semantics cannot blur the check). "
    "The watermarked hourly aggregation must DROP the whole late "
    "batch — the stateful-aggregation late filter is where Spark "
    "defines drop semantics (measured here: the stream-stream "
    "interval JOIN does NOT input-filter late rows; its watermark "
    "only drives state eviction, and a late batch happily joined "
    "against itself — so the agg, not the join, is the honest "
    "drop gate). Measured subtlety this query is built around: "
    "Spark 4's two-phase watermark filters late events against "
    "the PREVIOUS micro-batch's watermark, so a late batch "
    "delivered immediately after the batch that advanced the "
    "watermark slips through untouched; the live slice is "
    "therefore delivered as TWO in-order batches (up to tmax-2h, "
    "then the tail) before the late bulk, putting the lagged "
    "filter watermark at ~tmax-4h when the late rows arrive. The "
    "oracle aggregates the live slice only, keeping windows "
    "closed by the final watermark (same finalization rule "
    "streaming_batch_parity pins). The late bulk holds ~96% of "
    "the corpus: an engine that failed to drop late input would "
    "emit thousands of extra finalized windows and break this "
    "hash. The one driver-side collect is a single scalar (max "
    "event ts) used to place the splits",
)
def q_streaming_late_drop_parity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import datetime
    import glob as globmod
    import os
    import shutil
    from big_data_processing_spark.sources.maintenance import (
        scratch_dir,
    )

    from big_data_processing_spark.streaming.windowed import (
        hourly_event_counts,
        read_event_stream,
        run_stream_to_memory,
        stream_state_partitions,
    )

    events = load_table(spark, sf_dir, "events")
    tmax = events.agg(F.max("ts")).collect()[0][0]
    live_cut = tmax - datetime.timedelta(hours=24)
    wm_cut = tmax - datetime.timedelta(hours=2)
    work = scratch_dir("sldp_chunks", sf_dir)
    # chunks 0+1: the live (recent) slice in two in-order batches —
    # the second exists so the LAGGED late filter (previous batch's
    # watermark) is already ~tmax-4h when the late bulk arrives;
    # chunk 2: everything OLDER, delivered last, 20+ h below it
    ts = F.col("ts")
    events.filter((ts >= F.lit(live_cut)) & (ts < F.lit(wm_cut))) \
        .coalesce(1).write.parquet(f"{work}/a")
    events.filter(ts >= F.lit(wm_cut)).coalesce(1) \
        .write.parquet(f"{work}/b")
    events.filter(ts < F.lit(live_cut)).coalesce(1) \
        .write.parquet(f"{work}/c")
    os.makedirs(f"{work}/chunks")
    for i, sub in enumerate(("a", "b", "c")):
        (part,) = globmod.glob(f"{work}/{sub}/part-*.parquet")
        dst = f"{work}/chunks/chunk-{i}.parquet"
        shutil.copy(part, dst)
        # FileStreamSource batches by mtime: pin ascending so the
        # live slice is batch 1 and the late slice batch 2
        os.utime(dst, (1_000_000_000 + i * 60, 1_000_000_000 + i * 60))
    stream = read_event_stream(
        spark, f"{work}/chunks", glob="chunk-*.parquet"
    )
    agg = hourly_event_counts(stream, watermark="2 hours")
    got = run_stream_to_memory(
        agg, "sldp", output_mode="append",
        state_partitions=stream_state_partitions(
            spark, f"{work}/chunks", glob="chunk-*.parquet"
        ),
    )
    return got.orderBy("hour", "event_type")


# ---------------------------------------------------------------------------
# Custom stateful operator parity (applyInPandasWithState)
# ---------------------------------------------------------------------------

@register(
    "stateful_sessions_parity",
    """
    WITH g AS (
      SELECT user_id, ts, coalesce(value, 0.0) AS value,
             CASE WHEN epoch(ts) - lag(epoch(ts)) OVER w IS NULL
                    OR epoch(ts) - lag(epoch(ts)) OVER w > 1800.0
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), s AS (
      SELECT user_id, ts, value,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM g
    ), agg AS (
      SELECT user_id, sess_id,
             min(ts) AS session_start, max(ts) AS session_end,
             count(*) AS n_events,
             round(sum(value), 6) AS total_value
      FROM s GROUP BY 1, 2
    )
    SELECT user_id, session_start, session_end, n_events, total_value
    FROM agg
    QUALIFY sess_id < max(sess_id) OVER (PARTITION BY user_id)
    ORDER BY user_id, session_start
    """,
    doc="CUSTOM STATEFUL streaming operator parity, value-checked "
    "end-to-end: gap sessionization via applyInPandasWithState "
    "(streaming/stateful.py — one fixed-width state row per active "
    "user, evolved batch-by-batch by an Arrow-batched kernel) runs "
    "over the events stream re-chunked into 4 time-range-ordered "
    "files delivered one per micro-batch, so sessions that SPAN "
    "micro-batch boundaries must be carried in the state store and "
    "closed by a later batch's event. The stream emits exactly the "
    "CLOSED sessions; the oracle recomputes all sessions in SQL "
    "(lag-gap + cumulative boundary sum) and drops each user's last "
    "(still-open) session. A state-carry or emission regression "
    "breaks this row. Session boundaries are order-independent "
    "(strict 30-min gap; equal timestamps share a session) and the "
    "one order-dependent output (the double sum) is rounded on both "
    "sides, so the check is exact",
)
def q_stateful_sessions_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob as globmod
    import os
    from big_data_processing_spark.sources.maintenance import (
        scratch_dir,
    )

    from big_data_processing_spark.streaming.stateful import (
        sessionize_stream,
    )
    from big_data_processing_spark.streaming.windowed import (
        read_event_stream,
        run_stream_to_memory,
        stream_state_partitions,
    )

    # Same time-range chunking as streaming_join_parity: ascending
    # partition ranges + pinned mtimes → deterministic in-order
    # micro-batches, so the kernel's per-user event-time-order
    # precondition holds across batches.
    work = scratch_dir("ssp_chunks", sf_dir)
    events = load_table(spark, sf_dir, "events")
    events.repartitionByRange(4, "ts").write.parquet(f"{work}/chunks")
    for i, p in enumerate(
        sorted(globmod.glob(f"{work}/chunks/part-*.parquet"))
    ):
        os.utime(p, (1_000_000_000 + i * 60, 1_000_000_000 + i * 60))
    stream = read_event_stream(spark, f"{work}/chunks", glob="part-*.parquet")
    # Volume-derived store count, LOW floor (r12): the kernel now
    # sessionizes a whole USER BUCKET per call (one state row and
    # one Python round-trip per bucket per batch, not per user —
    # streaming/stateful.py), so store count no longer needs to
    # compensate for per-group call overhead. r11 floored this at
    # defaultParallelism because 6000 per-user kernel calls
    # serialized over few stores (4 stores 10.5 s / 32 stores
    # 5.5 s); bucketed, the same query measured FASTER at the
    # volume-derived low store count than at 32 stores (per-store
    # fixed load/commit cost dominates again, like the JVM-state
    # parity queries). Buckets == stores: more buckets than stores
    # adds kernel calls without adding parallelism.
    sp = stream_state_partitions(
        spark, f"{work}/chunks", glob="part-*.parquet"
    )
    sessions = sessionize_stream(stream, gap_minutes=30.0, n_buckets=sp)
    got = run_stream_to_memory(
        sessions, "ssp", output_mode="append", state_partitions=sp,
    )
    return got.select(
        "user_id",
        "session_start",
        "session_end",
        "n_events",
        F.round("total_value", 6).alias("total_value"),
    ).orderBy("user_id", "session_start")


@register(
    "streaming_session_window_parity",
    """
    WITH g AS (
      SELECT user_id, ts, coalesce(value, 0.0) AS value,
             CASE WHEN epoch(ts) - lag(epoch(ts)) OVER w IS NULL
                    OR epoch(ts) - lag(epoch(ts)) OVER w > 1800.0
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), s AS (
      SELECT user_id, ts, value,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM g
    ), agg AS (
      SELECT user_id,
             min(ts) AS session_start,
             max(ts) + INTERVAL 30 MINUTE AS session_end,
             count(*) AS n_events,
             round(sum(value), 6) AS total_value
      FROM s GROUP BY user_id, sess_id
    )
    SELECT user_id, session_start, session_end, n_events, total_value
    FROM agg
    WHERE session_end <= (SELECT max(ts) FROM events) - INTERVAL 2 HOUR
    ORDER BY user_id, session_start
    """,
    doc="NATIVE session-window streaming parity, value-checked "
    "end-to-end: Spark's engine-side gap sessionization "
    "(F.session_window, streaming/windowed.py session_window_values) "
    "over the events stream delivered as 4 time-range-ordered "
    "micro-batches — the BUILT-IN twin of stateful_sessions_parity's "
    "applyInPandasWithState kernel, pinning that both mechanisms "
    "implement the same session algebra. Sessions spanning "
    "micro-batch boundaries must merge inside the state store "
    "(JVM-side MergingSessions exec, no Python); append mode emits "
    "exactly the sessions whose window end (last event + 30 min) "
    "the final watermark (max event time - 2h) has passed. The "
    "oracle recomputes sessions with the lag-gap rule measured from "
    "the engine (merge at EXACTLY last+gap; new session only "
    "strictly beyond) and applies the same closed-window filter. "
    "Emission boundary follows the <= convention the tumbling-window "
    "parity pinned. A session-merge, state-eviction, or emission "
    "regression breaks this hash",
)
def q_streaming_session_window_parity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import glob as globmod
    import os
    from big_data_processing_spark.sources.maintenance import (
        scratch_dir,
    )

    from big_data_processing_spark.streaming.windowed import (
        read_event_stream,
        run_stream_to_memory,
        session_window_values,
        stream_state_partitions,
    )

    # Same time-range chunking as stateful_sessions_parity: ascending
    # partition ranges + pinned mtimes → deterministic in-order
    # micro-batches; sessions spanning chunk boundaries exercise the
    # state-store merge path.
    work = scratch_dir("sswp_chunks", sf_dir)
    events = load_table(spark, sf_dir, "events")
    events.repartitionByRange(4, "ts").write.parquet(f"{work}/chunks")
    for i, p in enumerate(
        sorted(globmod.glob(f"{work}/chunks/part-*.parquet"))
    ):
        os.utime(p, (1_000_000_000 + i * 60, 1_000_000_000 + i * 60))
    stream = read_event_stream(spark, f"{work}/chunks", glob="part-*.parquet")
    sessions = session_window_values(
        stream, gap="30 minutes", watermark="2 hours"
    )
    got = run_stream_to_memory(
        sessions, "sswp", output_mode="append",
        state_partitions=stream_state_partitions(
            spark, f"{work}/chunks", glob="part-*.parquet"
        ),
    )
    return got.orderBy("user_id", "session_start")


@register(
    "video_frame_features",
    """
    WITH ids AS (
      SELECT doc_id FROM documents WHERE doc_id < 48
    ), m AS (
      SELECT doc_id, 8 + doc_id % 5 AS w, 6 + doc_id % 3 AS h,
             4 + doc_id % 3 AS nf
      FROM ids
    ), f AS (
      SELECT m.doc_id, m.w, m.h, m.nf, fr.range AS frame
      FROM m, range(0, 6) fr
      WHERE fr.range < m.nf AND fr.range % 2 = 0
    ), px AS (
      SELECT f.doc_id, f.frame, f.nf,
             (f.doc_id + 3 * xs.range + 7 * ys.range
              + 11 * cs.range + 13 * f.frame) % 256 AS v
      FROM f, range(0, 12) xs, range(0, 8) ys, range(0, 3) cs
      WHERE xs.range < f.w AND ys.range < f.h
    )
    SELECT doc_id AS media_id,
           CAST(frame AS INT) AS frame,
           CAST(max(nf) AS INT) AS n_frames,
           round(avg(v), 6) AS mean_pixel,
           CAST(sum(v) AS BIGINT) AS checksum,
           TRUE AS decode_ok
    FROM px GROUP BY doc_id, frame
    ORDER BY media_id, frame
    """,
    doc="REAL video decode, value-checked end-to-end (r7 verdict "
    "#6 — retires the explode-shaped stub plan): per doc a "
    "deterministic uncompressed AVI (RIFF container, BI_RGB 24-bit "
    "bottom-up DIB '00db' frames — functions/multimodal.py "
    "make_avi, pixel (x,y,c) of frame f = (seed + 3x + 7y + 11c + "
    "13f) mod 256) is built EXECUTOR-side and decoded through the "
    "chunk walker (decode_avi: nested LIST traversal, declared-size "
    "validation, stride/flip/channel-swap), then every SECOND frame "
    "is sampled to scalar features (sample_video_frames_real). The "
    "oracle regenerates each sampled frame's mean/checksum "
    "arithmetically over the pixel grid. NotImplementedError "
    "remains only for compressed fourccs (MJPG/H264 — no codec "
    "libs), completing the real-media story: images, audio, video",
)
def q_video_frame_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import pandas as pd

    from big_data_processing_spark.functions.multimodal import (
        make_avi,
        sample_video_frames_real,
    )
    from big_data_processing_spark.partitioning import spread

    ids = spread(
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 48),
        "doc_id",
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "content": [
                        bytearray(
                            make_avi(
                                8 + int(i) % 5,
                                6 + int(i) % 3,
                                4 + int(i) % 3,
                                seed=int(i),
                            )
                        )
                        for i in pdf["doc_id"]
                    ],
                }
            )

    media = ids.mapInPandas(synth, schema="media_id long, content binary")
    # pinned before the sort: the orderBy's range partitioner
    # samples its child — unpinned, every AVI decodes TWICE
    out = partitioning.pin(sample_video_frames_real(media, every_n=2))
    return out.select(
        "media_id",
        "frame",
        "n_frames",
        F.round("mean_pixel", 6).alias("mean_pixel"),
        "checksum",
        "decode_ok",
    ).orderBy("media_id", "frame")
