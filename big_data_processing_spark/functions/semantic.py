"""Semantic (embedding-space) clustering and deduplication:
distributed Lloyd k-means plus SemDeDup-style within-cluster
near-duplicate pruning (Abbas et al. 2023, "SemDeDup: Data-efficient
learning at web-scale through semantic deduplication").

North-star extension — the reference has no embedding operators
(SURVEY.md §2.8); this is the semantic arm of the dedup family next
to MinHash/SimHash (``functions/dedup.py``) and the exact/LSH/IVF
cosine paths (``functions/similarity.py``).

Scale notes
-----------
- Each Lloyd iteration is one broadcast join (k centroids — a few
  KB — against the corpus) plus one ``posexplode`` partial
  aggregate: the corpus shuffles only (cluster, pos, value)
  triples, never whole vectors, and the map-side combine reduces
  each partition to at most k×d rows before the exchange.
- Centroids never leave the JVM as data; they round-trip through a
  k-row DataFrame re-broadcast per iteration. For many iterations,
  lineage should be truncated the way ``operators/graph.py`` does
  for label propagation; the registered queries run 2 iterations,
  where plan growth is negligible.
- SemDeDup's pairwise phase is quadratic ONLY within a cluster:
  with k chosen ∝ corpus size (the paper uses ~100k clusters at
  web scale), cluster populations stay bounded and the self-join is
  an equi-join on the cluster id — the same blocked-pair shape as
  ``cosine_near_dup_pairs`` (label-blocked) and LSH bucketing.

Cross-engine parity: cosine scores are rounded to ``sim_digits``
before the argmax (ties broken by lowest cluster id) and centroid
means are rounded to ``centroid_digits`` between iterations, so
Spark and a SQL oracle that mirrors the recipe agree bit-for-bit —
double summation order contributes ≤1e-13 noise against rounding
grids of 1e-8/1e-6 (the repo-wide float-parity policy,
``plans/registry.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from big_data_processing_spark import partitioning
from big_data_processing_spark.functions.similarity import cosine


def kmeans_assign(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
    sim_digits: int = 8,
    centroid_digits: int = 6,
    allow_quadratic: bool = False,
) -> DataFrame:
    """Distributed Lloyd k-means under cosine similarity.

    Deterministic init: the k rows with the lowest ids seed the
    centroids (no RNG — reproducible across engines and runs).
    Each iteration assigns every vector to its highest-cosine
    centroid (rounded scores, ties to the lowest cluster id), then
    recomputes centroids as the per-dimension member mean (rounded).

    Returns (id_col, cluster, cos) — the assignment after ``iters``
    assignment steps, i.e. ``iters - 1`` centroid updates.

    This flat Lloyd is the EXACT baseline (every vector scores
    against every centroid each iteration — k×n fold-dots plus a
    full per-dimension shuffle per update; measured 22× per 10×
    data in-suite, SCALE.md). The scale path is
    ``kmeans_assign_twolevel`` (coarse cells prune the candidate
    centroids). Past ~2 GiB of input a RuntimeWarning says so;
    ``allow_quadratic=True`` acknowledges the cost.
    """
    from big_data_processing_spark.functions.similarity import _dot

    partitioning.warn_if_quadratic(
        emb, "kmeans_assign (flat Lloyd)", allow_quadratic=allow_quadratic
    )

    # Precompute each side's norm ONCE: scoring then costs a single
    # fold-dot per (vector, centroid) pair instead of three —
    # √(v·v)·√(c·c) equals the precomputed nv·nc bit-for-bit, so a
    # SQL oracle that divides by the sqrt-product matches exactly.
    e = emb.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    ).withColumn("nv", F.sqrt(_dot(F.col("v"), F.col("v"))))
    centroids = (
        e.filter(F.col(id_col) < k)
        .select(F.col(id_col).cast("int").alias("cluster"),
                F.col("v").alias("c"),
                F.col("nv").alias("nc"))
    )
    win = Window.partitionBy(id_col).orderBy(
        F.col("cos").desc(), F.col("cluster")
    )
    denom = F.col("nv") * F.col("nc")
    score = F.when(
        denom > 0, _dot(F.col("v"), F.col("c")) / denom
    ).otherwise(F.lit(0.0))
    assign = None
    for it in range(iters):
        scored = e.join(F.broadcast(centroids)).select(
            id_col,
            "cluster",
            F.round(score, sim_digits).alias("cos"),
        )
        assign = (
            scored.withColumn("rn", F.row_number().over(win))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        if it == iters - 1:
            break
        # Lloyd update: per-dimension member mean, rounded so the
        # next iteration's inputs are bit-identical cross-engine.
        centroids = (
            assign.join(e, on=id_col)
            .select("cluster", F.posexplode("v").alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(F.round(F.avg("val"), centroid_digits).alias("m"))
            .groupBy("cluster")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"],
                ).alias("c")
            )
            .withColumn("nc", F.sqrt(_dot(F.col("c"), F.col("c"))))
        )
    return assign


def kmeans_assign_twolevel(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target: int = 250,
    sim_digits: int = 8,
    centroid_digits: int = 6,
) -> DataFrame:
    """Coarse-quantize-then-refine two-level k-means — the scale
    valve for ``kmeans_assign``'s k ∝ corpus scoring cost.

    Flat Lloyd with k = n/target scores every vector against every
    centroid: n·k = n²/target work, a ~20× measured slope for 10×
    data (SCALE.md "Measured scaling slopes"). Two levels cut it to
    n·(k1 + k2) ≈ 2n·√(n/target):

    - **Coarse**: ``kmeans_assign`` with k1 = ⌈√(n/target)⌉ cells
      (fixed-seed, 2 iterations) — linear-in-n broadcast scoring.
    - **Refine**: within each cell, an independent sub-k-means with
      k2 = max(1, cell_pop // target) sub-centroids (seeds = the k2
      lowest ids in the cell). Scoring is an **equi-join on the
      cell id** — each vector meets only its own cell's
      sub-centroids, never the full centroid set. All cells refine
      in ONE DataFrame plan; no per-cell driver loop.

    Final clusters are (cell, sub) with ~target members — the same
    bounded-population contract SemDeDup needs — exposed as a
    single ``cluster = cell·100000 + sub`` id (documented cap:
    <100k sub-clusters per cell, i.e. <25M vectors per cell at the
    default target). At 100 TB the same construction recurses
    (fixed branching per level → O(n log n) total); two levels
    cover any corpus this sandbox can hold.

    Determinism/rounding matches ``kmeans_assign`` exactly (cos
    8 dp before argmax, ties to lowest sub id, centroid means 6 dp),
    so a DuckDB oracle mirroring the recipe agrees bit-for-bit.

    Returns (id_col, cell, sub, cluster, cos) — cos is the rounded
    cosine to the winning sub-centroid.
    """
    import math

    from big_data_processing_spark.functions.similarity import _dot

    # Bounded driver scalar (mirrored by the oracle's scalar
    # subquery): one count, not a collect of data.
    n = emb.count()
    k1 = max(2, math.ceil(math.sqrt(n / float(target))))

    coarse = kmeans_assign(
        emb, id_col=id_col, vec_col=vec_col, k=k1, iters=2,
        sim_digits=sim_digits, centroid_digits=centroid_digits,
    ).select(id_col, F.col("cluster").alias("cell"))

    e = emb.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    ).withColumn("nv", F.sqrt(_dot(F.col("v"), F.col("v"))))
    # Member frame feeds seed selection, both scoring passes and the
    # Lloyd update — materialize the coarse lineage ONCE (freed when
    # the caller's pin scope closes, as in semantic_dedup_pairs).
    m = partitioning.pin_now(coarse.join(e, on=id_col))

    # Per-cell sub-k and deterministic seeds: the k2 lowest ids.
    k2 = (
        m.groupBy("cell")
        .agg(F.count("*").alias("pop"))
        .select(
            "cell",
            F.greatest(
                F.lit(1), F.floor(F.col("pop") / F.lit(target))
            ).cast("int").alias("k2"),
        )
    )
    w_seed = Window.partitionBy("cell").orderBy(id_col)
    centroids = (
        m.withColumn("rn", F.row_number().over(w_seed))
        .join(F.broadcast(k2), on="cell")
        .filter(F.col("rn") <= F.col("k2"))
        .select(
            "cell",
            (F.col("rn") - 1).cast("int").alias("sub"),
            F.col("v").alias("c"),
            F.col("nv").alias("nc"),
        )
    )
    win = Window.partitionBy(id_col).orderBy(
        F.col("cos").desc(), F.col("sub")
    )
    denom = F.col("nv") * F.col("nc")
    score = F.when(
        denom > 0, _dot(F.col("v"), F.col("c")) / denom
    ).otherwise(F.lit(0.0))
    assign = None
    for it in range(2):
        # Equi-join on cell: each vector scores only its own cell's
        # sub-centroids — the two-level cost cut lives here.
        scored = m.join(centroids, on="cell").select(
            id_col,
            "cell",
            "sub",
            F.round(score, sim_digits).alias("cos"),
        )
        assign = (
            scored.withColumn("rn", F.row_number().over(win))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        if it == 1:
            break
        centroids = (
            assign.join(m.select(id_col, "v"), on=id_col)
            .select("cell", "sub", F.posexplode("v").alias("pos", "val"))
            .groupBy("cell", "sub", "pos")
            .agg(F.round(F.avg("val"), centroid_digits).alias("mu"))
            .groupBy("cell", "sub")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "mu"))),
                    lambda s: s["mu"],
                ).alias("c")
            )
            .withColumn("nc", F.sqrt(_dot(F.col("c"), F.col("c"))))
        )
    return assign.select(
        id_col,
        "cell",
        "sub",
        (F.col("cell").cast("long") * 100000 + F.col("sub"))
        .alias("cluster"),
        "cos",
    )


def semantic_dedup_pairs(
    emb: DataFrame,
    assign: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tau: float = 0.4,
    sim_digits: int = 8,
) -> DataFrame:
    """Within-cluster near-duplicate pairs: (cluster, id_a, id_b,
    cos) with ``id_a < id_b`` and rounded cosine ≥ ``tau``.

    The self-join is an equi-join on the cluster id — pair work is
    bounded by the largest cluster, never corpus-quadratic.
    """
    from big_data_processing_spark.functions.similarity import _dot

    e = emb.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    )
    # Precompute each vector's norm ONCE: the pairwise stage then
    # evaluates a single dot product per pair instead of three
    # (sqrt(aa)·sqrt(bb) equals the precomputed na·nb bit-for-bit,
    # so oracle parity is unaffected).
    m = (
        assign.select(id_col, "cluster")
        .join(e, on=id_col)
        .withColumn("nrm", F.sqrt(_dot(F.col("v"), F.col("v"))))
    )
    # Both sides of the within-cluster self-join read the member
    # frame; materialize it ONCE (the k-means lineage above it would
    # otherwise execute twice). Freed when the caller's pin scope
    # closes.
    m = partitioning.pin_now(m)

    # On a SMALL corpus the cluster key has few distinct values (k ∝
    # n/target) and the frame is byte-small, so the keyed self-join
    # AQE-coalesces the pair stage to ONE task (measured at sf0.1: a
    # single 2.2 s-CPU task held the whole per-pair fold-dot
    # verify). When the member frame fits a broadcast, broadcast one
    # side and round-robin the other — parallelism then comes from
    # the streamed side's keyless exchange, not the key count (guide
    # §2.5/§3.1; the join is unchanged, values identical). At scale
    # the dispatch keeps the keyed join: cluster count grows with
    # the corpus, which spreads the equi-join on its own, and the
    # member frame stops being broadcastable.
    # a checkpointed frame reports NO Catalyst size estimate, so
    # measure directly: count (cheap — m is materialized) × schema
    # row width. One bounded driver scalar, like the k-means seeds.
    n_m = m.count()
    first = m.select(F.size("v").alias("d")).first()
    dim = int(first["d"]) if first else 0
    m_bytes = n_m * (8 * (dim + 4))
    small = 0 < m_bytes <= 64 << 20
    a_src = partitioning.spread(m) if small else m
    a = a_src.select(
        F.col("cluster"),
        F.col(id_col).alias("id_a"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = m.select(
        F.col("cluster"),
        F.col(id_col).alias("id_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    if small:
        b = F.broadcast(b)
    denom = F.col("na") * F.col("nb")
    cos = F.when(
        denom > 0, _dot(F.col("va"), F.col("vb")) / denom
    ).otherwise(F.lit(0.0))
    return (
        a.join(b, on="cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "cluster",
            "id_a",
            "id_b",
            F.round(cos, sim_digits).alias("cos"),
        )
        .filter(F.col("cos") >= tau)
    )


def semantic_dedup_drops(
    pairs: DataFrame,
) -> DataFrame:
    """SemDeDup keep-lowest policy over within-cluster pairs: a
    vector is dropped when a lower-id member of its cluster sits
    within the cosine threshold. Returns one row per dropped vector:
    (cluster, drop_id, keep_id, cos) where ``keep_id`` is the lowest
    such partner (deterministic representative).
    """
    win = Window.partitionBy("id_b").orderBy("id_a")
    return (
        pairs.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") == 1)
        .select(
            "cluster",
            F.col("id_b").alias("drop_id"),
            F.col("id_a").alias("keep_id"),
            "cos",
        )
    )
