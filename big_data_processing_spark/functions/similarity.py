"""Similarity search over embedding columns (array<float>):
brute-force cosine top-k as the exact baseline, and a
random-hyperplane LSH bucketed variant as the scale path
(north-star extension, SURVEY.md §7.4).

Scale notes
-----------
- Brute force is a broadcast nested loop: the query set (small) is
  broadcast, the corpus streams once — O(|corpus|·|queries|·dim)
  with zero corpus shuffle. Right up to ~10^3 queries; beyond that,
  bucket.
- The LSH variant assigns each vector to a signature bucket from
  the sign pattern of dot products with deterministic pseudo-random
  hyperplanes; candidates come only from matching buckets (an
  equi-join on the signature — shuffles ids+vectors once, then the
  per-bucket work is tiny). Recall is tunable via num_planes /
  multi-probe; this is the same design as FAISS IVF/LSH front-ends.
- All vector math is JVM-side (``zip_with`` + ``aggregate`` fold in
  whole-stage codegen). A Pandas-UDF BLAS path is a drop-in swap if
  dim grows to thousands.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from big_data_processing_spark.operators.windows import topk_per_group
from big_data_processing_spark import partitioning
from big_data_processing_spark.partitioning import spread, spread_arrow


def _dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in double precision (mirrors the
    DuckDB oracle's list_dot_product evaluation order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine(a: Column, b: Column) -> Column:
    """cos(a,b) = dot(a,b) / (||a||·||b||), NULL-safe on zero norms."""
    denom = F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b))
    return F.when(denom > 0, _dot(a, b) / denom).otherwise(F.lit(0.0))


def brute_force_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    ndigits: int = 8,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Returns (query_id, vec_id, cos, rank), rank 1..k, excluding
    self-matches. Ties break on neighbor id (deterministic).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    # Per-row cost is |queries|·dim multiply-adds — partition by
    # cores, not input bytes (the corpus file may be one split).
    c = spread(corpus.select(F.col(id_col), F.col(vec_col)), id_col)
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            id_col,
            F.round(cosine(F.col("q_vec"), F.col(vec_col)), ndigits).alias(
                "cos"
            ),
        )
    )
    return topk_per_group(
        scored,
        ["query_id"],
        [F.col("cos").desc(), F.col(id_col)],
        k,
    ).select("query_id", id_col, "cos", "rank")


def _plane_sign(table: int, p: int, d: int) -> float:
    """Deterministic ±1 hyperplane component from md5(table, plane,
    dim) — reproducible everywhere with no stored model."""
    digest = hashlib.md5(f"plane-{table}-{p}-{d}".encode()).digest()
    return 1.0 if digest[0] % 2 == 0 else -1.0


# (An earlier revision computed signatures with JVM array
# expressions — num_tables·num_planes zip_with folds over literal
# plane arrays. That costs seconds of analyzer/codegen time and
# interpreted per-row folds; the numpy GEMM kernel inside
# lsh_cosine_topk replaced it outright.)


def lsh_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    num_planes: int = 6,
    num_tables: int = 8,
    ndigits: int = 8,
) -> DataFrame:
    """Approximate top-k cosine: candidates restricted to vectors
    sharing ANY of the query's ``num_tables`` hyperplane-LSH buckets,
    then exact cosine + rank within candidates. Trades recall for a
    bucket equi-join instead of a full cross product; tune
    (num_planes, num_tables) for the recall/candidate-count point —
    fewer planes = bigger buckets, more tables = more chances."""
    # All table signatures in ONE numpy GEMM per Arrow batch: the
    # expression-tree formulation (num_tables·num_planes zip_with
    # folds, each over a dim-length literal array) costs seconds of
    # analyzer/codegen time and JVM interpretation — sign(V·Pᵀ) with
    # a (tables·planes, dim) matrix is the same math at BLAS speed.
    import numpy as np
    import pandas as pd

    plane_mat = np.array(
        [
            [_plane_sign(t, p, d) for d in range(dim)]
            for t in range(num_tables)
            for p in range(num_planes)
        ]
    )
    sc = corpus.sparkSession.sparkContext
    bp = sc.broadcast(plane_mat)
    pw2 = np.left_shift(1, np.arange(num_planes))

    def bucket_kernel(id_name, vec_name):
        def kernel(batches):
            planes = bp.value
            for pdf in batches:
                n = len(pdf)
                if n == 0:
                    continue
                mat = np.array(list(pdf[vec_name]), dtype=np.float64)
                proj = mat @ planes.T  # (n, tables*planes)
                bits = (proj >= 0).astype(np.int64).reshape(
                    n, num_tables, num_planes
                )
                buckets = (bits * pw2).sum(axis=2)  # (n, tables)
                yield pd.DataFrame(
                    {
                        id_name: pdf[id_name].repeat(num_tables),
                        vec_name: pdf[vec_name].repeat(num_tables),
                        "table": np.tile(
                            np.arange(num_tables, dtype=np.int32), n
                        ),
                        "bucket": buckets.reshape(-1).astype(np.int32),
                    }
                )

        return kernel

    c = spread_arrow(
        corpus.select(F.col(id_col), F.col(vec_col)), id_col
    ).mapInPandas(
        bucket_kernel(id_col, vec_col),
        schema=f"{id_col} long, {vec_col} array<float>, "
        "table int, bucket int",
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    ).mapInPandas(
        bucket_kernel("query_id", "q_vec"),
        schema="query_id long, q_vec array<float>, table int, bucket int",
    )
    cand = (
        c.join(F.broadcast(q), on=["table", "bucket"])
        .filter(F.col(id_col) != F.col("query_id"))
        # a pair colliding in several tables scores once, not L times
        .dropDuplicates(["query_id", id_col])
    )
    scored = cand.select(
        "query_id",
        id_col,
        F.round(cosine(F.col("q_vec"), F.col(vec_col)), ndigits).alias(
            "cos"
        ),
    )
    return topk_per_group(
        scored,
        ["query_id"],
        [F.col("cos").desc(), F.col(id_col)],
        k,
    ).select("query_id", id_col, "cos", "rank")


def cosine_near_dup_pairs(
    df: DataFrame,
    block_cols: list[str],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    ndigits: int = 8,
    allow_quadratic: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within blocking keys:
    all (id_a < id_b) pairs sharing ``block_cols`` whose cosine
    similarity meets ``threshold``.

    Blocking (cluster id / label / LSH bucket) keeps the self-join
    from going quadratic over the corpus — the standard shape for
    embedding-based dedup of a training set. For unblocked corpora,
    feed ``hyperplane_signature`` buckets as the block column.

    Within-block pairs still grow with the SQUARE of block size
    (measured 38-41× per 10× data when blocks scale with the
    corpus, SCALE.md) — this exact path is the value-checked
    baseline; the scale paths are ``cosine_near_dup_pairs_ivf`` /
    ``_lsh``. Past ~2 GiB of input a RuntimeWarning says so;
    ``allow_quadratic=True`` acknowledges the cost
    (partitioning.warn_if_quadratic).
    """
    from big_data_processing_spark.partitioning import warn_if_quadratic

    warn_if_quadratic(
        df, "cosine_near_dup_pairs", allow_quadratic=allow_quadratic
    )
    base = df.select(*block_cols, F.col(id_col), F.col(vec_col))
    # Candidates from (block, id) only — vectors stay out of the
    # block self-join; the explicit spread parallelizes the per-pair
    # vector math beyond the (few) block keys.
    ids = base.select(*block_cols, F.col(id_col))
    cand = (
        ids.select(*block_cols, F.col(id_col).alias("id_a"))
        .join(
            ids.select(*block_cols, F.col(id_col).alias("id_b")),
            on=block_cols,
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    vecs = base.select(F.col(id_col), F.col(vec_col))
    # keyless spread: a keyed repartition of the byte-small candidate
    # frame is planner-eliminated / AQE-coalesced to a couple of
    # tasks (measured: 96k-pair verify on 2 of 32 cores, 2 s each —
    # the CPU-dense exact-cosine fold per pair needs COMPUTE width,
    # not byte width; same lesson as the Jaccard verifier)
    pairs = spread(cand).join(
        vecs.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("v_a")),
        on="id_a",
    ).join(
        vecs.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("v_b")),
        on="id_b",
    )
    return (
        pairs.withColumn(
            "cos", F.round(cosine(F.col("v_a"), F.col("v_b")), ndigits)
        )
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def brute_force_cosine_topk_pandas(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    ndigits: int = 8,
) -> DataFrame:
    """BLAS path for high dimensions: the same exact top-k as
    ``brute_force_cosine_topk``, scored by an Arrow-batched
    ``mapInPandas`` kernel doing one numpy matmul per batch against
    the (driver-collected, broadcast) query matrix.

    Use when dim × |queries| makes the per-row JVM fold expression
    the bottleneck (thousands of dims): one C-level GEMM per Arrow
    batch replaces dim·|queries| interpreted expression nodes per
    row. Each batch emits only its local top-k per query, so the
    final global top-k window sees ≤ k·n_batches candidate rows per
    query, not the whole corpus.
    """
    import numpy as np
    import pandas as pd

    q_rows = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    ).collect()
    q_ids = np.array([r["query_id"] for r in q_rows])
    q_mat = np.array([r["q_vec"] for r in q_rows], dtype=np.float64)
    q_norm = np.linalg.norm(q_mat, axis=1)
    q_norm[q_norm == 0] = np.inf  # zero-norm query → all cosines 0
    sc = corpus.sparkSession.sparkContext
    bq = sc.broadcast((q_ids, q_mat, q_norm))

    def kernel(batches):
        ids_q, mat_q, norm_q = bq.value
        for pdf in batches:
            c_mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            c_ids = pdf[id_col].to_numpy()
            c_norm = np.linalg.norm(c_mat, axis=1)
            c_norm[c_norm == 0] = np.inf
            cos = (c_mat @ mat_q.T) / np.outer(c_norm, norm_q)
            out: dict[str, list] = {"query_id": [], id_col: [], "cos": []}
            for j, qid in enumerate(ids_q):
                # round BEFORE selecting: the batch-local cut then
                # uses exactly the (rounded cos desc, id asc) order
                # of the global window AND the SQL oracle, so a
                # last-ulp GEMM-vs-fold difference inside a rounded
                # tie can never change which id survives the k
                # boundary
                col = np.round(cos[:, j], ndigits)
                mask = c_ids != qid  # no self-matches
                order = np.lexsort((c_ids[mask], -col[mask]))[:k]
                sel_ids = c_ids[mask][order]
                sel_cos = col[mask][order]
                out["query_id"] += [qid] * len(sel_ids)
                out[id_col] += list(sel_ids)
                out["cos"] += list(sel_cos)
            yield pd.DataFrame(out)

    scored = spread_arrow(
        corpus.select(F.col(id_col), F.col(vec_col)), id_col
    )
    local_topk = scored.mapInPandas(
        kernel, schema=f"query_id long, {id_col} long, cos double"
    )
    return topk_per_group(
        local_topk,
        ["query_id"],
        [F.col("cos").desc(), F.col(id_col)],
        k,
    ).select("query_id", id_col, "cos", "rank")


def _train_centroids_kmeans(
    vecs, n_centroids: int, iters: int = 5
):
    """Driver-side numpy k-means on a (seeded) sample — the classic
    IVF training recipe: quantizer quality needs only a sample, so
    training cost is independent of corpus size."""
    import numpy as np

    mat = np.asarray(vecs, dtype=np.float64)
    # deterministic init: first k distinct rows
    centroids = mat[:n_centroids].copy()
    for _ in range(iters):
        norm_c = np.linalg.norm(centroids, axis=1)
        norm_c[norm_c == 0] = np.inf
        norm_m = np.linalg.norm(mat, axis=1)
        norm_m[norm_m == 0] = np.inf
        sim = (mat @ centroids.T) / np.outer(norm_m, norm_c)
        assign = np.argmax(sim, axis=1)
        for c in range(n_centroids):
            members = mat[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)
    return centroids


def ivf_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    train_limit: int = 4096,
    ndigits: int = 8,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k cosine search — the
    other classic ANN scale path next to LSH:

    1. train a coarse quantizer (k-means centroids) on a bounded,
       deterministic SAMPLE of the corpus (driver-side numpy — IVF
       training never needs the full corpus);
    2. assign every corpus vector to its nearest centroid with an
       Arrow-batched kernel (one GEMM per batch, distributed);
    3. probe each query's ``n_probe`` nearest centroid lists only —
       an equi-join on the centroid id replaces the full cross
       product, cutting scored candidates to ~n_probe/n_centroids
       of the corpus.

    Recall rises with ``n_probe`` (== exact when n_probe =
    n_centroids). Returns (query_id, vec_id, cos, rank).
    """
    import numpy as np
    import pandas as pd

    train = [
        r[0]
        for r in corpus.select(vec_col)
        .orderBy(id_col)
        .limit(train_limit)
        .collect()
    ]
    centroids = _train_centroids_kmeans(train, n_centroids)
    sc = corpus.sparkSession.sparkContext
    bc = sc.broadcast(centroids)

    def assign_kernel(batches):
        cent = np.asarray(bc.value)
        norm_c = np.linalg.norm(cent, axis=1)
        norm_c[norm_c == 0] = np.inf
        for pdf in batches:
            mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            norm_m = np.linalg.norm(mat, axis=1)
            norm_m[norm_m == 0] = np.inf
            sim = (mat @ cent.T) / np.outer(norm_m, norm_c)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    vec_col: pdf[vec_col],
                    "centroid": np.argmax(sim, axis=1).astype("int32"),
                }
            )

    def probe_kernel(batches):
        cent = np.asarray(bc.value)
        norm_c = np.linalg.norm(cent, axis=1)
        norm_c[norm_c == 0] = np.inf
        for pdf in batches:
            mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            norm_m = np.linalg.norm(mat, axis=1)
            norm_m[norm_m == 0] = np.inf
            sim = (mat @ cent.T) / np.outer(norm_m, norm_c)
            probes = np.argsort(-sim, axis=1)[:, :n_probe]
            n = len(pdf)
            yield pd.DataFrame(
                {
                    "query_id": pdf[id_col].repeat(n_probe),
                    "q_vec": pdf[vec_col].repeat(n_probe),
                    "centroid": probes.reshape(-1).astype("int32"),
                }
            )

    schema_c = f"{id_col} long, {vec_col} array<float>, centroid int"
    assigned = spread_arrow(
        corpus.select(id_col, vec_col), id_col
    ).mapInPandas(assign_kernel, schema=schema_c)
    probed = queries.select(id_col, vec_col).mapInPandas(
        probe_kernel, schema="query_id long, q_vec array<float>, centroid int"
    )
    scored = (
        assigned.join(F.broadcast(probed), on="centroid")
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            id_col,
            F.round(cosine(F.col("q_vec"), F.col(vec_col)), ndigits).alias(
                "cos"
            ),
        )
    )
    return topk_per_group(
        scored,
        ["query_id"],
        [F.col("cos").desc(), F.col(id_col)],
        k,
    ).select("query_id", id_col, "cos", "rank")


def ann_recall(
    exact: DataFrame,
    approx: DataFrame,
    id_col: str = "vec_id",
) -> DataFrame:
    """Recall@k of an approximate top-k result against the exact one.

    Both inputs are (query_id, id_col, ...) neighbor lists (the
    shape every top-k function here returns). Returns one row per
    query: (query_id, n_exact, n_hit, recall) where recall =
    |approx ∩ exact| / |exact|. The join is on (query_id, id) only —
    vectors never move — so auditing recall over millions of queries
    costs one small equi-join. This is the quantified quality signal
    approximate ANN paths need next to their latency numbers."""
    e = exact.select("query_id", F.col(id_col).alias("__nb"))
    a = approx.select("query_id", F.col(id_col).alias("__nb"))
    hits = e.join(a, on=["query_id", "__nb"], how="left_semi")
    n_exact = e.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_exact"))
    n_hit = hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hit"))
    return (
        n_exact.join(n_hit, on="query_id", how="left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
            F.round(
                F.coalesce("n_hit", F.lit(0)) / F.col("n_exact"), 6
            ).alias("recall"),
        )
        .orderBy("query_id")
    )


def embedding_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-label centroid of an embedding column, one row per
    (label, dimension): (label, pos, n_vecs, mean_v). The long
    shape — rather than re-assembling an array — is deliberate:
    it value-checks in plain SQL and feeds straight into centroid
    audits (drift between two pipeline runs, IVF coarse-quantizer
    sanity) as a join on (label, pos).

    Scale: posexplode fans each vector into dim rows, but the
    aggregate is map-side partial on (label, pos), so the shuffle
    carries ≤ |labels| × dim partial sums per task — independent of
    corpus size. No driver collect, no Python."""
    ex = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("pos", "val"),
    )
    return (
        ex.groupBy("label", "pos")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.round(F.avg("val"), 6).alias("mean_v"),
        )
        .select(
            "label", F.col("pos").cast("int").alias("pos"),
            "n_vecs", "mean_v",
        )
    )


def cosine_near_dup_pairs_lsh(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_cols: list[str] | None = None,
    threshold: float = 0.9,
    num_planes: int = 8,
    num_tables: int = 12,
    ndigits: int = 8,
) -> DataFrame:
    """Embedding near-duplicate pairs with hyperplane-LSH blocking —
    the scale path for :func:`cosine_near_dup_pairs`, whose
    attribute blocking (label, cluster) goes quadratic as blocks
    grow linearly with the corpus (measured 38× time at 10× data on
    the sf1 replica). Here candidates must collide in at least one
    of ``num_tables`` sign-hash buckets, so candidate work tracks
    bucket sizes (corpus/2^num_planes expected), not block sizes;
    every candidate's cosine is verified exactly, making the result
    a subset of the exact pair set with per-pair values identical.
    Recall for a pair at cosine c is 1-(1-p^planes)^tables with
    p = 1-acos(c)/π (≈0.98 at c=0.9 with 8 planes × 12 tables) —
    unit-audited against the exact path.

    Plan shape: one numpy GEMM per Arrow batch emits (id, table,
    bucket) — 16-byte rows, vectors DON'T ride through the bucket
    self-join; they join back only for the surviving candidate
    pairs. ``block_cols`` (optional) intersects attribute blocking
    with the LSH buckets (e.g. near-dups only within a language)."""
    import numpy as np
    import pandas as pd

    blocks = list(block_cols or [])
    plane_mat = np.array(
        [
            [_plane_sign(t, p, d) for d in range(dim)]
            for t in range(num_tables)
            for p in range(num_planes)
        ]
    )
    sc = df.sparkSession.sparkContext
    bp = sc.broadcast(plane_mat)
    pw2 = np.left_shift(1, np.arange(num_planes))
    block_schema = "".join(
        f"{c} {t}, " for c, t in df.select(*blocks, id_col).dtypes[:-1]
    )

    def kernel(batches):
        planes = bp.value
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            proj = mat @ planes.T
            bits = (proj >= 0).astype(np.int64).reshape(
                n, num_tables, num_planes
            )
            buckets = (bits * pw2).sum(axis=2)
            out = {
                c: pdf[c].repeat(num_tables) for c in (*blocks, id_col)
            }
            out["table"] = np.tile(np.arange(num_tables, dtype=np.int32), n)
            out["bucket"] = buckets.reshape(-1).astype(np.int32)
            yield pd.DataFrame(out)

    sig = partitioning.pin_now(spread_arrow(
        df.select(*blocks, F.col(id_col), F.col(vec_col)), id_col
    ).mapInPandas(
        kernel, schema=f"{block_schema}{id_col} long, table int, bucket int"
    ))  # both self-join sides read it — one
    # kernel execution, not two concurrent ones (r12, guide §7.2)
    on = [*blocks, "table", "bucket"]
    cand = (
        sig.select(*on, F.col(id_col).alias("id_a"))
        .join(sig.select(*on, F.col(id_col).alias("id_b")), on=on)
        .filter(F.col("id_a") < F.col("id_b"))
        # a pair colliding in several tables verifies once, not L×
        .select("id_a", "id_b")
        .distinct()
    )
    vecs = df.select(F.col(id_col), F.col(vec_col))
    # keyless spread: a keyed repartition of the byte-small candidate
    # frame is planner-eliminated / AQE-coalesced to a couple of
    # tasks (measured: 96k-pair verify on 2 of 32 cores, 2 s each —
    # the CPU-dense exact-cosine fold per pair needs COMPUTE width,
    # not byte width; same lesson as the Jaccard verifier)
    pairs = spread(cand).join(
        vecs.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("v_a")),
        on="id_a",
    ).join(
        vecs.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("v_b")),
        on="id_b",
    )
    return (
        pairs.withColumn(
            "cos", F.round(cosine(F.col("v_a"), F.col("v_b")), ndigits)
        )
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def cosine_near_dup_pairs_ivf(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_cols: list[str] | None = None,
    threshold: float = 0.3,
    n_centroids: int = 16,
    n_assign: int = 2,
    train_limit: int = 4096,
    ndigits: int = 8,
) -> DataFrame:
    """Embedding near-duplicate pairs with IVF-cell blocking — the
    scale path for MODERATE thresholds, where hyperplane LSH has no
    good operating point (at cos≈0.4 a sign-bit agrees for a true
    pair with p≈0.63, so enough planes to shrink buckets destroys
    recall; see :func:`cosine_near_dup_pairs_lsh`, which is the
    right tool at cos≥0.9). Each vector is assigned to its
    ``n_assign`` nearest coarse-quantizer cells; a pair is a
    candidate iff the two vectors share a cell (optionally
    intersected with ``block_cols`` attribute blocking), then every
    candidate's cosine is verified exactly — returned pairs are a
    subset of the exact pair set with identical values, and recall
    is measurable with the same audit join as the top-k paths.

    Scale: quantizer training collects a bounded sample
    (``train_limit`` rows); assignment is one GEMM per Arrow batch;
    the self-join moves (block, cell, id) rows only — candidate work
    is Σ_cell |cell|² ≈ n²·n_assign²/n_centroids, a 1/n_centroids
    cut that deepens as the quantizer grows with the corpus
    (n_centroids ~ √n is the IVF norm)."""
    import numpy as np
    import pandas as pd

    blocks = list(block_cols or [])
    train = [
        r[0]
        for r in df.select(vec_col).orderBy(id_col).limit(train_limit).collect()
    ]
    centroids = _train_centroids_kmeans(train, n_centroids)
    sc = df.sparkSession.sparkContext
    bc = sc.broadcast(centroids)
    block_schema = "".join(
        f"{c} {t}, " for c, t in df.select(*blocks, id_col).dtypes[:-1]
    )

    def assign_kernel(batches):
        cent = np.asarray(bc.value)
        norm_c = np.linalg.norm(cent, axis=1)
        norm_c[norm_c == 0] = np.inf
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            norm_m = np.linalg.norm(mat, axis=1)
            norm_m[norm_m == 0] = np.inf
            sim = (mat @ cent.T) / np.outer(norm_m, norm_c)
            cells = np.argsort(-sim, axis=1)[:, :n_assign]
            out = {
                c: pdf[c].repeat(n_assign) for c in (*blocks, id_col)
            }
            out["cell"] = cells.reshape(-1).astype("int32")
            yield pd.DataFrame(out)

    sig = partitioning.pin_now(spread_arrow(
        df.select(*blocks, F.col(id_col), F.col(vec_col)), id_col
    ).mapInPandas(
        assign_kernel,
        schema=f"{block_schema}{id_col} long, cell int",
    ))  # both self-join sides read it — one
    # kernel execution, not two concurrent ones (r12, guide §7.2)
    on = [*blocks, "cell"]
    cand = (
        sig.select(*on, F.col(id_col).alias("id_a"))
        .join(sig.select(*on, F.col(id_col).alias("id_b")), on=on)
        .filter(F.col("id_a") < F.col("id_b"))
        # a pair sharing both assigned cells verifies once
        .select("id_a", "id_b")
        .distinct()
    )
    vecs = df.select(F.col(id_col), F.col(vec_col))
    # keyless spread: a keyed repartition of the byte-small candidate
    # frame is planner-eliminated / AQE-coalesced to a couple of
    # tasks (measured: 96k-pair verify on 2 of 32 cores, 2 s each —
    # the CPU-dense exact-cosine fold per pair needs COMPUTE width,
    # not byte width; same lesson as the Jaccard verifier)
    pairs = spread(cand).join(
        vecs.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("v_a")),
        on="id_a",
    ).join(
        vecs.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("v_b")),
        on="id_b",
    )
    return (
        pairs.withColumn(
            "cos", F.round(cosine(F.col("v_a"), F.col("v_b")), ndigits)
        )
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the storage/transfer
    compression step of an embedding pipeline (4× smaller than
    float32; dot products on int8 with a per-vector scale recover
    cosine to ~1e-2). Each vector is scaled by its max |component|:

      ``scale``  — max_i |v_i| (dequantize: v_i ≈ scale · q_i / 127)
      ``q``      — round(127 · v_i / scale) per component, in [-127, 127]

    Rounding is ``floor(x + 0.5)`` — explicit half-up, bit-identical
    in any engine (library ``round`` half-even/half-away variants
    disagree on exact .5 ties). All-zero vectors quantize to zeros
    with scale 0. Pure projection: no shuffle, no UDF — float→double
    promotion is exact, so the arithmetic is reproducible anywhere
    IEEE doubles are."""
    v = F.col(vec_col)
    scale = F.array_max(F.transform(v, lambda x: F.abs(x))).cast(
        "double"
    )
    q = F.when(
        scale > 0,
        F.transform(
            v,
            lambda x: F.floor(
                F.lit(127.0) * x.cast("double") / F.col("__scale") + 0.5
            ).cast("int"),
        ),
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    return (
        df.select(F.col(id_col), v, scale.alias("__scale"))
        .select(
            id_col,
            F.round(F.col("__scale"), 6).alias("scale"),
            q.alias("__q"),
        )
        .select(id_col, "scale", F.to_json("__q").alias("q"))
    )


_TRAIN_CACHE: dict[tuple, object] = {}

# The (m, ksub) / n_cells parameter sets of every REGISTERED PQ/IVF
# query (plans/extension_queries.py imports these for its
# registrations, and warm_pq_training's defaults derive from them):
# a future PQ query that registered with new literals would silently
# fall back to absorbing codebook training in its first run,
# reintroducing the cold/warm bench skew warm_pq_training exists to
# remove. One constant, two importers, plus a pytest
# (tests/test_similarity.py test_warm_pq_training_covers_registered_
# pq_queries) asserting the warmed set covers every registered query.
PQ_PARAMS_MAIN: tuple[int, int] = (32, 256)   # pq_adc / ivfpq codes
PQ_PARAMS_RERANK: tuple[int, int] = (16, 64)  # pq_rerank shortlist
REGISTERED_PQ_PARAMS: tuple[tuple[int, int], ...] = (
    PQ_PARAMS_MAIN,
    PQ_PARAMS_RERANK,
)
IVF_CELLS_DEFAULT: int = 16
REGISTERED_IVF_CELLS: tuple[int, ...] = (IVF_CELLS_DEFAULT,)


def _sample_digest(vecs) -> str:
    """Cheap identity for a training sample: md5 of the raw float64
    bytes. Training (k-means, PQ codebooks) is a pure function of
    (sample, params), so memoizing on the digest is exact — it cuts
    the repeated driver-side training when the audit query runs
    three PQ pipelines over the same corpus, and across bench
    passes within one session."""
    import numpy as np

    return hashlib.md5(
        np.asarray(vecs, dtype=np.float64).tobytes()
    ).hexdigest()


def _train_pq_codebooks_cached(vecs, m: int, ksub: int, iters: int = 8):
    key = ("pq", _sample_digest(vecs), m, ksub, iters)
    if key not in _TRAIN_CACHE:
        _TRAIN_CACHE[key] = _train_pq_codebooks(vecs, m, ksub, iters)
    return _TRAIN_CACHE[key]


def _train_centroids_kmeans_cached(vecs, n_centroids: int, iters: int = 5):
    key = ("ivf", _sample_digest(vecs), n_centroids, iters)
    if key not in _TRAIN_CACHE:
        _TRAIN_CACHE[key] = _train_centroids_kmeans(
            vecs, n_centroids, iters
        )
    return _TRAIN_CACHE[key]


def warm_pq_training(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_limit: int = 4096,
    pq_params: tuple = REGISTERED_PQ_PARAMS,
    ivf_cells: tuple = REGISTERED_IVF_CELLS,
) -> int:
    """Populate the driver-side training memo for the registered
    PQ/IVFPQ parameter sets on ``corpus``'s deterministic training
    sample (the same orderBy(id).limit recipe every PQ operator
    uses, so the cache keys match exactly). Exists so a bench can
    time one-time codebook training as its OWN entry — the
    doc_cluster_build honesty rule: the first PQ query in a cold
    session otherwise absorbs training (measured at sf1: 75.0 s cold
    vs 9.7 s warm for ivfpq) and its per-query number overstates the
    steady state. Returns how many cache entries were built (0 when
    already warm)."""
    train = [
        r[0]
        for r in corpus.select(vec_col)
        .orderBy(id_col)
        .limit(train_limit)
        .collect()
    ]
    before = len(_TRAIN_CACHE)
    for m, ksub in pq_params:
        _train_pq_codebooks_cached(train, m=m, ksub=ksub)
    for n_cells in ivf_cells:
        _train_centroids_kmeans_cached(train, n_cells)
    return len(_TRAIN_CACHE) - before


def _train_pq_codebooks(vecs, m: int, ksub: int, iters: int = 8):
    """Driver-side product-quantizer training (Jégou et al. 2011):
    unit-normalize the sample, split the dimension into ``m``
    contiguous subspaces, and run an L2 k-means per subspace.
    Deterministic: init is the first ``ksub`` distinct subvectors
    (sample order is the caller's orderBy(id).limit), empty cells
    keep their previous centroid. Returns (m, ksub, dsub) float64.

    Like IVF training, quantizer quality needs only a sample — the
    cost is independent of corpus size."""
    import numpy as np

    mat = np.asarray(vecs, dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0] = 1.0
    mat = mat / norms[:, None]
    dim = mat.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    books = np.zeros((m, ksub, dsub))
    for j in range(m):
        sub = mat[:, j * dsub : (j + 1) * dsub]
        # distinct-first deterministic init
        _, first = np.unique(sub, axis=0, return_index=True)
        init = sub[np.sort(first)][:ksub]
        cent = np.zeros((ksub, dsub))
        cent[: len(init)] = init
        for _ in range(iters):
            d2 = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            for c in range(ksub):
                members = sub[assign == c]
                if len(members):
                    cent[c] = members.mean(axis=0)
        books[j] = cent
    return books


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    m: int = 8,
    ksub: int = 16,
    train_limit: int = 4096,
    ndigits: int = 6,
) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (ADC) — the memory-compression scale path next to IVF's
    list-pruning one:

    1. train ``m`` per-subspace codebooks on a bounded,
       deterministic sample (driver numpy, corpus-size-independent);
    2. encode every corpus vector distributed (Arrow-batched argmin
       per subspace) into ``m`` byte codes — dim×4 bytes collapse to
       m bytes, the representation that lets 100 TB of float
       embeddings live in cluster memory; only (id, codes) ever
       shuffles, never vectors;
    3. score queries against codes via lookup tables: each query
       precomputes its subvector·centroid dot products (m×ksub
       doubles), so the approximate cosine of a corpus item is m
       table lookups + a sum — no float vectors touched at scan
       time. Per-batch local top-k bounds the exchange to
       batches×|queries|×k rows, then a global window ranks.

    Vectors are unit-normalized on both sides, so the summed table
    lookups approximate cosine directly. Returns (query_id, id, pq_cos,
    rank) — rank by (rounded score desc, id), the house tie-break.
    Approximate by construction (quantization is lossy) → pair with
    the hash-checked recall-floor audit."""
    import numpy as np
    import pandas as pd

    train = [
        r[0]
        for r in corpus.select(vec_col)
        .orderBy(id_col)
        .limit(train_limit)
        .collect()
    ]
    books = _train_pq_codebooks_cached(train, m=m, ksub=ksub)
    dsub = books.shape[2]
    sc = corpus.sparkSession.sparkContext
    bc = sc.broadcast(books)

    # query LUTs are tiny (|Q| × m × ksub doubles): build driver-side
    # from the same normalized geometry and broadcast
    qrows = queries.select(id_col, vec_col).orderBy(id_col).collect()
    qids = [int(r[0]) for r in qrows]
    qmat = np.array([list(r[1]) for r in qrows], dtype=np.float64)
    qnorm = np.linalg.norm(qmat, axis=1)
    qnorm[qnorm == 0] = 1.0
    qmat = qmat / qnorm[:, None]
    # luts[q, j, c] = q_subvec_j · codebook[j, c]
    luts = np.einsum("qjd,jcd->qjc", qmat.reshape(len(qids), m, dsub), books)
    bc_luts = sc.broadcast((qids, luts))

    def encode_kernel(batches):
        cent = np.asarray(bc.value)  # (m, ksub, dsub)
        for pdf in batches:
            matb = np.array(list(pdf[vec_col]), dtype=np.float64)
            normb = np.linalg.norm(matb, axis=1)
            normb[normb == 0] = 1.0
            matb = matb / normb[:, None]
            subs = matb.reshape(len(matb), m, dsub)
            # (n, m, ksub) squared distances → argmin codes
            d2 = ((subs[:, :, None, :] - cent[None, :, :, :]) ** 2).sum(
                axis=3
            )
            codes = np.argmin(d2, axis=2).astype("int32")
            yield pd.DataFrame(
                {id_col: pdf[id_col], "codes": list(codes)}
            )

    def score_kernel(batches):
        ids_q, tables = bc_luts.value
        jidx = np.arange(m)
        for pdf in batches:
            codes = np.array(list(pdf["codes"]), dtype=np.int64)
            ids = pdf[id_col].to_numpy()
            out_q, out_i, out_s = [], [], []
            for qi, qid in enumerate(ids_q):
                scores = tables[qi][jidx[None, :], codes].sum(axis=1)
                keep = ids != qid
                s, i = scores[keep], ids[keep]
                # batch-local top-k on the ROUNDED score with the id
                # tie-break, so the local cut can never drop a row
                # the global (score desc, id) rank would keep
                sr = np.round(s, ndigits)
                order = np.lexsort((i, -sr))[:k]
                out_q.extend([qid] * len(order))
                out_i.extend(i[order])
                out_s.extend(sr[order])
            yield pd.DataFrame(
                {
                    "query_id": pd.Series(out_q, dtype="int64"),
                    id_col: pd.Series(out_i, dtype="int64"),
                    "pq_cos": pd.Series(out_s, dtype="float64"),
                }
            )

    encoded = spread_arrow(
        corpus.select(id_col, vec_col), id_col
    ).mapInPandas(encode_kernel, schema=f"{id_col} long, codes array<int>")
    scored = encoded.mapInPandas(
        score_kernel,
        schema=f"query_id long, {id_col} long, pq_cos double",
    )
    return topk_per_group(
        scored,
        ["query_id"],
        [F.col("pq_cos").desc(), F.col(id_col)],
        k,
    ).select("query_id", id_col, "pq_cos", "rank")


def pq_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    shortlist: int = 50,
    m: int = 16,
    ksub: int = 64,
    train_limit: int = 4096,
    ndigits: int = 8,
) -> DataFrame:
    """PQ shortlist + exact re-rank — the production two-stage ANN
    shape: ADC scans the compressed codes for a ``shortlist`` of
    candidates per query (memory-bound stage: m-byte codes, no float
    vectors), then ONLY those candidates' float vectors are fetched
    (an equi-join on id — |queries|×shortlist rows, corpus-size-
    independent) and re-scored with the exact JVM-side cosine.

    Final ranking quality equals exact search whenever the true
    top-k survives into the shortlist (recall@shortlist, audited by
    the PQ recall-floor query); the exact re-score removes all
    quantization error from the RETURNED scores, so downstream
    thresholds see true cosines. Same output contract as the other
    top-k paths: (query_id, id, cos, rank), rounded-then-ranked."""
    cands = pq_adc_topk(
        corpus,
        queries,
        id_col=id_col,
        vec_col=vec_col,
        k=shortlist,
        m=m,
        ksub=ksub,
        train_limit=train_limit,
        ndigits=6,
    ).select("query_id", id_col)
    qvecs = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    rescored = (
        cands.join(corpus.select(id_col, vec_col), id_col)
        .join(F.broadcast(qvecs), "query_id")
        .select(
            "query_id",
            id_col,
            F.round(cosine(F.col("__qv"), F.col(vec_col)), ndigits).alias(
                "cos"
            ),
        )
    )
    return topk_per_group(
        rescored,
        ["query_id"],
        [F.col("cos").desc(), F.col(id_col)],
        k,
    ).select("query_id", id_col, "cos", "rank")


def hard_negative_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 3,
    ndigits: int = 8,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the top-k most-similar corpus vectors with a DIFFERENT
    label — the near-misses a contrastive loss learns the most from
    (easy negatives are already far; in-label neighbors are
    positives, not negatives).

    Same broadcast nested-loop shape as the exact top-k (query set
    broadcasts, corpus streams once, zero corpus shuffle); the label
    test rides the same filter as the self-exclusion. At scale the
    corpus side swaps for any ANN path here (PQ shortlist, IVF
    probe) with the label filter applied AFTER candidate fetch —
    candidates with matching labels just fall out.

    Returns (query_id, query_label, vec_id, neg_label, cos, rank)."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.col(label_col).alias("query_label"),
    )
    c = spread(
        corpus.select(F.col(id_col), F.col(vec_col), F.col(label_col)),
        id_col,
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(
            (F.col(id_col) != F.col("query_id"))
            & (F.col(label_col) != F.col("query_label"))
        )
        .select(
            "query_id",
            "query_label",
            id_col,
            F.col(label_col).alias("neg_label"),
            F.round(cosine(F.col("q_vec"), F.col(vec_col)), ndigits).alias(
                "cos"
            ),
        )
    )
    return topk_per_group(
        scored,
        ["query_id"],
        [F.col("cos").desc(), F.col(id_col)],
        k,
    ).select("query_id", "query_label", id_col, "neg_label", "cos", "rank")


def embedding_outlier_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
    ndigits: int = 6,
) -> DataFrame:
    """Per-label embedding outliers: the k vectors FARTHEST from
    their label's centroid — mislabeled/garbage-embedding candidates
    a curation pass reviews first.

    Two partial aggs, no pairwise work: (1) per-(label, dim) means
    via posexplode (shuffle carries |labels|×dim partial sums,
    corpus-size-independent); (2) each vector's squared distance to
    its own centroid, summed per row after a broadcast join of the
    tiny centroid table back onto the exploded stream. Centroid
    means are rounded to 6 dp BEFORE the distance (pins the value
    against sum-order ulp drift in any engine), distances rounded
    before ranking — the same rounded-then-ranked discipline as the
    top-k family. Returns (label, id, dist, rank)."""
    ex = df.select(
        F.col(id_col), F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("pos", "val"),
    )
    cent = (
        ex.groupBy("label", "pos")
        .agg(F.round(F.avg("val"), 6).alias("c"))
    )
    dist = (
        ex.join(F.broadcast(cent), ["label", "pos"])
        .groupBy("label", F.col(id_col))
        .agg(
            F.round(
                F.sqrt(
                    F.sum(
                        (F.col("val").cast("double") - F.col("c"))
                        * (F.col("val").cast("double") - F.col("c"))
                    )
                ),
                ndigits,
            ).alias("dist")
        )
    )
    return topk_per_group(
        dist,
        ["label"],
        [F.col("dist").desc(), F.col(id_col)],
        k,
    ).select("label", id_col, "dist", "rank")


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    m: int = 16,
    ksub: int = 64,
    train_limit: int = 4096,
    ndigits: int = 6,
) -> DataFrame:
    """IVF-PQ: coarse cell pruning composed with PQ code scoring —
    the FAISS IVFPQ architecture, and the shape a 100 TB ANN
    deployment actually runs. IVF cuts WHICH vectors are scored
    (~n_probe/n_cells of the corpus, via a cell equi-join); PQ cuts
    WHAT is scored (m-byte codes via broadcast lookup tables, no
    float vectors at scan time). The two valves are independent, so
    the scan cost drops multiplicatively.

    This is the no-residual variant (codes quantize the normalized
    vector itself, not x − centroid): one global codebook set keeps
    the query LUT |Q|×m×ksub instead of |Q|×n_probe×m×ksub, at a
    small recall cost that the shared recall-floor audit prices.
    Training (coarse centroids + codebooks) is driver-side numpy on
    one bounded deterministic sample; everything distributed is
    Arrow-batched. Returns (query_id, id, pq_cos, rank)."""
    import numpy as np
    import pandas as pd

    train = [
        r[0]
        for r in corpus.select(vec_col)
        .orderBy(id_col)
        .limit(train_limit)
        .collect()
    ]
    coarse = _train_centroids_kmeans_cached(train, n_cells)
    books = _train_pq_codebooks_cached(train, m=m, ksub=ksub)
    dsub = books.shape[2]
    sc = corpus.sparkSession.sparkContext
    bc = sc.broadcast((coarse, books))

    qrows = queries.select(id_col, vec_col).orderBy(id_col).collect()
    qids = [int(r[0]) for r in qrows]
    qmat = np.array([list(r[1]) for r in qrows], dtype=np.float64)
    qnorm = np.linalg.norm(qmat, axis=1)
    qnorm[qnorm == 0] = 1.0
    qunit = qmat / qnorm[:, None]
    luts = np.einsum(
        "qjd,jcd->qjc", qunit.reshape(len(qids), m, dsub), books
    )
    # query → n_probe nearest cells (cosine, same metric as
    # assignment), computed driver-side: |Q|×n_cells is tiny
    cn = np.linalg.norm(coarse, axis=1)
    cn[cn == 0] = np.inf
    qsim = qunit @ coarse.T / cn[None, :]
    probes = np.argsort(-qsim, axis=1)[:, :n_probe]
    bc_q = sc.broadcast((qids, luts, probes))

    def encode_kernel(batches):
        cents, cbooks = bc.value
        cnorm = np.linalg.norm(cents, axis=1)
        cnorm[cnorm == 0] = np.inf
        for pdf in batches:
            matb = np.array(list(pdf[vec_col]), dtype=np.float64)
            normb = np.linalg.norm(matb, axis=1)
            normb[normb == 0] = 1.0
            matb = matb / normb[:, None]
            cell = np.argmax(matb @ cents.T / cnorm[None, :], axis=1)
            subs = matb.reshape(len(matb), m, dsub)
            d2 = ((subs[:, :, None, :] - cbooks[None, :, :, :]) ** 2).sum(
                axis=3
            )
            codes = np.argmin(d2, axis=2).astype("int32")
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "cell": cell.astype("int32"),
                    "codes": list(codes),
                }
            )

    def score_kernel(batches):
        ids_q, tables, probe_rows = bc_q.value
        # cell → list of probing query indexes
        probing: dict[int, list[int]] = {}
        for qi, cells in enumerate(probe_rows):
            for c in cells:
                probing.setdefault(int(c), []).append(qi)
        jidx = np.arange(m)
        for pdf in batches:
            codes = np.array(list(pdf["codes"]), dtype=np.int64)
            cells = pdf["cell"].to_numpy()
            ids = pdf[id_col].to_numpy()
            out_q, out_i, out_s = [], [], []
            for cell_id, qis in probing.items():
                mask = cells == cell_id
                if not mask.any():
                    continue
                sub_codes, sub_ids = codes[mask], ids[mask]
                for qi in qis:
                    qid = ids_q[qi]
                    scores = tables[qi][jidx[None, :], sub_codes].sum(
                        axis=1
                    )
                    keep = sub_ids != qid
                    s, i = scores[keep], sub_ids[keep]
                    sr = np.round(s, ndigits)
                    order = np.lexsort((i, -sr))[:k]
                    out_q.extend([qid] * len(order))
                    out_i.extend(i[order])
                    out_s.extend(sr[order])
            yield pd.DataFrame(
                {
                    "query_id": pd.Series(out_q, dtype="int64"),
                    id_col: pd.Series(out_i, dtype="int64"),
                    "pq_cos": pd.Series(out_s, dtype="float64"),
                }
            )

    encoded = spread_arrow(
        corpus.select(id_col, vec_col), id_col
    ).mapInPandas(
        encode_kernel, schema=f"{id_col} long, cell int, codes array<int>"
    )
    scored = encoded.mapInPandas(
        score_kernel,
        schema=f"query_id long, {id_col} long, pq_cos double",
    )
    return topk_per_group(
        scored,
        ["query_id"],
        [F.col("pq_cos").desc(), F.col(id_col)],
        k,
    ).select("query_id", id_col, "pq_cos", "rank")
