"""Shared, memoized near-dup cluster frame for the documents table.

``near_dup_clusters`` (plans/extension_queries.py) and
``cluster_representatives`` (plans/hygiene_queries.py) both need the
same expensive intermediate: the exact-Jaccard pair graph over
``documents`` collapsed to transitive clusters. Building it twice
doubles the dominant cost of the whole suite (r3 bench: 21.2 s +
9.2 s for two queries that differ only in a final window), so the
cluster frame is built once per (SparkContext, corpus dir, params)
and memoized as a pinned local checkpoint (``partitioning.pin_now``)
— the engine-level analogue of a materialized view over a
deterministic pipeline.

The memo frames — the cluster frame here, and the md5 audit's gram
and signature frames (:func:`md5_minhash_frames`) — are the pins
that outlive the op that built them: each is taken out of the
caller's ``partitioning.pin_scope`` with ``partitioning.keep``, while
the scratch pins of the build (the edge list and last label round of
the connected components) are freed when that scope closes. Why a local
checkpoint and not ``persist()``: ``spark.catalog.clearCache()``
does not touch checkpoint block storage, and the frame is tiny —
(id, cluster_id, bool) per document, never document payloads — so
pinning it is cheap at any scale. One entry is kept PER
(applicationId, dir, params) key — frames handed to earlier callers
stay valid for the life of the application (releasing them on a
later call with a different key would be a use-after-free for
anyone still holding the old frame). Entries of stopped
applications are dropped from the dict only; their block storage
died with the context.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_processing_spark import partitioning
from big_data_processing_spark.functions.dedup import (
    md5_gram_sets,
    md5_minhash_signatures,
    ngram_jaccard_pairs,
)
from big_data_processing_spark.operators.graph import dedup_clusters
from big_data_processing_spark.sources.catalog import load_table

# Canonical near-dup parameters shared by every consumer — part of
# the memo key so a parameter change can never serve a stale frame.
NGRAM_N = 3
THRESHOLD = 0.3
MAX_DF = 200

_NORM_SQL = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

# DuckDB CTE chain producing the SAME capped pair set as the Spark
# pipeline below, at ANY scale factor: candidates only from grams
# whose block-local document frequency is ≤ MAX_DF (mirroring the
# ngram_jaccard_pairs max_df valve), each verified with EXACT
# Jaccard on the full distinct-gram lists. At sf0.01 the cap no-ops
# (max block df there is 50) so this equals the brute-force oracle;
# at sf0.1+ it tracks the engine's documented df-cut exactly instead
# of silently diverging from an uncapped brute-force oracle.
# Consumers splice it after WITH [RECURSIVE]; `pairs` is the output.
CAPPED_PAIRS_CTES = f"""g AS (
      SELECT doc_id, lang, n_chars // 100 AS len_bucket,
             list_distinct([substr(s, i, {NGRAM_N})
                            FOR i IN range(1, greatest(len(s) - {NGRAM_N - 2}, 1))]) AS grams
      FROM (SELECT doc_id, lang, n_chars, {_NORM_SQL} AS s FROM documents)
    ), ex AS (
      SELECT doc_id, lang, len_bucket, unnest(grams) AS gr FROM g
    ), rare AS (
      SELECT lang, len_bucket, gr FROM ex
      GROUP BY 1, 2, 3 HAVING count(*) <= {MAX_DF}
    ), rx AS (
      SELECT ex.doc_id, ex.lang, ex.len_bucket, ex.gr
      FROM ex JOIN rare USING (lang, len_bucket, gr)
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM rx a JOIN rx b
        ON a.lang = b.lang AND a.len_bucket = b.len_bucket
           AND a.gr = b.gr AND a.doc_id < b.doc_id
    ), pairs AS (
      SELECT id_a, id_b,
             round(CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
                   / len(list_distinct(list_concat(ga.grams, gb.grams))), 6)
               AS jaccard
      FROM cand
      JOIN g ga ON ga.doc_id = cand.id_a
      JOIN g gb ON gb.doc_id = cand.id_b
      WHERE round(CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
                  / len(list_distinct(list_concat(ga.grams, gb.grams))), 6)
            >= {THRESHOLD}
    )"""

_CACHE: dict[tuple, DataFrame] = {}


def doc_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id, cluster_id, is_representative) transitive near-dup
    clusters of ``documents`` under the canonical exact-Jaccard
    pipeline: (lang, len-bucket)-blocked 3-gram Jaccard ≥ 0.3 with
    the ``max_df=200`` linear-work valve, then connected components.

    Memoized per (applicationId, corpus dir, params); the first call
    materializes, later calls return the pinned frame. Deterministic
    output, so memoization cannot change any query's result."""
    key = (
        spark.sparkContext.applicationId,
        os.path.abspath(sf_dir),
        NGRAM_N,
        THRESHOLD,
        MAX_DF,
    )
    hit = _CACHE.get(key)
    if hit is not None:
        return hit
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "len_bucket", (F.col("n_chars") / 100).cast("long")
    )
    # max_df=200 bounds candidate work linearly at scale; it cannot
    # drop a pair at the sf0.01 gate (max block-local gram df there
    # is 50), so the recursive-CTE oracles stay exact, and at sf0.1
    # the measured pair recall is 0.998 (SCALE.md)
    pairs = ngram_jaccard_pairs(
        docs,
        "text",
        "doc_id",
        ["lang", "len_bucket"],
        n=NGRAM_N,
        threshold=THRESHOLD,
        max_df=MAX_DF,
        # dedup_clusters pins its symmetrized edge list right away —
        # pinning the pair frame too would materialize the same rows
        # twice
        pin_result=False,
    )
    clusters = partitioning.keep(partitioning.pin_now(dedup_clusters(pairs)))
    # Drop (dict-only) entries of stopped applications — their block
    # storage died with the context. Same-app entries are KEPT, one
    # per (dir, params): releasing a live frame an earlier caller may
    # still hold would be a use-after-free, and each frame is a few
    # bytes per document id, so the bound is params-combinations, not
    # unbounded growth.
    for old_key in list(_CACHE):
        if old_key[0] != key[0]:
            del _CACHE[old_key]
    _CACHE[key] = clusters
    return clusters


# Canonical md5-audit MinHash parameters (minhash_near_dup_checked)
# — part of the memo key, same contract as NGRAM_N/THRESHOLD above.
MH_NUM_PERM = 8
MH_SHINGLE_N = 5


def md5_minhash_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Memoized (grams, sig) frames for the md5 MinHash audit twin.

    Without materialization the audit query's lazy DAG re-executes
    the gram pipeline up to 4× and the md5 signature build 2×
    (band self-join + two verification joins) — r6 bench: 15.7 s at
    sf0.1, ~160 s at sf1, vs 3 s for the xxhash64 fast path that
    shares the same LSH structure. Building each frame once per
    (applicationId, corpus dir, params) and pinning it
    (``partitioning.pin_now``) removes the recomputation without
    touching the result (both frames are deterministic). Frame sizes are
    bounded: grams is the distinct-shingle set per doc (~5 bytes per
    corpus char), sig is num_perm md5 hex strings per doc."""
    base = (
        spark.sparkContext.applicationId,
        os.path.abspath(sf_dir),
        "md5mh",
        MH_NUM_PERM,
        MH_SHINGLE_N,
    )
    gkey, skey = (*base, "grams"), (*base, "sig")
    if gkey in _CACHE and skey in _CACHE:
        return _CACHE[gkey], _CACHE[skey]
    docs = load_table(spark, sf_dir, "documents")
    grams = partitioning.keep(partitioning.pin_now(
        md5_gram_sets(docs, "text", "doc_id", MH_SHINGLE_N)
    ))
    sig = partitioning.keep(partitioning.pin_now(
        md5_minhash_signatures(grams, "doc_id", MH_NUM_PERM)
    ))
    for old_key in list(_CACHE):
        if old_key[0] != base[0]:
            del _CACHE[old_key]
    _CACHE[gkey] = grams
    _CACHE[skey] = sig
    return grams, sig
