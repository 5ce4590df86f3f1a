"""Corpus-hygiene queries (functions/hygiene.py): benchmark
decontamination, intra-doc repetition, boilerplate n-grams, quality
rule bundle, tf-idf salient terms, keep-best dedup survivors, token
histogram. Every query is value-checked against a DuckDB oracle —
word n-grams are plain strings (not engine-specific hashes), so the
whole family is hash-checkable, unlike the xxhash64-based sketch
paths.

No counterpart exists in the reference (SURVEY.md §2.8); these are
the Gopher/C4-style corpus filters a training-data pipeline runs
between ingestion and dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_processing_spark import partitioning
from big_data_processing_spark.functions.hygiene import (
    boilerplate_ngrams,
    decontaminate,
    gopher_quality_flags,
    keep_best_per_cluster,
    repetition_stats,
    tfidf_terms,
    unigram_logprob,
)
from big_data_processing_spark.functions.text import token_count
from big_data_processing_spark.plans.doc_clusters import CAPPED_PAIRS_CTES
from big_data_processing_spark.plans.registry import register
from big_data_processing_spark.sources.catalog import load_table

# DuckDB fragments: the engine's normalization + tokenization.
NORM_SQL = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
TOKS_SQL = f"list_filter(string_split({NORM_SQL}, ' '), x -> x <> '')"


@register(
    "doc_repetition",
    f"""
    SELECT doc_id,
           CAST(len(grams) AS BIGINT) AS n_grams,
           CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
           round(CASE WHEN len(grams) > 0
                 THEN 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
                            / len(grams)
                 ELSE 0.0 END, 6) AS dup_ratio
    FROM (
      SELECT doc_id,
             [array_to_string(t[i:i+1], ' ')
              FOR i IN range(1, greatest(len(t), 1))] AS grams
      FROM (SELECT doc_id, {TOKS_SQL} AS t FROM documents)
    ) ORDER BY doc_id
    """,
    doc="Intra-document repetition (Gopher duplicate-n-gram rule): "
    "per-doc duplicate word-bigram fraction — per-row array math, "
    "no shuffle, no pairwise work",
)
def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return repetition_stats(docs, "text", "doc_id", n=2).orderBy("doc_id")


@register(
    "benchmark_decontaminate",
    f"""
    WITH g AS (
      SELECT doc_id,
             list_distinct([array_to_string(t[i:i+2], ' ')
                            FOR i IN range(1, greatest(len(t) - 1, 1))])
               AS grams
      FROM (SELECT doc_id, {TOKS_SQL} AS t FROM documents)
    ), bg AS (
      SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 97 = 0
    ), c AS (
      SELECT doc_id, grams FROM g WHERE doc_id % 97 <> 0
    ), hits AS (
      SELECT x.doc_id, count(*) AS n_hit
      FROM (SELECT doc_id, unnest(grams) AS gram FROM c) x
      JOIN bg ON x.gram = bg.gram
      GROUP BY x.doc_id
    )
    SELECT c.doc_id,
           CAST(len(c.grams) AS BIGINT) AS n_grams,
           CAST(coalesce(hits.n_hit, 0) AS BIGINT) AS n_hit,
           round(CASE WHEN len(c.grams) > 0
                 THEN CAST(coalesce(hits.n_hit, 0) AS DOUBLE) / len(c.grams)
                 ELSE 0.0 END, 6) AS overlap,
           CASE WHEN len(c.grams) > 0
                THEN CAST(coalesce(hits.n_hit, 0) AS DOUBLE) / len(c.grams)
                ELSE 0.0 END >= 0.5 AS contaminated
    FROM c LEFT JOIN hits ON c.doc_id = hits.doc_id
    ORDER BY c.doc_id
    """,
    doc="Benchmark decontamination: per training doc, fraction of "
    "distinct word 3-grams appearing in the held-out benchmark set "
    "(doc_id % 97 = 0) — broadcast-semi-join + partial-agg counts; "
    "the shuffle carries (id, count), never text",
)
def q_benchmark_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return decontaminate(
        docs, "text", "doc_id", F.col("doc_id") % 97 == 0, n=3, threshold=0.5
    ).orderBy("doc_id")


@register(
    "boilerplate_ngrams",
    f"""
    SELECT gram, n_docs FROM (
      SELECT gram, CAST(count(*) AS BIGINT) AS n_docs
      FROM (
        SELECT doc_id, unnest(list_distinct(
          [array_to_string(t[i:i+2], ' ')
           FOR i IN range(1, greatest(len(t) - 1, 1))])) AS gram
        FROM (SELECT doc_id, {TOKS_SQL} AS t FROM documents)
      ) GROUP BY gram
    ) WHERE n_docs >= 5
    ORDER BY n_docs DESC, gram LIMIT 20
    """,
    doc="Cross-document boilerplate: word 3-grams shared by >= 5 "
    "distinct docs, top 20 — distinct-per-doc explode makes plain "
    "COUNT the distinct-doc count (no count_distinct state)",
)
def q_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        boilerplate_ngrams(docs, "text", "doc_id", n=3, min_docs=5)
        .orderBy(F.col("n_docs").desc(), "gram")
        .limit(20)
    )


@register(
    "gopher_quality_flags",
    f"""
    SELECT doc_id,
           (n_tok >= 30 AND n_tok <= 100000) AS tokens_ok,
           (mean_len >= 3.0 AND mean_len <= 10.0) AS word_shape_ok,
           (symbol_ratio <= 0.1) AS symbols_ok,
           ((n_tok >= 30 AND n_tok <= 100000)
            AND (mean_len >= 3.0 AND mean_len <= 10.0)
            AND (symbol_ratio <= 0.1)) AS passed
    FROM (
      SELECT doc_id, len(t) AS n_tok,
             CASE WHEN len(t) > 0
                  THEN list_sum(list_transform(t, x -> CAST(len(x) AS DOUBLE)))
                       / len(t)
                  ELSE 0.0 END AS mean_len,
             CASE WHEN len(text) > 0
                  THEN CAST(len(text)
                       - len(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g'))
                       AS DOUBLE) / len(text)
                  ELSE 0.0 END AS symbol_ratio
      FROM (SELECT doc_id, text, {TOKS_SQL} AS t FROM documents)
    ) ORDER BY doc_id
    """,
    doc="Gopher-style quality rule bundle: token-count bounds, mean "
    "word length bounds, symbol ratio — one codegen projection per "
    "doc, flags + conjunction",
)
def q_gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return gopher_quality_flags(docs, "text", "doc_id").orderBy("doc_id")


@register(
    "tfidf_top_terms",
    f"""
    WITH tok AS (
      SELECT doc_id, lang, unnest(t) AS token
      FROM (SELECT doc_id, lang, {TOKS_SQL} AS t FROM documents)
    ), docfreq AS (
      SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY token
    ), tf AS (
      SELECT lang, token, count(*) AS tf FROM tok GROUP BY lang, token
    )
    SELECT lang, token,
           CAST(tf.tf AS BIGINT) AS tf,
           CAST(docfreq.df AS BIGINT) AS df,
           round(tf.tf * ln((SELECT count(*) FROM documents)
                            / CAST(docfreq.df AS DOUBLE)), 6) AS tfidf
    FROM tf JOIN docfreq USING (token)
    QUALIFY row_number() OVER (
      PARTITION BY lang ORDER BY tfidf DESC, token) <= 5
    ORDER BY lang, tfidf DESC, token
    """,
    doc="Per-language salient terms: tf x ln(N/df), top 5 per "
    "language with deterministic tie-break — two partial-agg "
    "explodes + a broadcast of the vocab-sized df table",
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    scored = tfidf_terms(docs, "text", "doc_id", "lang")
    w = Window.partitionBy("lang").orderBy(F.col("tfidf").desc(), "token")
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 5)
        .select("lang", "token", "tf", "df", "tfidf")
        .orderBy("lang", F.col("tfidf").desc(), "token")
    )


@register(
    "cluster_representatives",
    f"""
    WITH RECURSIVE {CAPPED_PAIRS_CTES}, e AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ), v AS (SELECT DISTINCT a AS id FROM e),
    reach(id, r) AS (
      SELECT id, id FROM v
      UNION
      SELECT re.id, e.b FROM reach re JOIN e ON re.r = e.a
    ), clusters AS (
      SELECT id, min(r) AS cluster_id FROM reach GROUP BY id
    )
    SELECT c.id, c.cluster_id, CAST(d.n_chars AS BIGINT) AS n_chars
    FROM clusters c JOIN documents d ON c.id = d.doc_id
    QUALIFY row_number() OVER (
      PARTITION BY c.cluster_id ORDER BY d.n_chars DESC, c.id) = 1
    ORDER BY c.id
    """,
    doc="Keep-best dedup survivors: from each transitive near-dup "
    "cluster keep the longest member (ties -> smallest id) — the row "
    "set a dedup pass actually emits; oracle extends the "
    "recursive-CTE closure with an argmax window",
)
def q_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_processing_spark.plans.doc_clusters import (
        doc_near_dup_clusters,
    )

    docs = load_table(spark, sf_dir, "documents")
    # shared memoized builder (plans/doc_clusters.py): the pair graph
    # + CC run once per corpus; this query is then one join + window
    clusters = doc_near_dup_clusters(spark, sf_dir)
    return keep_best_per_cluster(clusters, docs, "doc_id", "n_chars").orderBy(
        "id"
    )


@register(
    "unigram_logprob",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest(t) AS token
      FROM (SELECT doc_id, {TOKS_SQL} AS t FROM documents)
    ), vocab AS (
      SELECT token, count(*) AS cnt FROM tok GROUP BY token
    ), tot AS (
      SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM vocab
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
           round(avg(ln(cnt / total)), 4) AS mean_logp
    FROM tok JOIN vocab USING (token) CROSS JOIN tot
    GROUP BY doc_id ORDER BY doc_id
    """,
    doc="Perplexity-proxy quality score: per-doc mean ln p(token) "
    "under the corpus unigram distribution — two partial-agg "
    "explodes + a broadcast vocab join; the cheap LM filter",
)
def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return unigram_logprob(docs, "text", "doc_id").orderBy("doc_id")


@register(
    "sequence_packing",
    f"""
    WITH t AS (
      SELECT source, doc_id, len({TOKS_SQL}) AS n FROM documents
    ), o AS (
      SELECT source, doc_id, n,
             CAST(sum(n) OVER (PARTITION BY source ORDER BY doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) - n AS BIGINT) AS off
      FROM t WHERE n > 0
    )
    SELECT source, doc_id,
           CAST(seq_id AS BIGINT) AS seq_id,
           CAST(greatest(seq_id * 64 - off, 0) AS BIGINT) AS tok_start,
           CAST(least((seq_id + 1) * 64 - off, n) AS BIGINT) AS tok_end
    FROM o, unnest(range(off // 64, (off + n - 1) // 64 + 1)) AS u(seq_id)
    ORDER BY source, doc_id, seq_id
    """,
    doc="Concat-and-chunk sequence packing manifest (seq_len=64, "
    "packed per source): one row per (doc, sequence) overlap with "
    "the within-doc token span — docs split across sequence "
    "boundaries; token accounting audits in SQL",
)
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_processing_spark.functions.splits import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    meta = docs.select(
        "source", "doc_id", token_count(F.col("text")).alias("n_tok")
    )
    return pack_sequences(meta, "doc_id", "n_tok", 64, ["source"]).orderBy(
        "source", "doc_id", "seq_id"
    )


@register(
    "token_count_histogram",
    f"""
    SELECT source, CAST(len(t) // 10 AS BIGINT) AS bucket,
           count(*) AS n_docs,
           CAST(sum(len(t)) AS BIGINT) AS total_tokens
    FROM (SELECT source, {TOKS_SQL} AS t FROM documents)
    GROUP BY source, bucket ORDER BY source, bucket
    """,
    doc="Corpus token budget: per-source histogram of document token "
    "counts (bucket width 10) + total tokens — the mixture-planning "
    "input; one partial-agg shuffle of (source, bucket) keys",
)
def q_token_count_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "source", token_count(F.col("text")).alias("n_tok")
        )
        .groupBy(
            "source",
            F.floor(F.col("n_tok") / 10).cast("bigint").alias("bucket"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
        )
        .orderBy("source", "bucket")
    )


@register(
    "bigram_logprob",
    f"""
    WITH tok AS (
      SELECT doc_id, t FROM (SELECT doc_id, {TOKS_SQL} AS t FROM documents)
    ), bg AS (
      SELECT doc_id, t[i] AS v, t[i + 1] AS w
      FROM tok, unnest(range(1, greatest(len(t), 1))) AS u(i)
    ), uni AS (
      SELECT v, count(*) AS cv
      FROM (SELECT doc_id, unnest(t) AS v FROM tok) GROUP BY v
    ), vs AS (SELECT CAST(count(*) AS DOUBLE) AS vocab_n FROM uni),
    bgc AS (
      SELECT v, w, count(*) AS cvw FROM bg GROUP BY v, w
    )
    SELECT bg.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(ln((cvw + 1.0) / (cv + vocab_n))), 4) AS mean_logp
    FROM bg
    JOIN bgc ON bg.v = bgc.v AND bg.w = bgc.w
    JOIN uni ON bg.v = uni.v
    CROSS JOIN vs
    GROUP BY bg.doc_id ORDER BY bg.doc_id
    """,
    doc="Bigram-LM quality score with add-1 smoothing: per-doc mean "
    "ln P(w_i | w_(i-1)) under the corpus's own bigram counts — the "
    "CCNet-style LM filter one step above the unigram proxy (ranks "
    "fluent word order above bag-of-common-words soup); two explode "
    "partial-aggs + a vocab join, no pairwise work",
)
def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_processing_spark.functions.hygiene import bigram_logprob

    docs = load_table(spark, sf_dir, "documents")
    return bigram_logprob(docs, "text", "doc_id", k_smooth=1.0).orderBy(
        "doc_id"
    )


def _zlib_oracle_values() -> str:
    """Bake the expected (doc_id, n_bytes, c_bytes) rows for the
    compression-ratio audit into a SQL VALUES list: zlib output is
    not expressible in SQL, but the payloads depend only on doc_id,
    so the SAME pure function that builds them executor-side
    (functions/hygiene.py zlib_probe_payload) regenerates the
    expected compressed sizes here at registration — the
    deterministic-payload oracle recipe image_decode_features uses
    for PNG bytes."""
    import zlib

    from big_data_processing_spark.functions.hygiene import (
        COMPRESSION_LEVEL,
        zlib_probe_payload,
    )

    rows = []
    for i in range(64):
        b = zlib_probe_payload(i)
        rows.append(f"({i}, {len(b)}, {len(zlib.compress(b, COMPRESSION_LEVEL))})")
    return ", ".join(rows)


@register(
    "compression_ratio_hygiene",
    f"""
    WITH expected(doc_id, n_bytes, c_bytes) AS (
      VALUES {{zlib_values}}
    )
    SELECT d.doc_id,
           e.n_bytes, e.c_bytes,
           round(CAST(e.c_bytes AS DOUBLE) / e.n_bytes, 6)
             AS compression_ratio,
           CAST(e.c_bytes AS DOUBLE) / e.n_bytes < 0.3
             AS flag_repetitive,
           CAST(e.c_bytes AS DOUBLE) / e.n_bytes > 0.9
             AS flag_incompressible
    FROM documents d JOIN expected e ON d.doc_id = e.doc_id
    WHERE d.doc_id < 64
    ORDER BY d.doc_id
    """.replace("{zlib_values}", _zlib_oracle_values()),
    doc="Compression-ratio quality signal (zlib), value-checked end "
    "to end (r7 verdict #5): per doc a deterministic payload in one "
    "of three compressibility classes — natural-phrase repetition, "
    "short cyclic pattern, LCG printable noise — is built "
    "EXECUTOR-side from doc_id alone, deflated at the pinned level "
    "by the Arrow-batched kernel (functions/hygiene.py "
    "compression_ratio), and scored with the C4-ish <0.3 / >0.9 "
    "flag cut points. The oracle regenerates every expected "
    "compressed size at registration with the same pure function "
    "(zlib is deterministic per level), so ratios and flags are "
    "hash-checked, not trusted. On a real corpus the same kernel "
    "runs over the text column directly (pytest-pinned); only "
    "scalar features ever leave the executor",
)
def q_compression_ratio_hygiene(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from collections.abc import Iterator

    import pandas as pd

    from big_data_processing_spark.functions.hygiene import (
        compression_ratio,
        zlib_probe_payload,
    )
    from big_data_processing_spark.partitioning import spread

    ids = spread(
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 64),
        "doc_id",
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "text": [
                        zlib_probe_payload(i).decode("ascii")
                        for i in pdf["doc_id"]
                    ],
                }
            )

    docs = ids.mapInPandas(synth, schema="doc_id long, text string")
    # pinned before the sort: the orderBy's range partitioner samples
    # its child — unpinned, the zlib probe pipeline runs TWICE
    return (
        compression_ratio(docs, "text", "doc_id")
        .transform(partitioning.pin)
        .orderBy("doc_id")
    )


# BM25 retrieval: fixed bag-of-terms queries over the corpus vocab
# (terms chosen to exist at every sf). Literal dict so the oracle
# VALUES list and the Spark frame are built from the same source.
BM25_QUERIES = {
    "q_hash_join": ["hash", "join"],
    "q_merge_batch": ["merge", "batch"],
    "q_stream_window": ["stream", "window"],
    "q_vector_scan": ["vector", "scan", "filter"],
}
_BM25_K1, _BM25_B, _BM25_K = 1.2, 0.75, 3
_BM25_TERMS = ", ".join(
    f"'{t}'" for t in sorted({t for ts in BM25_QUERIES.values() for t in ts})
)
_BM25_VALUES = ", ".join(
    f"('{qid}', '{t}')"
    for qid, ts in sorted(BM25_QUERIES.items())
    for t in ts
)


@register(
    "bm25_retrieval_topk",
    f"""
    WITH tokd AS (
      SELECT doc_id, {TOKS_SQL} AS t FROM documents
    ), stats AS (
      SELECT CAST(sum(len(t)) AS DOUBLE) / count(*) AS avgdl,
             CAST(count(*) AS DOUBLE) AS n FROM tokd
    ), hits AS (
      SELECT doc_id, dl, token FROM (
        SELECT doc_id, len(t) AS dl, unnest(t) AS token FROM tokd
      ) WHERE token IN ({_BM25_TERMS})
    ), tf AS (
      SELECT doc_id, dl, token, count(*) AS tf
      FROM hits GROUP BY 1, 2, 3
    ), docfreq AS (
      SELECT token, count(DISTINCT doc_id) AS df FROM hits GROUP BY 1
    ), q(query_id, token) AS (VALUES {_BM25_VALUES}),
    term_scores AS (
      SELECT q.query_id, tf.doc_id,
             ln(CAST(1.0 AS DOUBLE)
                + (stats.n - CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE))
                  / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
             * ((CAST(tf AS DOUBLE) * CAST({_BM25_K1 + 1.0!r} AS DOUBLE))
                / (CAST(tf AS DOUBLE)
                   + CAST({_BM25_K1!r} AS DOUBLE)
                     * (CAST({1.0 - _BM25_B!r} AS DOUBLE)
                        + CAST({_BM25_B!r} AS DOUBLE)
                          * (CAST(dl AS DOUBLE) / stats.avgdl)))) AS s
      FROM tf JOIN docfreq USING (token) JOIN q ON q.token = tf.token
           CROSS JOIN stats
    ), scored AS (
      SELECT query_id, doc_id, round(sum(s), 6) AS score
      FROM term_scores GROUP BY 1, 2
    )
    SELECT query_id, doc_id, score, CAST(rank AS BIGINT) AS rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
      FROM scored
    ) WHERE rank <= {_BM25_K} ORDER BY query_id, rank
    """,
    doc="BM25 top-k retrieval (Okapi weighting, BM25+ idf): four "
    "bag-of-terms queries scored against every document; the "
    "query-term IN-filter prunes the exploded postings BEFORE any "
    "shuffle, tf/df are partial aggs over the pruned stream, the "
    "query list broadcasts. Scores rounded to 6 dp before ranking "
    "so ranks never depend on last-ulp sum order",
)
def q_bm25_retrieval_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_processing_spark.functions.hygiene import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(
        docs, "text", "doc_id", BM25_QUERIES,
        k=_BM25_K, k1=_BM25_K1, b=_BM25_B,
    ).orderBy("query_id", "rank")


# Count-Min audit geometry: eps = e/width. The "within eps*N"
# check is the sketch's own 1-delta guarantee evaluated exactly on
# this corpus (deterministic — xxhash64 cells are a fixed function
# of the token), so a green row is a measured property, not a
# statistical hope.
CM_WIDTH, CM_DEPTH = 1024, 4


@register(
    "countmin_error_audit",
    f"""
    WITH tok AS (
      SELECT unnest(t) AS token
      FROM (SELECT {TOKS_SQL} AS t FROM documents)
    )
    SELECT CAST(least(20, count(DISTINCT token)) AS BIGINT)
             AS n_probed,
           TRUE AS lower_bounded_ok,
           TRUE AS within_eps_ok,
           CAST({CM_WIDTH} AS BIGINT) AS width,
           CAST({CM_DEPTH} AS BIGINT) AS depth
    FROM tok
    """,
    doc="Hash-checked error contract for the Count-Min sketch "
    "(completes the sketch family: HLL distinct, Misra-Gries heavy "
    "hitters, Bloom membership, CM point frequency): for the 20 "
    "most frequent tokens, every estimate must be >= the true "
    "count (CM never undercounts, structurally) and every "
    "overestimate must sit within eps*N = (e/width)*N — the "
    "sketch's own guarantee evaluated exactly. Build is one "
    "explode + partial agg with a <= width x depth shuffle "
    "footprint, corpus-size-independent",
)
def q_countmin_error_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from big_data_processing_spark.functions.sketches import (
        countmin_estimate,
        countmin_table,
    )

    from big_data_processing_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(tokens(F.col("text"))).alias("token")
    ).transform(partitioning.pin)
    truth = tok.groupBy("token").agg(F.count(F.lit(1)).alias("true_cnt"))
    probed = truth.orderBy(F.col("true_cnt").desc(), "token").limit(20)
    sketch = countmin_table(tok, "token", CM_WIDTH, CM_DEPTH)
    est = countmin_estimate(
        probed.select("token"), sketch, "token", CM_WIDTH, CM_DEPTH
    )
    n_tokens = tok.count()
    bound = math.e / CM_WIDTH * float(n_tokens)
    joined = probed.join(est, "token")
    return joined.agg(
        F.count(F.lit(1)).alias("n_probed"),
        F.min(F.col("est") >= F.col("true_cnt")).alias(
            "lower_bounded_ok"
        ),
        F.max(F.col("est") - F.col("true_cnt") <= F.lit(bound)).alias(
            "within_eps_ok"
        ),
        F.lit(CM_WIDTH).cast("bigint").alias("width"),
        F.lit(CM_DEPTH).cast("bigint").alias("depth"),
    )


@register(
    "hybrid_related_docs_rrf",
    f"""
    WITH dtok AS (
      SELECT DISTINCT doc_id, unnest(t) AS token
      FROM (SELECT doc_id, {TOKS_SQL} AS t FROM documents)
    ), dsize AS (
      SELECT doc_id, count(*) AS sz FROM dtok GROUP BY 1
    ), inter AS (
      SELECT q.doc_id AS query_id, d.doc_id, count(*) AS i
      FROM dtok q JOIN dtok d USING (token)
      WHERE q.doc_id < 5 AND d.doc_id != q.doc_id
      GROUP BY 1, 2
    ), lex AS (
      SELECT inter.query_id, inter.doc_id,
             row_number() OVER (
               PARTITION BY inter.query_id
               ORDER BY CAST(i AS DOUBLE)
                        / (qs.sz + ds.sz - i) DESC, inter.doc_id
             ) AS lex_rank
      FROM inter
        JOIN dsize qs ON qs.doc_id = inter.query_id
        JOIN dsize ds ON ds.doc_id = inter.doc_id
    ), dense AS (
      SELECT query_id, vec_id AS doc_id,
             row_number() OVER (
               PARTITION BY query_id ORDER BY cos DESC, vec_id
             ) AS dense_rank
      FROM (
        SELECT q.vec_id AS query_id, c.vec_id,
               round(list_dot_product(qv, cv)
                     / (sqrt(list_dot_product(qv, qv))
                        * sqrt(list_dot_product(cv, cv))), 8) AS cos
        FROM (SELECT vec_id, embedding::DOUBLE[] AS cv
              FROM embeddings) c,
             (SELECT vec_id, embedding::DOUBLE[] AS qv
              FROM embeddings WHERE vec_id < 5) q
        WHERE c.vec_id != q.vec_id
      )
    ), fused AS (
      SELECT coalesce(l.query_id, d.query_id) AS query_id,
             coalesce(l.doc_id, d.doc_id) AS doc_id,
             round(coalesce(CAST(1 AS DOUBLE) / (60 + lex_rank), 0)
                   + coalesce(CAST(1 AS DOUBLE) / (60 + dense_rank),
                              0), 8) AS rrf
      FROM (SELECT * FROM lex WHERE lex_rank <= 20) l
      FULL OUTER JOIN (SELECT * FROM dense WHERE dense_rank <= 20) d
        ON l.query_id = d.query_id AND l.doc_id = d.doc_id
    )
    SELECT query_id, doc_id, rrf, CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rank
      FROM fused
    ) WHERE rank <= 5 ORDER BY query_id, rank
    """,
    doc="Hybrid related-document retrieval, query-by-example: for "
    "each query doc, fuse the LEXICAL ranking (distinct-token "
    "Jaccard — explode + equi-join on token, partial-agg "
    "intersection counts) with the DENSE ranking (embedding cosine) "
    "by reciprocal-rank fusion, rrf = sum 1/(60+rank) over the "
    "lists the doc appears in (top-20 each side). The standard "
    "sparse+dense production retrieval shape; both legs and the "
    "fusion are exact SQL, so the whole hybrid is hash-checked. "
    "Exact Jaccard rationals and two-term RRF sums are "
    "bit-reproducible in any IEEE engine",
)
def q_hybrid_related_docs_rrf(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.window import Window

    from big_data_processing_spark.functions.similarity import (
        brute_force_cosine_topk,
    )
    from big_data_processing_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    dtok = (
        docs.select(
            "doc_id", F.explode(tokens(F.col("text"))).alias("token")
        )
        .distinct()
        .transform(partitioning.pin)
    )
    dsize = dtok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    qtok = dtok.filter(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"), "token"
    )
    inter = (
        qtok.join(dtok, "token")
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    qs = dsize.select(F.col("doc_id").alias("query_id"), F.col("sz").alias("qsz"))
    jac = (
        inter.join(F.broadcast(qs), "query_id")
        .join(dsize, "doc_id")
        .select(
            "query_id",
            "doc_id",
            (
                F.col("i").cast("double")
                / (F.col("qsz") + F.col("sz") - F.col("i"))
            ).alias("jac"),
        )
    )
    wl = Window.partitionBy("query_id").orderBy(
        F.col("jac").desc(), "doc_id"
    )
    lex = (
        jac.withColumn("lex_rank", F.row_number().over(wl))
        .filter(F.col("lex_rank") <= 20)
        .select("query_id", "doc_id", "lex_rank")
    )
    dense = (
        brute_force_cosine_topk(
            emb, emb.filter(F.col("vec_id") < 5), k=20
        )
        .select(
            "query_id",
            F.col("vec_id").alias("doc_id"),
            F.col("rank").alias("dense_rank"),
        )
    )
    fused = (
        lex.join(dense, ["query_id", "doc_id"], "full_outer")
        .select(
            "query_id",
            "doc_id",
            F.round(
                F.coalesce(
                    F.lit(1).cast("double") / (F.lit(60) + F.col("lex_rank")),
                    F.lit(0.0),
                )
                + F.coalesce(
                    F.lit(1).cast("double")
                    / (F.lit(60) + F.col("dense_rank")),
                    F.lit(0.0),
                ),
                8,
            ).alias("rrf"),
        )
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("rrf").desc(), "doc_id"
    )
    return (
        fused.withColumn("rank", F.row_number().over(wf))
        .filter(F.col("rank") <= 5)
        .select(
            "query_id", "doc_id", "rrf",
            F.col("rank").cast("bigint").alias("rank"),
        )
        .orderBy("query_id", "rank")
    )
