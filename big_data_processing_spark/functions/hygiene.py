"""Corpus-hygiene operators for training-data pipelines:
decontamination against a benchmark set, intra-document repetition
(Gopher-style), cross-document boilerplate n-grams, rule-bundle
quality flags, tf-idf salient terms, and a keep-best dedup policy.

Like functions/text.py, everything is JVM-side expressions (word
n-grams via sequence+slice inside whole-stage codegen) — no Python
UDFs — so these run at scan speed over 100 TB. Pairwise work is
avoided entirely: every operator here is explode → hash-aggregate
(or broadcast-semi-join) shaped, shuffling (id, gram) pairs, never
document bodies.

No equivalents exist in the reference (its surface stops at tabular
cleaning, SURVEY.md §2.8); these extend the engine the way a modern
LLM-data pipeline (Gopher/C4-style filters, benchmark
decontamination, boilerplate removal) needs.

PERF pattern (see SCALE.md): token/gram arrays are materialized
through select boundaries so the tokenizer runs once per row, and
any gram table that is exploded or referenced more than once gets
``spread`` (partition by compute, not bytes) + a lazy
``partitioning.pin`` — generator filter inference would otherwise
substitute the gram expression back through the projections and
re-trigger the per-element re-evaluation trap.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from big_data_processing_spark import partitioning
from big_data_processing_spark.functions.text import tokens
from big_data_processing_spark.partitioning import spread as _spread


def word_ngrams_of_tokens(toks: Column, n: int = 3) -> Column:
    """Positional word n-grams (space-joined strings) of an
    ALREADY-materialized token array column.

    ``toks`` must be a bound column reference: an expression inlined
    here re-executes per array element (the HOF re-evaluation trap —
    see functions/text.py ``char_ngrams``)."""
    count = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    idx = F.when(count > 0, F.sequence(F.lit(1), count)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))


def _gram_table(
    df: DataFrame, text_col: str, id_col: str, n: int, distinct: bool = True
) -> DataFrame:
    """(id, grams) with the token array materialized first and the
    lineage truncated — the safe base for anything that explodes or
    re-reads the grams (same guard as functions/dedup.py
    ``ngram_jaccard_pairs``)."""
    grams = word_ngrams_of_tokens(F.col("__toks"), n)
    if distinct:
        grams = F.array_distinct(grams)
    return (
        _spread(df.select(F.col(id_col), F.col(text_col)), id_col)
        .select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
        .select(F.col(id_col), grams.alias("grams"))
        .transform(partitioning.pin)
    )


def repetition_stats(
    df: DataFrame, text_col: str, id_col: str, n: int = 2
) -> DataFrame:
    """Intra-document repetition (the Gopher duplicate-n-gram rule):
    per document, total vs distinct word n-grams and the duplicate
    fraction. Entirely per-row array math — narrow, no explode, no
    pairwise work; ``spread`` aligns partitions with compute."""
    toked = _spread(
        df.select(F.col(id_col), F.col(text_col)), id_col
    ).select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
    g = toked.select(
        F.col(id_col),
        word_ngrams_of_tokens(F.col("__toks"), n).alias("grams"),
    )
    n_grams = F.size("grams")
    n_distinct = F.size(F.array_distinct("grams"))
    return g.select(
        F.col(id_col),
        n_grams.cast("bigint").alias("n_grams"),
        n_distinct.cast("bigint").alias("n_distinct"),
        F.round(
            F.when(
                n_grams > 0,
                1.0 - n_distinct.cast("double") / n_grams.cast("double"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("dup_ratio"),
    )


def decontaminate(
    df: DataFrame,
    text_col: str,
    id_col: str,
    benchmark_filter: Column,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Benchmark decontamination: fraction of each training
    document's distinct word n-grams that appear in ANY held-out
    benchmark document (rows matching ``benchmark_filter``, which
    must reference only ``id_col``).

    Plan shape at 100 TB: the benchmark gram set is tiny relative to
    the corpus (benchmarks are thousands of docs, not billions), so
    it broadcasts; the corpus side explodes distinct grams and
    counts semi-join hits with map-side partial aggregation — the
    shuffle carries (id, count) partials, never text. Benchmark rows
    are excluded from the output (they'd trivially score 1.0)."""
    base = _gram_table(df, text_col, id_col, n)
    bench_grams = (
        base.filter(benchmark_filter)
        .select(F.explode("grams").alias("gram"))
        .distinct()
    )
    corpus = base.filter(~benchmark_filter)
    hits = (
        corpus.select(F.col(id_col), F.explode("grams").alias("gram"))
        .join(F.broadcast(bench_grams), "gram", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    ratio = F.when(
        F.col("n_grams") > 0,
        F.col("n_hit").cast("double") / F.col("n_grams"),
    ).otherwise(F.lit(0.0))
    return (
        corpus.select(
            F.col(id_col), F.size("grams").cast("bigint").alias("n_grams")
        )
        .join(hits, id_col, "left")
        .na.fill({"n_hit": 0})
        .select(
            id_col,
            "n_grams",
            F.col("n_hit").cast("bigint").alias("n_hit"),
            F.round(ratio, 6).alias("overlap"),
            (ratio >= threshold).alias("contaminated"),
        )
    )


def boilerplate_ngrams(
    df: DataFrame, text_col: str, id_col: str, n: int = 3, min_docs: int = 5
) -> DataFrame:
    """Cross-document boilerplate: word n-grams shared by ≥
    ``min_docs`` DISTINCT documents (headers, footers, license
    blurbs, template text). Grams are distinct-per-doc, so a plain
    COUNT after explode IS the distinct-doc count — no
    count_distinct state; map-side partial agg keeps the shuffle at
    |gram vocab| per partition, not |corpus|."""
    base = _gram_table(df, text_col, id_col, n)
    return (
        base.select(F.explode("grams").alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )


def gopher_quality_flags(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_tokens: int = 30,
    max_tokens: int = 100_000,
    min_mean_len: float = 3.0,
    max_mean_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
) -> DataFrame:
    """Quality rule bundle (Gopher-style bounds, corpus-scaled
    constants): each rule emits a boolean flag plus the conjunction
    — the filter a C4/Gopher pipeline applies before anything
    expensive. One codegen projection, no shuffle."""
    toked = _spread(
        df.select(F.col(id_col), F.col(text_col)), id_col
    ).select(F.col(id_col), F.col(text_col), tokens(F.col(text_col)).alias("__toks"))
    n_tok = F.size("__toks")
    total_chars = F.aggregate(
        F.transform(F.col("__toks"), lambda t: F.length(t).cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    mean_len = F.when(n_tok > 0, total_chars / n_tok).otherwise(F.lit(0.0))
    n = F.length(F.col(text_col))
    # symbol count = chars that are neither alphanumeric nor whitespace
    symbols = n - F.length(
        F.regexp_replace(F.col(text_col), r"[^A-Za-z0-9\s]", "")
    )
    symbol_ratio = F.when(n > 0, symbols.cast("double") / n).otherwise(F.lit(0.0))
    return toked.select(
        F.col(id_col),
        ((n_tok >= min_tokens) & (n_tok <= max_tokens)).alias("tokens_ok"),
        ((mean_len >= min_mean_len) & (mean_len <= max_mean_len)).alias(
            "word_shape_ok"
        ),
        (symbol_ratio <= max_symbol_ratio).alias("symbols_ok"),
    ).withColumn(
        "passed",
        F.col("tokens_ok") & F.col("word_shape_ok") & F.col("symbols_ok"),
    )


def tfidf_terms(
    df: DataFrame, text_col: str, id_col: str, group_col: str
) -> DataFrame:
    """Per-group salient terms: tf (term count within group) ×
    idf (ln(N_docs / df) over the whole corpus). Two hash
    aggregates over exploded tokens (both with map-side combine)
    plus a broadcast of the |vocab|-sized df table — no pairwise
    work; the only driver boundary is the scalar corpus count."""
    toked = _spread(
        df.select(F.col(id_col), F.col(group_col), F.col(text_col)), id_col
    ).select(F.col(id_col), F.col(group_col), tokens(F.col(text_col)).alias("t"))
    n_docs = df.count()  # scalar; one count job
    tok = toked.select(
        F.col(id_col), F.col(group_col), F.explode("t").alias("token")
    )
    docfreq = (
        tok.select(id_col, "token")
        .distinct()
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    tf = tok.groupBy(group_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    return tf.join(F.broadcast(docfreq), "token").select(
        group_col,
        "token",
        F.col("tf").cast("bigint").alias("tf"),
        F.col("df").cast("bigint").alias("df"),
        F.round(
            F.col("tf").cast("double")
            * F.log(F.lit(float(n_docs)) / F.col("df").cast("double")),
            6,
        ).alias("tfidf"),
    )


def bm25_topk(
    df: DataFrame,
    text_col: str,
    id_col: str,
    queries: dict[str, list[str]],
    k: int = 3,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 retrieval (Robertson/Sparck-Jones, the Okapi weighting):
    score every document against each bag-of-terms query, keep the
    top ``k`` per query with deterministic tie-breaks.

    Plan shape — the inverted-index build a search/RAG pipeline
    runs, with the query-term filter applied AT THE EXPLODE, before
    any shuffle:

    - tokenize once per doc, carry doc length ``dl`` beside the
      exploded tokens;
    - ``token IN (query terms)`` prunes the exploded stream
      immediately (the term set is a literal ``isin`` — pushed into
      the generate stage, so at 100 TB only postings for the handful
      of query terms ever reach an exchange);
    - tf = groupBy(doc, term) and df = distinct-doc count per term —
      both partial-agg (map-side combine) over the pruned stream;
    - query list is a tiny literal frame, broadcast onto the
      postings; per-(query, doc) score is one more partial agg.

    ``idf = ln(1 + (N - df + 0.5) / (df + 0.5))`` (the always-
    positive BM25+ variant); term score =
    ``idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))``. ``avgdl``
    is computed exactly (long token total / long doc count — one
    bounded scalar job) so any SQL engine reproduces the same
    double. Scores are rounded to 6 dp BEFORE ranking: ranks depend
    on the rounded value + id tie-break, never on last-ulp sum
    order."""
    spark = df.sparkSession
    toked = _spread(df.select(F.col(id_col), F.col(text_col)), id_col).select(
        F.col(id_col), tokens(F.col(text_col)).alias("t")
    ).transform(partitioning.pin)
    # exact scalars: token total and doc count are longs
    totals = toked.agg(
        F.sum(F.size("t")).alias("tot"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    n_docs, avgdl = int(totals["n"]), float(totals["tot"]) / int(totals["n"])
    qterms = sorted({t for ts in queries.values() for t in ts})
    posting = (
        toked.select(
            F.col(id_col), F.size("t").alias("dl"), F.explode("t").alias("token")
        )
        .filter(F.col("token").isin(qterms))
    )
    tf = posting.groupBy(id_col, "dl", "token").agg(
        F.count(F.lit(1)).alias("tf")
    )
    docfreq = (
        posting.select(id_col, "token")
        .distinct()
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    qdf = spark.createDataFrame(
        [(qid, t) for qid, ts in sorted(queries.items()) for t in ts],
        "query_id string, token string",
    )
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df").cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    tfpart = (F.col("tf").cast("double") * F.lit(k1 + 1.0)) / (
        F.col("tf").cast("double")
        + F.lit(k1)
        * (
            F.lit(1.0 - b)
            + F.lit(b) * (F.col("dl").cast("double") / F.lit(avgdl))
        )
    )
    term_scores = (
        tf.join(F.broadcast(docfreq), "token")
        .join(F.broadcast(qdf), "token")
        .select("query_id", id_col, (idf * tfpart).alias("s"))
    )
    from pyspark.sql.window import Window

    scored = term_scores.groupBy("query_id", id_col).agg(
        F.round(F.sum("s"), 6).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", id_col, "score", F.col("rank").cast("bigint").alias("rank")
        )
    )


def unigram_logprob(
    df: DataFrame,
    text_col: str,
    id_col: str,
    broadcast_vocab: bool = True,
) -> DataFrame:
    """Perplexity-proxy quality score: per document, the mean
    ln p(token) under the corpus's own unigram distribution — the
    cheap language-model filter (docs of common words score high;
    gibberish/rare-token soup scores low) a pipeline runs when a
    real LM pass is too expensive.

    Two explode-aggregates (both map-side partial): token counts
    build the vocab, then each doc's tokens join the vocab and
    average. The vocab is |distinct tokens|-sized — millions of rows
    even at 100 TB (Heaps' law), so it broadcasts; set
    ``broadcast_vocab=False`` to let AQE pick a shuffled join for
    pathological vocabularies. The corpus token total rides along as
    a 1-row broadcast cross join — no driver collect."""
    toked = _spread(df.select(F.col(id_col), F.col(text_col)), id_col).select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    )
    tok = toked.select(F.col(id_col), F.explode("__toks").alias("token"))
    vocab = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").cast("double").alias("__total"))
    scored = vocab.crossJoin(F.broadcast(total)).select(
        "token", (F.log(F.col("cnt") / F.col("__total"))).alias("logp")
    )
    if broadcast_vocab:
        scored = F.broadcast(scored)
    return (
        tok.join(scored, "token")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tok"),
            F.round(F.avg("logp"), 4).alias("mean_logp"),
        )
    )


def bigram_logprob(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k_smooth: float = 1.0,
    broadcast_vocab: bool = True,
) -> DataFrame:
    """Bigram-LM quality score with add-k smoothing: per document,
    the mean ln P(w_i | w_{i-1}) under the corpus's own bigram
    counts — one step up the CCNet ladder from
    :func:`unigram_logprob` (a real LM filter ranks fluent text
    above bag-of-common-words soup, which a unigram model cannot).

      P(w | v) = (c(v,w) + k) / (c(v) + k·V),  V = |unigram vocab|

    Shapes: token explode → bigram pairs via an index transform
    (no self-join) → corpus bigram counts (partial agg) joined back
    to each doc's bigrams. Bigram vocab ~ O(corpus) distinct pairs;
    it broadcasts at these SFs — pass ``broadcast_vocab=False`` at
    100 TB and AQE runs the shuffled join. Docs with < 2 tokens have
    no bigram semantics and drop out."""
    toked = _spread(df.select(F.col(id_col), F.col(text_col)), id_col).select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    )
    n = F.size("__toks")
    idx = F.when(n >= 2, F.sequence(F.lit(1), n - 1)).otherwise(
        F.array().cast("array<int>")
    )
    bigrams = toked.select(
        F.col(id_col),
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    F.element_at("__toks", i).alias("v"),
                    F.element_at("__toks", i + 1).alias("w"),
                ),
            )
        ).alias("bg"),
    ).select(F.col(id_col), F.col("bg.v").alias("v"), F.col("bg.w").alias("w"))
    unigram = toked.select(F.explode("__toks").alias("v")).groupBy("v").agg(
        F.count(F.lit(1)).alias("cv")
    )
    vsize = unigram.agg(F.count(F.lit(1)).cast("double").alias("__V"))
    bg_counts = bigrams.groupBy("v", "w").agg(
        F.count(F.lit(1)).alias("cvw")
    )
    scored = (
        bg_counts.join(unigram, "v")
        .crossJoin(F.broadcast(vsize))
        .select(
            "v",
            "w",
            F.log(
                (F.col("cvw") + F.lit(k_smooth))
                / (F.col("cv") + F.lit(k_smooth) * F.col("__V"))
            ).alias("logp"),
        )
    )
    if broadcast_vocab:
        scored = F.broadcast(scored)
    return (
        bigrams.join(scored, ["v", "w"])
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.round(F.avg("logp"), 4).alias("mean_logp"),
        )
    )


def keep_best_per_cluster(
    clusters: DataFrame,
    docs: DataFrame,
    id_col: str,
    score_col: str,
) -> DataFrame:
    """Keep-best dedup policy: from each near-dup cluster keep the
    single highest-``score_col`` member (ties → smallest id) — the
    survivor set a dedup pass actually emits. One window over the
    cluster key; near-dup clusters are small by construction, so the
    per-key sort is bounded."""
    from pyspark.sql.window import Window

    joined = clusters.select("id", "cluster_id").join(
        docs.select(F.col(id_col).alias("id"), F.col(score_col)), "id"
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col(score_col).desc(), F.col("id")
    )
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("id", "cluster_id", score_col)
    )


def dup_span_coverage(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document duplicated-span coverage — the distributable
    proxy for exact-substring dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): the fraction of
    each document's tokens covered by some ``n``-gram that also
    appears in ≥ ``min_docs`` documents.

    Shape: positioned-gram explode → gram document-frequency
    aggregate → join back → position-coverage distinct-count. All
    explode → hash-aggregate work on (id, gram) / (id, pos) pairs
    (same scale class as :func:`boilerplate_ngrams`); a true
    suffix-array dedup is a different algorithm family, but this
    coverage score is what the filtering decision actually consumes.

    Returns (id, n_tokens, n_dup_span_tokens, dup_span_ratio).
    """
    toked = _spread(
        df.select(F.col(id_col), F.col(text_col)), id_col
    ).select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
    toked = partitioning.pin(toked)
    base = toked.select(
        F.col(id_col), F.size("__toks").alias("n_tokens")
    )
    g = (
        toked.filter(F.size("__toks") >= n)
        .select(
            F.col(id_col),
            F.col("__toks"),
            F.explode(
                F.sequence(F.lit(1), F.size("__toks") - (n - 1))
            ).alias("i"),
        )
        .select(
            F.col(id_col),
            "i",
            F.array_join(
                F.slice(F.col("__toks"), F.col("i"), n), " "
            ).alias("gram"),
        )
    )
    g = _spread(g, id_col).transform(partitioning.pin)
    dfreq = g.groupBy("gram").agg(
        F.countDistinct(id_col).alias("__n_docs")
    )
    dup = g.join(
        dfreq.filter(F.col("__n_docs") >= min_docs).select("gram"),
        on="gram",
    )
    cov = (
        dup.select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("i"), F.col("i") + (n - 1))
            ).alias("pos"),
        )
        .groupBy(id_col)
        .agg(F.countDistinct("pos").alias("n_cov"))
    )
    return (
        base.join(cov, on=id_col, how="left")
        .select(
            F.col(id_col),
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.coalesce(F.col("n_cov"), F.lit(0))
            .cast("bigint")
            .alias("n_dup_span_tokens"),
            F.round(
                F.when(
                    F.col("n_tokens") > 0,
                    F.coalesce(F.col("n_cov"), F.lit(0)).cast("double")
                    / F.col("n_tokens"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("dup_span_ratio"),
        )
    )


def dup_span_removal(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """REMOVE cross-document duplicated spans, not just measure them
    (:func:`dup_span_coverage` flags; this rewrites) — the Lee et
    al. 2022 exact-substring-dedup surgery step: every token
    position covered by an ``n``-gram appearing in ≥ ``min_docs``
    documents is excised, and the survivors are rejoined in
    position order.

    Policy is symmetric remove-all (every occurrence of a
    cross-document span goes, in every document), which makes the
    accounting EXACTLY consistent with the coverage signal:
    ``n_removed`` here equals ``n_dup_span_tokens`` there, so the
    filtering decision and the surgery can never disagree.

    Shape is fully relational — positioned-gram explode → gram df
    aggregate → covered-position distinct → LEFT ANTI join at the
    (id, pos) grain → per-doc ordered re-agg. No per-row Python;
    every stage is explode/hash-agg/join work linear in token count
    (the same scale class as the coverage query), and the per-doc
    collect_list is bounded by document length like every other
    per-doc array op here.

    Returns (id, n_tokens, n_removed, text_clean); text_clean is
    '' when everything was removed (or the doc was empty)."""
    toked = _spread(
        df.select(F.col(id_col), F.col(text_col)), id_col
    ).select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
    toked = partitioning.pin(toked)
    g = (
        toked.filter(F.size("__toks") >= n)
        .select(
            F.col(id_col),
            F.col("__toks"),
            F.explode(
                F.sequence(F.lit(1), F.size("__toks") - (n - 1))
            ).alias("i"),
        )
        .select(
            F.col(id_col),
            "i",
            F.array_join(
                F.slice(F.col("__toks"), F.col("i"), n), " "
            ).alias("gram"),
        )
    )
    g = _spread(g, id_col).transform(partitioning.pin)
    dup_grams = (
        g.groupBy("gram")
        .agg(F.countDistinct(id_col).alias("__n_docs"))
        .filter(F.col("__n_docs") >= min_docs)
        .select("gram")
    )
    covered = (
        g.join(dup_grams, on="gram")
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("i"), F.col("i") + (n - 1))
            ).alias("pos"),
        )
        .distinct()
    )
    tokpos = toked.select(
        F.col(id_col), F.posexplode("__toks").alias("pos0", "tok")
    ).select(F.col(id_col), (F.col("pos0") + 1).alias("pos"), "tok")
    kept = tokpos.join(covered, on=[id_col, "pos"], how="left_anti")
    clean = (
        kept.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("__n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "tok"))
                    ),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("text_clean"),
        )
    )
    base = toked.select(
        F.col(id_col), F.size("__toks").cast("bigint").alias("n_tokens")
    )
    return base.join(clean, on=id_col, how="left").select(
        F.col(id_col),
        F.col("n_tokens"),
        (
            F.col("n_tokens") - F.coalesce(F.col("__n_kept"), F.lit(0))
        ).cast("bigint").alias("n_removed"),
        F.coalesce(F.col("text_clean"), F.lit("")).alias("text_clean"),
    )


# ---------------------------------------------------------------------------
# Compression-ratio quality signal (zlib) — r7 verdict #5
# ---------------------------------------------------------------------------

COMPRESSION_LEVEL = 6  # pinned: zlib output is level-dependent


def zlib_probe_payload(doc_id: int) -> bytes:
    """Deterministic ASCII payload for the compression-ratio audit,
    keyed only by doc_id — three compressibility classes:

    - ``doc_id % 3 == 0``: natural-phrase repetition (highly
      compressible — the repeated-boilerplate failure mode),
    - ``== 1``: short cyclic pattern, period 3-13 chars (extreme
      repetition — ratio near zero),
    - ``== 2``: LCG-generated printable pseudo-noise (gibberish —
      near-incompressible).

    Pure stdlib + integer arithmetic, so the SAME function both
    builds the Spark-side text (executor import) and bakes the
    oracle's expected compressed sizes at registration (driver
    import) — the cross-engine recipe used by image_decode_features
    for PNG bytes."""
    i = int(doc_id)
    n = 400 + (i % 7) * 97
    cls = i % 3
    if cls == 0:
        return (b"the quick brown fox jumps " * (n // 26 + 1))[:n]
    if cls == 1:
        period = 3 + i % 11
        unit = bytes(97 + (j * 7 + i) % 26 for j in range(period))
        return (unit * (n // period + 1))[:n]
    out = bytearray()
    x = (i * 2654435761 + 12345) & 0xFFFFFFFF
    for _ in range(n):
        x = (1103515245 * x + 12345) & 0x7FFFFFFF
        out.append(33 + (x >> 16) % 94)
    return bytes(out)


def compression_ratio(
    df: DataFrame,
    text_col: str,
    id_col: str,
    level: int = COMPRESSION_LEVEL,
) -> DataFrame:
    """Per-document zlib compression ratio — the gibberish /
    repetition quality signal C4/Dolma-class pipelines run beside
    the Gopher rules: pathological documents sit at the ratio
    extremes (boilerplate repetition compresses to almost nothing;
    random noise doesn't compress at all), while natural prose lands
    in a mid band.

    Returns (id, n_bytes, c_bytes, compression_ratio,
    flag_repetitive, flag_incompressible). Ratio = deflate(utf-8
    bytes, ``level``) / raw bytes; flags at the C4-ish <0.3 / >0.9
    cut points. Arrow-batched ``mapInPandas`` (zlib is C-speed per
    row, one Python batch per Arrow block — same kernel pattern as
    the media decoders); only scalar features leave the executor.
    Empty docs: ratio 0.0, no flags."""
    import pandas as pd  # noqa: F401

    def kernel(batches):
        import zlib

        import pandas as pd

        for pdf in batches:
            raw = [
                t.encode("utf-8") if isinstance(t, str) else b""
                for t in pdf[text_col]
            ]
            nb = [len(b) for b in raw]
            cb = [len(zlib.compress(b, level)) if b else 0 for b in raw]
            ratio = [
                round(c / n, 6) if n else 0.0 for c, n in zip(cb, nb)
            ]
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "n_bytes": nb,
                    "c_bytes": cb,
                    "compression_ratio": ratio,
                    "flag_repetitive": [0 < r < 0.3 for r in ratio],
                    "flag_incompressible": [r > 0.9 for r in ratio],
                }
            )

    out = df.select(
        F.col(id_col).alias("id"), F.col(text_col)
    ).mapInPandas(
        kernel,
        schema=(
            "id long, n_bytes long, c_bytes long, "
            "compression_ratio double, flag_repetitive boolean, "
            "flag_incompressible boolean"
        ),
    )
    return out.withColumnRenamed("id", id_col)
