from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_processing_spark.functions.dedup import (
    dedup_by_fingerprint,
    exact_dedup,
    minhash_near_duplicates,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash64_table,
    simhash_near_duplicates,
)
from tests.conftest import SF0001

DOC_A = "the quick brown fox jumps over the lazy dog again and again today"
DOC_A2 = "the quick brown fox jumps over the lazy dog again and again tonight"
DOC_B = "completely unrelated text about database systems and query engines"


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(
        [(1, DOC_A), (2, DOC_A2), (3, DOC_B), (4, DOC_A)],
        "doc_id long, text string",
    )


def test_exact_dedup(docs):
    assert exact_dedup(docs, ["text"]).count() == 3


def test_dedup_by_fingerprint(docs):
    out = {r.doc_id: r.n_copies for r in
           dedup_by_fingerprint(docs, "text", "doc_id").collect()}
    assert out == {1: 2, 2: 1, 3: 1}  # min-id representative, copy count


def test_minhash_signature_shape_and_determinism(spark, docs):
    sig1 = minhash_signatures(docs, "text", "doc_id", num_perm=16).collect()
    sig2 = minhash_signatures(docs, "text", "doc_id", num_perm=16).collect()
    assert sorted(map(tuple, sig1)) == sorted(map(tuple, sig2))
    assert len(sig1[0]) == 17  # id + 16 permutation minima


def test_minhash_identical_docs_identical_signatures(docs):
    sigs = {r.doc_id: tuple(r)[1:] for r in
            minhash_signatures(docs, "text", "doc_id").collect()}
    assert sigs[1] == sigs[4]


def test_minhash_near_duplicates_finds_pair(docs):
    pairs = {(r.id_a, r.id_b): r.jaccard for r in
             minhash_near_duplicates(docs, "text", "doc_id",
                                     threshold=0.5).collect()}
    assert (1, 4) in pairs and pairs[(1, 4)] == 1.0  # exact dup
    assert (1, 2) in pairs and 0.5 <= pairs[(1, 2)] < 1.0  # near dup
    assert not any(3 in p for p in pairs)  # unrelated doc in no pair


def test_simhash_near_duplicates(docs):
    out = {(r.id_a, r.id_b): r.hamming for r in
           simhash_near_duplicates(docs, "text", "doc_id").collect()}
    assert out.get((1, 4)) == 0  # identical docs, hamming 0
    assert (1, 3) not in out and (2, 3) not in out


def test_simhash_is_64bit_long(spark, docs):
    rows = simhash64_table(docs, "text", "doc_id").collect()
    assert all(isinstance(r.simhash, int) for r in rows)
    by_id = {r.doc_id: r.simhash for r in rows}
    assert by_id[1] == by_id[4]



def test_simhash_md5_twin_matches_fast_path_semantics(docs):
    from big_data_processing_spark.functions.dedup import (
        simhash_near_duplicates_md5,
    )

    out = {(r.id_a, r.id_b): r.hamming for r in
           simhash_near_duplicates_md5(docs, "text", "doc_id").collect()}
    assert out.get((1, 4)) == 0  # identical docs -> identical simhash
    assert (1, 3) not in out and (2, 3) not in out  # unrelated doc


def test_simhash_md5_basis_is_engine_reproducible(docs):
    """The twin's per-doc 32-bit simhash must be recomputable from
    md5 hex prefixes alone (the property the DuckDB oracle relies
    on): recompute in pure Python and compare."""
    import hashlib

    from big_data_processing_spark.functions.dedup import (
        simhash_near_duplicates_md5,
    )

    rows = docs.select("doc_id", "text").collect()

    def sim32(text):
        toks = [t for t in " ".join(text.lower().split()).split(" ") if t]
        if not toks:
            return None
        votes = [0] * 32
        for t in toks:
            h = int(hashlib.md5(t.encode()).hexdigest()[:8], 16)
            for b in range(32):
                votes[b] += 1 if (h >> b) & 1 else -1
        return sum(1 << b for b in range(32) if votes[b] > 0)

    expect = {}
    sims = {r.doc_id: sim32(r.text) for r in rows}
    ids = sorted(sims)
    for i in ids:
        for j in ids:
            if i < j and sims[i] is not None and sims[j] is not None:
                ham = bin(sims[i] ^ sims[j]).count("1")
                chunk_hit = any(
                    (sims[i] >> (8 * c)) & 255 == (sims[j] >> (8 * c)) & 255
                    for c in range(4)
                )
                if ham <= 3 and chunk_hit:
                    expect[(i, j)] = ham
    got = {(r.id_a, r.id_b): r.hamming for r in
           simhash_near_duplicates_md5(docs, "text", "doc_id").collect()}
    assert got == expect

def test_ngram_jaccard_pairs_with_blocking(spark):
    df = spark.createDataFrame(
        [(1, DOC_A, "en"), (2, DOC_A2, "en"), (3, DOC_B, "en"),
         (4, DOC_A, "de")],  # same text, different block → never paired
        "doc_id long, text string, lang string",
    )
    pairs = {(r.id_a, r.id_b) for r in
             ngram_jaccard_pairs(df, "text", "doc_id", ["lang"],
                                 threshold=0.5).collect()}
    assert (1, 2) in pairs
    assert not any(4 in p for p in pairs)


def test_ngram_jaccard_max_df_subset_and_exact_values(spark):
    """df-capped candidate generation returns a SUBSET of the exact
    pairs, with identical (exact) jaccard values for every returned
    pair; a generous cap reproduces the exact result in full."""
    from big_data_processing_spark.functions.dedup import (
        ngram_jaccard_pairs,
    )
    from big_data_processing_spark.sources.catalog import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "lang", "text"
    )
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            docs, "text", "doc_id", ["lang"], n=3, threshold=0.3
        ).collect()
    }
    capped = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            docs, "text", "doc_id", ["lang"], n=3, threshold=0.3, max_df=8
        ).collect()
    }
    assert set(capped) <= set(exact)
    for pair, j in capped.items():
        assert j == exact[pair]
    # generous cap (>= max block size) == fully exact
    full = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            docs, "text", "doc_id", ["lang"], n=3, threshold=0.3,
            max_df=10_000,
        ).collect()
    }
    assert full == exact


def test_prefix_filter_identical_to_exact_inverted_index(spark):
    """Prefix filtering is a full-recall candidate generator: output
    must be SET-IDENTICAL (pairs and values) to the exact
    inverted-index formulation at any threshold."""
    from big_data_processing_spark.functions.dedup import (
        jaccard_prefix_filter_pairs,
        ngram_jaccard_pairs,
    )
    from big_data_processing_spark.sources.catalog import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "lang", "text"
    )
    # t=0.6 is covered continuously by the registered oracle gate
    # (ngram_jaccard_prefix); here pin the extremes
    for t in (0.3, 0.9):
        exact = {
            (r.id_a, r.id_b): r.jaccard
            for r in ngram_jaccard_pairs(
                docs, "text", "doc_id", ["lang"], n=3, threshold=t
            ).collect()
        }
        prefix = {
            (r.id_a, r.id_b): r.jaccard
            for r in jaccard_prefix_filter_pairs(
                docs, "text", "doc_id", ["lang"], n=3, threshold=t
            ).collect()
        }
        assert prefix == exact


def test_prefix_filter_float_boundary_subset_pair(spark):
    """A ⊂ B with J exactly at the threshold and t·|B| an exact
    integer: the naive float prefix length (ceil(0.3·10) = 4 from
    3.0000000000000004) would shorten the prefix and can drop the
    pair — the epsilon-guarded bound must keep it."""
    from big_data_processing_spark.functions.dedup import (
        jaccard_prefix_filter_pairs,
    )

    df = spark.createDataFrame(
        [(1, "abcde", "en"), (2, "abcdefghijkl", "en")],
        "doc_id long, text string, lang string",
    )
    # grams(3): doc1 has 3, doc2 has 10, doc1 ⊂ doc2 → J = 3/10
    rows = jaccard_prefix_filter_pairs(
        df, "text", "doc_id", ["lang"], n=3, threshold=0.3
    ).collect()
    assert [(r.id_a, r.id_b, r.jaccard) for r in rows] == [(1, 2, 0.3)]


def test_prefix_filter_candidates_shrink_with_threshold(spark):
    """The generator must actually PRUNE — measured on the
    PRE-verification candidate set (_prefix_filter_candidates), not
    the verified results (whose monotonicity is trivial): at t=0.9
    the candidate count must be strictly below BOTH the full
    intra-block pair count (Σ_block n·(n-1)/2 — what an unfiltered
    self-join would verify) and the t=0.5 candidate count (longer
    prefixes at lower thresholds admit more candidates)."""
    from pyspark.sql import functions as F

    from big_data_processing_spark.functions.dedup import (
        _prefix_filter_candidates,
        char_ngram_hashes_of_norm,
        normalize_text,
    )
    from big_data_processing_spark.sources.catalog import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "lang", "text"
    )
    base = docs.select(
        F.col("doc_id"),
        F.col("lang"),
        char_ngram_hashes_of_norm(
            normalize_text(F.col("text")), 3
        ).alias("grams"),
    ).localCheckpoint(eager=False)
    n_cand = {
        t: _prefix_filter_candidates(base, ["lang"], "doc_id", t).count()
        for t in (0.5, 0.9)
    }
    all_pairs = (
        base.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.sum(F.expr("n * (n - 1) / 2")).alias("p"))
        .collect()[0]["p"]
    )
    assert n_cand[0.9] < n_cand[0.5], n_cand
    assert n_cand[0.9] < all_pairs, (n_cand, all_pairs)


def test_minhash_md5_finds_planted_near_dup(spark):
    from big_data_processing_spark.functions.dedup import (
        minhash_near_duplicates_md5,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base),
        (2, base + " tail"),  # near-dup of 1
        (3, "completely different content with nothing in common zzz"),
        (4, base),  # exact dup of 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_near_duplicates_md5(
            df, "text", "doc_id", threshold=0.5
        ).collect()
    }
    assert (1, 4) in out and out[(1, 4)] == 1.0
    assert (1, 2) in out and 0.5 <= out[(1, 2)] < 1.0
    assert all(3 not in pair for pair in out)
    # returned jaccard values are EXACT set-jaccard of char 5-grams
    from big_data_processing_spark.functions.text import char_ngrams

    import pyspark.sql.functions as F

    grams = {
        r.doc_id: set(r.g)
        for r in df.select(
            "doc_id", char_ngrams(F.col("text"), 5).alias("g")
        ).collect()
    }
    for (a, b), j in out.items():
        inter = len(grams[a] & grams[b])
        exact = inter / (len(grams[a]) + len(grams[b]) - inter)
        assert abs(j - round(exact, 6)) < 1e-9


def test_winnow_share_pairs_substring_evidence(spark):
    from big_data_processing_spark.functions.dedup import winnow_share_pairs

    shared = "unique shared passage appearing twice verbatim here"
    rows = [
        (1, "prefix one " + shared + " suffix alpha"),
        (2, "other lead-in " + shared + " different tail"),
        (3, "no overlap with anything else at all qqq www eee"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r.id_a, r.id_b): r.n_shared
        for r in winnow_share_pairs(
            df, "text", "doc_id", min_shared=2
        ).collect()
    }
    # the 50-char shared passage yields many shared fingerprints
    assert (1, 2) in out and out[(1, 2)] >= 2
    assert all(3 not in pair for pair in out)

    # df cap: a fingerprint present in MORE than max_df docs pairs
    # nobody — 12 docs sharing one passage, cap 10 -> no pairs
    words = [
        "alpha", "bravo", "cedar", "delta", "ember", "frost",
        "gamma", "haven", "ivory", "jumbo", "karma", "lemon",
    ]
    many = [
        (i, f"{w}{w} " + shared + f" {w[::-1]}{w[::-1]}")
        for i, w in enumerate(words)
    ]
    df2 = spark.createDataFrame(many, "doc_id long, text string")
    uncapped = {
        (r.id_a, r.id_b): r.n_shared
        for r in winnow_share_pairs(
            df2, "text", "doc_id", max_df=1000, min_shared=1
        ).collect()
    }
    capped = {
        (r.id_a, r.id_b): r.n_shared
        for r in winnow_share_pairs(
            df2, "text", "doc_id", max_df=10, min_shared=1
        ).collect()
    }
    # uncapped: the passage fingerprints pair everyone with strong
    # evidence (all 66 pairs, many shared prints each)
    assert len(uncapped) == 66 and max(uncapped.values()) >= 5
    # capped: the passage prints live in all 12 docs (> cap) and are
    # excluded; only incidental single-gram boundary coincidences
    # remain (winnowing's guarantee is one-directional — a shared
    # >=8-char substring implies a shared print, not conversely)
    assert len(capped) < len(uncapped) / 4
    assert all(n <= 2 for n in capped.values())
    # and every surviving pair was already present uncapped with at
    # least as much evidence (the cut only ever REMOVES evidence)
    assert all(uncapped[p] >= n for p, n in capped.items())


def test_novelty_filter_drops_known_fingerprints(spark):
    from big_data_processing_spark.functions.dedup import novelty_filter

    baseline = spark.createDataFrame(
        [(1, "hello world"), (2, "old  news")], "id long, text string"
    )
    # 11 duplicates baseline doc 1 (modulo normalization), 12 is novel,
    # 13 duplicates ANOTHER delta doc but no baseline doc — novelty is
    # vs the baseline only, so both 13 and 14 survive
    delta = spark.createDataFrame(
        [(11, "  Hello   WORLD "), (12, "fresh content"),
         (13, "same delta"), (14, "same  DELTA")],
        "id long, text string",
    )
    out = novelty_filter(delta, baseline, "text", "id")
    assert sorted(r.id for r in out.collect()) == [12, 13, 14]
    assert out.columns == ["id", "fingerprint"]


def test_md5_signatures_per_row_matches_vocab_groupby(spark):
    """Pin the zero-shuffle per-row signature build bit-identical to
    the reference explode -> distinct -> per-vocab permutation -> join
    -> groupBy-min formulation (each permutation is deterministic per
    gram; min-over-array == min-over-group on a gram set), on the md5
    basis (``md5_minhash_signatures``) and on the xxhash64 basis
    (``minhash_signatures``)."""
    from big_data_processing_spark.functions import dedup
    from big_data_processing_spark.functions.dedup import (
        md5_gram_sets,
        md5_minhash_signatures,
    )
    from big_data_processing_spark.functions.text import (
        char_ngram_hashes_of_norm,
        normalize_text,
    )

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely different text with no overlap at all"),
            (4, "tiny"),  # shorter than shingle_n -> dropped
            (5, ""),      # empty -> dropped
        ],
        "doc_id long, text string",
    )

    def md5_perm(i, g):
        return F.md5(F.concat_ws(":", F.lit(str(i)), g))

    def affine_perm(i, g):
        m = dedup._MERSENNE
        return (F.pmod(g, F.lit(m)) * dedup._A[i] + dedup._B[i]) % m

    md5_grams = md5_gram_sets(df, "text", "doc_id", shingle_n=5)
    hashed_grams = df.select(
        "doc_id",
        char_ngram_hashes_of_norm(normalize_text(F.col("text")), 5).alias("grams"),
    ).filter(F.size("grams") > 0)
    cases = [
        (md5_minhash_signatures(md5_grams, "doc_id", num_perm=8), md5_grams, md5_perm),
        (minhash_signatures(df, "text", "doc_id", num_perm=8), hashed_grams, affine_perm),
    ]
    for sig, grams, perm in cases:
        fast = {r.doc_id: tuple(r[f"m{i}"] for i in range(8)) for r in sig.collect()}
        exploded = grams.select("doc_id", F.explode("grams").alias("g"))
        vocab = exploded.select("g").distinct().select(
            "g", *[perm(i, F.col("g")).alias(f"h{i}") for i in range(8)]
        )
        ref = {
            r.doc_id: tuple(r[f"m{i}"] for i in range(8))
            for r in exploded.join(vocab, "g")
            .groupBy("doc_id")
            .agg(*[F.min(f"h{i}").alias(f"m{i}") for i in range(8)])
            .collect()
        }
        assert fast == ref
        # docs without shingles are dropped before signing
        assert set(fast) == {1, 2, 3}


@pytest.mark.parametrize("basis", ["xxhash64", "md5"])
def test_signature_plan_size_independent_of_num_perm(spark, basis):
    """The signature is one array expression: its projection holds the
    same number of lambdas for 8 and 32 permutations (one
    ``array_min(transform(...))`` column per permutation made the plan,
    and its driver-side planning time, grow with ``num_perm``)."""
    from big_data_processing_spark.functions.dedup import (
        md5_gram_sets,
        md5_minhash_signatures,
    )
    from big_data_processing_spark.sources.catalog import load_table

    docs = load_table(spark, SF0001, "documents")

    def lambdas(num_perm: int) -> int:
        if basis == "md5":
            grams = md5_gram_sets(docs, "text", "doc_id", shingle_n=5)
            sig = md5_minhash_signatures(grams, "doc_id", num_perm=num_perm)
        else:
            sig = minhash_signatures(docs, "text", "doc_id", num_perm=num_perm)
        assert len(sig.columns) == num_perm + 1
        plan = sig._jdf.queryExecution().optimizedPlan().toString()
        return plan.count("lambdafunction")

    assert lambdas(8) == lambdas(32) > 0


def test_quadratic_guard_warns_past_ceiling(spark):
    """warn_if_quadratic (r7 verdict #4): the exact quadratic
    baselines warn once the Catalyst size estimate crosses the
    ceiling, stay silent under it or when the caller acknowledges
    the cost, and never launch a job to decide."""
    import warnings

    from big_data_processing_spark.partitioning import warn_if_quadratic

    df = spark.createDataFrame(
        [(i, "hello world " * 3) for i in range(50)], "id long, text string"
    )
    scan = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # Spark-version canary (r8 verdict #7): warn_if_quadratic fails
    # SOFT at runtime by design, so if a Spark upgrade removes the
    # private queryExecution().optimizedPlan().stats() handle, the
    # guard would silently stop guarding. Touch the handle directly
    # here so that upgrade turns into a LOUD test failure, not a
    # silently-disabled guard.
    try:
        est = int(
            scan._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception as e:  # noqa: BLE001
        raise AssertionError(
            "Catalyst stats handle gone — warn_if_quadratic "
            f"(partitioning.py) is silently disabled on this Spark: {e}"
        ) from e
    assert 0 < est < 1 << 62  # a real parquet scan has a real estimate
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # any warning -> test failure
        warn_if_quadratic(scan, "t", ceiling_bytes=1 << 40)
        warn_if_quadratic(scan, "t", ceiling_bytes=1, allow_quadratic=True)
        # in-memory relation: Catalyst has NO size estimate (the
        # Long.MaxValue sentinel) — must be read as unknown, never huge
        warn_if_quadratic(df, "t", ceiling_bytes=1)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        warn_if_quadratic(scan, "t", ceiling_bytes=1)
        assert len(w) == 1 and issubclass(w[0].category, RuntimeWarning)
        assert "quadratic" in str(w[0].message)
    # the wired call sites accept and forward the kwarg
    from big_data_processing_spark.functions.dedup import (
        ngram_jaccard_pairs,
    )

    with warnings.catch_warnings():
        warnings.simplefilter("error")
        ngram_jaccard_pairs(
            df.withColumn("b", F.lit(1)), "text", "id", ["b"],
            allow_quadratic=True,
        ).collect()


def test_minhash_audit_linear_on_all_duplicates_corpus(spark, tmp_path):
    """r8 verdict #4: the minhash_fastpath_audit's identical-gram
    containment must stay LINEAR — per-group pair counts, never a
    group self-join — so a pathological all-duplicates corpus (one
    giant identical group) cannot make the audit itself quadratic.
    Exactness check: n_identical = c*(c-1)/2 for the planted group
    and identical_ok still verifies every one of those pairs is in
    the fast set via the count-containment equivalence."""
    import os

    from big_data_processing_spark.plans.extension_queries import (
        q_minhash_fastpath_audit,
    )

    c = 25  # one identical group of 25 docs -> 300 expected pairs
    rows = [(i, DOC_A, "en", "s", len(DOC_A)) for i in range(c)]
    rows += [
        (100 + j, f"{DOC_B} variant {j} " + "filler words " * j,
         "en", "s", 40)
        for j in range(5)
    ]
    d = str(tmp_path / "corpus")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
        "n_chars long"
    ).coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))

    out = q_minhash_fastpath_audit(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_identical == c * (c - 1) // 2
    assert r.identical_ok and r.precision_ok and r.recall_floor_ok


def test_simhash_audit_linear_on_all_duplicates_corpus(spark, tmp_path):
    """r9 verdict #1: simhash_fastpath_audit's identical-multiset
    containment must stay LINEAR like the minhash audit's — per-group
    C(c,2) count sums vs the key-equal hamming-0 slice of the fast
    pairs, never a key.join(key) self-join — so one giant identical
    group cannot make the audit itself quadratic. Exactness:
    n_identical = c*(c-1)/2 for the planted group and identical_ok
    still proves every one of those pairs is in the fast set at
    hamming 0 via the count-containment equivalence."""
    import os

    from big_data_processing_spark.plans.extension_queries import (
        q_simhash_fastpath_audit,
    )

    c = 25  # one identical group of 25 docs -> 300 expected pairs
    rows = [(i, DOC_A, "en", "s", len(DOC_A)) for i in range(c)]
    rows += [
        (100 + j, f"{DOC_B} variant {j} " + "filler words " * j,
         "en", "s", 40)
        for j in range(5)
    ]
    d = str(tmp_path / "corpus")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
        "n_chars long"
    ).coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))

    out = q_simhash_fastpath_audit(spark, d)
    # the linear rewrite leaves no equi-self-join keyed only on the
    # group key: every remaining join must carry a doc-id side
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" in plan  # fast-pair containment joins remain
    rows_out = out.collect()
    assert len(rows_out) == 1
    r = rows_out[0]
    assert r.n_identical == c * (c - 1) // 2
    assert r.identical_ok and r.precision_floor_ok


def test_similarity_join_auto_dispatch(spark):
    """The adaptive dispatch must CHOOSE per corpus shape (plan-
    asserted on the optimized plan, not just the result): a rich
    vocabulary (gram df mostly 1) picks the full-recall prefix
    filter; a degenerate ubiquitous vocabulary (every gram df >
    max_df, the 100 TB low-vocab failure mode) picks the df-capped
    index. Results must equal the respective reference
    implementation in both regimes."""
    import hashlib

    from big_data_processing_spark.functions.dedup import (
        choose_similarity_plan,
        char_ngram_hashes_of_norm,
        jaccard_prefix_filter_pairs,
        ngram_jaccard_pairs,
        normalize_text,
        similarity_join,
    )

    def base_of(df):
        return df.select(
            "doc_id", "lang",
            char_ngram_hashes_of_norm(
                normalize_text(F.col("text")), 3
            ).alias("grams"),
        ).localCheckpoint(eager=False)

    # rich vocab: md5-hex texts, grams nearly unique per doc
    rich = spark.createDataFrame(
        [(i, hashlib.md5(str(i).encode()).hexdigest() * 4, "en")
         for i in range(60)],
        "doc_id long, text string, lang string",
    )
    d = choose_similarity_plan(base_of(rich), ["lang"], "doc_id", 0.9, 200)
    assert d["plan"] == "prefix", d
    # pin_result=False keeps the logical plan visible (the default
    # tail localCheckpoint replaces it with a LogicalRDD scan)
    out = similarity_join(
        rich, "text", "doc_id", ["lang"], n=3, threshold=0.9, max_df=200,
        pin_result=False,
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "slice" in plan  # the prefix generator's signature
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, jaccard_prefix_filter_pairs(
            rich, "text", "doc_id", ["lang"], n=3, threshold=0.9
        ).collect())
    )

    # ubiquitous vocab: identical docs, every gram df = 300 > cap →
    # w_capped = 0 < w_prefix → capped (the stop-word recall valve)
    flat = spark.createDataFrame(
        [(i, "the same boilerplate text in every document", "en")
         for i in range(300)],
        "doc_id long, text string, lang string",
    )
    d = choose_similarity_plan(base_of(flat), ["lang"], "doc_id", 0.9, 200)
    assert d["plan"] == "capped", d
    assert d["w_capped"] == 0 and d["w_prefix_est"] > 0
    out = similarity_join(
        flat, "text", "doc_id", ["lang"], n=3, threshold=0.9, max_df=200,
        pin_result=False,
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "__df" in plan and "slice" not in plan
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, ngram_jaccard_pairs(
            flat, "text", "doc_id", ["lang"], n=3, threshold=0.9,
            max_df=200,
        ).collect())
    )


def test_verify_widening_and_pin_preserve_results(spark):
    """r11 optimization guards: the exact-verify stage is widened
    with a keyless round-robin exchange (AQE byte-coalescing starved
    the CPU-dense intersect stage down to 4 tasks at sf0.1) and the
    verified pairs are pinned (lazy localCheckpoint) so a caller's
    orderBy range-sampling cannot re-execute the candidate pipeline.
    Neither may change a single output row, and the round-robin
    exchange must actually survive planning (a keyed spread was
    silently eliminated — the original bug)."""
    from big_data_processing_spark.functions.dedup import (
        jaccard_prefix_filter_pairs,
        ngram_jaccard_pairs,
    )

    rows = [
        (i, f"some shared text body number {i % 7} with filler", "en")
        for i in range(40)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    )
    pinned = jaccard_prefix_filter_pairs(
        df, "text", "doc_id", ["lang"], n=3, threshold=0.5
    )
    unpinned = jaccard_prefix_filter_pairs(
        df, "text", "doc_id", ["lang"], n=3, threshold=0.5,
        pin_result=False,
    )
    assert sorted(map(tuple, pinned.collect())) == sorted(
        map(tuple, unpinned.collect())
    )
    # the pinned frame is a LogicalRDD scan (plan cut for the sorter)
    assert "LogicalRDD" in (
        pinned._jdf.queryExecution().optimizedPlan().toString()
    )
    # the widening exchange survives in the physical plan
    phys = unpinned._jdf.queryExecution().executedPlan().toString()
    assert "ROUND_ROBIN" in phys or "roundrobin" in phys.lower()

    capped = ngram_jaccard_pairs(
        df, "text", "doc_id", ["lang"], n=3, threshold=0.5, max_df=5,
        pin_result=False,
    )
    capped_pinned = ngram_jaccard_pairs(
        df, "text", "doc_id", ["lang"], n=3, threshold=0.5, max_df=5
    )
    assert sorted(map(tuple, capped.collect())) == sorted(
        map(tuple, capped_pinned.collect())
    )
