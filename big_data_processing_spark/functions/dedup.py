"""Deduplication operators for document-scale corpora: exact,
MinHash+LSH, SimHash, n-gram Jaccard and winnowing (north-star
extension, SURVEY.md §7.4).

All hashing is deterministic (xxhash64 / md5 built-ins with fixed
permutation constants) so results are reproducible run-to-run.

Shared stages
-------------
Every near-dup operator is one path through the stages below; each
stage exists once, as a private helper. The engine-specific fast
paths and their cross-engine md5 audit twins differ only in the
hash they pass in.

- ``_normalized`` — id-spread rows with normalized text. Used by
  ``_shingle_base`` and ``winnow_share_pairs``.
- ``_shingle_base`` — normalize, then shingle, as two steps so the
  regex runs once per row. Builds the gram sets of
  ``minhash_signatures``, ``minhash_near_duplicates``,
  ``md5_gram_sets`` (string grams) and the n-gram family
  (``ngram_jaccard_pairs``, ``jaccard_prefix_filter_pairs``,
  ``similarity_join``). Each caller picks its own pin.
- ``_gram_df`` — the per-block gram document-frequency aggregate.
  Feeds the candidate generators and ``choose_similarity_plan``.
- ``_signatures(basis)`` — per-row MinHash signatures as one
  ``sig`` array expression. The fast path passes ``_affine_sig``
  (xxhash64 basis), the md5 twin ``_md5_sig``
  (``md5_minhash_signatures``); the public signature functions
  project it to ``m0..m{k-1}`` (``_sig_columns``).
- ``_lsh_candidates(bucket_hash)`` — band the ``sig`` array
  (``slice``) and self-join the buckets: ``minhash_near_duplicates``
  hashes buckets with xxhash64, ``minhash_near_duplicates_md5`` with
  md5 (a caller's ``m`` columns are packed back into ``sig``).
- ``_capped_candidates`` / ``_prefix_filter_candidates`` — the
  n-gram candidate generators. ``_rare_gram_rows`` and
  ``_shared_gram_pairs`` (the inverted-index self-join) also serve
  the uncapped ``ngram_jaccard_pairs`` and ``winnow_share_pairs``.
- ``_verify_jaccard_candidates`` — the one exact-Jaccard verifier,
  over the gram arrays: the unfiltered ``_candidate_jaccard`` step
  (id_a, id_b, jaccard), then the threshold. Used by both MinHash
  operators and the n-gram family; the fast-path audit
  (``plans.extension_queries``) reads ``_candidate_jaccard``.
- ``_simhash(n_bits)`` — bit votes → signed recombine:
  ``simhash64_table`` (64-bit xxhash64 tokens) and
  ``simhash_near_duplicates_md5`` (32-bit md5 tokens).
- ``_chunk_pairs(bounds)`` — chunk banding self-join plus hamming
  verify: ``hash64_near_dup_pairs`` (pigeonhole layout from
  ``max_hamming``) and ``simhash_near_duplicates_md5`` (4 × 8 bits).

The Column expressions of the MinHash path that depend only on plain
values (signature, band buckets, the Jaccard filter, the verifier's
intersection, the normalize and shingle projections, the exact-dedup
fingerprint) come from
``session.column_cache`` builders, because rebuilding them costs
about one py4j round trip per expression node on every call.

Scale notes
-----------
- Exact dedup is a hash shuffle on the dedup key — at 100 TB,
  dedup on ``md5(normalized_text)`` (16-byte key) instead of the
  full text to shrink shuffle width.
- MinHash+LSH is the classic band-bucket-join: signatures are
  computed scan-side (narrow), candidate generation shuffles only
  (doc_id, band_hash) pairs, and exact Jaccard verification runs
  only within buckets. Tune (num_perm, bands) for the target
  similarity threshold; buckets with pathological collision counts
  are handled by AQE skew-splitting of the self-join.
- SimHash is computed with pure JVM expressions (one vote per
  bitplane per token). Near-dup candidates come from chunk banding
  (pigeonhole: hamming ≤ k ⇒ one of k + 1 chunks equal).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from big_data_processing_spark import partitioning
from big_data_processing_spark.functions.text import (
    char_ngram_hashes_of_norm,
    char_ngrams_of_norm,
    md5_fingerprint,
    normalize_text,
    tokens,
    winnow_of_hashes,
)
from big_data_processing_spark.session import column_cache

# Mersenne prime 2^31 - 1: modular universal-hash family for MinHash.
_MERSENNE = (1 << 31) - 1
# Deterministic permutation constants (a, b) — fixed small PRNG-free
# sequence derived from the permutation index.
_A = [2 * i + 1 for i in range(1, 129)]  # odd multipliers
_B = [(i * i * 7919 + 13) % _MERSENNE for i in range(1, 129)]

def exact_dedup(df: DataFrame, subset: list[str] | None = None) -> DataFrame:
    """Exact duplicate removal (generalizes A7,
    reference data_validator.py:128-129)."""
    return df.dropDuplicates(subset)


def novelty_filter(
    delta: DataFrame,
    baseline: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Incremental-ingest dedup: keep only ``delta`` documents whose
    md5-of-normalized-text fingerprint does NOT already exist in
    ``baseline`` — the at-scale alternative to re-deduplicating the
    whole corpus when a new batch arrives.

    Spark-first shape: a ``left_anti`` join on the 16-byte
    fingerprint. Neither side ships document text — delta projects
    (id, fingerprint) and baseline just its fingerprint column — so
    at 100 TB the shuffle moves ~48 bytes/doc. Catalyst broadcasts
    the baseline store when its fingerprint projection fits the
    threshold (a 1B-doc store is ~32 GB — a keyed shuffle, which
    anti-join handles with the same plan); either way the delta
    batch, typically orders of magnitude smaller than the corpus,
    is the streamed side.
    """
    fp = md5_fingerprint(F.col(text_col)).alias("fingerprint")
    base_fp = baseline.select(
        md5_fingerprint(F.col(text_col)).alias("fingerprint")
    ).distinct()
    return (
        delta.select(F.col(id_col), fp)
        .join(base_fp, "fingerprint", "left_anti")
        .select(id_col, "fingerprint")
    )


def dedup_by_fingerprint(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Keep one representative (min id) per md5-normalized-text
    fingerprint. Shuffles the 32-hex-char fingerprint, not the
    document text — the 100 TB-friendly exact dedup."""
    fp, first, copies = _fingerprint_columns(text_col, id_col)
    return df.select(F.col(id_col), fp).groupBy("fingerprint").agg(first, copies)


@column_cache
def _fingerprint_columns(text_col: str, id_col: str) -> tuple[Column, ...]:
    """The fingerprint projection and the per-fingerprint aggregates."""
    return (
        md5_fingerprint(F.col(text_col)).alias("fingerprint"),
        F.min(id_col).alias(id_col),
        F.count(F.lit(1)).alias("n_copies"),
    )


# ---------------------------------------------------------------------------
# Shared stages: shingles and gram statistics
# ---------------------------------------------------------------------------


def _normalized(
    df: DataFrame, text_col: str, id_col: str, block_cols=()
) -> DataFrame:
    """(id, *block_cols, nrm): rows spread by id across the session's
    cores, text normalized once per row."""
    keep = [id_col, *block_cols]
    return partitioning.spread(df.select(*keep, text_col), id_col).select(
        *keep, _nrm(text_col)
    )


@column_cache
def _nrm(text_col: str) -> Column:
    return normalize_text(F.col(text_col)).alias("nrm")


@column_cache
def _grams(shingle, n: int) -> Column:
    return shingle(F.col("nrm"), n).alias("grams")


def _shingle_base(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    block_cols=(),
    shingle=char_ngram_hashes_of_norm,
    drop_empty: bool = False,
) -> DataFrame:
    """(id, *block_cols, grams): each document's distinct character
    n-gram set — 64-bit hashes by default, strings with
    ``shingle=char_ngrams_of_norm``. Shingling reads the
    materialized ``nrm`` column: passing the normalize expression
    into the shingler would re-run the regex once per gram.

    ``drop_empty`` drops documents with no shingles through
    ``length(nrm) >= n`` BEFORE the shingling projection, not a
    ``size(grams) > 0`` filter after it. The two are equivalent (the
    shingle count is ``max(length - (n-1), 0)``), but Catalyst pushes
    a post-hoc size() filter below both projections and inlines
    ``normalize_text`` into the per-gram lambda: one regex per
    shingle instead of per row (measured 15.7 s vs 0.8 s at sf0.1).
    The length predicate is cheap, but it too is pushed toward the
    scan: it re-runs ``normalize_text`` on whatever unpinned plan lies
    below (see :func:`minhash_near_duplicates`)."""
    nrm = _normalized(df, text_col, id_col, block_cols)
    if drop_empty:
        nrm = nrm.filter(F.length("nrm") >= n)
    return nrm.select(id_col, *block_cols, _grams(shingle, n))


def _exploded(base: DataFrame, id_col: str, block_cols) -> DataFrame:
    """(*block_cols, id, g): one row per (document, distinct gram)."""
    return base.select(
        *block_cols, F.col(id_col), F.explode("grams").alias("g")
    )


def _gram_df(base: DataFrame, block_cols) -> DataFrame:
    """(*block_cols, g, __df): block-local document frequency of every
    gram. Vocab-sized; callers that read it more than once pin it."""
    return (
        base.select(*block_cols, F.explode("grams").alias("g"))
        .groupBy(*block_cols, "g")
        .agg(F.count(F.lit(1)).alias("__df"))
    )


# ---------------------------------------------------------------------------
# Shared stages: exact Jaccard verification
# ---------------------------------------------------------------------------


def _jaccard_filter(pairs: DataFrame, threshold: float) -> DataFrame:
    """(id_a, id_b, jaccard ≥ threshold) from (id_a, id_b, inter,
    sz_a, sz_b) over distinct-gram sets: |A ∪ B| = |A| + |B| − |A ∩ B|
    exactly, so no union set is ever built. Rounded to 6 digits, the
    cross-engine parity grid."""
    return pairs.select("id_a", "id_b", _jaccard()).filter(_at_least(threshold))


@column_cache
def _jaccard() -> Column:
    """The rounded ``jaccard`` column of an (inter, sz_a, sz_b) row."""
    union = F.col("sz_a") + F.col("sz_b") - F.col("inter")
    jac = F.when(
        union > 0, F.col("inter").cast("double") / union
    ).otherwise(F.lit(0.0))
    return F.round(jac, 6).alias("jaccard")


@column_cache
def _at_least(threshold: float) -> Column:
    return F.col("jaccard") >= threshold


def _candidate_jaccard(
    base: DataFrame, cand: DataFrame, id_col: str
) -> DataFrame:
    """(id_a, id_b, jaccard) of every candidate pair (id_a, id_b),
    unfiltered: ``|A∩B| / (|A|+|B|−|A∩B|)`` over the (id, grams)
    distinct-gram arrays of ``base``, with ``array_intersect`` for
    ``|A∩B|``. The step :func:`_verify_jaccard_candidates` filters;
    audits that need every pair's value read it directly.

    The candidate frame enters this CPU-dense join tiny in bytes
    (~20 B/row), so it is spread across the cores with a keyless
    :func:`partitioning.spread` first (see there for why keyless)."""
    a, b = _verify_sides(id_col)
    return (
        partitioning.spread(cand)
        .join(base.select(*a), on="id_a")
        .join(base.select(*b), on="id_b")
        .select("id_a", "id_b", _intersection(), "sz_a", "sz_b")
        .select("id_a", "id_b", _jaccard())
    )


def _verify_jaccard_candidates(
    base: DataFrame,
    cand: DataFrame,
    id_col: str,
    threshold: float,
    pin_result: bool = True,
) -> DataFrame:
    """Exact Jaccard verification of a candidate pair set (id_a, id_b)
    against the gram arrays of ``base``: the pairs of
    :func:`_candidate_jaccard` with ``jaccard ≥ threshold``. Only the
    candidate set pays per-pair work; every returned value is exact.

    Callers sort the verified pairs: range partitioning SAMPLES its
    child, re-executing the whole join+intersect pipeline a second
    time. The tail lazy ``partitioning.pin`` (``pin_result``) lets the
    sampler scan cached pair rows instead. Pass ``False`` when the
    caller re-materializes the pairs itself (the cluster builder pins
    its symmetrized edge list) — a second pin is overhead."""
    out = _candidate_jaccard(base, cand, id_col).filter(_at_least(threshold))
    return partitioning.pin(out) if pin_result else out


@column_cache
def _verify_sides(id_col: str) -> tuple[tuple[Column, ...], ...]:
    """The (id, size, gram array) projections of the two verify-join
    sides."""
    return tuple(
        (F.col(id_col).alias(f"id_{s}"), F.size("grams").alias(f"sz_{s}"),
         F.col("grams").alias(f"__g{s}"))
        for s in "ab"
    )


@column_cache
def _intersection() -> Column:
    """``inter`` = |A ∩ B| of the two sides' gram arrays."""
    return F.size(F.array_intersect(F.col("__ga"), F.col("__gb"))).alias("inter")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

# NB the lambda arity trap: ``F.transform`` passes (element, index)
# to any two-argument callable, so every lambda below takes exactly
# the arguments it is given — the permutation constants arrive as
# array elements, never through closure defaults.


def _min_over_grams(perm) -> Column:
    """``array_min`` of one permutation over the row's gram array."""
    return F.array_min(F.transform(F.col("grams"), perm))


@column_cache
def _affine_sig(num_perm: int) -> Column:
    """Signature on the xxhash64 basis: component i is the min over
    the row's 64-bit gram hashes of ``(a_i·h + b_i) mod p`` (Mersenne
    prime p, constants ``_A``/``_B``) — engine-specific, the fast
    path."""
    return F.zip_with(
        F.array(*[F.lit(a) for a in _A[:num_perm]]),
        F.array(*[F.lit(b) for b in _B[:num_perm]]),
        lambda a, b: _min_over_grams(
            lambda g: (F.pmod(g, F.lit(_MERSENNE)) * a + b) % _MERSENNE
        ),
    )


@column_cache
def _md5_sig(num_perm: int) -> Column:
    """Signature on the md5 basis: component i is the lexicographic
    min of ``md5('i:' || gram)`` over the row's string grams — md5 is
    identical in every engine, so signatures are SQL-reproducible."""
    return F.transform(
        F.array(*[F.lit(str(i)) for i in range(num_perm)]),
        lambda i: _min_over_grams(lambda g: F.md5(F.concat_ws(":", i, g))),
    )


def _signatures(
    grams: DataFrame, id_col: str, num_perm: int, basis
) -> DataFrame:
    """(id, sig) MinHash signatures computed per row: ``sig`` is the
    one array expression ``basis(num_perm)`` (:func:`_affine_sig` or
    :func:`_md5_sig`), a lambda over the permutation constants
    wrapped around ONE ``array_min(transform(grams, …))``. A narrow
    map with zero shuffles; min over a distinct array equals min over
    the exploded (id, gram) group, so this is bit-identical to an
    explode + per-permutation min aggregate without shuffling every
    gram instance (measured at sf0.1 on the md5 basis: 1.0 s vs
    9.9 s).

    Why one expression: the plan is then the same size for every
    ``num_perm``. One ``array_min(transform(...))`` column per
    permutation made it grow with ``num_perm``, and each column is
    analyzed on the driver before any job runs: building the 32
    columns took 0.39 s per call, the one expression 0.07 s (medians,
    warm JVM, 4-core VM), launching no job either way. Documents
    with an empty gram array get null components — callers drop them
    first."""
    return grams.select(F.col(id_col), basis(num_perm).alias("sig"))


def _sig_columns(sig: DataFrame, id_col: str, num_perm: int) -> DataFrame:
    """The public (id, m0..m{k-1}) shape of a (id, sig) frame."""
    return sig.select(
        id_col, *[F.col("sig")[i].alias(f"m{i}") for i in range(num_perm)]
    )


def _lsh_candidates(
    sig: DataFrame, id_col: str, bands: int, rows: int, bucket_hash
) -> DataFrame:
    """Distinct (id_a, id_b), id_a < id_b, sharing at least one LSH
    band: band b's bucket is ``bucket_hash`` of its ``rows``
    signature components (``slice`` of the ``sig`` array) joined
    with "," — the same strings as joining ``rows`` scalar columns,
    so candidates do not depend on how the signature is held.
    Slicing one array column also plans faster than naming
    ``num_perm`` scalar columns (0.14 s vs 0.19 s per call for 8
    bands of 4, same measurement as :func:`_signatures`). Only ids
    and bucket hashes shuffle."""
    # no pin: both self-join sides re-derive this from the caller's
    # PINNED gram table — a cheap projection, and the two runs overlap
    # as concurrent jobs, whereas a pin here is one more serial action
    banded = sig.select(id_col, _band_buckets(bands, rows, bucket_hash)).select(
        id_col, "bb.band", "bb.bucket"
    )
    return (
        banded.alias("a")
        .join(banded.alias("b"), on=["band", "bucket"])
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )


@column_cache
def _band_buckets(bands: int, rows: int, bucket_hash) -> Column:
    """``bb``: one (band, bucket) struct per band, exploded."""
    return F.explode(F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            bucket_hash(F.concat_ws(
                ",", F.slice("sig", b * rows + 1, rows).cast("array<string>")
            )).alias("bucket"),
        )
        for b in range(bands)
    ])).alias("bb")


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 32,
    shingle_n: int = 5,
) -> DataFrame:
    """MinHash signatures as (id, m0..m{k-1}) — one column per
    permutation, on the xxhash64 basis of
    :func:`minhash_near_duplicates` (the same shingle base and
    per-row builder). Docs with no shingles drop out (they have no
    near-dup semantics)."""
    sig = _signatures(
        _shingle_base(df, text_col, id_col, shingle_n, drop_empty=True),
        id_col, num_perm, _affine_sig,
    )
    return _sig_columns(sig, id_col, num_perm)


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 32,
    bands: int = 8,
    shingle_n: int = 5,
    threshold: float = 0.6,
    pin_result: bool = True,
    grams: DataFrame | None = None,
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs with exact-Jaccard
    verification. Returns (id_a, id_b, jaccard), id_a < id_b.

    Pipeline: shingle base (pinned now) → per-row signatures →
    xxhash64 band buckets → bucket self-join → exact verify over the
    gram arrays (:func:`_verify_jaccard_candidates`). The shingle
    frame is materialized NOW (``pin_now``) because it feeds the
    signatures and both verify joins, whose broadcast jobs launch
    concurrently: a purely lazy pin re-runs the normalize+shingle
    pipeline once per reference.

    ``grams`` accepts a pre-built, ideally session-memoized frame on
    the STRING gram basis (:func:`md5_gram_sets`) — the same contract
    as the md5 twin. The xxhash64 basis is derived from it per row
    (``xxhash64`` over a distinct string-gram set IS the distinct
    hash set this path shingles itself; ``array_min`` is
    duplicate-insensitive, so a 64-bit collision cannot change a
    signature), so this path then never rescans the corpus.

    ``pin_result`` (default on) ends the pipeline with a lazy
    ``partitioning.pin`` of the verified pairs (see
    :func:`_verify_jaccard_candidates`). Pass ``False`` when the
    caller immediately re-materializes the pairs itself.

    Scaling: the pair count is OUTPUT-driven — each doc's near-dup
    family grows with corpus size in the bench corpora, so the
    candidate set and the result grow faster than the input
    (SCALE.md). On a corpus whose dup rate is constant in corpus
    size, this path is linear in input plus output."""
    if grams is not None:
        # pinned now: projection collapse would otherwise inline this
        # array into each of the num_perm signature transforms —
        # xxhash64 + array_distinct re-evaluated per permutation
        base = grams.select(
            F.col(id_col),
            F.array_distinct(
                F.transform(F.col("grams"), lambda g: F.xxhash64(g))
            ).alias("grams"),
        )
    else:
        base = _shingle_base(df, text_col, id_col, shingle_n)
    shingled = partitioning.pin_now(base)
    # empty docs are dropped from the PINNED frame, where the filter
    # stays put: drop_empty's length predicate is pushed below the
    # spread into the caller's unpinned upstream plan, measured at
    # +0.4 s per run_document_pipeline op (500 documents, 4 cores)
    sig = _signatures(
        shingled.filter(_has_grams()), id_col, num_perm, _affine_sig
    )
    cand = _lsh_candidates(sig, id_col, bands, num_perm // bands, F.xxhash64)
    return _verify_jaccard_candidates(
        shingled, cand, id_col, threshold, pin_result=pin_result
    )


@column_cache
def _has_grams() -> Column:
    return F.size("grams") > 0


def md5_gram_sets(
    df: DataFrame, text_col: str, id_col: str, shingle_n: int = 5
) -> DataFrame:
    """(id, grams) distinct character-shingle STRING sets — the
    cross-engine basis of the md5 audit twins; docs with no shingles
    drop out (no near-dup semantics). Public so callers can
    materialize the frame ONCE and feed it to both the signature
    build and the exact-Jaccard verification (see
    plans/doc_clusters.md5_minhash_frames)."""
    return _shingle_base(
        df, text_col, id_col, shingle_n, shingle=char_ngrams_of_norm,
        drop_empty=True,
    )


def md5_minhash_signatures(
    grams: DataFrame, id_col: str, num_perm: int = 16
) -> DataFrame:
    """(id, m0..m{k-1}) md5-basis MinHash signatures from a
    :func:`md5_gram_sets` frame: component i is the lexicographic
    min of ``md5('i:' || gram)`` over the doc's grams, computed per
    row with zero shuffles (:func:`_signatures`)."""
    return _sig_columns(
        _signatures(grams, id_col, num_perm, _md5_sig), id_col, num_perm
    )


def minhash_near_duplicates_md5(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 5,
    threshold: float = 0.6,
    grams: DataFrame | None = None,
    sig: DataFrame | None = None,
) -> DataFrame:
    """MinHash+LSH near-dup pairs on a CROSS-ENGINE hash basis:
    permutation i of a gram is md5("i:" || gram), band buckets are
    md5 too — so the whole pipeline (signatures → band buckets →
    candidates → exact string-gram Jaccard) is reproducible
    bit-for-bit in plain SQL, unlike the xxhash64 fast path
    (:func:`minhash_near_duplicates`), whose basis is
    engine-specific. The two differ only in the hashes they pass to
    the shared stages, so a green value-check here certifies the LSH
    logic the fast variant shares.

    Costs ~num_perm md5 calls per (doc, gram) and shuffles string
    grams at verification, so production dedup at 100 TB should run
    the xxhash64 variant; this one exists for audits and parity
    gates.

    ``grams`` / ``sig`` accept pre-built (ideally pinned) frames from
    :func:`md5_gram_sets` / :func:`md5_minhash_signatures`: without
    them the lazy gram pipeline re-executes once per reference (the
    band self-join reads sig twice, the verification joins read
    grams twice more). Candidates verify against the string-gram
    arrays of ``grams`` (:func:`_verify_jaccard_candidates`)."""
    if grams is None:
        grams = md5_gram_sets(df, text_col, id_col, shingle_n)
    if sig is None:
        sig = _signatures(grams, id_col, num_perm, _md5_sig)
    else:
        sig = sig.select(id_col, F.array(
            *[F.col(f"m{i}") for i in range(num_perm)]
        ).alias("sig"))
    cand = _lsh_candidates(sig, id_col, bands, num_perm // bands, F.md5)
    return _verify_jaccard_candidates(
        grams, cand, id_col, threshold, pin_result=False
    )


# ---------------------------------------------------------------------------
# SimHash and 64-bit signature pairing
# ---------------------------------------------------------------------------


def _simhash(hashed: DataFrame, id_col: str, n_bits: int) -> DataFrame:
    """(id, simhash) from (id, h) token-hash rows: each of the low
    ``n_bits`` bits of h votes ±1 per token occurrence (token
    multiplicity counts, ties clear the bit) and the signs recombine
    into a long.

    Bit-EXPLODED formulation: (token, bit) rows → ``sum(±1)`` votes
    per (doc, bit) → signs recombined by a second tiny aggregate.
    The 64×-row explode wins over a 64-vote-column single aggregate
    (measured 2× cold, 4× warm): the expression tree is ~64× smaller
    (codegen compiles in ms, not seconds) and both aggregations run
    map-side partial, so the shuffle carries ≤ n_bits small rows per
    doc per partition."""
    votes = (
        hashed.select(
            id_col,
            F.explode(F.sequence(F.lit(0), F.lit(n_bits - 1))).alias("bit"),
            "h",
        )
        .select(
            id_col,
            "bit",
            F.expr("(shiftright(h, bit) & 1) * 2 - 1").alias("v"),
        )
        .groupBy(id_col, "bit")
        .agg(F.sum("v").alias("vs"))
    )
    bit_value = F.expr(
        "CASE WHEN bit < 63 THEN shiftleft(1L, bit) "
        "ELSE CAST(-9223372036854775808 AS BIGINT) END"
    )
    return votes.groupBy(id_col).agg(
        F.sum(
            F.when(F.col("vs") > 0, bit_value).otherwise(
                F.lit(0).cast("long")
            )
        ).alias("simhash")
    )


def _chunk_pairs(
    frame: DataFrame,
    id_col: str,
    hash_col: str,
    bounds: list[int],
    max_hamming: int,
) -> DataFrame:
    """(id_a, id_b, hamming), id_a < id_b, hamming ≤ max_hamming:
    candidates share at least one chunk ``[bounds[c], bounds[c+1])``
    of ``hash_col`` (chunk self-join on (chunk, key)), then are
    verified with ``bit_count(a XOR b)``. The self-join shuffles
    (id, hash, chunk key) rows only."""

    def chunk_key(lo: int, hi: int):
        if hi - lo >= 64:  # one 64-bit chunk: exact-equality join
            return F.col(hash_col)
        return F.shiftrightunsigned(hash_col, lo).bitwiseAND(
            F.lit((1 << (hi - lo)) - 1)
        )

    chunks = F.array(*[
        F.struct(F.lit(c).alias("chunk"), chunk_key(lo, hi).alias("key"))
        for c, (lo, hi) in enumerate(zip(bounds, bounds[1:]))
    ])
    banded = frame.select(
        id_col, hash_col, F.explode(chunks).alias("cc")
    ).select(id_col, hash_col, "cc.chunk", "cc.key")

    def side(s: str) -> DataFrame:
        return banded.select(
            F.col(id_col).alias(f"id_{s}"), F.col(hash_col).alias(f"h_{s}"),
            "chunk", "key",
        )

    hamming = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return (
        side("a").join(side("b"), on=["chunk", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash64_table(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """64-bit SimHash per document as (id, simhash long): xxhash64 of
    each whitespace token of the normalized text, voted by
    :func:`_simhash`."""
    token = F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("t")
    hashed = (
        partitioning.spread(df.select(F.col(id_col), F.col(text_col)), id_col)
        .select(F.col(id_col), token)
        .select(id_col, F.xxhash64("t").alias("h"))
    )
    return _simhash(hashed, id_col, 64)


def hash64_near_dup_pairs(
    frame: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs over ANY 64-bit signature column (SimHash,
    image dHash, audio fingerprint): the 64 bits are split into
    ``max_hamming + 1`` contiguous chunks, so a pair within the
    threshold has at least one chunk equal by pigeonhole — banding
    is LOSSLESS at any threshold (a fixed 4×16-bit split would
    under-recall for max_hamming > 3). Candidates are verified with
    ``bit_count(a XOR b) <= max_hamming``. Returns
    (id_a, id_b, hamming) with id_a < id_b. The self-join shuffles
    (max_hamming + 1) × 20-ish bytes per row at any corpus size —
    larger thresholds pay more bands AND denser buckets, the honest
    LSH trade."""
    if not 0 <= max_hamming <= 63:
        raise ValueError(
            f"max_hamming must be in 0..63, got {max_hamming} "
            "(64-bit signatures cannot band beyond 63)"
        )
    n = max_hamming + 1
    return _chunk_pairs(
        frame, id_col, hash_col, [64 * c // n for c in range(n + 1)],
        max_hamming,
    )


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs: pigeonhole chunk banding for
    candidates, verified with ``bit_count(a XOR b) <= max_hamming``
    (:func:`hash64_near_dup_pairs`)."""
    # the chunk self-join references sim on both sides — materialize
    # the (id, simhash) table once instead of re-voting every bitplane
    # twice; spread first so the checkpoint doesn't freeze an
    # AQE-coalesced 1-partition layout
    sim = partitioning.spread(
        simhash64_table(df, text_col, id_col), id_col
    ).transform(partitioning.pin)
    return hash64_near_dup_pairs(sim, id_col, "simhash", max_hamming)


def simhash_near_duplicates_md5(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs on a CROSS-ENGINE hash basis: each
    token's 32-bit hash is the first 8 hex chars of md5(token), so
    the whole pipeline — bit votes → 32-bit simhash → 8-bit-chunk
    banding → ``bit_count(xor) <= max_hamming`` verification — is
    reproducible bit-for-bit in plain SQL. The auditable twin of
    :func:`simhash_near_duplicates` (engine-specific xxhash64, 64
    bits): the same vote and chunk-pairing stages, only the token
    hash, the width and the fixed 4 × 8-bit chunk layout (full
    recall for hamming ≤ 3) differ — a green value-check here
    certifies the banding/vote logic the fast variant shares.

    Costs one md5 per DISTINCT token (vocab-hashed once, joined
    back) and a 32× bit explode, so production dedup should run the
    64-bit xxhash64 variant; this exists for audits and parity
    gates."""
    toks = partitioning.spread(
        df.select(F.col(id_col), F.col(text_col)), id_col
    ).select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("t"))
    # hash each distinct token once; md5 is deterministic, so this
    # is identical to hashing inline, at vocab cost not instance cost
    vocab = toks.select("t").distinct().select(
        "t",
        F.conv(F.substring(F.md5("t"), 1, 8), 16, 10)
        .cast("long")
        .alias("h"),
    )
    sim = partitioning.spread(
        _simhash(toks.join(vocab, "t").select(id_col, "h"), id_col, 32),
        id_col,
    ).transform(partitioning.pin)  # same guard as simhash_near_duplicates
    return _chunk_pairs(
        sim, id_col, "simhash", [0, 8, 16, 24, 32], max_hamming
    ).select("id_a", "id_b", F.col("hamming").cast("bigint").alias("hamming"))


# ---------------------------------------------------------------------------
# n-gram Jaccard similarity joins
# ---------------------------------------------------------------------------


def _rare_gram_rows(
    base: DataFrame,
    block_cols,
    id_col: str,
    max_df: int,
    gram_df: DataFrame | None = None,
) -> DataFrame:
    """(*block_cols, id, g) rows of the grams whose block-local
    document frequency is ≤ max_df."""
    if gram_df is None:
        gram_df = _gram_df(base, block_cols)
    rare = gram_df.filter(F.col("__df") <= max_df).select(*block_cols, "g")
    return _exploded(base, id_col, block_cols).join(
        rare, on=[*block_cols, "g"]
    )


def _shared_gram_pairs(
    exploded: DataFrame, block_cols, id_col: str
) -> DataFrame:
    """The inverted-index self-join: one (id_a, id_b) row, id_a < id_b,
    per gram two documents of the same block share."""
    return (
        exploded.select(*block_cols, F.col(id_col).alias("id_a"), "g")
        .join(
            exploded.select(*block_cols, F.col(id_col).alias("id_b"), "g"),
            on=[*block_cols, "g"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
    )


def _capped_candidates(
    base: DataFrame,
    block_cols,
    id_col: str,
    max_df: int,
    gram_df: DataFrame | None = None,
) -> DataFrame:
    """df-capped inverted-index candidate pairs over a
    (*block_cols, id, grams) frame: pairs are generated only from
    grams with block-local document frequency ≤ max_df, bounding
    candidate work at max_df × corpus grams (linear). Shared by
    :func:`ngram_jaccard_pairs` and :func:`similarity_join`."""
    # NB: an explicit keyed repartition of the rare-gram rows on the
    # join key (to defeat AQE's byte-based coalescing of the
    # CPU-dense pair generation — it runs on ~5 of 32 tasks at sf0.1)
    # was tried and REVERTED: the repartition exchanges the FULL
    # exploded gram table (71 MB shuffle write at sf0.1 vs the 5 MB
    # the planner's own aggregated exchange carries) and its subtree
    # was NOT reused across the self-join sides — doc_cluster_build
    # went 22.8 s -> 66.9 s standalone. The ~1.5 s-wall coalesced
    # stage is the cheaper evil at this scale; at cluster scale the
    # join's own exchanges are byte-large enough that AQE sizes them
    # correctly.
    rare = _rare_gram_rows(base, block_cols, id_col, max_df, gram_df)
    return (
        _shared_gram_pairs(rare, block_cols, id_col)
        .select("id_a", "id_b")
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_cols: list[str],
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
    allow_quadratic: bool = False,
    pin_result: bool = True,
) -> DataFrame:
    """Exact n-gram-set Jaccard similarity for all pairs sharing a
    blocking key (e.g. language + length bucket). Returns
    (id_a, id_b, jaccard) with id_a < id_b.

    Blocking keeps the self-join from being quadratic ACROSS blocks,
    but within a block the inverted-index candidate work is
    Σ_gram df(gram)² — quadratic in block size when grams are
    ubiquitous (small-vocabulary corpora: measured 101× partials for
    10× data on the sf1 scale replica). ``max_df`` is the scale
    valve: candidate pairs are generated only from grams whose
    block-local document frequency is ≤ max_df (bounding candidate
    work at max_df × corpus grams — linear), then each candidate's
    Jaccard is verified EXACTLY over the gram arrays
    (:func:`_verify_jaccard_candidates`), so every returned value is
    exact and every returned pair is real. The approximation is
    one-sided recall: a pair sharing ONLY ubiquitous grams is missed
    — precisely the pairs whose shared evidence is least
    discriminative (the stop-word-dropping standard from the
    similarity-join literature). ``max_df=None`` (default) is fully
    exact: the inverted index COUNTS shared grams per pair with
    map-side partial aggregation, so the shuffle carries
    (id_a, id_b, count) partials, never gram arrays, and
    zero-intersection pairs never appear (exact for any threshold
    > 0). It is soft-guarded: past ~2 GiB of input (≈ sf2 here;
    measured 77-133× slope per 10× data, SCALE.md) a RuntimeWarning
    points at the ``max_df`` valve; ``allow_quadratic=True``
    acknowledges the cost (partitioning.warn_if_quadratic)."""
    if not threshold > 0.0:
        # validated BEFORE the base frame: pin_now below runs a Spark
        # job, which a bad-argument call must not pay first
        raise ValueError(
            "threshold must be > 0: the inverted-index formulation "
            "never sees pairs with an empty intersection"
        )
    if max_df is None:
        partitioning.warn_if_quadratic(
            df, "ngram_jaccard_pairs(max_df=None)",
            allow_quadratic=allow_quadratic,
        )
    # Materialized NOW: the verify joins broadcast both array sides,
    # and those BroadcastExchange jobs launch CONCURRENTLY — with a
    # purely lazy checkpoint each one recomputes the normalize+shingle
    # pipeline before any blocks exist.
    base = partitioning.pin_now(
        _shingle_base(df, text_col, id_col, n, block_cols)
    )
    if max_df is not None:
        # pinned: both sides of the candidate self-join read the gram
        # table (measured faster than re-aggregating it per side)
        gram_df = _gram_df(base, block_cols).transform(partitioning.pin)
        cand = _capped_candidates(
            base, block_cols, id_col, max_df, gram_df=gram_df
        )
        return _verify_jaccard_candidates(
            base, cand, id_col, threshold, pin_result=pin_result
        )
    exploded = _exploded(base, id_col, block_cols)
    inter_counts = (
        _shared_gram_pairs(exploded, block_cols, id_col)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sizes = base.select(F.col(id_col), F.size("grams").alias("sz"))
    pairs = inter_counts.join(
        sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a")),
        on="id_a",
    ).join(
        sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b")),
        on="id_b",
    )
    return _jaccard_filter(pairs, threshold)


def jaccard_prefix_filter_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_cols: list[str],
    n: int = 3,
    threshold: float = 0.5,
    pin_result: bool = True,
) -> DataFrame:
    """Exact n-gram-set Jaccard similarity join via PREFIX FILTERING
    (the AllPairs / SSJoin candidate generator: sort each gram set by
    one canonical rarity order, index only each set's first
    ``sz - ceil(t*sz) + 1`` grams, and join on those). FULL recall at
    the given threshold — unlike the ``max_df`` valve on
    :func:`ngram_jaccard_pairs`, no pair is ever missed: if
    J(A,B) >= t then |A∩B| >= ceil(t*|A|), so by pigeonhole A and B
    must share a gram inside both prefixes under ANY shared total
    order. Candidates are then verified exactly (same verifier as the
    max_df path), so precision is exact too.

    Scale posture: candidate work is Σ_gram prefix-df(gram)² — the
    canonical order puts each set's RAREST grams in its prefix, so
    ubiquitous grams never generate candidates unless the threshold
    demands a long prefix. Work is output-sensitive: at high
    thresholds (t >= 0.6, prefix <= 40% of each set) the candidate
    set approaches the true pair set; at low thresholds prefixes
    lengthen and the generator degrades toward the full inverted
    index — use ``ngram_jaccard_pairs(max_df=...)`` there instead.
    The length filter (t·|A| <= |B| <= |A|/t) prunes cross-size
    candidates before the distinct.

    Float-boundary care: the required-overlap bound ceil(t·sz) is
    computed as ``ceil(t*sz - 1e-6)`` so a binary-float product that
    lands just ABOVE an exactly-achievable integer (0.3*10 =
    3.0000000000000004) cannot shorten the prefix below what the
    pigeonhole argument needs; the length filter is relaxed by the
    same epsilon in the safe direction. Both only ever ADMIT more
    candidates — the exact verifier keeps the result set identical.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    # referenced 3× below (prefix build + both verify sides)
    base = _shingle_base(
        df, text_col, id_col, n, block_cols
    ).transform(partitioning.pin)
    # pinned for the same reason as ngram_jaccard_pairs' capped path
    gram_df = _gram_df(base, block_cols).transform(partitioning.pin)
    cand = _prefix_filter_candidates(
        base, block_cols, id_col, threshold, gram_df=gram_df
    )
    return _verify_jaccard_candidates(
        base, cand, id_col, threshold, pin_result=pin_result
    )


def _prefix_filter_candidates(
    base: DataFrame,
    block_cols: list[str],
    id_col: str,
    threshold: float,
    gram_df: DataFrame | None = None,
) -> DataFrame:
    """The AllPairs candidate generator behind
    :func:`jaccard_prefix_filter_pairs`, pre-verification: distinct
    (id_a, id_b) pairs surviving the prefix + length filters.
    Exposed separately so the pruning behavior is directly
    observable — tests assert |candidates| shrinks with threshold
    and sits strictly below the full intra-block pair count, and
    the adaptive dispatch estimates its cost from the same gram-df
    statistics this generator keys on. ``base`` is the
    (*block_cols, id, grams) frame the caller checkpointed."""
    # canonical per-block total order: (document frequency asc, gram
    # asc). Any one shared order is correct; rarity-first makes the
    # prefix the least-collisional slice of each set. A caller that
    # already aggregated the gram table passes it in so the agg runs
    # once per query, not per stage.
    if gram_df is None:
        gram_df = _gram_df(base, block_cols)
    req_overlap = F.ceil(
        F.lit(threshold) * F.size("__sorted") - F.lit(1e-6)
    )
    prefixes = (
        _exploded(base, id_col, block_cols)
        .join(gram_df, on=[*block_cols, "g"])
        .groupBy(*block_cols, id_col)
        .agg(
            F.array_sort(F.collect_list(F.struct("__df", "g"))).alias(
                "__og"
            )
        )
        .select(
            *block_cols,
            F.col(id_col),
            F.transform("__og", lambda s: s["g"]).alias("__sorted"),
        )
        .select(
            *block_cols,
            F.col(id_col),
            F.size("__sorted").alias("__sz"),
            F.slice(
                "__sorted",
                F.lit(1),
                (F.size("__sorted") - req_overlap + F.lit(1)).cast("int"),
            ).alias("__prefix"),
        )
        .select(
            *block_cols,
            F.col(id_col),
            F.col("__sz"),
            F.explode("__prefix").alias("g"),
        )
    )
    eps = F.lit(1e-6)
    # NB: an explicit keyed repartition of `prefixes` (the
    # _capped_candidates treatment) was tried and REVERTED: measured
    # 4.5 -> 6.3 s on ngram_jaccard_prefix at sf0.1 — the prefix
    # table is larger than the rare-gram table and the forced
    # exchange cost more than the width it bought.
    return (
        prefixes.select(
            *block_cols,
            F.col(id_col).alias("id_a"),
            F.col("__sz").alias("__sa"),
            "g",
        )
        .join(
            prefixes.select(
                *block_cols,
                F.col(id_col).alias("id_b"),
                F.col("__sz").alias("__sb"),
                "g",
            ),
            on=[*block_cols, "g"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        # length filter: J >= t  ⇒  t·|A| <= |B| and t·|B| <= |A|
        .filter(
            (F.col("__sa") * F.lit(threshold) <= F.col("__sb") + eps)
            & (F.col("__sb") * F.lit(threshold) <= F.col("__sa") + eps)
        )
        .select("id_a", "id_b")
        .distinct()
    )


def choose_similarity_plan(
    base: DataFrame,
    block_cols: list[str],
    id_col: str,
    threshold: float,
    max_df: int,
    cost_ratio: float = 1.0,
    gram_df: DataFrame | None = None,
) -> dict:
    """Estimate, from MEASURED gram-df statistics, whether the
    prefix-filter or the df-capped inverted index is the cheaper
    candidate generator for this corpus, and return the decision
    with its evidence. ``base`` is the (*block_cols, id, grams)
    frame both generators start from.

    Candidate work for an inverted index is Σ_gram df·(df−1)/2 over
    whatever grams get indexed. The two generators index different
    slices:

    - capped: every gram with block-local df ≤ max_df →
      ``w_capped = Σ_{df≤max_df} df·(df−1)/2`` (exact, measured).
    - prefix: each doc's sz−ceil(t·sz)+1 RAREST grams. True work is
      Σ_gram prefix-df², unknowable without building the prefixes,
      but the total prefix mass IS known (``prefix_slots`` =
      Σ_docs(sz−ceil(t·sz)+1)) and rarity-first filling means the
      mass lands on the low-df end of the measured df distribution:
      fill grams greedily in (df asc) order until the slots are
      spent and charge o·(o−1)/2 per gram at its filled occupancy
      ``o`` → ``w_prefix_est``. An estimate, not a bound (per-doc
      constraints can push mass onto commoner grams), but on the
      corpora that matter the two estimates differ by orders of
      magnitude, not factors: the 377-distinct-gram documents table
      (prefix slots can only land on ubiquitous grams →
      w_prefix_est ≈ 10⁴× w_capped at sf0.01) vs a natural-vocab
      corpus (df mostly 1-2, cap a no-op → w_prefix_est < w_capped).

    Cost: one groupBy over the exploded gram table (the same agg
    both generators' first stage runs anyway), one vocab-sized
    window cumsum, two scalar collects. Returns
    ``{"plan": "prefix"|"capped", "w_prefix_est", "w_capped",
    "prefix_slots"}`` — prefix wins ties at ``cost_ratio`` 1.0
    since it is the full-recall plan.

    All arithmetic is INTEGER (pair counts; c·(c−1) is always even,
    so DIV 2 is exact), which makes the decision bit-reproducible in
    any engine from the same corpus — the registered oracle
    (similarity_join_auto) recomputes these statistics in DuckDB SQL
    and checks the output of whichever plan the statistics choose,
    so the hash gate covers the DISPATCH, not just a plan's output.
    Tie order among equal-df grams doesn't matter: the greedy-fill
    sum depends only on the df-sorted multiset (equal-df grams are
    interchangeable at the slot boundary)."""
    eps = F.lit(1e-6)
    slots_expr = (
        F.size("grams")
        - F.ceil(F.lit(threshold) * F.size("grams") - eps)
        + F.lit(1)
    )
    prefix_slots = int(
        base.agg(F.sum(slots_expr).alias("s")).collect()[0]["s"] or 0
    )
    if gram_df is None:
        gram_df = _gram_df(base, block_cols)

    def pair_work(c):
        # c·(c−1) is even, so the shift is exact integer division —
        # no double intermediates that could round past 2^53
        return F.shiftright((c * (c - F.lit(1))).cast("long"), 1)

    w = (
        Window.orderBy(F.col("__df"), *block_cols, "g")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    occupancy = F.greatest(
        F.lit(0).cast("long"),
        F.least(
            F.col("__df"),
            F.lit(prefix_slots) - (F.col("__cum") - F.col("__df")),
        ),
    )
    row = (
        gram_df.withColumn("__cum", F.sum("__df").over(w))
        .agg(
            F.sum(
                F.when(
                    F.col("__df") <= max_df, pair_work(F.col("__df"))
                ).otherwise(F.lit(0))
            ).cast("long").alias("w_capped"),
            F.sum(pair_work(occupancy)).cast("long").alias(
                "w_prefix_est"
            ),
        )
        .collect()[0]
    )
    w_capped = int(row["w_capped"] or 0)
    w_prefix = int(row["w_prefix_est"] or 0)
    return {
        "plan": "prefix" if w_prefix <= cost_ratio * w_capped else "capped",
        "w_prefix_est": w_prefix,
        "w_capped": w_capped,
        "prefix_slots": prefix_slots,
    }


def similarity_join(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_cols: list[str],
    n: int = 3,
    threshold: float = 0.5,
    max_df: int = 200,
    auto: bool = True,
    cost_ratio: float = 1.0,
    pin_result: bool = True,
) -> DataFrame:
    """N-gram Jaccard similarity join with ADAPTIVE plan dispatch:
    measure the corpus's gram-df distribution (one agg over the
    gram table — :func:`choose_similarity_plan`) and pick whichever
    exact-verified candidate generator is cheaper for THIS corpus
    instead of leaving the choice to a docstring:

    - prefix filter (:func:`jaccard_prefix_filter_pairs`) — full
      recall, output-sensitive; right when the vocabulary is rich
      enough that rare grams exist for every prefix. On the
      low-vocab worst case it degrades badly (measured 3× the
      capped sibling at sf0.1 and 336 s cold at sf1 on the
      377-gram documents corpus — the motivating case).
    - df-capped inverted index (:func:`ngram_jaccard_pairs` with
      ``max_df``) — linear candidate work, one-sided recall valve
      (pairs sharing ONLY >max_df ubiquitous grams are missed,
      the stop-word-dropping standard).

    Both verify candidates exactly, so precision is always exact;
    the dispatch trades the recall valve against candidate-work
    blowup per corpus shape. ``auto=False`` keeps the prefix plan
    unconditionally (full recall, cost be damned). The planning agg
    shares the generators' own first stage (gram explode + df
    count), so at 100 TB it costs one extra linear pass + a
    vocab-sized sort — noise against the candidate join it sizes."""
    if not auto:
        return jaccard_prefix_filter_pairs(
            df, text_col, id_col, block_cols, n=n, threshold=threshold,
            pin_result=pin_result,
        )
    base = _shingle_base(
        df, text_col, id_col, n, block_cols
    ).transform(partitioning.pin)
    # one gram-df aggregate serves planning AND whichever generator
    # wins — vocab-sized, so the checkpoint is cheap to hold
    gram_df = _gram_df(base, block_cols).transform(partitioning.pin)
    decision = choose_similarity_plan(
        base, block_cols, id_col, threshold, max_df, cost_ratio,
        gram_df=gram_df,
    )
    if decision["plan"] == "prefix":
        cand = _prefix_filter_candidates(
            base, block_cols, id_col, threshold, gram_df=gram_df
        )
    else:
        cand = _capped_candidates(
            base, block_cols, id_col, max_df, gram_df=gram_df
        )
    return _verify_jaccard_candidates(
        base, cand, id_col, threshold, pin_result=pin_result
    )


# ---------------------------------------------------------------------------
# Winnowing (substring evidence)
# ---------------------------------------------------------------------------


def winnow_share_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    window: int = 4,
    max_df: int = 50,
    min_shared: int = 2,
) -> DataFrame:
    """MOSS-style copy detection: pairs of documents sharing at least
    ``min_shared`` winnowing fingerprints — evidence of a common
    substring of length ≥ k + window - 1 per shared fingerprint,
    the complement of set-Jaccard dedup (which sees bags of grams,
    not contiguous matches). Returns (id_a, id_b, n_shared).

    Fingerprints with document frequency > ``max_df`` are excluded
    from pairing (the df-capped inverted index of the n-gram family,
    over fingerprints): winnow minima of ubiquitous substrings
    (boilerplate, stock phrases) would otherwise drive Σ df²
    candidate work quadratic (measured Σ df² ≈ 5.9e8 at sf0.1
    uncapped on this corpus vs bounded ≤ max_df × total fingerprints
    capped). The cut is DETERMINISTIC (a pure df filter), so results
    remain exactly reproducible in SQL — unlike a sampled or
    probabilistic cut.

    Hash basis is md5 (cross-engine); the sketch is ~|doc|/window
    fingerprints, so this is the cheaper pairing substrate at scale
    compared to raw gram inverted indexes."""
    normed = _normalized(df, text_col, id_col)
    count = F.greatest(F.length("nrm") - (k - 1), F.lit(0))
    idx = F.when(count > 0, F.sequence(F.lit(1), count)).otherwise(
        F.array().cast("array<int>")
    )
    hashed = normed.select(
        F.col(id_col),
        F.transform(
            idx, lambda i: F.md5(F.col("nrm").substr(i, F.lit(k)))
        ).alias("h"),
    )
    # materialize the sketch BEFORE exploding: generator filter
    # inference would otherwise inline the winnow HOF chain through
    # the select boundaries and re-evaluate it per exploded row
    # (the >390s-vs-8s trap documented at doc_winnow_sketch); the
    # lineage cut also lets the df-filter join below reference the
    # exploded frame twice without re-running the sketch
    sk = hashed.select(
        F.col(id_col), winnow_of_hashes(F.col("h"), window).alias("grams")
    ).transform(partitioning.pin)
    rare = _rare_gram_rows(sk, [], id_col, max_df)
    # fingerprints are distinct per doc (winnow dedups), so count(*)
    # per pair IS the shared-fingerprint count
    return (
        _shared_gram_pairs(rare, [], id_col)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
