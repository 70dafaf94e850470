"""Deduplication: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Design constraint that shapes everything here: the driver
hash-compares against a DuckDB oracle, so the "random" hash families
are built from md5 base hashes + fixed affine permutations —
deterministic, engine-independent, and still uniformly distributed.
The oracle SQL embeds the exact same coefficient family (generated
from _minhash_coeffs in registry.py), so near-dedup is fully
oracle-checked rather than rows-only.

Scale analysis (the reason LSH exists): exact all-pairs Jaccard is
O(n^2) — dead at 100 TB. MinHash+banding is O(n * k) to sign,
then pairs only form inside band buckets (a shuffle on band_key
whose fan-in is the collision rate, tunable via bands x rows). The
band bucket join IS the LSH candidate generation; exact Jaccard
re-verification then runs only on candidates.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreducego_spark.functions.text import tokens_col
from mapreducego_spark.operators.util import guard_limit, spread_scan
from mapreducego_spark.sources.catalog import load_table

# MinHash family size: NUM_BANDS bands x ROWS_PER_BAND rows.
# 16 hashes -> s-curve threshold ~ (1/b)^(1/r) = (1/8)^(1/2) ~ 0.35.
NUM_HASHES = 16
NUM_BANDS = 8
ROWS_PER_BAND = NUM_HASHES // NUM_BANDS
JACCARD_THRESHOLD = 0.5

# Affine permutation family over the 61-bit base hash: h_i(x) =
# (A_i * (x mod P) + B_i) mod P, P = 2^31 - 1 (Mersenne prime).
# ONE md5 per shingle total (the base hash), 16 cheap arithmetic
# minima instead of 16 md5s — ~10x cheaper to sign at scale.
# Constants are fixed literals so the DuckDB oracle embeds the
# exact same family (no RNG anywhere: SURVEY §7 risk d).
MINHASH_P = 2_147_483_647


def _minhash_coeffs(num_hashes: int = NUM_HASHES) -> list[tuple[int, int]]:
    # Deterministic Weyl-style sequence; values in [1, P-1].
    return [
        ((i * 2_654_435_761 + 1) % (MINHASH_P - 1) + 1, (i * 40_503 + 7) % MINHASH_P)
        for i in range(num_hashes)
    ]


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup via sha2 hash-groupBy: one row per
    distinct content hash, keeping the smallest doc_id (the
    canonical representative) + the duplicate count. At scale this
    is one shuffle on a 64-hex key — the cheapest dedup there is."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.sha2(F.col("text"), 256).alias("content_hash"),
        )
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-content dedup: md5 over the lowercased token
    stream, so case/punctuation/whitespace variants collapse."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.array_join(tokens_col(F.col("text")), " ")
    return (
        docs.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.md5(norm).alias("fp"),
        )
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def shingles_from_tokens(toks: Column, n: int = 2) -> Column:
    """Distinct word n-gram shingles from an ALREADY-MATERIALIZED
    token array column (JVM-side higher-order functions; no UDF).

    Must receive a real column reference, not the tokenize
    expression itself: Catalyst inlines expression arguments into
    every element_at inside the transform lambda, turning an O(n)
    shingling into O(n^2) re-tokenizations per row (measured 22s ->
    1s on 5000 docs). The caller projects tokens first."""
    if n == 1:
        return F.array_distinct(toks)
    if n == 2:
        # O(n) bigram: zip the array against its own 1-shift — no
        # per-element element_at indexing at all
        tail = F.greatest(F.size(toks) - 1, F.lit(0))
        return F.array_distinct(
            F.zip_with(
                F.slice(toks, 1, tail),
                F.slice(toks, 2, tail),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        )
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(-1)))
    gram = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(n)]
        ),
    )
    return F.array_distinct(F.when(F.size(toks) >= n, gram).otherwise(F.array()))


def shingle_docs(docs: DataFrame, n: int = 2) -> DataFrame:
    """(doc_id, shingles) for any (doc_id, text) DataFrame."""
    tokenized = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        tokens_col(F.col("text")).alias("toks"),
    )
    # Filter on token count BEFORE building shingles: a filter on
    # size(shingles) would be predicate-pushed below the projections,
    # re-inlining the whole tokenize tree into the condition
    # (measured 10x slowdown). size(toks) >= n <=> len(shingles) > 0.
    return tokenized.filter(F.size("toks") >= n).select(
        "doc_id", shingles_from_tokens(F.col("toks"), n).alias("shingles")
    )


def _doc_shingles(spark: SparkSession, sf_dir: str, n: int = 2) -> DataFrame:
    return shingle_docs(load_table(spark, sf_dir, "documents"), n)


def collapse_shingle_duplicates(shingled: DataFrame) -> DataFrame:
    """Collapse docs with IDENTICAL shingle sets to one representative
    (min doc_id) before LSH — the skew guard that matters most in real
    corpora: 5k copies of one boilerplate page otherwise land in the
    same (band, band_key) bucket and the candidate self-join goes
    quadratic (C(5k,2) ~ 12.5M pairs from one bucket). Exact
    duplicates carry zero information for NEAR-dup detection — exact
    dedup (dedup_exact / dedup_fingerprint) is the right tool for
    them — so the collapse is semantically better, not just faster.
    One extra shuffle on the fingerprint, linear in |docs|. The
    fingerprint is order-sensitive xxhash64 over the shingle ARRAY
    (one cheap pass; no sort, no md5 of a multi-KB string) —
    identical texts produce identical arrays, and same-set-but-
    different-order docs (vanishingly rare) just stay uncollapsed,
    which is harmless."""
    fp = F.xxhash64(F.array_join(F.col("shingles"), "|"))
    return (
        shingled.withColumn("fp", fp)
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min_by("shingles", "doc_id").alias("shingles"),
        )
        .drop("fp")
    )


def minhash_signatures(shingled: DataFrame, num_hashes: int = NUM_HASHES) -> DataFrame:
    """(doc_id, m_0..m_{k-1}): one wide signature row per doc.

    Base hash: first 15 hex chars of md5(shingle) as a 60-bit int,
    reduced mod P. Signature i = MIN over shingles of the affine
    permutation (A_i*h + B_i) mod P. One explode, ONE md5 per
    shingle, one map-side-combined groupBy with k min-aggregates -
    the shuffle carries one wide row per document."""
    h = (
        F.conv(F.substring(F.md5(F.col("sh")), 1, 15), 16, 10).cast("bigint")
        % MINHASH_P
    )
    exploded = shingled.select(
        "doc_id", F.explode("shingles").alias("sh")
    ).withColumn("hm", h)
    return exploded.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * F.col("hm") + F.lit(b)) % MINHASH_P).alias(f"m_{i}")
            for i, (a, b) in enumerate(_minhash_coeffs(num_hashes))
        ]
    )


def lsh_band_keys(
    signatures: DataFrame,
    num_hashes: int = NUM_HASHES,
    rows_per_band: int = ROWS_PER_BAND,
) -> DataFrame:
    """(doc_id, band, band_key): md5 of the band's comma-joined
    minhash values. Equal band_key <=> identical minhash rows in
    that band - the LSH bucket id. Band keys are computed columnar
    (no collect_list) then unpivoted with posexplode."""
    n_bands = num_hashes // rows_per_band
    band_cols = [
        F.md5(
            F.concat_ws(
                ",",
                *[
                    F.col(f"m_{j}").cast("string")
                    for j in range(b * rows_per_band, (b + 1) * rows_per_band)
                ],
            )
        )
        for b in range(n_bands)
    ]
    return signatures.select(
        "doc_id", F.posexplode(F.array(*band_cols)).alias("band", "band_key")
    )


def minhash_candidate_pairs(
    bands: DataFrame,
    max_bucket_size: int | None = 4096,
    dedup: bool = True,
) -> DataFrame:
    """Self-join band buckets -> distinct candidate pairs (a < b).
    The join key (band, band_key) keeps the shuffle proportional to
    bucket collisions, not n^2.

    ``max_bucket_size`` is the residual skew guard: with exact
    duplicates pre-collapsed (collapse_shingle_duplicates), a bucket
    this large means thousands of DISTINCT near-identical documents —
    its pair count is inherently quadratic, so it is dropped from
    candidate generation rather than letting one key stall the stage.
    This trades recall on pathological boilerplate clusters for
    bounded work; pass None to disable. (AQE skew-split would spread
    the shuffle but cannot shrink the C(n,2) pair blowup itself.)"""
    if max_bucket_size is not None:
        sizes = bands.groupBy("band", "band_key").agg(
            F.count(F.lit(1)).alias("__bucket_n")
        )
        bands = (
            bands.join(sizes, ["band", "band_key"])
            .filter(F.col("__bucket_n") <= max_bucket_size)
            .drop("__bucket_n")
        )
    a = bands.select("band", "band_key", F.col("doc_id").alias("doc_a"))
    b = bands.select("band", "band_key", F.col("doc_id").alias("doc_b"))
    out = (
        a.join(b, ["band", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )
    # ``dedup=False`` defers uniqueness to the caller (the PPJoin r8
    # pattern: verify every banded contribution, dedup the far smaller
    # threshold-surviving set) — duplicates are bounded by the band
    # count per true pair.
    return out.distinct() if dedup else out


def exact_jaccard(
    pairs: DataFrame, shingled: DataFrame, threshold: float | None = None
) -> DataFrame:
    """Re-verify candidates with exact Jaccard on shingle sets.
    ``shingled.shingles`` may also hold the 60-bit shingle hashes of
    minhash_index_rows (dedup_incremental_step): the same values
    barring a 2^-60 collision.

    ``threshold``: when the caller will keep only J >= threshold
    rows anyway (minhash_pairs' shape), passing it here applies the
    LOSSLESS length filter from the prefix-join literature BEFORE
    the expensive set intersection: J >= t requires
    min(|A|,|B|) >= t/(1+t) * (|A|+|B|) because |A∩B| <= min(|A|,|B|)
    — cross-multiplied to exact integers (no float boundary), so no
    pair at or above the threshold is ever dropped. Measured at sf1:
    prunes 23.8% of LSH candidates (size-mismatched bucket
    collisions) off the string-array intersect, the sf1 wall. The
    filter reads ``F.size`` of the two shingle arrays the verify join
    brings in anyway, so each side is broadcast once, and a pruned
    pair never reaches the intersect."""
    sa = shingled.select(
        F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")
    )
    sb = shingled.select(
        F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    # The candidate-pair side fans out far wider than the per-doc
    # shingle table — broadcast the doc side so the pair stream never
    # shuffles. (At 100 TB with a shingle table too big to broadcast,
    # drop the hint and let AQE pick the shuffle join + skew split.)
    joined = pairs.join(F.broadcast(sa), "doc_a").join(F.broadcast(sb), "doc_b")
    if threshold is not None:
        from fractions import Fraction

        frac = Fraction(str(threshold))
        t_num, t_den = frac.numerator, frac.denominator
        na, nb = F.size("sh_a"), F.size("sh_b")
        joined = joined.filter(
            F.least(na, nb) * F.lit(t_num + t_den) >= (na + nb) * F.lit(t_num)
        )
    return joined.select(
        "doc_a",
        "doc_b",
        F.round(inter / union, 6).alias("jaccard"),
        # unrounded ratio for threshold compares: round-at-6
        # would admit J in [t-5e-7, t) that the exact tier
        # (ngram_pairs / jaccard_prefix_pairs, both unrounded)
        # legitimately excludes — see the ngram_pairs note
        (inter / union).alias("__jac_raw"),
    )


def minhash_pairs(
    docs: DataFrame, max_bucket_size: int | None = 4096
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline over any (doc_id, text)
    DataFrame: shingle -> collapse exact-duplicate shingle sets ->
    sign -> band -> bucket-join (skew-capped) -> exact-Jaccard verify
    -> representative pairs over threshold.

    The shingle table feeds three plan branches (signing + both
    sides of the verify join) and the band self-join reads the
    signature table twice — persist both, or the whole
    tokenize+shingle+md5 subtree recomputes once per branch (4x the
    work; measured 34s -> 9s at sf0.1). Same policy a 100 TB run
    would use, with StorageLevel.DISK_ONLY there. The (small) pair
    result is materialized via an eager localCheckpoint so both
    caches can be unpersisted before returning — repeated calls in
    one session leak no cached blocks. The pairs come back in no
    particular order: sorting them here would cost a range-sampling
    job that re-runs the verify stage, and the cluster steps discard
    the order anyway. ``dedup_minhash`` sorts for presentation."""
    shingled = collapse_shingle_duplicates(
        shingle_docs(spread_scan(docs), n=2)
    ).persist()
    sigs = minhash_signatures(shingled).persist()
    bands = lsh_band_keys(sigs)
    cands = minhash_candidate_pairs(bands, max_bucket_size=max_bucket_size)
    result = (
        exact_jaccard(cands, shingled, threshold=JACCARD_THRESHOLD)
        .filter(F.col("__jac_raw") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )
    try:
        return result.localCheckpoint(eager=True)
    finally:
        shingled.unpersist()
        sigs.unpersist()


def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: MinHash-LSH near-dup pairs on the documents
    table. Pairs are between exact-duplicate-group REPRESENTATIVES
    (min doc_id per identical shingle set); the oracle SQL applies
    the same collapse.

    max_bucket_size=None: the DuckDB oracle has no bucket cap, so the
    oracle-checked entry must not drop buckets either (a >cap cluster
    of DISTINCT near-identical docs would silently diverge from the
    oracle). Production runs keep minhash_pairs' default cap — the
    residual-skew guard is a deliberate recall/cost trade there."""
    return minhash_pairs(
        load_table(spark, sf_dir, "documents"), max_bucket_size=None
    ).orderBy("doc_a", "doc_b")


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: near-dup CLUSTERS — the step after pair
    detection a real dedup run needs. MinHash-verified pairs become
    edges; connected components collapse them into clusters with the
    min doc_id as representative (keep rule: drop every doc where
    doc_id != cluster_rep). Oracle: the same components via a
    recursive CTE over the identically-constructed pair set."""
    from mapreducego_spark.operators.graph import connected_components

    pairs = minhash_pairs(
        load_table(spark, sf_dir, "documents"), max_bucket_size=None
    ).select("doc_a", "doc_b")
    return connected_components(pairs).orderBy("doc_id")


MAX_POSTING_LIST = 10_000


def ngram_pairs(
    docs: DataFrame, max_posting: int = MAX_POSTING_LIST
) -> DataFrame:
    """Exact n-gram Jaccard near-dup via inverted-index join (no
    LSH approximation): explode shingles, join on shingle, count
    shared, compute J = inter / (|A|+|B|-inter). The join on the
    shingle key is the classic inverted-index candidate generation —
    exact but O(sum of posting-list^2); MinHash above is its
    at-scale replacement. Threshold keeps output small.

    Quadratic-blowup guard: this is the exact BASELINE, so rather
    than silently degrade it fails loudly — any shingle whose posting
    list exceeds ``max_posting`` raises at execution time
    (F.assert_true inside the plan; a 10k posting list alone implies
    ~50M candidate pairs). Route such corpora through minhash_pairs,
    whose collapse + bucket cap handle them linearly."""
    shingled = shingle_docs(spread_scan(docs), n=2)
    sizes = shingled.select("doc_id", F.size("shingles").alias("n_sh"))
    posting = shingled.select("doc_id", F.explode("shingles").alias("sh"))
    post_sizes = posting.groupBy("sh").agg(F.count(F.lit(1)).alias("__n_post"))
    posting = (
        posting.join(post_sizes, "sh")
        .filter(
            guard_limit(
                F.col("__n_post"),
                max_posting,
                F.concat(
                    F.lit("ngram_jaccard: posting list for shingle '"),
                    F.col("sh"),
                    F.lit(f"' exceeds max_posting={max_posting}; "
                          "use minhash_pairs for this corpus"),
                ),
            )
        )
        .drop("__n_post")
    )
    pa = posting.select(F.col("doc_id").alias("doc_a"), "sh")
    pb = posting.select(F.col("doc_id").alias("doc_b"), "sh")
    inter = (
        pa.join(pb, "sh")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    # Threshold on the UNROUNDED ratio (advisor finding, r5): the
    # prefix/length filters of jaccard_prefix_pairs guarantee
    # candidate generation only for true J >= t, so a rounded
    # compare (round(J,6) >= t) would admit J in [t-5e-7, t) here
    # while the filtered variant could legitimately prune it. Both
    # engines compute inter/union as one IEEE double division of
    # small exact integers, so the unrounded compare is bit-identical
    # cross-engine; the OUTPUT column stays rounded to 6 for display.
    jac = F.col("n_inter").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_inter")
    ).cast("double")
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


def ngram_jaccard_pairs(
    spark: SparkSession, sf_dir: str, max_posting: int = MAX_POSTING_LIST
) -> DataFrame:
    """Registry entry: exact n-gram Jaccard pairs on documents."""
    return ngram_pairs(load_table(spark, sf_dir, "documents"), max_posting)


def simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document from md5 token hashes.

    Per token: 64 bits from the first 16 hex chars of md5(token);
    each bit contributes +1/-1 weighted by the token's occurrence
    count. Final bit b = 1 iff the sum is > 0. Output is the 64-char
    bit string (engine-portable; no 64-bit overflow games).
    Construction: explode (doc, token, count) x 64 bit positions ->
    groupBy (doc, bit) -> sign -> assemble string. All JVM
    expressions, fully oracle-checkable.
    """
    docs = spread_scan(load_table(spark, sf_dir, "documents"))

    # Summing +-1 per token OCCURRENCE equals summing +-w per distinct
    # (doc, token) with w = occurrence count, so the per-(doc,tok)
    # count shuffle of the naive construction is dropped entirely.
    # The 64 bits come from the first 16 hex chars of md5(token),
    # parsed ONCE into two 32-bit int chunks (conv) — bit tests are
    # then integer shifts, not per-bit string ops. 64 wide
    # sum-aggregates replace the 64x row explode: the shuffle carries
    # one 64-long partial per doc per map partition (map-side
    # combine) instead of 64x the token stream. And since
    # sum(+-1) = 2*sum(bit) - n, aggregating the raw bit with a
    # count avoids 64 conditional branches per row.
    occurrences = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(tokens_col(F.col("text"))).alias("tok"),
    ).select(
        "doc_id",
        *[
            F.conv(F.substring(F.md5("tok"), 1 + 8 * j, 8), 16, 10)
            .cast("long")
            .alias(f"c_{j}")
            for j in range(2)
        ],
    )

    def bit(i: int) -> Column:
        # chunk j holds hex chars 8j+1..8j+8 = bits 32j..32j+31,
        # MSB first (matches the per-hex-char MSB-first definition).
        return F.shiftright(F.col(f"c_{i // 32}"), 31 - i % 32).bitwiseAND(F.lit(1))

    sums = occurrences.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(bit(i)).alias(f"b_{i}") for i in range(64)],
    )
    return sums.select(
        "doc_id",
        F.concat(
            *[
                F.when(F.col(f"b_{i}") * 2 > F.col("n"), "1").otherwise("0")
                for i in range(64)
            ]
        ).alias("simhash"),
    )


def simhash_near_pairs(simhashed: DataFrame, max_hamming: int = 8) -> DataFrame:
    """Near-dup pairs by Hamming distance over SimHash, candidate-
    generated by 16-bit band equality (a 64-bit hash split into 4
    bands: any pair within Hamming<=3 of each other shares at least
    one identical band by pigeonhole; wider distances probabilistic).
    Fully deterministic given the simhash strings, so it carries its
    own DuckDB oracle (same band join + per-position bit compare in
    SQL) in addition to the simhash entry's."""
    # posexplode carries the band index, so candidates only form
    # between SAME-POSITION equal bands — the position-matched join
    # the pigeonhole argument actually needs, and a tighter candidate
    # set than value-only equality (no window, no extra sort).
    banded = simhashed.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(*[F.substring("simhash", 1 + 16 * i, 16) for i in range(4)])
        ).alias("band_pos", "band_val"),
    )
    a = banded.select(
        F.col("doc_id").alias("doc_a"),
        F.col("simhash").alias("sh_a"),
        "band_pos",
        "band_val",
    )
    b = banded.select(
        F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("sh_b"),
        "band_pos",
        "band_val",
    )
    hamming = F.size(
        F.filter(
            F.zip_with(
                F.split("sh_a", ""),
                F.split("sh_b", ""),
                lambda x, y: x != y,
            ),
            lambda v: v,
        )
    )
    return (
        a.join(b, ["band_pos", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sh_a", "sh_b")
        .distinct()
        .select("doc_a", "doc_b", hamming.cast("long").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# Incremental dedup against a persisted signature index — the production
# shape for CONTINUOUS ingestion: sign each new batch once, dedup it
# against the accumulated index (band join) and itself, then append its
# representatives to the index. The corpus is never re-shingled.
# ---------------------------------------------------------------------------


def minhash_index_rows(docs: DataFrame) -> DataFrame:
    """The persisted-index row shape: (doc_id, fp, sh_h, m_0..m_15).

    fp    — xxhash64 exact-duplicate fingerprint of the shingle array;
    sh_h  — the 60-bit md5 shingle hashes (8 bytes/shingle, ~the size
            of the text itself; enables EXACT Jaccard verification
            against future batches without storing or re-reading the
            original documents);
    m_i   — the MinHash signature, derived from sh_h with the same
            affine family as minhash_signatures (hm = h % P), so an
            index row is bit-identical to the one-shot pipeline's
            signature for the same text.

    Everything is computed scan-side with array expressions — the
    signature needs NO explode/groupBy here (array_min over a
    transform), so building index rows for a batch is shuffle-free."""
    shingled = shingle_docs(spread_scan(docs), n=2)
    hashed = shingled.select(
        "doc_id",
        F.xxhash64(F.array_join("shingles", "|")).alias("fp"),
        F.transform(
            "shingles",
            lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint"),
        ).alias("sh_h"),
    )
    return hashed.select(
        "doc_id",
        "fp",
        "sh_h",
        *[
            F.array_min(
                F.transform(
                    "sh_h",
                    lambda h: (F.lit(a) * (h % MINHASH_P) + F.lit(b)) % MINHASH_P,
                )
            ).alias(f"m_{i}")
            for i, (a, b) in enumerate(_minhash_coeffs())
        ],
    )


def dedup_incremental_step(
    batch_rows: DataFrame,
    index_rows: DataFrame,
    max_bucket_size: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """One ingestion step: near-dup pairs for a new batch against the
    index and itself, plus the batch's representative rows to append.

    Exact-duplicate semantics mirror the one-shot pipeline's collapse
    (collapse_shingle_duplicates) PROVIDED batches arrive in doc_id
    order: a batch doc whose fp already exists in the index is a
    member of an indexed group (anti-joined away — the indexed row IS
    the global min-id representative); within the batch, min doc_id
    per fp wins. Under that ordering the surviving representatives —
    and therefore the emitted pair set — are IDENTICAL to running the
    whole corpus at once (pytest + shared oracle prove it).

    Scale: the new batch signs in one scan (no shuffle), the index is
    only ever read band-wise for the bucket join and never
    re-shingled; per-step cost is O(|batch| + collisions), not
    O(|corpus|)."""
    fresh = batch_rows.join(index_rows.select("fp"), "fp", "left_anti")
    reps = (
        fresh.groupBy("fp")
        .agg(
            F.min_by(
                F.struct(*[F.col(c) for c in fresh.columns]), F.col("doc_id")
            ).alias("s")
        )
        .select("s.*")
        # Materialize ONCE: reps feeds four subtrees (own band keys,
        # internal pairs, the cross band-join, the Jaccard hash side)
        # and without this each re-runs the full shingle+md5 signing
        # scan — measured ~2x the whole entry's cost at sf0.1. The
        # checkpoint is sized O(|batch|), never O(|corpus|).
        .localCheckpoint(eager=True)
    )
    bands_new = lsh_band_keys(reps)
    # Verify ALL banded contributions, dedup only the survivors (the
    # r8 PPJoin pattern): a true near-dup pair colliding in k bands
    # costs k cheap hash-Jaccard probes instead of three wide
    # candidate-stream shuffles; random collisions are mostly
    # single-band so the duplication factor is small by construction.
    internal = minhash_candidate_pairs(
        bands_new, max_bucket_size=max_bucket_size, dedup=False
    )
    cross = (
        lsh_band_keys(index_rows)
        .select("band", "band_key", F.col("doc_id").alias("doc_a"))
        .join(
            bands_new.select("band", "band_key", F.col("doc_id").alias("doc_b")),
            ["band", "band_key"],
        )
        .select("doc_a", "doc_b")
    )
    cands = internal.unionByName(cross)
    pairs = (
        exact_jaccard(
            cands,
            index_rows.unionByName(reps).select(
                "doc_id", F.col("sh_h").alias("shingles")
            ),
        )
        .filter(F.col("__jac_raw") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
        .distinct()
    )
    return pairs, reps


def dedup_incremental(
    spark: SparkSession, sf_dir: str, persist_index: bool = False
) -> DataFrame:
    """Registry entry: the documents table ingested as TWO doc_id-
    ordered batches through a signature index — batch 1 vs an empty
    index, batch 2 vs batch 1's accumulated representatives. Returns
    the union of both steps' pairs, oriented a < b.

    ``persist_index=True`` writes the index to parquet between the
    steps and re-reads it — the durable production round-trip, kept
    under pytest (test_incremental_parquet_round_trip). The default
    hands step 1's representatives to step 2 as the already-
    materialized localCheckpoint (dedup_incremental_step checkpoints
    reps), which is the same DATA by construction — the pytest proves
    byte-equal results both ways — without a redundant write+read in
    the benchmarked path.

    The pair set equals dedup_minhash exactly (each unordered pair
    falls in exactly one step: both ids in batch 1, both in batch 2,
    or split across — the cross band-join finds the split ones), so
    this entry SHARES dedup_minhash's oracle SQL: the hash match
    proves the incremental decomposition, not just the query."""
    import shutil
    import tempfile

    docs = load_table(spark, sf_dir, "documents")
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
    mid = (int(lo) + int(hi)) // 2
    rows1 = minhash_index_rows(docs.filter(F.col("doc_id") <= mid))
    rows2 = minhash_index_rows(docs.filter(F.col("doc_id") > mid))
    empty = spark.createDataFrame([], rows1.schema)
    pairs1, reps1 = dedup_incremental_step(rows1, empty)
    if persist_index:
        tmp = tempfile.mkdtemp(prefix="mrg_minhash_index_")
        try:
            pairs1 = pairs1.localCheckpoint(eager=True)
            reps1.write.mode("overwrite").parquet(f"{tmp}/index")
            index = spark.read.parquet(f"{tmp}/index")
            pairs2, _ = dedup_incremental_step(rows2, index)
            pairs2 = pairs2.localCheckpoint(eager=True)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    else:
        pairs2, _ = dedup_incremental_step(rows2, reps1)
    both = pairs1.unionByName(pairs2)
    return both.select(
        F.least("doc_a", "doc_b").alias("doc_a"),
        F.greatest("doc_a", "doc_b").alias("doc_b"),
        "jaccard",
    ).orderBy("doc_a", "doc_b")


# --- Bloom-gated reference dedup -----------------------------------------
#
# "Have we already trained on this?" — dedup a NEW corpus against a
# persisted REFERENCE corpus. The broadcast-join answer dies first at
# scale (1B reference hashes ~ 8+ GB as a join side); the Bloom
# filter packs the same membership test into bits_per_item bits
# (~1.2 GB at 1B items, 10 bits/item, fpp ~ 1%). The filter is built
# DISTRIBUTED (bit_or over packed 64-bit words, one bounded sparse
# collect of <= m/64 rows), probed JVM->Arrow (positions computed by
# xxhash64 in the scan, the Python side only indexes a numpy bitset),
# and false positives are removed by an EXACT anti-join that touches
# bloom-positives only — so the result is exact for ANY fpp, and the
# expensive shuffle is proportional to the true duplicate rate, not
# the corpus size. Bloom-negatives never shuffle at all.

BLOOM_NUM_HASHES = 4


def bloom_positions(col: Column, k: int, m: int) -> list[Column]:
    """k seeded bit positions in [0, m): pmod(xxhash64(value, seed)).
    Seeding via the extra hashed literal keeps everything JVM-side
    and deterministic across build and probe."""
    return [
        F.pmod(F.xxhash64(col, F.lit(i)), F.lit(m)).alias(f"__bp{i}")
        for i in range(k)
    ]


def build_bloom_bitset(
    df: DataFrame, col: Column, m: int, k: int = BLOOM_NUM_HASHES
):
    """Distributed Bloom build: explode the k positions, pack into
    (word_index, bit_or(bit)) 64-bit words map-side, collect the
    sparse word list (<= m/64 rows — the ONLY driver materialization,
    bounded by the filter size the caller chose, never by |df|).
    Returns a numpy uint64 bitset of m/64 words."""
    if m % 64 or m <= 0:
        raise ValueError("bloom m must be a positive multiple of 64")
    if m > (1 << 34):
        raise ValueError("bloom m over 2^34 bits (~2 GiB) — size it down")
    words = (
        df.select(F.explode(F.array(*bloom_positions(col, k, m))).alias("p"))
        .select(
            F.floor(F.col("p") / 64).cast("long").alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))").alias("b"),
        )
        .groupBy("w")
        .agg(F.bit_or("b").alias("word"))
        .collect()
    )
    bits = np.zeros(m // 64, dtype=np.uint64)
    for r in words:
        bits[r.w] = np.uint64(r.word & 0xFFFFFFFFFFFFFFFF)
    return bits


def bloom_probe_udf(bits, k: int):
    """pandas_udf: array of k positions -> bloom membership boolean.
    The bitset rides the UDF closure to every worker once (Arrow
    batches carry only the k longs per row)."""

    @F.pandas_udf("boolean")
    def _probe(pos: pd.Series) -> pd.Series:
        if len(pos) == 0:
            return pd.Series([], dtype=bool)
        arr = np.asarray(pos.tolist(), dtype=np.int64)
        words = bits[arr >> 6]
        mask = np.uint64(1) << (arr & 63).astype(np.uint64)
        return pd.Series(((words & mask) != 0).all(axis=1))

    return _probe


def dedup_vs_reference(
    new_docs: DataFrame,
    ref_docs: DataFrame,
    text_col: str = "text",
    m: int = 1 << 16,
    k: int = BLOOM_NUM_HASHES,
) -> DataFrame:
    """Rows of ``new_docs`` whose ``text_col`` content does not occur
    in ``ref_docs`` — exact, with the Bloom pre-filter routing:

      bloom-negative  -> definitely novel, passes through (no shuffle)
      bloom-positive  -> exact anti-join on sha2-256 vs the reference

    The output is EXACT regardless of m/k (false positives only cost
    an anti-join probe; there are no false negatives). Size m at
    ~10 bits per expected reference item for ~1% fpp."""
    probe = bloom_probe_udf(build_bloom_bitset(ref_docs, F.col(text_col), m, k), k)
    flagged = new_docs.withColumn(
        "__bloom_hit", probe(F.array(*bloom_positions(F.col(text_col), k, m)))
    )
    negatives = flagged.filter(~F.col("__bloom_hit")).drop("__bloom_hit")
    positives = flagged.filter(F.col("__bloom_hit")).drop("__bloom_hit")
    ref_hashes = ref_docs.select(
        F.sha2(F.col(text_col), 256).alias("__rh")
    ).distinct()
    survivors = (
        positives.withColumn("__rh", F.sha2(F.col(text_col), 256))
        .join(ref_hashes, "__rh", "left_anti")
        .drop("__rh")
    )
    return negatives.unionByName(survivors)


def dedup_against_reference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: documents split into an overlapping reference
    (doc_id % 3 in (0,1)) and new batch (doc_id % 3 in (1,2)); the
    %3==1 docs are in BOTH, so the bloom-positive -> anti-join path
    must remove every one of them, while %3==2 docs survive unless
    their text duplicates a reference doc. Oracle is the plain
    NOT IN anti-join on raw text."""
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "text",
        "lang",
        F.col("n_chars").cast("long").alias("n_chars"),
    )
    ref = docs.filter((F.col("doc_id") % 3).isin(0, 1))
    new = docs.filter((F.col("doc_id") % 3).isin(1, 2))
    out = dedup_vs_reference(new, ref, m=1 << 14)
    return out.select("doc_id", "lang", "n_chars").orderBy("doc_id")


def containment_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    max_posting: int = MAX_POSTING_LIST,
) -> DataFrame:
    """Asymmetric shingle CONTAINMENT (Broder 1997: |A∩B| / |A|) —
    the doc-inside-doc detector Jaccard structurally misses: a
    paragraph quoted verbatim inside a 100x-longer page has
    containment ~1.0 but Jaccard ~0.01, so resemblance-based dedup
    (minhash/ngram_jaccard) never pairs them. Containment is what
    catches wire-syndication wraps, quote farms, and
    boilerplate-plus-payload pages.

    Same inverted-index candidate generation (and the same loud
    posting-list guard) as ngram_pairs; the verify step just divides
    the shared-shingle count by EACH side's size. Pairs survive when
    either direction reaches ``threshold``. At scale the LSH
    replacement is the same minhash pipeline with a containment
    re-verify on candidates — candidate recall for high-containment/
    low-Jaccard pairs then depends on banding aimed at the smaller
    doc, which is why production systems sign fixed-length CHUNKS
    (dedup_spans) rather than whole docs."""
    shingled = shingle_docs(spread_scan(docs), n=2)
    sizes = shingled.select("doc_id", F.size("shingles").alias("n_sh"))
    posting = shingled.select("doc_id", F.explode("shingles").alias("sh"))
    post_sizes = posting.groupBy("sh").agg(F.count(F.lit(1)).alias("__n_post"))
    posting = (
        posting.join(post_sizes, "sh")
        .filter(
            guard_limit(
                F.col("__n_post"),
                max_posting,
                F.concat(
                    F.lit("containment_pairs: posting list for shingle '"),
                    F.col("sh"),
                    F.lit(f"' exceeds max_posting={max_posting}; "
                          "use chunked span dedup for this corpus"),
                ),
            )
        )
        .drop("__n_post")
    )
    pa = posting.select(F.col("doc_id").alias("doc_a"), "sh")
    pb = posting.select(F.col("doc_id").alias("doc_b"), "sh")
    inter = (
        pa.join(pb, "sh")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    c_a = F.round(F.col("n_inter").cast("double") / F.col("n_a").cast("double"), 6)
    c_b = F.round(F.col("n_inter").cast("double") / F.col("n_b").cast("double"), 6)
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            c_a.alias("containment_a"),
            c_b.alias("containment_b"),
        )
        .filter(
            (F.col("containment_a") >= threshold)
            | (F.col("containment_b") >= threshold)
        )
        .orderBy("doc_a", "doc_b")
    )


def containment_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: containment pairs on documents."""
    return containment_pairs(load_table(spark, sf_dir, "documents"))


def jaccard_prefix_pairs(
    docs: DataFrame, threshold: float = JACCARD_THRESHOLD
) -> DataFrame:
    """Exact Jaccard similarity join via PREFIX FILTERING (AllPairs,
    Bayardo et al. WWW'07; PPJoin, Xiao et al. WWW'08) — the
    at-scale replacement for ngram_pairs' full inverted-index join.
    Same output contract (all pairs with J >= threshold, rounded to
    6), so the registry entry shares ngram_jaccard's oracle and the
    driver hash match IS the proof that the filter loses no pairs.

    Why it scales where the full index join doesn't: a pair with
    J >= t must share at least one shingle within the FIRST
    |s| - ceil(t*|s|) + 1 shingles of each doc's canonically-sorted
    shingle list (sorted rarest-first, ties lexical). So only that
    prefix is indexed — posting lists shrink by ~(1-t) and, because
    prefixes start at the RAREST shingles, the quadratic head of the
    frequency distribution (ngram_pairs' guard_limit failure mode)
    mostly disappears from the index. Candidates then pass the
    length filter (t*|A| <= |B|) and are verified EXACTLY on the
    full shingle arrays (array_intersect on the pair row — touches
    candidates only, never all pairs).

    Canonical order is by (document frequency asc, shingle asc),
    materialized as DENSE INTEGER shingle ids via the distributed
    two-phase rank (operators.twophase) — ascending sid IS the
    canonical order, per-doc lists are plain sorted long arrays, and
    exact verification intersects longs instead of strings (~3x
    cheaper on the intersect stage, zero collision caveat).

    Physical-plan notes (the r5 entry measured 64-74s at sf0.1;
    this form runs the same logical algorithm in ~1/4 the wall):

    - `sorted_docs` is eagerly localCheckpointed: it feeds FOUR
      subtrees (both sides of the prefix self-join and both sides of
      the verification join), and Catalyst does not de-duplicate
      common DataFrame subtrees, so without the checkpoint the
      scan->tokenize->df-join->sort pipeline executed ~4x. Its size
      is |docs| rows of ~|shingles| strings — executor-distributed,
      never driver-side.
    - Verification reuses `sorted_sh` (the canonically sorted FULL
      shingle list) instead of re-shingling: array_intersect is
      order-insensitive, so a second shingling pass would be pure
      waste.
    - PPJoin positional filter (Xiao et al. WWW'08 §3.2): a shared
      prefix shingle at 1-based positions (p_a, p_b) of the two
      canonical lists bounds the overlap by
      min(n_a - p_a, n_b - p_b) + 1 (everything before p on either
      side is disjoint-or-already-counted under the shared total
      order), and J >= t  <=>  overlap >= t/(1+t) * (n_a+n_b).
      Applied PER CONTRIBUTION ROW inside the join's codegen stage,
      so pruned contributions never leave it.
    - Candidate dedup on the verify exchange (r18; supersedes r8's
      verify-all): contributions still cross exactly ONE exchange —
      but that exchange is now keyed (doc_a, doc_b), so the distinct
      aggregate reuses it for free and only UNIQUE pairs reach the
      intersect (r8's objection was the *extra* shuffle its
      candidate-level distinct paid back then; keying the already-
      mandatory re-spread exchange on the pair removes the extra
      shuffle while keeping the dedup). The 1.67x contribution
      duplication (multi-shingle pairs) is pruned before the
      expensive stage instead of after it.
    - Contributions are re-spread over the full core count before
      the verification join: verification cost is CPU per pair,
      not bytes, and WITHOUT this exchange the intersect fuses into
      the prefix-join stage whose task count AQE sized for join
      bytes — measured 43s vs 8s at sf0.1.
    - Overlap counting stays JVM array_intersect: an Arrow batch
      kernel (searchsorted over the flat buffers) was measured both
      as a post-join map (14.1s — the arrays crossing the Python
      boundary dwarf the intersect) and as a broadcast-dict pair
      kernel (5.9s) and lost to the 4.2-4.9s codegen form; see the
      in-line note at the verify step.
    - Indexing-prefix (mid-prefix) asymmetry (Bayardo et al. WWW'07
      §3.1 / Xiao et al. WWW'08): orient every pair so A is the
      SMALLER record ((n, id) order); then O(A,B) >= t/(1+t) *
      (n_a+n_b) >= 2t/(1+t)*n_a, and the FIRST common shingle under
      the shared total order must sit within A's first
      n_a - ceil(2t/(1+t)*n_a) + 1 positions (all O shared shingles
      sit at or after it, and they cannot all fit in the
      ceil(2t/(1+t)*n_a) - 1 < O tail slots) while also sitting in
      B's ordinary probe prefix (O >= t*n_b via the length filter).
      So the A side explodes only the mid-prefix — one third shorter
      at t=0.5 — provably losing no pairs. (A document-frequency
      ceiling cut would NOT be lossless here: a true pair whose only
      shared prefix shingle is frequent would vanish; the mid-prefix
      is the exact lever from the same literature.)"""
    # Exact rational form of the threshold so every PPJoin bound is
    # integer arithmetic: a float ceil/multiply can land an ulp above
    # the true rational value and falsely PRUNE a true pair (advisor
    # finding, r6 — safe at the default 0.5 but not for arbitrary t).
    from fractions import Fraction

    frac = Fraction(str(threshold))
    t_num, t_den = frac.numerator, frac.denominator

    from mapreducego_spark.operators.twophase import two_phase_global_rank

    # Lazy checkpoint on the shingle table (r18, guide §2.4): the
    # posting explode feeds TWO subtrees (the document-frequency
    # aggregate and the sid join below), and Catalyst does not
    # de-duplicate common subtrees — without this the whole
    # tokenize+shingle pipeline executed twice (measured: sorted_docs
    # build 2.97s -> 1.91s warm at sf0.1). Lazy, so the first stage
    # to touch it materializes it as a side effect (the sort_once
    # idiom); pre-explode, so the stored rows are one per doc, the
    # same grain the eager sorted_docs checkpoint below already
    # stores.
    shingled = shingle_docs(spread_scan(docs), n=2).localCheckpoint(
        eager=False
    )
    posting = shingled.select(
        "doc_id", F.explode("shingles").alias("sh")
    )
    df_tab = posting.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    # Dense integer shingle ids in the canonical (df asc, sh asc)
    # order, via the distributed two-phase rank: ascending sid IS the
    # canonical order, so per-doc lists sort on a plain long array
    # and — the real win — verification intersects LONG arrays
    # instead of strings (~same 3.5M-candidate set on the dense
    # fixture, one third the intersect CPU), exactly (no hash
    # collisions, unlike a 64-bit-hash verify).
    sids = two_phase_global_rank(
        df_tab, ["df", "sh"], rank_col="sid"
    ).select("sh", "sid")
    # per-doc shingle-id list sorted rarest-first (df asc, sh asc)
    sorted_docs = (
        posting.join(sids, "sh")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("sid")).alias("sorted_sh"))
        .select(
            "doc_id",
            "sorted_sh",
            F.size("sorted_sh").alias("n_sh"),
            # probe prefix: |s| - ceil(t*|s|) + 1, with
            # ceil(t*n) = (t_num*n + t_den - 1) div t_den exactly
            (
                F.col("n_sh")
                - F.floor(
                    (F.col("n_sh") * F.lit(t_num) + F.lit(t_den - 1))
                    / F.lit(t_den)
                ).cast("int")
                + 1
            ).alias("pref_len"),
            # indexing (mid) prefix for the smaller pair side:
            # |s| - ceil(2t/(1+t)*|s|) + 1
            (
                F.col("n_sh")
                - F.floor(
                    (
                        F.col("n_sh") * F.lit(2 * t_num)
                        + F.lit(t_num + t_den - 1)
                    )
                    / F.lit(t_num + t_den)
                ).cast("int")
                + 1
            ).alias("mid_len"),
        )
    ).localCheckpoint()
    # A side (the smaller record of each pair) explodes only the
    # mid-prefix; B side (larger) the full probe prefix
    pa = sorted_docs.select(
        F.col("doc_id").alias("doc_a"),
        F.col("n_sh").alias("n_a"),
        F.posexplode(F.slice("sorted_sh", 1, F.col("mid_len"))).alias(
            "pos0", "sh"
        ),
    ).select("doc_a", "n_a", (F.col("pos0") + 1).alias("p_a"), "sh")
    pb = sorted_docs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("n_sh").alias("n_b"),
        F.posexplode(F.slice("sorted_sh", 1, F.col("pref_len"))).alias(
            "pos0", "sh"
        ),
    ).select("doc_b", "n_b", (F.col("pos0") + 1).alias("p_b"), "sh")
    cands = (
        pa.join(pb, "sh")
        .filter(
            # orient: A strictly the smaller record ((n, id) order) —
            # each unordered pair is generated exactly once
            (
                (F.col("n_a") < F.col("n_b"))
                | (
                    (F.col("n_a") == F.col("n_b"))
                    & (F.col("doc_a") < F.col("doc_b"))
                )
            )
            # length filter t*|B| <= |A| (<= |B|) by exact integer
            # cross-multiplication (t = t_num/t_den)
            & (F.col("n_b") * F.lit(t_num) <= F.col("n_a") * F.lit(t_den))
            # positional filter applied PER CONTRIBUTION ROW: a
            # shared prefix shingle at positions (p_a, p_b) bounds
            # the overlap by min(n_a-p_a, n_b-p_b) + 1, and the pair
            # needs overlap >= t/(1+t)*(n_a+n_b) (cross-multiplied
            # to integers). Runs inside the join's codegen stage, so
            # pruned contributions never reach the verify exchange.
            & (
                (
                    F.least(
                        F.col("n_a") - F.col("p_a"),
                        F.col("n_b") - F.col("p_b"),
                    )
                    + 1
                )
                * F.lit(t_num + t_den)
                >= (F.col("n_a") + F.col("n_b")) * F.lit(t_num)
            )
        )
        .select("doc_a", "doc_b")
    )
    n_cores = cands.sparkSession.sparkContext.defaultParallelism
    sa = sorted_docs.select(
        F.col("doc_id").alias("doc_a"), F.col("sorted_sh").alias("sh_a")
    )
    sb = sorted_docs.select(
        F.col("doc_id").alias("doc_b"), F.col("sorted_sh").alias("sh_b")
    )
    # Candidate dedup BEFORE verification (r18, guide §2.3): a pair
    # contributes once per shared mid-prefix shingle (duplication
    # factor 1.67x measured at sf0.1), and r8's verify-all argument
    # only held while the intersect ran per contribution. The
    # explicit repartition fixes the verify stage's parallelism (the
    # r8 43s-vs-8s trap: without it AQE sizes the post-join stage
    # for join bytes, not intersect CPU) AND is keyed on exactly the
    # dedup aggregate's grouping columns, so the aggregate reuses
    # the one exchange the old shape already paid (repartition by
    # doc_a) — strictly fewer pairs reach the intersect for zero
    # extra shuffles. The post-verify distinct() this obsoletes is
    # dropped with it.
    cands = cands.repartition(
        n_cores * 2, "doc_a", "doc_b"
    ).dropDuplicates()

    # Broadcast the per-doc array side: Spark cannot size-estimate a
    # localCheckpointed frame, so it planned BOTH verify joins as
    # SortMergeJoin — two extra exchanges + sorts of the multi-
    # million-row candidate stream for a doc table of a few MB.
    # (Same trade as exact_jaccard: at 100 TB with an
    # unbroadcastable doc table, drop the hint and AQE picks the
    # shuffle join + skew split.)
    # Verification stays a JVM codegen intersect ON PURPOSE (r18
    # measured): an Arrow batch kernel was built and benchmarked two
    # ways — joined-arrays (lists cross the Python boundary: 14.1s)
    # and broadcast-dict (only the 16-byte pair rows cross, arrays
    # gathered worker-side from a task-local store: 5.9s) — and both
    # LOSE to the broadcast-join + array_intersect form (4.2-4.9s in
    # the same session): for sorted long arrays of this length the
    # boundary + gather overhead exceeds the hash-set cost the
    # kernel removes. Recorded in OPTIMIZATION_r18.md; the win that
    # survived measurement is the candidate dedup above.
    verified = (
        cands.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("n_inter"),
            F.size("sh_a").alias("n_a"),
            F.size("sh_b").alias("n_b"),
        )
        .withColumn(
            "__jac",
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast(
                "double"
            ),
        )
        # unrounded compare — matches the filters' J >= t guarantee
        # (see ngram_pairs for the cross-engine determinism argument)
        .filter(F.col("__jac") >= threshold)
        # pairs were oriented smaller-first for the mid-prefix; the
        # output contract is doc_a < doc_b by id
        .select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b"),
            F.round("__jac", 6).alias("jaccard"),
        )
        # candidates are already distinct (the exchange-reusing
        # dropDuplicates above), so each surviving pair appears
        # exactly once — no post-verify distinct needed
        # Materialize the (bounded: surviving pairs only) result
        # before the global ORDER BY: the range partitioner runs a
        # SAMPLING job over its child, and with the broadcast verify
        # joins there is no shuffle boundary between the sort and
        # the expensive intersect stage — without this checkpoint
        # the entire verification executes twice (measured 2x the
        # query wall at sf0.1).
        .localCheckpoint(eager=True)
    )
    return verified.orderBy("doc_a", "doc_b")


def jaccard_prefix_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: prefix-filtered exact Jaccard pairs; shares
    ngram_jaccard's oracle — equality proves zero lost pairs."""
    return jaccard_prefix_pairs(load_table(spark, sf_dir, "documents"))


def dedup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH quality audit: MinHash-LSH near-dup pairs measured against
    the EXACT prefix-filtered Jaccard join over the same
    representative set — the recall/precision readout a pipeline
    owner checks before trusting an approximate dedup tier at scale
    (banding theory promises ~s-curve recall at the threshold; this
    entry measures it instead of assuming it).

    Ground truth: exact pairs (J >= threshold) restricted to
    exact-duplicate-group representatives — the same collapse
    minhash_pairs applies, so both sides see the identical pair
    universe. FP is structurally zero (LSH candidates are verified
    with the same exact-Jaccard arithmetic); FN counts true pairs
    whose signatures never collided in any band. One summary row:
    counts + recall (a ratio of small exact integers, rounded to 6).

    Scale shape: both pipelines are the bucketed/prefix-filtered
    at-scale forms; the final compare is a full-outer join on the
    bounded pair sets, not on the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    reps = (
        collapse_shingle_duplicates(shingle_docs(spread_scan(docs), n=2))
        .select("doc_id")
        .localCheckpoint(eager=True)
    )
    ex = (
        jaccard_prefix_pairs(docs)
        .select("doc_a", "doc_b")
        .join(reps.select(F.col("doc_id").alias("doc_a")), "doc_a", "left_semi")
        .join(reps.select(F.col("doc_id").alias("doc_b")), "doc_b", "left_semi")
        .withColumn("__ex", F.lit(1))
    )
    mh = (
        minhash_pairs(docs, max_bucket_size=None)
        .select("doc_a", "doc_b")
        .withColumn("__mh", F.lit(1))
    )
    j = ex.join(mh, ["doc_a", "doc_b"], "full_outer")
    tp = F.sum((F.col("__ex").isNotNull() & F.col("__mh").isNotNull()).cast("long"))
    fn = F.sum((F.col("__ex").isNotNull() & F.col("__mh").isNull()).cast("long"))
    fp = F.sum((F.col("__ex").isNull() & F.col("__mh").isNotNull()).cast("long"))
    return j.agg(
        tp.alias("tp"), fn.alias("fn"), fp.alias("fp")
    ).select(
        (F.col("tp") + F.col("fn")).cast("long").alias("n_exact"),
        (F.col("tp") + F.col("fp")).cast("long").alias("n_lsh"),
        F.col("tp").cast("long").alias("tp"),
        F.col("fn").cast("long").alias("fn"),
        F.col("fp").cast("long").alias("fp"),
        # zero-denominator guard: Spark's non-ANSI divide yields NULL
        # on 0/0 while DuckDB yields NaN — pin NULL explicitly on
        # both sides (oracle uses NULLIF) so an empty exact-pair set
        # can't hash-diverge cross-engine
        F.when(
            (F.col("tp") + F.col("fn")) > 0,
            F.round(
                F.col("tp").cast("double")
                / (F.col("tp") + F.col("fn")).cast("double"),
                6,
            ),
        ).alias("recall"),
    )


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: near-dup clusters with a QUALITY keep rule —
    keep each cluster's longest member (n_chars desc, doc_id asc to
    break ties) instead of dedup_clusters' min-doc_id rule. This is
    the keep rule real pipelines want: of N near-identical crawls of
    a page, the longest capture is usually the most complete one,
    and min-id is an accident of crawl order. (Reference analog:
    none — the reference's wordcount plugin has no dedup at all;
    this extends the north-star LLM-pipeline tier.)

    Pipeline: MinHash-verified pairs -> connected components (both
    identical to dedup_clusters, sharing its oracle-proven pair set)
    -> per-cluster argmax by (n_chars, -doc_id). The ranking window
    partitions by cluster_rep — group size is bounded by cluster
    size, no global window. Output: one row per cluster."""
    from mapreducego_spark.operators.graph import connected_components
    from pyspark.sql import Window

    pairs = minhash_pairs(
        load_table(spark, sf_dir, "documents"), max_bucket_size=None
    ).select("doc_a", "doc_b")
    cc = connected_components(pairs)
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )
    j = cc.join(docs, "doc_id")
    wrank = Window.partitionBy("cluster_rep").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    wall = Window.partitionBy("cluster_rep")
    return (
        j.withColumn("rk", F.row_number().over(wrank))
        .withColumn(
            "n_members", F.count(F.lit(1)).over(wall).cast("long")
        )
        .filter(F.col("rk") == 1)
        .select(
            "cluster_rep",
            F.col("doc_id").alias("keep_doc_id"),
            F.col("n_chars").alias("keep_n_chars"),
            "n_members",
        )
        .orderBy("cluster_rep")
    )
