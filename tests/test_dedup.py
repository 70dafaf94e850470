"""Near-dedup properties: LSH recall against exact Jaccard, SimHash
bit-string shape and Hamming pairing, fingerprint normalization."""

from __future__ import annotations

import pyspark.sql.functions as F

from mapreducego_spark.functions.dedup import (
    JACCARD_THRESHOLD,
    _doc_shingles,
    dedup_minhash,
    ngram_jaccard_pairs,
    simhash_docs,
    simhash_near_pairs,
)


def test_minhash_finds_high_jaccard_pairs(spark, sf_dir):
    """Every pair the exact inverted-index method confirms at the
    threshold should also be surfaced by the LSH pipeline at this
    scale (bands are generous: 8 bands x 2 rows at J>=0.5 has
    miss probability (1 - J^2)^8 <= (1-0.25)^8 ~ 10%; the fixture's
    confirmed pairs all sit well above the threshold)."""
    exact = {
        (r.doc_a, r.doc_b) for r in ngram_jaccard_pairs(spark, sf_dir).collect()
    }
    lsh = {(r.doc_a, r.doc_b) for r in dedup_minhash(spark, sf_dir).collect()}
    assert lsh <= exact or not exact  # LSH verifies exactly -> no false positives
    if exact:
        recall = len(lsh & exact) / len(exact)
        assert recall >= 0.8, f"LSH recall {recall} below floor; pairs={exact}"


def test_minhash_jaccard_values_are_exact(spark, sf_dir):
    """The LSH pipeline re-verifies candidates with exact Jaccard, so
    every reported value must match an independent computation."""
    rows = dedup_minhash(spark, sf_dir).collect()
    shingles = {
        r.doc_id: set(r.shingles)
        for r in _doc_shingles(spark, sf_dir, 2).collect()
    }
    for r in rows:
        a, b = shingles[r.doc_a], shingles[r.doc_b]
        expected = round(len(a & b) / len(a | b), 6)
        assert abs(r.jaccard - expected) < 1e-9
        assert r.jaccard >= JACCARD_THRESHOLD


def test_simhash_shape_and_determinism(spark, sf_dir):
    rows = simhash_docs(spark, sf_dir).collect()
    assert all(len(r.simhash) == 64 and set(r.simhash) <= {"0", "1"} for r in rows)
    again = simhash_docs(spark, sf_dir).collect()
    assert {r.doc_id: r.simhash for r in rows} == {
        r.doc_id: r.simhash for r in again
    }


def test_simhash_near_pairs_hamming_is_correct(spark, sf_dir):
    sims = simhash_docs(spark, sf_dir)
    pairs = simhash_near_pairs(sims, max_hamming=8).collect()
    by_id = {r.doc_id: r.simhash for r in sims.collect()}
    for r in pairs:
        h = sum(
            1 for x, y in zip(by_id[r.doc_a], by_id[r.doc_b]) if x != y
        )
        assert h == r.hamming
        assert h <= 8


def test_banding_pigeonhole_guarantee(spark, sf_dir):
    """Pairs with Hamming <= 3 over 4 bands of 16 bits MUST share a
    band (pigeonhole) — the candidate generator cannot miss them."""
    sims = simhash_docs(spark, sf_dir)
    rows = sims.collect()
    by_id = {r.doc_id: r.simhash for r in rows}
    close = [
        (a, b)
        for i, a in enumerate(sorted(by_id))
        for b in sorted(by_id)[i + 1 :]
        if sum(1 for x, y in zip(by_id[a], by_id[b]) if x != y) <= 3
    ]
    found = {
        (r.doc_a, r.doc_b)
        for r in simhash_near_pairs(sims, max_hamming=3).collect()
    }
    assert set(close) <= found | set()


def test_incremental_equals_one_shot(spark):
    """Two doc_id-ordered batches through the parquet signature index
    must reproduce the one-shot pipeline's pair set exactly."""
    from mapreducego_spark.functions.dedup import dedup_incremental, dedup_minhash

    SF = "/root/testdata/sf0.01"
    inc = [(r.doc_a, r.doc_b, r.jaccard) for r in dedup_incremental(spark, SF).collect()]
    one = [(r.doc_a, r.doc_b, r.jaccard) for r in dedup_minhash(spark, SF).collect()]
    assert inc == one and inc


def test_incremental_parquet_round_trip(spark):
    """The durable index path (write step-1 reps to parquet, re-read
    for step 2) must produce byte-identical pairs to the default
    in-memory handoff — proving the bench-path optimization changes
    nothing but the I/O."""
    from mapreducego_spark.functions.dedup import dedup_incremental

    SF = "/root/testdata/sf0.01"
    mem = [tuple(r) for r in dedup_incremental(spark, SF).collect()]
    disk = [
        tuple(r)
        for r in dedup_incremental(spark, SF, persist_index=True).collect()
    ]
    assert mem == disk and mem


def test_incremental_exact_dup_semantics(spark):
    """Cross-batch exact duplicates are anti-joined away (the indexed
    row is the global representative — no self-pair); within-batch
    exact dups collapse to the min doc_id; near-dups across batches
    surface through the cross band-join."""
    from mapreducego_spark.functions.dedup import (
        dedup_incremental_step,
        minhash_index_rows,
    )

    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    t = "the quick brown fox jumps over the lazy dog again and again"
    near = "the quick brown fox jumps over the lazy cat again and again"
    b1 = minhash_index_rows(mk([(1, t)]))
    empty = spark.createDataFrame([], b1.schema)
    pairs1, reps1 = dedup_incremental_step(b1, empty)
    assert pairs1.count() == 0 and reps1.count() == 1

    b2 = minhash_index_rows(mk([(2, t), (3, near), (4, near)]))
    pairs2, reps2 = dedup_incremental_step(b2, reps1)
    got = {(r.doc_a, r.doc_b) for r in pairs2.collect()}
    # 2 is an exact dup of indexed 1 -> excluded entirely;
    # 4 is an exact dup of in-batch 3 -> collapsed to 3;
    # (1, 3) is the only surviving near-dup pair
    assert got == {(1, 3)}
    assert {r.doc_id for r in reps2.collect()} == {3}


def test_bloom_reference_dedup_exact_at_any_fpp(spark):
    """dedup_vs_reference must return exactly new-minus-reference
    regardless of bloom sizing: with m=64 (near-100% fpp) every doc
    routes through the anti-join and the result is unchanged."""
    from mapreducego_spark.functions.dedup import (
        bloom_positions,
        bloom_probe_udf,
        build_bloom_bitset,
        dedup_vs_reference,
    )
    from pyspark.sql import functions as F

    ref = spark.createDataFrame(
        [(i, f"ref doc number {i}") for i in range(50)], ["doc_id", "text"]
    )
    dup_texts = [f"ref doc number {i}" for i in range(0, 50, 5)]  # 10 dups
    new = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(dup_texts)]
        + [(200 + i, f"novel doc {i}") for i in range(40)],
        ["doc_id", "text"],
    )
    want = set(range(200, 240))
    for m in (64, 1 << 12, 1 << 16):
        got = {r.doc_id for r in dedup_vs_reference(new, ref, m=m).collect()}
        assert got == want, m

    # A sanely-sized filter must actually prune: most novel docs are
    # bloom-negative, every true dup is bloom-positive.
    m = 1 << 12
    probe = bloom_probe_udf(build_bloom_bitset(ref, F.col("text"), m), 4)
    flagged = new.withColumn(
        "hit", probe(F.array(*bloom_positions(F.col("text"), 4, m)))
    )
    hits = {r.doc_id for r in flagged.filter("hit").collect()}
    assert set(range(100, 110)) <= hits          # no false negatives
    assert len(hits) < 20                        # novel docs mostly pruned


def test_tfidf_cosine_pairs_properties(spark):
    """Near-identical docs score ~1, disjoint-vocab docs never pair,
    and the result agrees with a serial numpy reference computed
    with the same integer idf quantization."""
    import math

    import numpy as np

    from mapreducego_spark.functions.text import tfidf_cosine_pairs

    rows = [
        (0, "alpha beta gamma delta alpha"),
        (1, "alpha beta gamma delta alpha"),      # exact dup of 0
        (2, "alpha beta gamma delta epsilon"),    # near dup
        (3, "zeta eta theta iota kappa"),         # disjoint vocab
        (4, "zeta eta theta iota lambda"),        # near dup of 3
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r.doc_a, r.doc_b): r.cosine
        for r in tfidf_cosine_pairs(docs, threshold=0.0).collect()
    }
    assert got[(0, 1)] == 1.0
    # cross-cluster pairs share no nonzero term -> absent entirely
    assert not any(a <= 2 and b_ >= 3 for (a, b_) in got)

    # serial reference with identical quantization
    texts = {i: t.split() for i, t in rows}
    vocab = sorted({w for t in texts.values() for w in t})
    n = len(texts)
    df_ = {w: sum(w in t for t in texts.values()) for w in vocab}
    idf = {w: math.floor(math.log(n / df_[w]) * 1000) for w in vocab}
    vecs = {
        i: np.array([t.count(w) * idf[w] for w in vocab], dtype=np.int64)
        for i, t in texts.items()
    }
    for (a, b_), c in got.items():
        va, vb = vecs[a], vecs[b_]
        want = float(va @ vb) / (
            math.sqrt(float(va @ va)) * math.sqrt(float(vb @ vb))
        )
        assert abs(c - round(want, 6)) < 2e-6, (a, b_, c, want)

    # posting guard fails loudly on a hot term. NB: the term must be
    # hot-but-not-universal — df == N means idf 0, and those terms
    # drop for free BEFORE the guard (the stopword effect).
    hot = spark.createDataFrame(
        [(i, ("common " if i else "rare ") + f"word{i}") for i in range(30)],
        ["doc_id", "text"],
    )
    import pytest as _pytest

    with _pytest.raises(Exception, match="df-cut"):
        tfidf_cosine_pairs(hot, threshold=0.0, max_posting=10).collect()


def test_containment_catches_doc_inside_doc(spark):
    """A short doc quoted verbatim inside a much longer one must pair
    with containment_a ~1.0 even though Jaccard is far below the
    near-dup threshold — the case resemblance-based dedup misses."""
    from mapreducego_spark.functions.dedup import (
        containment_pairs,
        ngram_pairs,
    )

    quote = "alpha beta gamma delta epsilon"
    # letter-only words: the tokenizer treats digits as delimiters
    filler = " ".join(
        f"w{chr(97 + i // 26)}{chr(97 + i % 26)}" for i in range(120)
    )
    rows = [
        (1, quote),
        (2, f"{filler} {quote} more trailing words here"),
        (3, "totally unrelated content stream"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r.doc_a, r.doc_b): (r.containment_a, r.containment_b)
        for r in containment_pairs(docs, threshold=0.9).collect()
    }
    assert list(got) == [(1, 2)]
    ca, cb = got[(1, 2)]
    assert ca == 1.0 and cb < 0.1  # asymmetry is the point

    # and Jaccard indeed misses it at its own threshold
    assert ngram_pairs(docs).count() == 0


def test_dedup_entries_job_ceilings(spark):
    """dedup_clusters reads each connected-components convergence sum
    from its checkpointing job, and minhash_pairs neither sorts nor
    broadcasts a size table: 25 and 14 jobs a call (33 and 16 with a
    sum job per round, a sorted pair checkpoint and the size-table
    joins)."""
    from tools.harness import job_counts, timed_runs

    for entry, ceiling in (("dedup_clusters", 25), ("dedup_minhash", 14)):
        timed_runs(spark, "test_dedup", entry, "/root/testdata/sf0.01", 1)
        jobs, _, _ = job_counts(spark, f"test_dedup:{entry}:0")
        assert jobs <= ceiling, (entry, jobs)
