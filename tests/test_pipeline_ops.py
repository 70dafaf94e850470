"""Training-pipeline ops: quota sampling, temperature-scaled source
mixing, shard packing, decontamination — invariants the oracle hash-match can't express
(partition invariance, budget bounds, contamination soundness)."""

from __future__ import annotations

import math
from collections import Counter

from pyspark.sql import functions as F

from mapreducego_spark.functions.text import (
    N_BENCH_DOCS,
    decontaminate,
    pack_shards,
    sample_stratified,
    tokens_col,
)
from mapreducego_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.01"


def test_stratified_quota_exact(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    quota = 7
    got = sample_stratified(docs, quota=quota)
    sizes = {r.lang: r.n for r in got.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    full = {
        r.lang: r.n
        for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert sizes == {lang: min(quota, n) for lang, n in full.items() if n}


def test_stratified_stable_under_repartitioning(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    a = {r.doc_id for r in sample_stratified(docs, quota=9).collect()}
    b = {r.doc_id for r in sample_stratified(docs.repartition(7), quota=9).collect()}
    assert a == b and a


def test_pack_shards_matches_serial_cumsum(spark, sf_dir):
    """The distributed two-phase prefix sum must equal the one-task
    serial answer exactly."""
    docs = load_table(spark, sf_dir, "documents")
    shard_tokens = 1000
    got = {
        r.doc_id: (r.n_tokens, r.shard_id)
        for r in pack_shards(docs, shard_tokens=shard_tokens).collect()
    }
    # serial reference in plain python, same hash order
    import hashlib

    rows = sorted(
        ((hashlib.md5(str(d).encode()).hexdigest(), d, n) for d, (n, _) in got.items()),
    )
    cum = 0
    for h, d, n in rows:
        assert got[d] == (n, cum // shard_tokens), f"doc {d}"
        cum += n


def test_pack_shards_stable_under_repartitioning(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    a = {(r.doc_id, r.shard_id) for r in pack_shards(docs, 1000).collect()}
    b = {
        (r.doc_id, r.shard_id)
        for r in pack_shards(docs.repartition(11), 1000).collect()
    }
    assert a == b and a


def test_decontaminate_sound_and_complete(spark, sf_dir):
    """Kept docs share NO trigram with the bench set; dropped docs
    (other than the bench set itself) share at least one."""
    docs = load_table(spark, sf_dir, "documents")
    toks = {
        r.doc_id: r.t
        for r in docs.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            tokens_col(F.col("text")).alias("t"),
        ).collect()
    }

    def tris(ts):
        return {" ".join(ts[i : i + 3]) for i in range(len(ts) - 2)}

    bench = set()
    for d, ts in toks.items():
        if d < N_BENCH_DOCS:
            bench |= tris(ts)
    kept = {r.doc_id for r in decontaminate(docs).collect()}
    for d, ts in toks.items():
        if d < N_BENCH_DOCS:
            assert d not in kept
        elif d in kept:
            assert not (tris(ts) & bench), f"doc {d} kept but contaminated"
        else:
            assert tris(ts) & bench, f"doc {d} dropped but clean"


def test_heavy_hitters_exact(spark, sf_dir):
    """Two-pass MG+recount must equal the full groupBy answer — the
    candidate pruning is lossless for true heavy hitters."""
    from mapreducego_spark.functions.text import heavy_hitters

    docs = load_table(spark, sf_dir, "documents")
    k = 30
    got = {(r.word, r.cnt) for r in heavy_hitters(docs, k=k).collect()}
    toks = docs.select(F.explode(tokens_col(F.col("text"))).alias("word"))
    total = toks.count()
    want = {
        (r.word, r.cnt)
        for r in toks.groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") * k > F.lit(total))
        .collect()
    }
    assert got == want and got


def test_heavy_hitters_exact_on_repartitioned_input(spark, sf_dir):
    """Partition layout must not change the answer (MG candidates
    differ per layout; the recount makes the result invariant)."""
    from mapreducego_spark.functions.text import heavy_hitters

    docs = load_table(spark, sf_dir, "documents")
    a = {(r.word, r.cnt) for r in heavy_hitters(docs, k=60).collect()}
    b = {
        (r.word, r.cnt)
        for r in heavy_hitters(docs.repartition(13), k=60).collect()
    }
    assert a == b and a


def test_chunk_documents_reconstructs_tokens(spark):
    """Chunks must tile the token stream: stripping each chunk to its
    first `stride` tokens and concatenating in chunk order must
    reproduce the document's full token array exactly (the last
    chunk contributes everything it has)."""
    from mapreducego_spark.functions.text import chunk_documents, tokens_col
    from mapreducego_spark.sources.catalog import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    stride, chunk = 7, 10  # overlap of 3, exercises ragged tails
    chunks = chunk_documents(docs, chunk_tokens=chunk, stride=stride).collect()
    orig = {
        r["doc_id"]: r["toks"]
        for r in docs.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            tokens_col(F.col("text")).alias("toks"),
        ).collect()
    }
    by_doc: dict = {}
    for r in chunks:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r["chunk_id"])
        rebuilt = []
        for i, r in enumerate(rows):
            toks = r["chunk_text"].split(" ")
            assert len(toks) == r["n_tokens"]
            rebuilt.extend(toks if i == len(rows) - 1 else toks[:stride])
        assert rebuilt == orig[doc_id], doc_id
    assert set(by_doc) == {d for d, t in orig.items() if t}


def test_split_no_leakage_clusters_never_straddle(spark):
    """The contamination guarantee: every MinHash-verified near-dup
    pair must land wholly in train or wholly in test, and the split
    must be invariant to input partitioning."""
    from mapreducego_spark.functions.dedup import minhash_pairs
    from mapreducego_spark.functions.text import split_no_leakage
    from mapreducego_spark.sources.catalog import load_table

    sf = "/root/testdata/sf0.01"
    split = {
        r["doc_id"]: r["split"] for r in split_no_leakage(spark, sf).collect()
    }
    pairs = minhash_pairs(
        load_table(spark, sf, "documents"), max_bucket_size=None
    ).collect()
    assert pairs, "fixture should contain near-dup pairs"
    for r in pairs:
        assert split[r["doc_a"]] == split[r["doc_b"]], (r["doc_a"], r["doc_b"])
    # both sides non-trivial at this rate
    vals = set(split.values())
    assert vals == {"train", "test"}


def test_dup_ngram_profile_matches_serial(spark, sf_dir):
    """The distributed hash-shuffled profile must equal a plain-python
    serial recomputation (independent third implementation next to
    the DuckDB oracle)."""
    from collections import Counter

    from mapreducego_spark.functions.text import dup_ngram_profile

    docs = load_table(spark, sf_dir, "documents")
    toks = {
        r.doc_id: r.t
        for r in docs.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            tokens_col(F.col("text")).alias("t"),
        ).collect()
    }
    n = 8
    grams = {
        d: [" ".join(ts[i : i + n]) for i in range(len(ts) - n + 1)]
        for d, ts in toks.items()
    }
    doc_freq = Counter()
    for d, gs in grams.items():
        doc_freq.update(set(gs))
    shared = {g for g, c in doc_freq.items() if c >= 2}
    got = {
        r.doc_id: (r.n_grams, r.n_dup_occ, r.n_dup_grams)
        for r in dup_ngram_profile(docs).collect()
    }
    assert set(got) == set(grams)
    any_dup = False
    for d, gs in grams.items():
        dup_occ = sum(1 for g in gs if g in shared)
        dup_distinct = len({g for g in gs if g in shared})
        assert got[d] == (len(gs), dup_occ, dup_distinct), f"doc {d}"
        any_dup = any_dup or dup_occ > 0
    assert any_dup, "fixture has no cross-doc duplicate 8-grams; test is vacuous"


def _rep_serial(text: str):
    import re

    toks = [t for t in re.split("[^a-z]+", text.lower()) if t]
    out = {"n_tokens": len(toks)}
    if toks:
        counts = {}
        for t in toks:
            counts[t] = counts.get(t, 0) + 1
        # tie-break: max count, then lexicographically smallest word
        mc = max(counts.values())
        best_w = min(w for w, c in counts.items() if c == mc)
        out["top_word"] = best_w
        out["top_word_frac"] = (mc * len(best_w)) / sum(len(t) for t in toks)
    else:
        out["top_word"] = ""
        out["top_word_frac"] = 0.0
    for n, key in ((2, "dup_2gram_frac"), (3, "dup_3gram_frac")):
        grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
        out[key] = 1.0 - len(set(grams)) / len(grams) if grams else 0.0
    return out


def test_repetition_profile_matches_serial(spark, sf_dir):
    from mapreducego_spark.functions.text import repetition_profile

    docs = load_table(spark, sf_dir, "documents").limit(80)
    rows = {r.doc_id: r for r in repetition_profile(docs).collect()}
    for t in docs.select("doc_id", "text").collect():
        ref = _rep_serial(t.text)
        r = rows[t.doc_id]
        assert r.n_tokens == ref["n_tokens"]
        assert r.top_word == ref["top_word"], (t.doc_id, r.top_word, ref["top_word"])
        assert abs(r.top_word_frac - ref["top_word_frac"]) < 1e-12
        assert abs(r.dup_2gram_frac - ref["dup_2gram_frac"]) < 1e-12
        assert abs(r.dup_3gram_frac - ref["dup_3gram_frac"]) < 1e-12


def test_repetition_profile_edge_docs_and_zero_exchange(spark):
    from mapreducego_spark.functions.text import repetition_profile

    df = spark.createDataFrame(
        [(1, "zz aa zz aa"), (2, "!!! 123"), (3, "solo"), (4, "x x x x")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in repetition_profile(df).collect()}
    assert got[1].top_word == "aa"  # tie -> lexicographically smallest
    assert got[2].n_tokens == 0 and got[2].top_word == "" and got[2].top_word_frac == 0.0
    assert got[3].dup_2gram_frac == 0.0 and got[3].dup_3gram_frac == 0.0
    assert got[4].top_word_frac == 1.0 and got[4].dup_3gram_frac == 0.5
    # scan-fused: no aggregation/join shuffle — the only exchanges
    # are the spread_scan fan-out (round-robin of raw bytes, no-op
    # on multi-split inputs) and the final presentation sort
    from mapreducego_spark.sources.catalog import load_table as lt

    docs = lt(spark, "/root/testdata/sf0.01", "documents")
    plan = (
        repetition_profile(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") <= 2, plan
    assert "hashpartitioning" not in plan and "Join" not in plan, plan


def test_dedup_spans_keys_on_raw_text_not_a_64bit_hash(spark):
    """Span identity must include the full span text. The r4 version
    keyed the keep-first window on a single xxhash64: two DISTINCT
    spans colliding in 64 bits would be treated as duplicates and one
    silently dropped (~n^2/2^65 expected false merges — real at
    10^12-span scale). The key is now (xxhash64(span), span) — the
    hash accelerates comparison, the raw text makes a false merge
    impossible — so the behavioral guarantee to pin is: spans that
    differ in any way both survive, however similar."""
    from mapreducego_spark.functions.text import dedup_spans

    shared = " ".join(f"tok{i}" for i in range(12))
    near_a = " ".join(f"aaa{i}" for i in range(11)) + " enda"
    near_b = " ".join(f"aaa{i}" for i in range(11)) + " endb"
    df = spark.createDataFrame(
        [(0, f"{shared} {near_a}"), (1, f"{shared} {near_b}")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup_spans(df).collect()}
    # doc 0 keeps both spans; doc 1 loses exactly the shared span and
    # its one-token-different span survives intact.
    assert out[0]["n_kept"] == 2 and out[0]["n_dropped"] == 0
    assert out[1]["n_kept"] == 1 and out[1]["n_dropped"] == 1
    assert out[1]["clean_text"].endswith("endb")
    # And the window's partition spec truly carries the raw text (a
    # hash may accompany it for comparison speed, but must never be
    # the sole key).
    import re

    plan = (
        dedup_spans(df)._jdf.queryExecution().optimizedPlan().toString()
    )
    specs = re.findall(r"windowspecdefinition\(((?:[^()]|\([^)]*\))*)\)", plan)
    span_specs = [s for s in specs if "chunk_text" in s or "xxhash64" in s]
    assert span_specs, plan
    for s in span_specs:
        assert "chunk_text" in s, s  # hash may assist, never key alone


def test_perplexity_score_matches_serial_reference(spark):
    """Mean unigram NLL must equal a serial Python computation exactly
    (the micro-nat integer quantization makes the per-doc sum order-
    independent), and rarer-token docs must score higher NLL."""
    import math
    import re as _re

    from mapreducego_spark.functions.text import perplexity_score

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(60)
    rows = [(r["doc_id"], r["text"]) for r in docs.collect()]
    tok = {
        d: [t for t in _re.split(r"[^a-z]+", txt.lower()) if t]
        for d, txt in rows
    }
    from collections import Counter

    vocab = Counter(t for ts in tok.values() for t in ts)
    total = sum(vocab.values())
    lp = {t: math.floor(math.log(c / total) * 1_000_000) for t, c in vocab.items()}
    want = {
        d: round(-sum(lp[t] for t in ts) / len(ts) / 1e6, 6)
        for d, ts in tok.items()
        if ts
    }
    got = {
        r["doc_id"]: r["mean_nll"] for r in perplexity_score(docs).collect()
    }
    assert got == want
    # a doc made of hapaxes must score above the corpus median
    med = sorted(want.values())[len(want) // 2]
    hapax_docs = [d for d, ts in tok.items() if ts and all(vocab[t] == 1 for t in ts)]
    for d in hapax_docs:
        assert got[d] > med


def test_dedup_spans_reconstruction_is_lossless_without_dups(spark):
    """Property: when every span in the corpus is globally unique,
    span dedup must be the identity — clean_text re-joins the exact
    token tiling of each document and n_dropped is 0 everywhere."""
    from mapreducego_spark.functions.text import dedup_spans, tokens_col

    from mapreducego_spark.functions.text import tokens_col as _tc

    # suffix EVERY token with a doc-unique letter string (digits
    # mapped to letters — the tokenizer strips non-letters), so every
    # span in the corpus is globally unique by construction
    tag = F.translate(F.col("doc_id").cast("string"), "0123456789", "abcdefghij")
    docs = (
        load_table(spark, "/root/testdata/sf0.001", "documents")
        .limit(40)
        .select(
            "doc_id",
            F.array_join(
                F.transform(
                    _tc(F.col("text")),
                    lambda t: F.concat(t, F.lit("x"), tag),
                ),
                " ",
            ).alias("text"),
        )
    )
    out = {r["doc_id"]: r for r in dedup_spans(docs).collect()}
    toks = {
        r["doc_id"]: r["t"]
        for r in docs.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            tokens_col(F.col("text")).alias("t"),
        ).collect()
    }
    for d, ts in toks.items():
        if not ts:
            continue
        assert out[d]["n_dropped"] == 0, d
        assert out[d]["clean_text"] == " ".join(ts), d


def test_prepare_corpus_composes_without_interference(spark):
    """Survivors = corpus_clean ∩ decontaminate; shards are packed
    over the SURVIVOR set (contiguous ids from 0, budget respected),
    not the raw corpus."""
    from mapreducego_spark.functions.text import (
        corpus_clean,
        decontaminate,
        pack_shards,
        prepare_corpus,
    )
    from mapreducego_spark.sources.catalog import load_table

    SF = "/root/testdata/sf0.01"
    docs = load_table(spark, SF, "documents")
    out = prepare_corpus(docs).collect()
    got_ids = {r.doc_id for r in out}
    clean_ids = {r.doc_id for r in corpus_clean(docs).collect()}
    decon_ids = {r.doc_id for r in decontaminate(docs).collect()}
    assert got_ids == (clean_ids & decon_ids) and got_ids

    # contiguous shard ids starting at 0
    shards = sorted({r.shard_id for r in out})
    assert shards == list(range(len(shards)))

    # packing over the raw corpus would assign different shards for
    # at least one survivor — the interference the composition must
    # avoid
    raw_pack = {
        r.doc_id: r.shard_id for r in pack_shards(docs).collect()
    }
    assert any(
        raw_pack.get(r.doc_id) != r.shard_id for r in out
    )


def test_kfold_clusters_never_straddle_folds(spark):
    """Every near-dup cluster must sit wholly in one fold, folds must
    cover 0..k-1, and sizes must be roughly balanced."""
    from collections import Counter

    from mapreducego_spark.functions.text import kfold_no_leakage

    rows = kfold_no_leakage(spark, "/root/testdata/sf0.01", k=5).collect()
    by_rep = {}
    for r in rows:
        by_rep.setdefault(r.cluster_rep, set()).add(r.fold)
    assert all(len(folds) == 1 for folds in by_rep.values())
    sizes = Counter(r.fold for r in rows)
    assert set(sizes) == set(range(5))
    assert max(sizes.values()) < 2.2 * min(sizes.values()), sizes


def test_curriculum_mix_quota_apportionment_matches_serial(spark):
    """Quotas must equal a serial Hamilton (largest-remainder)
    apportionment over floor(sqrt(n_s)*1e6) integer shares, and the
    selected rows must exactly fill each quota."""
    from mapreducego_spark.functions.text import curriculum_mix
    from mapreducego_spark.sources.catalog import load_table

    budget = 300
    rows = curriculum_mix(spark, SF, alpha=0.5, budget=budget).collect()

    counts = Counter(
        r["source"]
        for r in load_table(spark, SF, "documents").select("source").collect()
    )
    shares = {
        s: math.floor(math.sqrt(n) * 1_000_000) for s, n in counts.items()
    }
    total = sum(shares.values())
    base = {s: (v * budget) // total for s, v in shares.items()}
    rem = {s: (v * budget) % total for s, v in shares.items()}
    seats = budget - sum(base.values())
    for s in sorted(rem, key=lambda s: (-rem[s], s))[:seats]:
        base[s] += 1
    assert sum(base.values()) == budget

    got_quota = {}
    per_source = Counter()
    for r in rows:
        got_quota[r["source"]] = r["quota"]
        per_source[r["source"]] += 1
    assert got_quota == {s: q for s, q in base.items() if q > 0} or got_quota == base
    # every emitted source fills its quota exactly (n_docs >= quota
    # holds on this fixture; the cap rule is rk <= quota)
    for s, q in got_quota.items():
        assert per_source[s] == min(q, counts[s])
    assert len(rows) == budget


def test_curriculum_mix_flattens_the_source_distribution(spark):
    """alpha < 1 must LIFT the sampled share of small sources
    relative to their raw share and depress the largest — the whole
    point of temperature scaling."""
    from mapreducego_spark.functions.text import curriculum_mix
    from mapreducego_spark.sources.catalog import load_table

    budget = 300
    rows = curriculum_mix(spark, SF, alpha=0.5, budget=budget).collect()
    counts = Counter(
        r["source"]
        for r in load_table(spark, SF, "documents").select("source").collect()
    )
    n_total = sum(counts.values())
    picked = Counter(r["source"] for r in rows)
    smallest = min(counts, key=counts.get)
    largest = max(counts, key=counts.get)
    if counts[smallest] < counts[largest]:  # fixture has real skew
        assert picked[smallest] / budget >= counts[smallest] / n_total
        assert picked[largest] / budget <= counts[largest] / n_total


def test_curriculum_mix_partition_invariant(spark):
    from mapreducego_spark.functions.text import curriculum_mix

    base = {(r["doc_id"], r["rk"]) for r in curriculum_mix(spark, SF).collect()}
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        again = {
            (r["doc_id"], r["rk"])
            for r in curriculum_mix(spark, SF).collect()
        }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert base == again


def test_prepare_corpus_mixed_composition_laws(spark):
    """The four-stage composition must (a) pick only prepare_corpus
    survivors, (b) fill each source to exactly min(quota, available
    survivors), and (c) pack shards over exactly the picked set (the
    max shard id implied by the picked token mass)."""
    from mapreducego_spark.functions.text import (
        prepare_corpus,
        prepare_corpus_mixed,
    )
    from mapreducego_spark.sources.catalog import load_table

    docs = load_table(spark, SF, "documents")
    surv = {r["doc_id"] for r in prepare_corpus(docs).collect()}
    rows = prepare_corpus_mixed(docs).collect()
    assert {r["doc_id"] for r in rows} <= surv

    src_of = {
        r["doc_id"]: r["source"]
        for r in docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                             "source").collect()
    }
    avail = Counter(src_of[d] for d in surv)
    picked = Counter(r["source"] for r in rows)
    quota = {r["source"]: r["quota"] for r in rows}
    for s, q in quota.items():
        assert picked[s] == min(q, avail[s]), (s, picked[s], q, avail[s])

    # shard ids are a prefix-sum over ONLY the picked docs: the top
    # shard id must match total picked whitespace tokens // 20000
    ws = {
        r["doc_id"]: r["n"]
        for r in docs.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.size(
                F.filter(
                    F.split(F.col("text"), r"\s+"),
                    lambda t: F.length(t) > 0,
                )
            ).alias("n"),
        ).collect()
    }
    total = sum(ws[r["doc_id"]] for r in rows)
    assert max(r["shard_id"] for r in rows) <= total // 20000
