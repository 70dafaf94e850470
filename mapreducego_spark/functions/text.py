"""Text analysis operators over the ``documents`` table.

Generalizes the reference's single real workload — wordCount
(reference test/wordCount.go:14-32): words are maximal runs of
letters (split on every non-letter rune, wordCount.go:16-19), each
occurrence counts once. Everything here is pure JVM-side
pyspark.sql.functions — no Python UDFs in the hot path, so
whole-stage codegen applies and the same plan scales to 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreducego_spark.operators.twophase import two_phase_global_rank
from mapreducego_spark.operators.util import spread_scan

# Reference split contract: every non-letter rune is a delimiter
# (reference test/wordCount.go:16-19). We additionally lowercase so
# counts are case-insensitive (the DuckDB oracle does the same).
WORD_SPLIT_REGEX = "[^A-Za-z]+"

# Tiny embedded stopword lists for the language-ID heuristic. A real
# deployment would broadcast a richer lexicon; the operator shape
# (explode -> semi-join-ish scoring -> argmax) is what matters.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "a", "in", "that", "it", "for"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "los", "por", "con"),
    "fr": ("le", "la", "de", "et", "les", "des", "un", "une", "que", "pour"),
    "de": ("der", "die", "das", "und", "von", "zu", "den", "mit", "ist", "auf"),
}


def tokens_col(text: Column) -> Column:
    """array<string> of lowercased letter-run tokens, empties removed."""
    return F.filter(
        F.split(F.lower(text), WORD_SPLIT_REGEX), lambda t: F.length(t) > 0
    )


def wordcount(
    spark: SparkSession, docs: DataFrame, top_k: int | None = None
) -> DataFrame:
    """The reference's flagship workload, completed end-to-end.

    Reference intent: Map emits (word, "1") per letter-run
    (test/wordCount.go:14-27), shuffle hash-partitions by word
    (worker.go:142-151), Reduce counts occurrences
    (test/wordCount.go:29-32 — never wired up there; worker.go:207-209
    is a stub). Spark-first form: split → explode → groupBy → count.
    The shuffle is Spark's sort-based exchange with map-side partial
    aggregation (the combiner the reference never built).

    Deterministic total order: (count desc, word asc) so top-k is
    stable under hashing comparisons.

    No spread_scan here: for explode->groupBy shapes the post-explode
    shuffle already parallelizes the aggregation, and the extra full
    exchange of raw text costs more than the map-stage fan-out saves
    (driver-measured +31% in round 2). spread_scan stays on the
    CPU-heavy shingle/sign stages in functions/dedup.py, where the
    same exchange bought 3.2s -> 0.4s.
    """
    out = (
        docs
        .select(F.explode(tokens_col(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("word").asc())
    )
    if top_k is not None:
        out = out.limit(top_k)
    return out


def text_stats(docs: DataFrame) -> DataFrame:
    """Per-document stats: token count, distinct tokens, avg token
    length, punctuation count — the quality-signal raw material."""
    toks = tokens_col(F.col("text"))
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.length("text").cast("long").alias("n_chars_actual"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
        # exact integer arithmetic (sum of lengths / count) kept in
        # double at the end: deterministic across engines
        (
            F.aggregate(toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t))
            .cast("double")
            / F.greatest(F.size(toks), F.lit(1)).cast("double")
        ).alias("avg_token_len"),
        (
            F.length("text")
            - F.length(F.regexp_replace(F.col("text"), r"[^\w\s]", ""))
        )
        .cast("long")
        .alias("n_punct"),
    )


def token_count(docs: DataFrame) -> DataFrame:
    """Token counting two ways: whitespace tokens and a BPE-ish
    regex (letter runs | digit runs | single punct) — the
    pre-tokenizer shape used by GPT-style BPE vocabularies."""
    bpe_ish = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(F.filter(F.split(F.col("text"), r"\s+"), lambda t: F.length(t) > 0))
        .cast("long")
        .alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(bpe_ish), 0))
        .cast("long")
        .alias("bpe_tokens"),
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """Stopword-vote language ID.

    Scores each language by how many of its stopwords occur as tokens
    (distinct-token containment — cheap and O(|langs| * |stopwords|)
    per doc via array_intersect on the already-computed token array;
    no shuffle at all, embarrassingly parallel at 100 TB).
    Ties / zero hits → 'und'. Deterministic tie-break: language with
    the higher score wins, then lexicographically smaller lang code.
    """
    toks = F.array_distinct(tokens_col(F.col("text")))
    scored = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        *[
            F.size(
                F.array_intersect(toks, F.array(*[F.lit(w) for w in words]))
            ).alias(f"score_{lang}")
            for lang, words in sorted(LANG_STOPWORDS.items())
        ],
    )
    # argmax over score columns with deterministic lexicographic
    # tie-break; all-zero -> 'und'
    langs = sorted(LANG_STOPWORDS)
    best = F.greatest(*[F.col(f"score_{lang}") for lang in langs])
    pred = F.when(best <= 0, F.lit("und"))
    for lang in langs:  # first (lexicographically) max wins
        pred = pred.when(F.col(f"score_{lang}") == best, F.lit(lang))
    return scored.select(
        "doc_id",
        pred.alias("pred_lang"),
        best.cast("long").alias("best_score"),
    )


def quality_score(docs: DataFrame) -> DataFrame:
    """Heuristic quality scoring à la C4/Gopher rules: length band,
    punctuation density, stopword ratio, mean token length band.
    Output: per-doc component flags + a 0-4 integer score (sum of
    passed checks). All JVM-side expressions; no UDF."""
    toks = tokens_col(F.col("text"))
    n_toks = F.size(toks)
    en_stop = F.array(*[F.lit(w) for w in LANG_STOPWORDS["en"]])
    stop_hits = F.size(F.array_intersect(F.array_distinct(toks), en_stop))
    n_punct = F.length("text") - F.length(
        F.regexp_replace(F.col("text"), r"[^\w\s]", "")
    )
    avg_len = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    ).cast("double") / F.greatest(n_toks, F.lit(1)).cast("double")
    checks = {
        "ok_length": (n_toks >= 10) & (n_toks <= 100000),
        "ok_punct": n_punct.cast("double")
        <= 0.2 * F.greatest(F.length("text"), F.lit(1)).cast("double"),
        "ok_stopwords": stop_hits >= 2,
        "ok_token_len": (avg_len >= 2.0) & (avg_len <= 12.0),
    }
    score = sum(F.when(c, 1).otherwise(0) for c in checks.values())
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        *[c.cast("boolean").alias(name) for name, c in checks.items()],
        score.cast("long").alias("quality_score"),
    )


def tfidf_top_terms(docs: DataFrame, top_k: int = 3) -> DataFrame:
    """Top-k TF-IDF terms per document (sklearn-style smooth idf:
    ln((N+1)/(df+1)) + 1). Plan shape at scale: one groupBy for term
    frequencies, one for document frequencies (both map-side
    combined), a broadcast-able idf join (|vocab| rows), then the
    per-doc top-k window. N comes from a scalar subquery-ish
    crossJoin of a 1-row count — no collect, no driver round-trip."""
    tf = (
        spread_scan(docs)
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.explode(tokens_col(F.col("text"))).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = docs.select(
        F.countDistinct(F.col("doc_id")).alias("n_docs")
    )
    idf = df_.crossJoin(F.broadcast(n_docs)).select(
        "term",
        F.log(
            (F.col("n_docs") + 1).cast("double") / (F.col("df") + 1).cast("double")
        )
        + F.lit(1.0),
    )
    idf = idf.toDF("term", "idf")
    scored = tf.join(idf, "term").select(
        "doc_id",
        "term",
        F.round(F.col("tf") * F.col("idf"), 6).alias("tfidf"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= top_k)
        .select("doc_id", "term", "tfidf", F.col("rk").cast("long").alias("rk"))
    )


def perplexity_score(docs: DataFrame, threshold_nats: float = 9.0) -> DataFrame:
    """CCNet-style unigram log-prob quality score: each document's
    mean negative log-likelihood under the corpus's OWN unigram
    distribution — the perplexity-filtering step (Wenzek et al.,
    CCNet) that ranks fluent text above keyboard mash and boilerplate
    without any external model. ``keep`` flags docs at or below
    ``threshold_nats`` mean NLL.

    Engine-exactness: the per-document aggregation is the float trap
    here (SUM of doubles is order-dependent across partitions), so
    each token's log-prob is quantized ONCE per vocab term to integer
    micro-nats (floor(ln(cnt/total)*1e6) — one deterministic scalar
    per term) and documents sum LONGS, which no engine can reorder
    into a different answer. The mean converts back to double at the
    end with a fixed division order.

    Scale shape: one groupBy for the vocab (map-side combined), a
    1-row total broadcast, the token stream joined to the vocab on
    term (the same shuffle tfidf_top_terms pays; AQE broadcasts the
    vocab side when it fits), one map-side-combined per-doc sum. No
    window, no collect."""
    toks = spread_scan(docs).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(tokens_col(F.col("text"))).alias("term"),
    )
    vocab = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    total = toks.agg(F.count(F.lit(1)).alias("total"))
    lp = vocab.crossJoin(F.broadcast(total)).select(
        "term",
        F.floor(
            F.log(F.col("cnt").cast("double") / F.col("total").cast("double"))
            * 1_000_000
        )
        .cast("long")
        .alias("lp_micro"),
    )
    per_doc = (
        toks.join(lp, "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("lp_micro").alias("s_micro"),
        )
    )
    mean_nll = F.round(
        (-F.col("s_micro")).cast("double") / F.col("n_tokens") / F.lit(1e6), 6
    )
    return per_doc.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        mean_nll.alias("mean_nll"),
        (mean_nll <= threshold_nats).alias("keep"),
    ).orderBy("doc_id")


def corpus_clean(docs: DataFrame) -> DataFrame:
    """End-to-end training-data cleaning pipeline: keep documents that
    (a) pass all four quality checks, (b) language-ID as English, and
    (c) are the first occurrence of their normalized fingerprint —
    the compose-everything query a pretraining corpus run executes
    first. Output: surviving doc ids + the metrics that admitted
    them.

    Plan shape (r17 rewrite, guide §2.4): quality_score / lang_id /
    fingerprint / text_stats are all PER-ROW expression pipelines, so
    the old four-scans-joined-on-doc_id form paid three extra corpus
    scans (each re-tokenizing every document) and three join
    exchanges for columns one projection can produce. Now ONE scan
    computes every metric, the fingerprint first-occurrence window is
    the only shuffle, and the quality/lang filters apply AFTER the
    window — identical to the old inner joins (the window ran over
    all docs there too; an inner join with a filtered side is a
    filter). Output proven hash-identical by the shared oracle."""
    from pyspark.sql import Window

    toks = tokens_col(F.col("text"))
    n_toks = F.size(toks)
    en_stop = F.array(*[F.lit(w) for w in LANG_STOPWORDS["en"]])
    distinct_toks = F.array_distinct(toks)
    stop_hits = F.size(F.array_intersect(distinct_toks, en_stop))
    n_punct = F.length("text") - F.length(
        F.regexp_replace(F.col("text"), r"[^\w\s]", "")
    )
    avg_len = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    ).cast("double") / F.greatest(n_toks, F.lit(1)).cast("double")
    checks = [
        (n_toks >= 10) & (n_toks <= 100000),
        n_punct.cast("double")
        <= 0.2 * F.greatest(F.length("text"), F.lit(1)).cast("double"),
        stop_hits >= 2,
        (avg_len >= 2.0) & (avg_len <= 12.0),
    ]
    score = sum(F.when(c, 1).otherwise(0) for c in checks)
    langs = sorted(LANG_STOPWORDS)
    lang_scores = {
        lang: F.size(
            F.array_intersect(
                distinct_toks, F.array(*[F.lit(w) for w in words])
            )
        )
        for lang, words in sorted(LANG_STOPWORDS.items())
    }
    best = F.greatest(*[lang_scores[lang] for lang in langs])
    pred = F.when(best <= 0, F.lit("und"))
    for lang in langs:  # first (lexicographically) max wins
        pred = pred.when(lang_scores[lang] == best, F.lit(lang))
    base = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        score.alias("__q"),
        pred.alias("__lang"),
        best.cast("long").alias("best_score"),
        n_toks.cast("long").alias("n_tokens"),
        F.md5(F.array_join(toks, " ")).alias("fingerprint"),
    )
    w = Window.partitionBy("fingerprint").orderBy(F.col("doc_id").asc())
    return (
        base.withColumn("rn", F.row_number().over(w))
        .filter(
            (F.col("__q") == 4)
            & (F.col("__lang") == "en")
            & (F.col("rn") == 1)
        )
        .select("doc_id", "best_score", "n_tokens", "fingerprint")
        .orderBy("doc_id")
    )


def sample_deterministic(li: DataFrame) -> DataFrame:
    """Deterministic, engine-portable hash sampling — the
    training-data mix primitive. Each row's fate depends only on its
    key (md5 of the composite key, first 8 hex chars mod 1000), so
    the sample is reproducible across runs, engines, and cluster
    sizes — unlike rand()-seeded sampling, which depends on
    partitioning. Stratified: 5% of F rows, 20% of others (the
    up/down-weighting knob of a data mix). Zero shuffle: the filter
    is a pure per-row expression that pushes to the scan."""
    key = F.concat_ws("-", F.col("l_orderkey"), F.col("l_linenumber"))
    bucket = F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long") % 1000
    rate = F.when(F.col("l_returnflag") == "F", 50).otherwise(200)
    # No orderBy: the result is a set (the driver's comparison is
    # order-insensitive) and a sort would add the query's only
    # exchange.
    return li.filter(bucket < rate).select(
        F.col("l_orderkey").cast("long").alias("l_orderkey"),
        F.col("l_linenumber").cast("long").alias("l_linenumber"),
        "l_returnflag",
    )


def fingerprint(docs: DataFrame) -> DataFrame:
    """Document fingerprinting: md5 over the normalized token stream
    (case/punctuation/whitespace-insensitive), the standard exact-
    near-dup key (c.f. token-normalized hashing in CCNet/C4
    pipelines). Content-defined, order-sensitive."""
    normalized = F.array_join(tokens_col(F.col("text")), " ")
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.md5(normalized).alias("fingerprint"),
    )


def sample_stratified(docs: DataFrame, quota: int = 40) -> DataFrame:
    """Exact per-group quota sampling: the first ``quota`` docs per
    language in deterministic hash order — the complement of
    sample_deterministic's rate sampling (rates give you an expected
    fraction; quotas give you an exact per-stratum count, the shape a
    fixed data-mix budget needs). Groups smaller than the quota are
    taken whole.

    One shuffle (window partitioned by lang); the per-group sort is
    by md5(doc_id) so membership is reproducible across runs,
    engines, and cluster sizes. At 100 TB the window sorts each
    stratum — if a stratum is huge relative to quota, pre-filter
    with a rate sample slightly above quota/|stratum| first, then
    quota-cut the survivors (two-phase top-k, same trick as topk)."""
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select(F.col("doc_id").cast("long").alias("doc_id"), "lang")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= quota)
        .select("doc_id", "lang")
    )


def pack_shards(docs: DataFrame, shard_tokens: int = 20_000) -> DataFrame:
    """Token-budget shard packing: assign every doc a shard_id such
    that consecutive docs (in deterministic hash order) fill each
    shard to ~``shard_tokens`` whitespace tokens — the write-side
    step of a training pipeline (shards become the files a data
    loader streams).

    shard_id = floor(running_token_total_before_doc / shard_tokens),
    a GLOBAL prefix sum — the naive form is a single-partition
    window (one task sorts the world: dead at scale). This is the
    distributed two-phase prefix sum instead (two_phase_global_rank
    with a weight column): one range shuffle, |partitions| token
    totals to the driver, one mapInPandas pass, integer arithmetic
    throughout (no float cumsum drift at any corpus size). The
    Python hop carries only (doc_id, n_tokens, h) — the narrow Arrow
    batches, not text."""
    base = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(
            F.filter(F.split(F.col("text"), r"\s+"), lambda t: F.length(t) > 0)
        )
        .cast("long")
        .alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    return two_phase_global_rank(
        base, ["h", "doc_id"], "cum", weight="n_tokens"
    ).select(
        "doc_id",
        "n_tokens",
        F.expr(f"(cum - n_tokens) div {shard_tokens}").alias("shard_id"),
    )


def heavy_hitters(docs: DataFrame, k: int = 50) -> DataFrame:
    """EXACT heavy hitters (words with count * k > total words) via
    the two-pass Misra-Gries candidate + recount pattern — the shape
    a 100 TB frequency query needs when the full word->count table
    is too big to shuffle but the answer set is tiny.

    Pass 1: a Misra-Gries summary of capacity ``k`` per partition
    (mapInPandas, batched value_counts merged under MG trim). By the
    pigeonhole/mergeability guarantee, any word with GLOBAL count >
    n/k has partition count > n_p/(k+1) somewhere, so it survives
    some partition's summary — the candidate union (<= k x
    partitions words) provably contains every true heavy hitter.

    Pass 2: exact counts ONLY for candidates (broadcast semi-join,
    so the token stream shuffles just the candidate words), then the
    exact threshold — integer cross-multiplication, no division.
    Result is exactly equal to the full groupBy answer (oracle-
    checked), at the cost of shuffling |candidates| instead of
    |vocabulary|."""
    import pandas as pd

    tokens = docs.select(F.explode(tokens_col(F.col("text"))).alias("word"))
    total = tokens.count()

    def mg(batches):
        counters: dict[str, int] = {}
        for pdf in batches:
            for w, c in pdf["word"].value_counts().items():
                counters[w] = counters.get(w, 0) + int(c)
            if len(counters) > k:
                vals = sorted(counters.values(), reverse=True)
                sub = vals[k]
                counters = {
                    w: c - sub for w, c in counters.items() if c - sub > 0
                }
        yield pd.DataFrame({"word": list(counters)})

    cands = tokens.mapInPandas(mg, "word string").distinct()
    return (
        tokens.join(F.broadcast(cands), "word", "left_semi")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") * k > F.lit(total))
    )


N_BENCH_DOCS = 5  # fixture convention: doc_id < 5 stand in for an eval set


def _ngram_col(tokens: Column, n: int) -> Column:
    """Word n-grams as space-joined strings; [] below n tokens."""
    return F.when(
        F.size(tokens) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(tokens) - n),
            lambda i: F.array_join(F.slice(tokens, i + 1, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def decontaminate(docs: DataFrame, n: int = 3) -> DataFrame:
    """Benchmark decontamination: drop every corpus doc that shares
    ANY word n-gram with the benchmark set (here: doc_id <
    N_BENCH_DOCS stand in for an eval suite) — the standard
    contamination filter run before training (n-gram overlap against
    held-out benchmarks, c.f. the GPT-3/PaLM appendix methodology).

    Shape at scale: benchmark n-grams are SMALL by construction (an
    eval suite, not a corpus) -> distinct + broadcast; the corpus
    side streams through one semi-join to find contaminated doc ids,
    then one broadcast anti-join drops them. The corpus is never
    shuffled on n-grams."""
    # Lazy checkpoint (r18, guide §2.4): this tokenized frame feeds
    # THREE subtrees (benchmark grams, corpus grams, and the anti-
    # join base), each of which re-derived the scan+tokenize without
    # it — the first stage to run materializes it once.
    toks = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "lang",
        tokens_col(F.col("text")).alias("t"),
    ).localCheckpoint(eager=False)
    grams = toks.select(
        "doc_id", F.explode(_ngram_col(F.col("t"), n)).alias("gram")
    )
    bench_grams = (
        grams.filter(F.col("doc_id") < N_BENCH_DOCS).select("gram").distinct()
    )
    contaminated = (
        grams.filter(F.col("doc_id") >= N_BENCH_DOCS)
        .join(F.broadcast(bench_grams), "gram", "left_semi")
        .select("doc_id")
        .distinct()
    )
    # no broadcast hint on the anti join: the contaminated set is
    # usually tiny (AQE will broadcast it at runtime) but is corpus-
    # derived, so it has no a-priori size bound the way bench_grams
    # does — forcing a broadcast would be a scale hazard.
    return (
        toks.filter(F.col("doc_id") >= N_BENCH_DOCS)
        .join(contaminated, "doc_id", "left_anti")
        .select("doc_id", "lang")
    )


def quality_filter(docs: DataFrame) -> DataFrame:
    """Gopher-style rule-based quality filter: per-document metrics
    plus a keep/drop verdict, all in one pass.

    Rules (thresholds calibrated to the fixture corpus so the split
    is non-trivial; a real pipeline tunes them per source):
      - token count in [20, 100000]
      - mean token length in [3.0, 8.0]
      - most-frequent-token ratio <= 0.12  (single-word spam)
      - duplicate-bigram fraction <= 0.20  (boilerplate repetition)

    Everything is a per-row array expression — no shuffle, no UDF,
    whole-stage codegen end to end; at 100 TB this runs at scan
    speed and the keep flag is what downstream stages filter on.
    Ratios are exact-integer divisions surfaced as one double
    divide, so DuckDB reproduces them bit-for-bit.

    The token/bigram arrays are MATERIALIZED in a first projection:
    inlining tokens_col() into the nested mode-count lambda makes
    Catalyst re-run the regex split once per distinct token per row
    (no common-subexpression elimination inside higher-order
    functions) — measured 11.8s -> sub-second at sf0.1."""
    arrs = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        tokens_col(F.col("text")).alias("t"),
    ).select("doc_id", "t", _ngram_col(F.col("t"), 2).alias("g"))
    toks, grams = F.col("t"), F.col("g")
    n_toks = F.size(toks).cast("long")
    sum_len = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    mean_len = sum_len.cast("double") / F.greatest(n_toks, F.lit(1)).cast("double")
    # mode count via distinct x count-in-array: O(|distinct| * n)
    # per row over the materialized array, fine for documents;
    # stays JVM-side
    top_cnt = F.array_max(
        F.transform(
            F.array_distinct(toks),
            lambda x: F.size(F.filter(toks, lambda y: y == x)).cast("long"),
        )
    )
    top_ratio = top_cnt.cast("double") / F.greatest(n_toks, F.lit(1)).cast("double")
    dup_bigrams = (F.size(grams) - F.size(F.array_distinct(grams))).cast("long")
    dup_frac = dup_bigrams.cast("double") / F.greatest(
        F.size(grams).cast("long"), F.lit(1)
    ).cast("double")
    out = arrs.select(
        "doc_id",
        n_toks.alias("n_toks"),
        mean_len.alias("mean_tok_len"),
        top_ratio.alias("top_tok_ratio"),
        dup_frac.alias("dup_bigram_frac"),
    )
    keep = (
        (F.col("n_toks") >= 20)
        & (F.col("n_toks") <= 100000)
        & (F.col("mean_tok_len") >= 3.0)
        & (F.col("mean_tok_len") <= 8.0)
        & (F.col("top_tok_ratio") <= 0.12)
        & (F.col("dup_bigram_frac") <= 0.20)
    )
    return out.withColumn("keep", keep)


def dedup_spans(docs: DataFrame, span_tokens: int = 12) -> DataFrame:
    """Span-level exact dedup with reconstruction (the C4/Dolma
    line-and-paragraph dedup family, over fixed token tiles since the
    fixture corpus has no natural line structure): tile each document
    into non-overlapping ``span_tokens``-token spans, keep only each
    span's GLOBAL first occurrence (min (doc_id, span_id) — a total
    order, so deterministic cross-engine), and reassemble the
    surviving spans into a cleaned document.

    Whole-document dedup misses boilerplate REPEATED INSIDE otherwise
    distinct pages (headers, navigation, license blocks) — the thing
    span dedup exists to remove before training.

    Scale shape: two shuffles total — one for the keep-first window
    and one on doc_id for reassembly. The window key is
    (xxhash64(span), span): the RAW text in the key makes false
    merges impossible — a single 64-bit key (the r4 implementation)
    silently drops one of any two DISTINCT spans that collide, and
    the birthday bound makes that real at scale (~n²/2⁶⁵ expected
    false merges ≈ 3×10⁴ at 10¹² spans; ~50% chance of at least one
    by 5×10⁹ spans) — while the leading hash makes key comparison
    cheap: the window's sort rejects unequal keys on the 8-byte
    hash and touches the string only on hash equality (measured
    ~25% faster than text-only keying at sf0.1, and faster than the
    lossy hash-only key). Shuffle width is unchanged either way:
    ``chunk_text`` already travels as a data column for reassembly.
    Per-group state is bounded by |duplicates of one span|, and the
    rebuilt text is array_sort + array_join, all JVM-side."""
    from pyspark.sql import Window

    tiles = chunk_documents(docs, chunk_tokens=span_tokens, stride=span_tokens)
    wspan = Window.partitionBy(F.xxhash64("chunk_text"), F.col("chunk_text"))
    wdoc = Window.partitionBy("doc_id")
    marked = tiles.withColumn(
        "__first", F.min(F.struct("doc_id", "chunk_id")).over(wspan)
    ).withColumn("__n_total", F.count(F.lit(1)).over(wdoc))
    kept = marked.filter(
        (F.col("doc_id") == F.col("__first.doc_id"))
        & (F.col("chunk_id") == F.col("__first.chunk_id"))
    )
    return (
        kept.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            (F.first("__n_total") - F.count(F.lit(1)))
            .cast("long")
            .alias("n_dropped"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("chunk_id", "chunk_text"))
                    ),
                    lambda s: s["chunk_text"],
                ),
                " ",
            ).alias("clean_text"),
        )
        .orderBy("doc_id")
    )


def quality_gate_per_lang(docs: DataFrame, q: float = 0.25) -> DataFrame:
    """Per-language adaptive quality gate: keep documents at or above
    their OWN language's ``q``-quantile of document length — the
    corpus-relative form of quality_filter's absolute thresholds.
    Fixed global cutoffs systematically starve low-resource languages
    (their length distributions differ); quantile-per-group is how a
    multilingual training-data pipeline actually sets gates.

    Shape for scale: one partial-aggregated groupBy computes the
    per-language cutoffs (|languages| rows — tiny), broadcast back
    onto the corpus scan, filter fuses into the scan stage. The
    corpus is never shuffled. Exact interpolated percentile over
    integers is engine-reproducible (dyadic-fraction interpolation
    is exact in binary floating point), so this oracle-checks."""
    cuts = docs.groupBy("lang").agg(
        F.round(F.percentile("n_chars", F.lit(q)), 6).alias("lang_cut")
    )
    return (
        docs.join(F.broadcast(cuts), "lang")
        .filter(F.col("n_chars").cast("double") >= F.col("lang_cut"))
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "lang",
            F.col("n_chars").cast("long").alias("n_chars"),
            "lang_cut",
        )
        .orderBy("doc_id")
    )


def pii_scrub(docs: DataFrame) -> DataFrame:
    """PII redaction at scan speed: emails and phone numbers ->
    typed placeholder tokens, with per-doc redaction counts.

    The fixture corpus is synthetic and PII-free, so the query first
    PLANTS deterministic fake PII (an email and a phone number
    derived from doc_id) and then proves the scrubber removes it —
    plant and scrub are both mirrored in the DuckDB oracle, and the
    output asserts zero residual matches. Pure regexp expressions,
    no UDF, no shuffle; at 100 TB this is a map-only pass fused into
    the scan."""
    email_re = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
    phone_re = r"\+1-555-[0-9]{4}"
    planted = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    with_p = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"), planted.alias("p")
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col("p"), email_re, "<EMAIL>"), phone_re, "<PHONE>"
    )
    return with_p.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("p"), F.lit(email_re), F.lit(0)))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(F.col("p"), F.lit(phone_re), F.lit(0)))
        .cast("long")
        .alias("n_phones"),
        F.md5(scrubbed).alias("scrubbed_md5"),
        F.size(F.regexp_extract_all(scrubbed, F.lit(email_re), F.lit(0)))
        .cast("long")
        .alias("residual_pii"),
    )


def sample_weighted(docs: DataFrame) -> DataFrame:
    """Source-mix resampling: keep each document with a per-source
    probability — the domain-weighting knob of a training-data mix
    (web down-weighted, curated sources kept whole).

    Same engine-portable construction as sample_deterministic: the
    keep decision is md5(doc_id)-derived, so it is reproducible
    across runs, engines, partitionings, and cluster sizes, and the
    filter is a pure per-row expression fused into the scan — zero
    shuffle. Weights here: even-numbered sources 25%, odd 75%
    (fixture sources are src0..src19; a real mix maps named domains
    to rates)."""
    bucket = (
        F.conv(F.substring(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":wmix"))), 1, 8), 16, 10)
        .cast("long")
        % 1000
    )
    src_num = F.regexp_extract(F.col("source"), r"([0-9]+)$", 1).cast("long")
    rate = F.when(src_num % 2 == 0, 250).otherwise(750)
    return docs.filter(bucket < rate).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "source",
        "lang",
    )


def doc_grep(docs: DataFrame, pattern: str = "(?:slow|fast) [a-z]+") -> DataFrame:
    """Distributed grep — with wordCount, the canonical job of the
    reference's programming model (a Map that emits matching records
    and an identity Reduce; reference mpWorker/worker.go:21-22 Map
    contract over byte-chunk splits, mpMaster/master.go file-split
    scheduling).

    Spark-first form: the regexp is a pure per-row JVM expression
    fused into the parquet scan — zero shuffle, zero Python. The
    pattern deliberately uses only RE2-compatible syntax
    (non-capturing groups) so engine and oracle agree. Per matching
    document: match count plus the first 5 matched fragments."""
    matches = F.regexp_extract_all(F.lower(F.col("text")), F.lit(pattern), 0)
    return (
        docs.select(F.col("doc_id").cast("long").alias("doc_id"), matches.alias("m"))
        .filter(F.size("m") > 0)
        .select(
            "doc_id",
            F.size("m").cast("long").alias("n_matches"),
            F.array_join(F.slice("m", 1, 5), "|").alias("matches_head"),
        )
    )


def inverted_index(docs: DataFrame, k_postings: int = 20) -> DataFrame:
    """Inverted-index build — the other canonical MapReduce workload
    (Map emits (word, doc_id), Reduce sorts the posting list; the
    per-bucket sorted intermediates of reference mpWorker/worker.go:
    142-151 are exactly this job's shuffle format).

    Spark-first, skew-aware form. Exact document frequency and total
    occurrence counts come from map-side-combined aggregates that
    never materialize a posting list. The stored posting-list head
    (first ``k_postings`` doc_ids ascending) is built with the same
    two-phase prune as topk_per_group_df: each shuffle partition
    keeps its local min-k per token first, so a stop-word token that
    appears in every document of a 100 TB corpus contributes at most
    |partitions| x k rows to the final per-token merge instead of a
    full-corpus collect_list."""
    dw = (
        docs.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.explode(tokens_col(F.col("text"))).alias("word"),
        )
        .groupBy("word", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    stats = dw.groupBy("word").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("tf").cast("long").alias("total_count"),
    )
    local = (
        dw.withColumn("pid", F.spark_partition_id())
        .groupBy("word", "pid")
        .agg(
            F.slice(F.sort_array(F.collect_list("doc_id")), 1, k_postings).alias(
                "ids"
            )
        )
        .select("word", F.explode("ids").alias("doc_id"))
    )
    postings = local.groupBy("word").agg(
        F.array_join(
            F.transform(
                F.slice(F.sort_array(F.collect_list("doc_id")), 1, k_postings),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("postings_head")
    )
    return stats.join(postings, "word").orderBy("word")


def chunk_documents(
    docs: DataFrame, chunk_tokens: int = 50, stride: int = 40
) -> DataFrame:
    """Fixed-size token-window chunking with overlap — the training-
    prep step between cleaning and shard packing: each document
    becomes ceil(n/stride) chunks of ``chunk_tokens`` tokens starting
    every ``stride`` (overlap = chunk_tokens - stride).

    Pure JVM expressions end-to-end: tokenize once, generate the
    start offsets with sequence(), fan out with explode, slice each
    window — no Python, no shuffle (the fan-out happens in the scan
    stage and the output is ~n/stride rows per doc). At 100 TB this
    is scan-speed and embarrassingly parallel."""
    toks = tokens_col(F.col("text"))
    with_toks = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"), toks.alias("toks")
    ).filter(F.size("toks") > 0)
    starts = F.sequence(F.lit(0), F.size("toks") - 1, F.lit(stride))
    return (
        with_toks.select("doc_id", "toks", F.explode(starts).alias("start"))
        .select(
            "doc_id",
            (F.col("start") / stride).cast("long").alias("chunk_id"),
            F.least(
                F.lit(chunk_tokens), F.size("toks") - F.col("start")
            ).cast("long").alias("n_tokens"),
            F.array_join(
                F.slice(F.col("toks"), F.col("start") + 1, chunk_tokens), " "
            ).alias("chunk_text"),
        )
    )


def split_no_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination-safe train/test split: a deterministic ~10% test
    split where every near-duplicate CLUSTER lands wholly on one side
    — the leakage guard a benchmark-grade corpus split needs (a
    train doc that is a near-dup of a test doc is contamination even
    though their doc_ids differ).

    Construction: MinHash-verified near-dup clusters (dedup_clusters'
    connected components) give each doc a representative; docs in no
    cluster represent themselves. The split fate is md5(rep), NOT
    md5(doc_id) — so fate is constant within a cluster by
    construction, and the same engine-portable md5 bucketing as
    sample_deterministic makes the split reproducible across engines
    and partitionings. One broadcast-size left join against the
    cluster map; everything else is per-row."""
    from mapreducego_spark.functions.dedup import dedup_clusters
    from mapreducego_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    clusters = dedup_clusters(spark, sf_dir)  # doc_id, cluster_rep
    rep = F.coalesce(F.col("cluster_rep"), F.col("doc_id")).cast("long")
    fate = (
        F.conv(
            F.substring(F.md5(F.concat(rep.cast("string"), F.lit(":split"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 1000
    )
    return (
        docs.select(F.col("doc_id").cast("long").alias("doc_id"))
        .join(F.broadcast(clusters), "doc_id", "left")
        .select(
            "doc_id",
            rep.alias("cluster_rep"),
            F.when(fate < 100, "test").otherwise("train").alias("split"),
        )
    )


def dup_ngram_profile(
    docs: DataFrame, n: int = 8, min_docs: int = 2
) -> DataFrame:
    """Exact cross-document substring-duplication profile — the fixed-n
    approximation of suffix-array exact-substring dedup (Lee et al.
    2021, "Deduplicating Training Data Makes Language Models Better"):
    for every document, how much of it is word n-grams that also
    appear in at least ``min_docs - 1`` OTHER documents. Downstream
    filters drop or rewrite high-``dup_frac`` docs; the per-doc counts
    are exact, not sketched.

    Scale shape: n-grams are md5-hashed BEFORE the shuffle, so every
    shuffle row carries a fixed 32-char key instead of an arbitrary-
    length text span (at n=8 a gram can be hundreds of bytes; the
    hash bounds shuffle width and makes the gram aggregate's key
    fixed-size). One gram-hash shuffle computes document frequency,
    the shared set filters it, one join back on the same key tags
    duplicated occurrences, and the per-doc aggregate shuffles
    doc-sized partials. Docs below n tokens surface with zero grams
    (LEFT join), never silently vanish. md5 collisions would merge
    grams identically in both engines (128-bit: negligible, and
    deterministic either way)."""
    toks = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        tokens_col(F.col("text")).alias("t"),
    )
    base = toks.select(
        "doc_id",
        F.when(F.size("t") >= n, F.size("t") - (n - 1))
        .otherwise(0)
        .cast("long")
        .alias("n_grams"),
    )
    grams = toks.select(
        "doc_id", F.explode(_ngram_col(F.col("t"), n)).alias("gram")
    ).select("doc_id", F.md5("gram").alias("gh"))
    shared = (
        grams.groupBy("gh")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("gh")
    )
    prof = (
        grams.join(shared, "gh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dup_occ"),
            F.countDistinct("gh").cast("long").alias("n_dup_grams"),
        )
    )
    return (
        base.join(prof, "doc_id", "left_outer")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_dup_occ", F.lit(0)).cast("long").alias("n_dup_occ"),
            F.coalesce("n_dup_grams", F.lit(0)).cast("long").alias("n_dup_grams"),
            F.when(
                F.col("n_grams") > 0,
                F.coalesce("n_dup_occ", F.lit(0)).cast("double")
                / F.col("n_grams").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_frac"),
        )
        .orderBy("doc_id")
    )


def repetition_profile(docs: DataFrame) -> DataFrame:
    """Within-document repetition metrics — the Gopher/Rae-et-al.
    repetition family (top-word mass, duplicated word-n-gram
    fraction), the standard signal for filtering degenerate or
    boilerplate-looped training text.

    Per doc: the most frequent token and the fraction of word
    characters it accounts for (ties broken toward the
    lexicographically smallest token, deterministic cross-engine),
    plus the duplicated-2-gram and duplicated-3-gram fractions
    (1 - distinct/total).

    Scale shape: everything is a per-row array expression — no
    groupBy/join shuffle anywhere (plan-gated in pytest; the only
    exchanges are the spread_scan fan-out, a no-op on real
    multi-split inputs, and the final presentation sort). The
    top-word count folds ONE pass over the sorted token array with a
    (prev, run, best, best_count) accumulator instead of exploding
    |tokens| rows per doc into a groupBy; on 100 TB the operator
    reads documents once and shuffles nothing but raw doc bytes.
    spread_scan matters here: the work is CPU-heavy interpreted
    array expressions (1.8s -> 0.9s at sf0.1 on a one-row-group
    file).

    The token/gram arrays and the fold result are MATERIALIZED in
    staged projections (the quality_filter lesson: Catalyst has no
    common-subexpression elimination inside higher-order functions,
    and CollapseProject re-inlines an alias only when it is cheap or
    single-use — so naming the expensive intermediates keeps each
    one evaluated once; measured 4.2s -> ~1.3s at sf0.1).
    """
    base = spread_scan(docs).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        tokens_col(F.col("text")).alias("t"),
    )
    arrs = base.select(
        "doc_id",
        "t",
        _ngram_col(F.col("t"), 2).alias("g2"),
        _ngram_col(F.col("t"), 3).alias("g3"),
    )

    # One fold over the sorted array: run lengths of equal adjacent
    # tokens; strict > keeps the FIRST max run, which in ascending
    # order is the lexicographically smallest max-count token.
    folded = F.aggregate(
        F.array_sort("t"),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("run"),
            F.lit("").alias("bw"),
            F.lit(0).alias("bc"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)).alias("run"),
            F.when(
                F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)) > acc.bc, x
            )
            .otherwise(acc.bw)
            .alias("bw"),
            F.greatest(
                F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)), acc.bc
            ).alias("bc"),
        ),
    )
    mid = arrs.select(
        "doc_id",
        F.size("t").cast("long").alias("n_tokens"),
        folded.alias("fold"),
        F.aggregate("t", F.lit(0), lambda a, x: a + F.length(x)).alias("n_chars"),
        F.size("g2").alias("n_g2"),
        F.size(F.array_distinct("g2")).alias("d_g2"),
        F.size("g3").alias("n_g3"),
        F.size(F.array_distinct("g3")).alias("d_g3"),
    )

    def dup_frac(n: str, d: str) -> Column:
        return F.when(
            F.col(n) > 0,
            F.lit(1.0) - F.col(d).cast("double") / F.col(n).cast("double"),
        ).otherwise(F.lit(0.0))

    return mid.select(
        "doc_id",
        "n_tokens",
        F.col("fold.bw").alias("top_word"),
        F.when(
            F.col("n_chars") > 0,
            (F.col("fold.bc") * F.length("fold.bw")).cast("double")
            / F.col("n_chars").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("top_word_frac"),
        dup_frac("n_g2", "d_g2").alias("dup_2gram_frac"),
        dup_frac("n_g3", "d_g3").alias("dup_3gram_frac"),
    ).orderBy("doc_id")


def tfidf_cosine_pairs(
    docs: DataFrame, threshold: float = 0.8, max_posting: int = 5_000
) -> DataFrame:
    """Sparse TF-IDF cosine similarity between all document pairs
    above ``threshold`` — the classic MapReduce pairwise-similarity
    operator (Elsayed/Lin/Oard 2008): the dot product of two sparse
    vectors only has support on SHARED terms, so an inverted-index
    self-join on term generates exactly the nonzero contributions
    and no pair of documents with disjoint vocabularies is ever
    materialized.

    Engine-exactness: idf is quantized ONCE per term to integer
    milli-nats (floor(ln(N/df) * 1000)), so per-doc weights are
    LONGs, norms and dots are order-independent LONG sums, and the
    final cosine is sqrt/division on exact integers — IEEE-correctly
    rounded identically in any engine. (A float idf would make every
    sum order-dependent and the oracle a tolerance game.) Bounds:
    weights fit 2^53 up to tf*idf ~ 9e15 — ln(1e9)*1000 * tf 400 is
    ~9e9, comfortably inside.

    Scale path: posting lists are the cost driver (sum of df^2
    candidate pairs). Terms with df == N carry idf 0 and drop out
    for free (the stopword effect, exact); beyond that, production
    all-pairs similarity cuts high-df terms (df-cut, Elsayed et al.)
    or applies prefix filtering (Bayardo et al. 2007). Here a
    posting list over ``max_posting`` raises in-plan via guard_limit
    with that routing hint rather than silently going quadratic."""
    from mapreducego_spark.operators.util import guard_limit

    toks = spread_scan(docs).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(tokens_col(F.col("text"))).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = tf.agg(F.countDistinct("doc_id").alias("n_docs"))
    w = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            (
                F.col("tf")
                * F.floor(
                    F.log(
                        F.col("n_docs").cast("double") / F.col("df").cast("double")
                    )
                    * 1000
                ).cast("long")
            ).alias("w"),
        )
        .filter(F.col("w") > 0)
    )
    sizes = w.groupBy("term").agg(F.count(F.lit(1)).alias("__n_post"))
    w = (
        w.join(sizes, "term")
        .filter(
            guard_limit(
                F.col("__n_post"),
                max_posting,
                F.concat(
                    F.lit("tfidf_cosine_pairs: posting list for term '"),
                    F.col("term"),
                    F.lit(
                        f"' exceeds max_posting={max_posting}; apply a "
                        "df-cut or prefix filtering for this corpus"
                    ),
                ),
            )
        )
        .drop("__n_post")
    )
    norms = w.groupBy("doc_id").agg(F.sum(F.col("w") * F.col("w")).alias("n2"))
    a = w.select(F.col("doc_id").alias("doc_a"), "term", F.col("w").alias("wa"))
    b = w.select(F.col("doc_id").alias("doc_b"), "term", F.col("w").alias("wb"))
    dots = (
        a.join(b, "term")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("n2").alias("n2_a"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("n2").alias("n2_b"))
    cosine = F.round(
        F.col("dot").cast("double")
        / (
            F.sqrt(F.col("n2_a").cast("double"))
            * F.sqrt(F.col("n2_b").cast("double"))
        ),
        6,
    )
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select("doc_a", "doc_b", cosine.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
        .orderBy("doc_a", "doc_b")
    )


def prepare_corpus(docs: DataFrame) -> DataFrame:
    """END-TO-END training-corpus preparation as one oracle-checked
    query — the composition a pretraining data run actually executes,
    chaining three already-verified stages over one pass of the
    corpus:

      1. corpus_clean — Gopher-style quality gates, English lang-ID,
         normalized-fingerprint exact dedup (keep-first);
      2. decontaminate — drop any document sharing a token trigram
         with the benchmark set (doc_id < 5 in the fixture), the
         n-gram decontamination step;
      3. pack_shards — token-budget shard assignment over the
         SURVIVORS in deterministic hash order (two-phase prefix
         sum), the write-side layout for the training run.

    Output: one row per surviving document with its language score,
    token count, and shard assignment. Every stage keeps its own
    oracle elsewhere in the registry; this entry's oracle chains the
    same CTEs, so the hash match proves the stages compose without
    interference (the subtle failure: dedup or packing computed over
    the UNFILTERED corpus — survivors must be selected before the
    prefix sum, or shard budgets count dropped documents)."""
    cleaned = corpus_clean(docs)
    decon_ids = decontaminate(docs).select("doc_id")
    # Lazy checkpoint (r18, guide §2.4): survivors is consumed by
    # BOTH the packing base and the final readout join — uncached,
    # the whole clean+decontaminate chain (the expensive metric
    # projection, the fingerprint window, the trigram semi-join)
    # re-executed once per consumer. Survivor rows are small (id +
    # three metric columns).
    survivors = cleaned.join(decon_ids, "doc_id").localCheckpoint(
        eager=False
    )
    base = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    ).join(survivors.select("doc_id"), "doc_id")
    packed = pack_shards(base).select("doc_id", "shard_id")
    return (
        survivors.join(packed, "doc_id")
        .select("doc_id", "best_score", "n_tokens", "shard_id")
        .orderBy("doc_id")
    )


def kfold_no_leakage(spark: SparkSession, sf_dir: str, k: int = 5) -> DataFrame:
    """K-fold cross-validation assignment with the same leakage guard
    as split_no_leakage: the fold is md5(cluster representative) mod
    k, so every near-duplicate cluster lands wholly in one fold —
    rotating any fold out as validation never leaks a near-dup of a
    validation doc into training. Deterministic across engines,
    partitionings, and runs (no RNG); fold sizes are binomially
    balanced rather than exactly equal, the standard trade for a
    stateless content-keyed assignment (exact balance would need a
    global sort or a greedy packer, both of which break pure
    per-row reproducibility)."""
    from mapreducego_spark.functions.dedup import dedup_clusters
    from mapreducego_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    clusters = dedup_clusters(spark, sf_dir)
    rep = F.coalesce(F.col("cluster_rep"), F.col("doc_id")).cast("long")
    fold = (
        F.conv(
            F.substring(F.md5(F.concat(rep.cast("string"), F.lit(":fold"))), 1, 8),
            16,
            10,
        ).cast("long")
        % k
    )
    return (
        docs.select(F.col("doc_id").cast("long").alias("doc_id"))
        .join(F.broadcast(clusters), "doc_id", "left")
        .select("doc_id", rep.alias("cluster_rep"), fold.alias("fold"))
        .orderBy("doc_id")
    )


def nb_classify(docs: DataFrame) -> DataFrame:
    """Multinomial naive Bayes language classifier, trained and
    scored entirely in the engine — the classic supervised text
    classifier (McCallum & Nigam 1998) as a pure DataFrame plan:
    docs with doc_id % 5 != 0 train per-language unigram models
    (add-one smoothing), docs with % 5 == 0 are scored by
    argmax_lang [log prior + sum log p(term|lang)].

    Engine-exactness (the float trap, solved as in
    perplexity_score): every log-probability is quantized ONCE to
    integer micro-nats — floor(ln(x)*1e6) of one deterministic
    double per (term, lang) — and per-doc scores are LONG sums, so
    partition order cannot move a decision boundary. Ties break to
    the lexicographically smallest language.

    Scale shape: the model is the sparse (term, lang) count table
    (map-side combined) plus a 1-row-per-lang prior/default table
    that BROADCASTS; scoring is the test token stream fanned out
    |langs| ways (a bounded 5x here), one left join against the
    sparse model, one per-(doc, lang) LONG sum, one per-doc window
    max. OOV terms (absent from the train vocab) are dropped — the
    standard choice, and the one a SQL twin can mirror exactly.
    Docs whose every token is OOV still score: prior-only rows are
    seeded from the doc x lang grid, not from token joins."""
    # Lazy checkpoint (r18, guide §2.4): this base feeds EVERY model
    # branch — train counts, vocab, vocab size, per-lang totals,
    # train-doc count, priors, test tokens, the test grid — and
    # Catalyst re-derives an uncached subtree once per reference
    # (measured: 24 parquet scans / 78 Exchanges in the un-cached
    # plan). Materializing the tokenized rows once collapses all of
    # them to cached reads; the first stage to run materializes it
    # (the sort_once idiom).
    base = (
        spread_scan(docs)
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "lang",
            tokens_col(F.col("text")).alias("toks"),
        )
        .localCheckpoint(eager=False)
    )
    train = base.filter(F.col("doc_id") % 5 != 0)
    test = base.filter(F.col("doc_id") % 5 == 0)

    train_toks = train.select("lang", F.explode("toks").alias("term"))
    counts = train_toks.groupBy("lang", "term").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    vocab = counts.select("term").distinct()
    v_size = vocab.agg(F.count(F.lit(1)).alias("v"))
    lang_tot = train_toks.groupBy("lang").agg(F.count(F.lit(1)).alias("tot"))
    n_train = train.agg(F.count(F.lit(1)).alias("n"))
    priors = (
        train.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .crossJoin(F.broadcast(n_train))
        .select(
            "lang",
            F.floor(
                F.log(F.col("n_docs").cast("double") / F.col("n").cast("double"))
                * 1_000_000
            ).cast("long").alias("prior_micro"),
        )
    )
    # per-lang smoothing denominator and the unseen-term default
    lang_model = (
        lang_tot.crossJoin(F.broadcast(v_size))
        .select(
            "lang",
            (F.col("tot") + F.col("v")).alias("den"),
            F.floor(
                F.log(F.lit(1.0) / (F.col("tot") + F.col("v")).cast("double"))
                * 1_000_000
            ).cast("long").alias("default_micro"),
        )
    )
    lp = counts.join(lang_model.select("lang", "den"), "lang").select(
        "lang",
        "term",
        F.floor(
            F.log((F.col("cnt") + 1).cast("double") / F.col("den").cast("double"))
            * 1_000_000
        ).cast("long").alias("lp_micro"),
    )

    test_toks = (
        test.select("doc_id", F.explode("toks").alias("term"))
        .join(vocab, "term", "left_semi")
    )
    langs = priors.select("lang")
    contrib = (
        test_toks.crossJoin(F.broadcast(langs.withColumnRenamed("lang", "L")))
        .join(
            lp.select(F.col("lang").alias("L"), "term", "lp_micro"),
            ["L", "term"],
            "left",
        )
        .join(
            F.broadcast(
                lang_model.select(F.col("lang").alias("L"), "default_micro")
            ),
            "L",
        )
        .groupBy("doc_id", "L")
        .agg(
            F.sum(F.coalesce(F.col("lp_micro"), F.col("default_micro"))).alias(
                "tok_micro"
            )
        )
    )
    grid = test.select("doc_id", "lang").crossJoin(
        F.broadcast(
            priors.select(F.col("lang").alias("L"), "prior_micro")
        )
    )
    scores = grid.join(contrib, ["doc_id", "L"], "left").select(
        "doc_id",
        F.col("lang").alias("true_lang"),
        "L",
        (F.col("prior_micro") + F.coalesce(F.col("tok_micro"), F.lit(0))).alias(
            "score_micro"
        ),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_micro").desc(), F.col("L").asc()
    )
    return (
        scores.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("L").alias("pred_lang"),
            "true_lang",
            (F.col("L") == F.col("true_lang")).alias("correct"),
        )
        .orderBy("doc_id")
    )


def cms_heavy_hitters(
    docs: DataFrame, depth: int = 4, width: int = 1024, k: int = 50
) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) built as a
    DataFrame aggregate, then queried for the exact top-k tokens —
    the oracle-checkable face of the sketch tier: unlike the HLL /
    approx-percentile entries (engine-internal randomness, rows-only
    checks), this CMS is built from engine-PORTABLE hashing (md5 →
    first-8-hex int, then depth pairwise-independent affine maps
    mod p mod width), so DuckDB reproduces every counter and the
    driver hash-compares estimates exactly.

    Sketch shape: the token stream fans out ``depth`` ways (bounded
    4x) into one map-side-combined groupBy over (row, bucket) —
    the sketch is depth x width LONG counters (32 KB here) however
    large the corpus is, the whole point at 100 TB: it broadcasts,
    merges by addition, and answers point queries with
    est(t) = min_j counter[j][h_j(t)] >= true, within eps*N with
    probability 1 - delta (eps = e/width, delta = e^-depth).

    Output per exact-top-k token: true count, CMS estimate, and the
    never-underestimates flag (the CMS guarantee; a pytest asserts
    it over the WHOLE vocab, not just the top-k)."""
    p = 2_147_483_647  # 2^31 - 1, Mersenne
    toks = spread_scan(docs).select(
        F.explode(tokens_col(F.col("text"))).alias("term")
    )
    base_h = F.conv(F.substring(F.md5(F.col("term")), 1, 8), 16, 10).cast(
        "long"
    )
    rows = toks.select(
        "term",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).cast("long").alias("j"),
                        (
                            ((base_h * (2 * j + 3) + (7 * j + 1)) % p) % width
                        ).alias("bucket"),
                    )
                    for j in range(depth)
                ]
            )
        ).alias("rb"),
    ).select("term", F.col("rb.j").alias("j"), F.col("rb.bucket").alias("bucket"))
    sketch = rows.groupBy("j", "bucket").agg(
        F.count(F.lit(1)).alias("counter")
    )
    exact = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("true_cnt"))
        .orderBy(F.col("true_cnt").desc(), F.col("term").asc())
        .limit(k)
    )
    probes = exact.select(
        "term",
        "true_cnt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).cast("long").alias("j"),
                        (
                            ((base_h * (2 * j + 3) + (7 * j + 1)) % p) % width
                        ).alias("bucket"),
                    )
                    for j in range(depth)
                ]
            )
        ).alias("rb"),
    ).select(
        "term", "true_cnt", F.col("rb.j").alias("j"),
        F.col("rb.bucket").alias("bucket"),
    )
    return (
        probes.join(F.broadcast(sketch), ["j", "bucket"])
        .groupBy("term", "true_cnt")
        .agg(F.min("counter").alias("cms_est"))
        .select(
            "term",
            F.col("true_cnt").cast("long").alias("true_cnt"),
            F.col("cms_est").cast("long").alias("cms_est"),
            (F.col("cms_est") >= F.col("true_cnt")).alias("never_under"),
        )
        .orderBy(F.col("true_cnt").desc(), F.col("term").asc())
    )


def perplexity_bigram(docs: DataFrame, threshold_nats: float = 6.0) -> DataFrame:
    """Bigram-LM perplexity with stupid backoff (Brants et al. 2007)
    — the next rung above perplexity_score's unigram model: each
    token is scored by p(t_i | t_{i-1}) when the bigram was seen in
    the corpus, else alpha * p_unigram(t_i) with alpha = 0.4, the
    large-corpus backoff that needs no discounting mass bookkeeping
    (exactly why web-scale LMs used it). Lower mean NLL = more
    predictable text; the gap vs the unigram score isolates local
    word-order fluency, which unigram scoring cannot see.

    Engine exactness (the perplexity_score contract, extended):
    both the conditional and the backed-off log-probs are quantized
    ONCE per (bigram) / (unigram) to integer micro-nats —
    floor(ln(x)*1e6), with ln(0.4) folded into the backoff constant
    BEFORE flooring so each path is ONE floor of one double — and
    per-doc sums are LONG. First tokens have no predecessor and are
    scored by the unigram model (no backoff penalty).

    Scale: two vocab tables (unigram + bigram counts, both
    map-side combined), the token-bigram stream joined to each once
    — same join/broadcast shape as tfidf; no window, no collect."""
    base = spread_scan(docs).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        tokens_col(F.col("text")).alias("toks"),
    ).filter(F.size("toks") > 0)
    # (doc, prev, cur) pairs; prev NULL for the first token
    pairs = base.select(
        "doc_id",
        F.posexplode("toks").alias("pos", "cur"),
    ).join(
        base.select(
            "doc_id",
            F.posexplode("toks").alias("pos_prev", "prev"),
        ).withColumn("pos", F.col("pos_prev") + 1).drop("pos_prev"),
        ["doc_id", "pos"],
        "left",
    )
    uni = pairs.groupBy("cur").agg(F.count(F.lit(1)).alias("ucnt"))
    total = pairs.agg(F.count(F.lit(1)).alias("total"))
    bi = (
        pairs.filter(F.col("prev").isNotNull())
        .groupBy("prev", "cur")
        .agg(F.count(F.lit(1)).alias("bcnt"))
    )
    # context totals: occurrences of w as a predecessor
    ctx = bi.groupBy("prev").agg(F.sum("bcnt").alias("ccnt"))
    lp_uni = uni.crossJoin(F.broadcast(total)).select(
        F.col("cur").alias("u_term"),
        F.floor(
            F.log(F.col("ucnt").cast("double") / F.col("total").cast("double"))
            * 1_000_000
        ).cast("long").alias("lp_u"),
        F.floor(
            (
                F.log(
                    F.col("ucnt").cast("double") / F.col("total").cast("double")
                )
                + F.log(F.lit(0.4))
            )
            * 1_000_000
        ).cast("long").alias("lp_u_backoff"),
    )
    lp_bi = bi.join(ctx, "prev").select(
        "prev",
        "cur",
        F.floor(
            F.log(F.col("bcnt").cast("double") / F.col("ccnt").cast("double"))
            * 1_000_000
        ).cast("long").alias("lp_b"),
    )
    scored = (
        pairs.join(lp_bi, ["prev", "cur"], "left")
        .join(lp_uni, pairs["cur"] == lp_uni["u_term"])
        .select(
            "doc_id",
            F.when(F.col("lp_b").isNotNull(), F.col("lp_b"))
            .when(F.col("prev").isNotNull(), F.col("lp_u_backoff"))
            .otherwise(F.col("lp_u"))
            .alias("lp_micro"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("lp_micro").alias("s_micro"),
    )
    mean_nll = F.round(
        (-F.col("s_micro")).cast("double") / F.col("n_tokens") / F.lit(1e6), 6
    )
    return per_doc.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        mean_nll.alias("mean_nll_bigram"),
        (mean_nll <= threshold_nats).alias("keep"),
    ).orderBy("doc_id")


def mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information between two categorical columns
    (lang x source on documents) — the corpus-composition audit that
    tells a data curator whether sources are language-skewed (PMI 0
    everywhere = independent; strong positive cells = a source that
    over-supplies one language, the thing mixture rebalancing has to
    correct). One row per observed (lang, source) cell with its
    counts, PMI, and MI contribution.

    Plan: three map-side-combined aggregates over one scan subtree
    (cell counts, then marginals derived FROM the cell counts — the
    fact is scanned once; marginal tables are |langs| and |sources|
    rows, broadcast back). Determinism: counts are exact LONGs; PMI
    = ln(N*n_xy/(n_x*n_y)) is quantized to integer micro-nats via
    floor(ln(ratio)*1e6) — the perplexity_score contract — and the
    MI contribution stays in exact integer micro-nat units
    (n_xy * pmi_micro), divided by N only in the final double."""
    from mapreducego_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_xy")
    ).localCheckpoint()
    n_total = cells.agg(F.sum("n_xy")).collect()[0][0]
    margin_x = cells.groupBy("lang").agg(F.sum("n_xy").alias("n_x"))
    margin_y = cells.groupBy("source").agg(F.sum("n_xy").alias("n_y"))
    pmi_micro = F.floor(
        F.log(
            (F.lit(n_total).cast("double") * F.col("n_xy").cast("double"))
            / (F.col("n_x").cast("double") * F.col("n_y").cast("double"))
        )
        * 1_000_000
    ).cast("long")
    return (
        cells.join(F.broadcast(margin_x), "lang")
        .join(F.broadcast(margin_y), "source")
        .select(
            "lang",
            "source",
            F.col("n_xy").cast("long").alias("n_xy"),
            F.col("n_x").cast("long").alias("n_x"),
            F.col("n_y").cast("long").alias("n_y"),
            pmi_micro.alias("pmi_micro"),
            (F.col("n_xy") * pmi_micro).cast("long").alias("mi_contrib_micro"),
        )
        .orderBy("lang", "source")
    )


def entropy_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token-distribution entropy — the within-doc
    diversity signal quality pipelines pair with corpus-level
    perplexity: near-zero entropy flags keyword-stuffed / repeated-
    token spam that a unigram LM can score as perfectly fluent.
    H = ln(n) - (1/n) * sum_t c_t*ln(c_t) over per-doc token counts.

    Determinism: both ln terms are quantized to integer micro-nats
    (floor(ln(x)*1e6) of integer-valued x — the perplexity_score
    contract), the weighted sum is an exact LONG, and the single
    division by n happens once in double, rounded to 6. Plan: one
    scan, one (doc_id, token) count aggregate, one per-doc
    aggregate — all map-side combinable, nothing holistic."""
    from mapreducego_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(tokens_col(F.col("text"))).alias("term"),
    )
    counts = tok.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("c")
    )
    ln_micro = lambda c: F.floor(  # noqa: E731 — local quantizer
        F.log(c.cast("double")) * 1_000_000
    ).cast("long")
    per_doc = counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.sum(F.col("c") * ln_micro(F.col("c"))).alias("s_clnc_micro"),
    )
    entropy = F.round(
        (
            ln_micro(F.col("n_tokens")).cast("double")
            - F.col("s_clnc_micro").cast("double")
            / F.col("n_tokens").cast("double")
        )
        / F.lit(1e6),
        6,
    )
    return per_doc.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        entropy.alias("entropy_nats"),
    ).orderBy("doc_id")


def vocab_coverage(
    spark: SparkSession, sf_dir: str, vocab_size: int = 500
) -> DataFrame:
    """Fixed-vocabulary coverage audit: build the top-``vocab_size``
    token vocabulary (count desc, token asc — the deterministic
    tie-break), then score every document's out-of-vocabulary rate.
    This is the tokenizer-fit check run before committing a corpus
    to a training run: a rising OOV tail means the vocab (or the
    corpus mix) is wrong.

    Scale shape: the vocabulary is a TakeOrderedAndProject (top-k,
    never a global sort) and is broadcast back — the corpus token
    stream is scanned once and never shuffled; the per-doc aggregate
    is map-side combinable. OOV counting uses a broadcast LEFT join
    + null test, counting multiplicity (rate is over tokens, not
    types)."""
    from mapreducego_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(tokens_col(F.col("text"))).alias("term"),
    )
    vocab = (
        tok.groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("term"))
        .limit(vocab_size)
        .select("term", F.lit(1).alias("__in_vocab"))
    )
    per_doc = (
        tok.join(F.broadcast(vocab), "term", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.when(F.col("__in_vocab").isNull(), 1).otherwise(0)
            ).alias("n_oov"),
        )
    )
    return per_doc.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_oov").cast("long").alias("n_oov"),
        F.round(
            F.col("n_oov").cast("double") / F.col("n_tokens").cast("double"), 6
        ).alias("oov_rate"),
    ).orderBy("doc_id")


def source_cap(
    spark: SparkSession, sf_dir: str, cap: int = 50
) -> DataFrame:
    """Per-source quota capping — the anti-domination rule every
    web-scale corpus applies so one crawl host can't swamp the mix
    (the per-domain caps in C4/RefinedWeb-style pipelines): keep at
    most ``cap`` documents per source, chosen by a deterministic
    content-independent priority so the survivor set is stable
    across runs and engines.

    Priority is the first 8 hex chars of md5(doc_id) (the repo's
    portable-hash convention — ab_test_lift / kfold_split), with
    doc_id as the total-order tie-break; rank via one window over
    the (source, priority) key. Scale: the window shuffles on
    source; a skewed mega-source is exactly the case the cap
    exists for, and rank-truncation output is bounded at
    |sources| * cap."""
    from mapreducego_spark.sources.catalog import load_table

    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    prio = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    w = Window.partitionBy("source").orderBy(
        prio.asc(), F.col("doc_id").asc()
    )
    return (
        docs.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "source",
            prio.alias("priority"),
        )
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= cap)
        .select("doc_id", "source", "priority", "rk")
        .orderBy("source", "rk")
    )


def mix_sources(
    docs: DataFrame, alpha: float = 0.5, budget: int = 300
) -> DataFrame:
    """Temperature-scaled source mixing over any (doc_id, source)
    DataFrame — the data-recipe step every large LM pretraining
    pipeline applies (multinomial source sampling with exponent
    ``alpha`` < 1, the GPT-3/PaLM/mT5 rule): flatten the raw
    source-size distribution by weighting each source n_s^alpha,
    apportion an exact integer document ``budget`` across sources by
    those weights, and select each source's quota deterministically.

    Engine-exact apportionment (no float-sum drift): per-source
    integer micro-shares s_s = floor(n_s^alpha * 1e6) (one IEEE pow
    per source — bit-identical cross-engine for the same long input),
    exact LONG total S = sum(s_s), base quota floor(budget*s_s/S) by
    integer division, and the remainder seats distributed largest-
    remainder (Hamilton): by (budget*s_s) mod S desc, source asc.
    Selection within a source reuses source_cap's deterministic
    md5(doc_id) priority. Output: one row per SELECTED doc with its
    source quota attached.

    Scale: one groupBy(source) for counts (map-side combinable), the
    quota table is |sources| rows (broadcast join), the per-source
    rank is the same bounded window source_cap uses; nothing global,
    nothing driver-side but the tiny quota arithmetic — which stays
    IN PLAN: the whole apportionment runs inside ONE single-row array
    of |sources| structs via higher-order functions (aggregate /
    array_sort-with-comparator / transform / inline), so there is no
    unpartitioned window anywhere and no "No Partition Defined"
    WindowExec stage.

    Contract note (upper bound): a source whose largest-remainder
    quota exceeds its n_docs keeps only n_docs rows and the freed
    seats are NOT reallocated — ``budget`` is an upper bound, exact
    whenever every quota <= its source's size (true for the fixture
    and any corpus where no source is smaller than its share).
    Reallocation would be an iterative fixpoint (clamping one source
    can overflow another); callers needing exact totals use
    ``oversample_sources``, whose with-replacement epochs absorb any
    overflow and hit the budget exactly."""
    docs = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"), "source"
    )
    quotas = _source_quotas(docs, alpha, budget)
    picked = (
        _source_ranked(docs)
        .join(F.broadcast(quotas), "source")
        .filter(F.col("rk") <= F.col("quota"))
    )
    return picked.select(
        "doc_id", "source", "rk", "quota", "n_docs", "share_micro"
    ).orderBy("source", "rk")


def _source_quotas(
    docs: DataFrame, alpha: float, budget: int
) -> DataFrame:
    """Shared Hamilton apportionment for the mixing operators: one
    row per source with its exact-integer quota (see mix_sources'
    docstring for the arithmetic and the window-free HOF design)."""
    micro = 1_000_000
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    # alpha=0.5 routes through sqrt, which IEEE 754 requires to be
    # CORRECTLY ROUNDED (so Spark and DuckDB agree bit-for-bit);
    # pow's faithful-rounding guarantee is weaker, so generic alphas
    # are honest-but-heuristic for cross-engine hashing
    n_dbl = F.col("n_docs").cast("double")
    powed = (
        F.sqrt(n_dbl)
        if float(alpha) == 0.5
        else F.pow(n_dbl, F.lit(float(alpha)))
    )
    shares = counts.select(
        "source",
        "n_docs",
        F.floor(powed * micro).cast("long").alias("share_micro"),
    )
    # Hamilton apportionment entirely inside one |sources|-struct
    # array on a single row — aggregate() for the exact LONG totals,
    # array_sort() with an explicit (rem desc, source asc) comparator
    # for the largest-remainder order (a total order, so the
    # collect_list's arbitrary order cannot leak through), and
    # inline() to restore one row per source. No window is involved,
    # partitioned or otherwise.
    b = int(budget)
    return (
        shares.groupBy()
        .agg(
            F.collect_list(
                F.struct("source", "n_docs", "share_micro")
            ).alias("xs")
        )
        .withColumn(
            "total",
            F.expr("aggregate(xs, 0L, (a, x) -> a + x.share_micro)"),
        )
        .withColumn(
            "ranked",
            F.expr(
                f"""array_sort(
                      transform(xs, x -> struct(
                        x.source AS source,
                        x.n_docs AS n_docs,
                        x.share_micro AS share_micro,
                        (x.share_micro * {b}L) div total AS base,
                        (x.share_micro * {b}L) % total AS rem)),
                      (l, r) -> CASE
                        WHEN l.rem > r.rem THEN -1
                        WHEN l.rem < r.rem THEN 1
                        WHEN l.source < r.source THEN -1
                        WHEN l.source > r.source THEN 1
                        ELSE 0 END)"""
            ),
        )
        .withColumn(
            "seats",
            F.expr(f"{b}L - aggregate(ranked, 0L, (a, x) -> a + x.base)"),
        )
        .select(
            F.expr(
                """inline(transform(ranked, (x, i) -> struct(
                     x.source AS source,
                     x.n_docs AS n_docs,
                     x.share_micro AS share_micro,
                     CAST(x.base + IF(i < seats, 1, 0) AS LONG)
                       AS quota)))"""
            )
        )
    )


def _source_ranked(docs: DataFrame) -> DataFrame:
    """Deterministic within-source priority rank (source_cap's
    md5(doc_id) fate), shared by the mixing operators."""
    prio = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    w_src = Window.partitionBy("source").orderBy(
        prio.asc(), F.col("doc_id").asc()
    )
    return docs.withColumn("rk", F.row_number().over(w_src).cast("long"))


def oversample_sources(
    docs: DataFrame, alpha: float = 0.5, budget: int = 900
) -> DataFrame:
    """Temperature-scaled source mixing WITH REPLACEMENT — the epoch
    form of `mix_sources` for the regime real LM data recipes run in
    when the token budget EXCEEDS a flattened source's size (GPT-3
    trained its up-weighted sources for multiple epochs while
    CommonCrawl saw <1): each source's Hamilton quota (same
    apportionment, same exact-integer arithmetic) is realized as
    n_repeats per document instead of a keep/drop bit —
    full epochs = quota div n_docs for every document, plus one extra
    repeat for the quota % n_docs documents with the best
    deterministic md5 priority. sum(n_repeats) == budget EXACTLY, for
    ANY budget — the overflow that makes mix_sources' budget an upper
    bound is absorbed by repetition, which is precisely what
    oversampling is for.

    Output: one row per document with n_repeats >= 1 (documents of a
    source whose quota < n_docs keep the same selection rule as
    mix_sources, so budget <= corpus reduces to it). Scale shape is
    identical to mix_sources: |sources|-row broadcast quota table,
    per-source partitioned rank window, no shuffle of the corpus
    beyond the rank."""
    docs = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"), "source"
    )
    quotas = _source_quotas(docs, alpha, budget).select(
        "source",
        "n_docs",
        "quota",
        F.expr("quota div n_docs").alias("epochs"),
        (F.col("quota") % F.col("n_docs")).alias("extra"),
    )
    out = (
        _source_ranked(docs)
        .join(F.broadcast(quotas), "source")
        .select(
            "doc_id",
            "source",
            "rk",
            (
                F.col("epochs")
                + F.when(F.col("rk") <= F.col("extra"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_repeats"),
            "quota",
            "n_docs",
        )
        .filter(F.col("n_repeats") > 0)
    )
    return out.orderBy("source", "rk")


def curriculum_mix(
    spark: SparkSession,
    sf_dir: str,
    alpha: float = 0.5,
    budget: int = 300,
) -> DataFrame:
    """Registry entry: mix_sources over the documents table."""
    from mapreducego_spark.sources.catalog import load_table

    return mix_sources(
        load_table(spark, sf_dir, "documents"), alpha=alpha, budget=budget
    )


def prepare_corpus_mixed(docs: DataFrame, budget: int = 200) -> DataFrame:
    """prepare_corpus with the data-recipe mixing stage in the real
    pipeline order: clean -> decontaminate -> TEMPERATURE-MIX ->
    pack. The mix quotas are computed over the SURVIVOR source
    distribution (not the raw corpus — mixing before filtering would
    apportion budget to documents that are about to be dropped), and
    only the picked documents enter the shard prefix sum, so shard
    budgets count exactly the docs a training run would read. The
    oracle chains the same CTEs, proving the four stages compose."""
    cleaned = corpus_clean(docs)
    decon_ids = decontaminate(docs).select("doc_id")
    # survivors and mixed are each consumed by two subtrees — same
    # lazy-checkpoint junction treatment as prepare_corpus (r18)
    survivors = cleaned.join(decon_ids, "doc_id").localCheckpoint(
        eager=False
    )
    src = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"), "source"
    )
    mixed = mix_sources(
        survivors.select("doc_id").join(src, "doc_id"), budget=budget
    ).select("doc_id", "source", "rk", "quota").localCheckpoint(
        eager=False
    )
    base = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    ).join(mixed.select("doc_id"), "doc_id")
    packed = pack_shards(base).select("doc_id", "shard_id")
    return (
        survivors.join(mixed, "doc_id")
        .join(packed, "doc_id")
        .select(
            "doc_id", "source", "best_score", "n_tokens", "rk", "quota",
            "shard_id",
        )
        .orderBy("doc_id")
    )


def _bpe_syms_col(word_col) -> "F.Column":
    """Boundary-safe symbol-string representation: symbols joined by
    TWO spaces, the whole string wrapped in single spaces —
    ' h  e  y '. Every symbol is then delimited by whitespace on both
    sides, so the literal pattern ' a  b ' can only match WHOLE
    adjacent symbols (rule ``h e`` cannot fire inside ``[th, e]``),
    and because each replacement emits a trailing single space while
    the double separator donates one, consecutive occurrences keep a
    leading space for the next left-to-right match — making one
    literal replace() exactly canonical greedy-left BPE (Sennrich et
    al. 2016). Literal replace has identical non-overlapping
    left-to-right semantics in Spark, DuckDB, and Python, and stays
    in whole-stage codegen (an F.aggregate fold is interpreted and
    measured ~5x slower at sf1)."""
    chars = F.filter(F.split(word_col, ""), lambda c: F.length(c) > 0)
    return F.concat(F.lit(" "), F.array_join(chars, "  "), F.lit(" "))


def _bpe_merge_replace(syms_col, a: str, b: str):
    """Apply ONE learned BPE merge (a, b) -> a+b on the double-space
    representation (see _bpe_syms_col): replace ' a  b ' with
    ' ab ' — symbol-boundary-exact and greedy-left by construction."""
    return F.replace(
        syms_col, F.lit(f" {a}  {b} "), F.lit(f" {a}{b} ")
    )


def _bpe_split_col(syms_col) -> "F.Column":
    """Symbol array back out of the double-space representation."""
    return F.split(F.trim(syms_col), "  ")


def bpe_train(
    spark: SparkSession,
    sf_dir: str,
    n_merges: int = 3,
    toks: DataFrame | None = None,
) -> DataFrame:
    """BPE tokenizer training, the real thing at word-count grain:
    pre-segment the corpus into a (word, count) table (exactly how
    production BPE trainers avoid touching the raw stream per merge),
    split words into space-joined character symbols, then repeat:
    count adjacent symbol pairs weighted by word count, merge the
    most frequent pair (ties lexical), rewrite the words. The learned
    merge list IS the tokenizer.

    Engine-portable determinism: pair counts are exact LONGs; the
    argmax tie-break is (count desc, pair asc); merges apply through
    the boundary-exact double-space literal replace
    (_bpe_merge_replace), whose left-to-right non-overlapping
    semantics are identical in Spark and DuckDB and equal BPE's
    greedy-left application order.

    Scale shape: the corpus is scanned ONCE (word counts — map-side
    combinable); every merge round then works on the |vocab| word
    table, not the corpus, with one combinable pair aggregate and a
    1-row argmax collect (the repo's bounded-scalar pattern) per
    round. Output: (step, pair, merged, pair_count) — one row per
    learned merge."""
    from mapreducego_spark.sources.catalog import load_table

    # ``toks``: an optional pre-tokenized (.., w) frame — bpe_apply
    # passes its own checkpointed token stream so train+apply
    # tokenize the corpus ONCE between them (r18, guide §2.4);
    # standalone bpe_train derives it from the scan as before.
    if toks is None:
        docs = load_table(spark, sf_dir, "documents")
        toks = docs.select(F.explode(tokens_col(F.col("text"))).alias("w"))
    words = (
        toks.select("w")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            # ' h  e  l  l  o ' — the boundary-safe double-space
            # representation (_bpe_syms_col)
            _bpe_syms_col(F.col("w")).alias("syms"),
            "cnt",
        )
        .localCheckpoint(eager=True)
    )
    merges = []
    for step in range(1, n_merges + 1):
        pairs = (
            words.select(
                "cnt",
                _bpe_split_col(F.col("syms")).alias("arr"),
            )
            .select(
                "cnt",
                F.explode(
                    F.when(
                        F.size("arr") >= 2,
                        F.transform(
                            F.sequence(F.lit(0), F.size("arr") - 2),
                            lambda i: F.concat_ws(
                                " ",
                                F.element_at(F.col("arr"), (i + 1).cast("int")),
                                F.element_at(F.col("arr"), (i + 2).cast("int")),
                            ),
                        ),
                    ).otherwise(F.array().cast("array<string>"))
                ).alias("pair"),
            )
            .groupBy("pair")
            .agg(F.sum("cnt").alias("pc"))
        )
        best = pairs.orderBy(F.col("pc").desc(), F.col("pair").asc()).limit(1).collect()
        if not best:
            break
        pair, pc = best[0]["pair"], int(best[0]["pc"])
        merged = pair.replace(" ", "")
        pa, pb = pair.split(" ")
        merges.append((step, pair, merged, pc))
        words = words.select(
            _bpe_merge_replace(F.col("syms"), pa, pb).alias("syms"),
            "cnt",
        ).localCheckpoint(eager=True)
    return spark.createDataFrame(
        merges, "step long, pair string, merged string, pair_count long"
    ).orderBy("step")


def bpe_apply(
    spark: SparkSession, sf_dir: str, n_merges: int = 3
) -> DataFrame:
    """Tokenize the corpus with the merges bpe_train just learned —
    the consumer half of the tokenizer story (train on word counts,
    apply to every document): per doc, the symbol count before any
    merge (= character count of its letter tokens) and after applying
    the merge list in order, plus the compression ratio. Token counts
    are what shard packing / cost estimation budget by, so the apply
    path is a first-class pipeline op, not a demo.

    The merge list is tiny (n_merges rows) and is applied as a chain
    of boundary-exact literal replaces built into the plan (the
    closure-broadcast pattern; see _bpe_merge_replace); the corpus is
    scanned once, never shuffled — the per-doc aggregate is map-side
    combinable."""
    from mapreducego_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    # One tokenize+explode for train AND apply (r18): the exploded
    # token stream is lazily checkpointed — bpe_train's word-count
    # job materializes it, the apply scan reads the persisted rows.
    toks = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(tokens_col(F.col("text"))).alias("w"),
    ).localCheckpoint(eager=False)
    merges = [
        (r["pair"], r["merged"])
        for r in bpe_train(spark, sf_dir, n_merges, toks=toks).collect()
    ]
    syms = _bpe_syms_col(F.col("w"))
    for pair, _merged in merges:
        pa, pb = pair.split(" ")
        syms = _bpe_merge_replace(syms, pa, pb)
    per_doc = toks.select(
        "doc_id",
        F.length("w").alias("n_chars"),
        (F.size(_bpe_split_col(syms))).alias("n_syms"),
    ).groupBy("doc_id").agg(
        F.sum("n_chars").alias("chars"),
        F.sum("n_syms").alias("bpe_tokens"),
    )
    return per_doc.select(
        "doc_id",
        F.col("chars").cast("long").alias("chars"),
        F.col("bpe_tokens").cast("long").alias("bpe_tokens"),
        F.round(
            F.col("bpe_tokens").cast("double") / F.col("chars").cast("double"),
            6,
        ).alias("compression"),
    ).orderBy("doc_id")


# Fixed literal retrieval benchmark: 4 queries over the fixture's
# query-engine vocabulary. A production deployment would broadcast a
# real query table; the operator takes any [(qid, [terms])] list.
BM25_QUERIES: list[tuple[int, list[str]]] = [
    (1, ["hash", "join"]),
    (2, ["slow", "scan", "filter"]),
    (3, ["stream", "window", "agg"]),
    (4, ["vector", "batch"]),
]


def bm25_topk(
    docs: DataFrame,
    queries: list[tuple[int, list[str]]] | None = None,
    top_k: int = 10,
) -> DataFrame:
    """Okapi BM25 top-k retrieval (Robertson/Walker, TREC-3) over a
    broadcast query set — the lexical ranker `rrf_fusion`'s docstring
    reserves a slot for, now first-class: score(q, d) =
    sum over t in q of idf(t) * tf * (k1+1) / (tf + k1 * (1 - b +
    b * dl/avgdl)), with the standard k1 = 1.2, b = 0.75 and the
    LUCENE idf variant ln(1 + (N - df + 0.5)/(df + 0.5)) — always
    positive (the raw Robertson idf goes negative for df > N/2,
    which both drops very common terms in a surprising way AND would
    make cross-engine integer-division sign semantics load-bearing;
    the deployed Lucene/Elasticsearch form has neither problem).

    Engine-exactness (the perplexity_score / tfidf contract, adapted):
    idf is quantized once per term to integer milli-nats
    (floor(ln(1 + (N - df + 0.5)/(df + 0.5)) * 1000)); avgdl is quantized
    to integer MILLI-TOKENS (avgdl_milli = (1000 * total_len) div N),
    which bounds every product by document-length statistics rather
    than corpus size; and each term's contribution is ONE integer
    division — with k1 = 6/5, b = 3/4 exactly:

        num = idf_milli * tf * 22 * avgdl_milli
        den = 10 * tf * avgdl_milli + 3 * avgdl_milli + 9000 * dl
        contribution = num div den     -- == idf*tf*(k1+1)/(tf+k1*(..))
                                       -- scaled by 10*avgdl_milli/10
    so scores are order-independent LONG sums of deterministic
    integer divisions. Cross-engine caveat (the perplexity_score
    contract's, verbatim): idf_milli = floor(ln(...) * 1000) goes
    through libm ln, which unlike sqrt is NOT IEEE correctly-rounded
    — engines agree because both evaluate the identical double
    expression on the same platform libm, not by mathematical
    necessity; a 1-ulp ln difference at a floor boundary would flip
    one milli-nat. Everything after the quantization IS exact
    integer arithmetic. Overflow head-room: idf_milli <= ~2e4,
    tf <= 1e4, avgdl_milli ~ 1e5-1e6 -> num <= ~5e15 < 2^63,
    independent of corpus size.

    Scale shape (r8 verdict item 3 — SINGLE corpus scan): one scan
    emits, per document, its query-vocabulary token occurrences PLUS
    one sentinel row carrying the document length (explode of
    concat(toks, [sentinel]) with a codegen isin filter — no
    interpreted HOF in the hot path); one (doc_id, dl, term)
    aggregate over that stream is eagerly localCheckpoint'ed
    (O(#docs + #matches) rows — document-count-bounded, never
    corpus-bytes-bounded), and BOTH the 1-row (N, avgdl) stats and
    the tf stream branch from the checkpoint, so the parquet scan
    runs exactly once and the former full-corpus lens join on
    doc_id is gone (dl rides the tf rows). df and stats are
    |vocab|- and 1-row broadcasts (the waived scalar-BNLJ pattern);
    final top-k is a window PARTITIONED by query id."""
    queries = BM25_QUERIES if queries is None else queries
    spark = docs.sparkSession
    q_rows = [(qid, t) for qid, terms in queries for t in set(terms)]
    q_df = spark.createDataFrame(q_rows, "query_id int, term string")
    vocab = sorted({t for _, t in q_rows})
    # tokens are lowercased LETTER runs (tokens_col), so a NUL byte
    # can never collide with a real token or a vocabulary entry
    sentinel = "\x00"

    base = spread_scan(docs).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        tokens_col(F.col("text")).alias("toks"),
    )
    grouped = (
        base.select(
            "doc_id",
            F.size("toks").cast("long").alias("dl"),
            F.explode(
                F.concat(F.col("toks"), F.array(F.lit(sentinel)))
            ).alias("term"),
        )
        .filter(
            (F.col("dl") > 0)
            & (F.col("term").isin([*vocab, sentinel]))
        )
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint()
    )
    stats = grouped.filter(F.col("term") == sentinel).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr("(1000 * sum(dl)) div count(1)").alias("avgdl_milli"),
    )
    tf = grouped.filter(F.col("term") != sentinel)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(q_df), "term")
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            "doc_id",
            (
                F.floor(
                    F.log(
                        F.lit(1.0)
                        + (
                            F.col("n_docs").cast("double")
                            - F.col("df").cast("double")
                            + F.lit(0.5)
                        )
                        / (F.col("df").cast("double") + F.lit(0.5))
                    )
                    * 1000
                ).cast("long")
                * F.col("tf")
                * F.lit(22)
                * F.col("avgdl_milli")
            ).alias("num"),
            (
                F.lit(10) * F.col("tf") * F.col("avgdl_milli")
                + F.lit(3) * F.col("avgdl_milli")
                + F.lit(9000) * F.col("dl")
            ).alias("den"),
        )
        # Lucene idf > 0 and den > 0, so num div den is a plain
        # positive integer division — no sign-semantics caveat
        .withColumn("contrib", F.expr("num div den"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("contrib").alias("score_milli"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_milli").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= top_k)
        .select("query_id", "doc_id", "rank", "score_milli")
        .orderBy("query_id", "rank")
    )


def bm25_docs(
    spark: SparkSession, sf_dir: str, top_k: int = 10
) -> DataFrame:
    """Registry entry: BM25 top-``top_k`` per benchmark query over
    the documents table (``top_k`` exists so composing callers like
    hybrid_rerank can deepen the lexical arm symmetrically — the r10
    ADVICE asymmetry fix)."""
    from mapreducego_spark.sources.catalog import load_table

    return bm25_topk(load_table(spark, sf_dir, "documents"), top_k=top_k)


def curriculum_oversample(
    spark: SparkSession,
    sf_dir: str,
    alpha: float = 0.5,
    budget: int = 900,
) -> DataFrame:
    """Registry entry: with-replacement epoch mixing over the
    documents table, budget deliberately larger than the flattened
    small sources so the multi-epoch path actually exercises."""
    from mapreducego_spark.sources.catalog import load_table

    return oversample_sources(
        load_table(spark, sf_dir, "documents"), alpha=alpha, budget=budget
    )


def contamination_report(docs: DataFrame, n: int = 3) -> DataFrame:
    """Registry entry: span-level contamination AUDIT — the report a
    data-governance review wants alongside `decontaminate`'s drop
    list: for each contaminated corpus doc, how many distinct
    benchmark n-grams hit it, where the earliest hit sits (1-based
    n-gram position), and the lexicographically-first hit gram as a
    deterministic exemplar. Dropping without an audit trail makes
    contamination rates unreviewable; this is the trail.

    Shape at scale: identical to decontaminate's — benchmark grams
    are eval-suite-sized -> distinct + broadcast; the corpus streams
    through one posexplode + broadcast-hash semi-side join; the only
    shuffle is the per-doc aggregate (three partial-combinable
    aggregates: count distinct, min pos, min gram)."""
    toks = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        tokens_col(F.col("text")).alias("t"),
    )
    grams = toks.select(
        "doc_id",
        F.posexplode(_ngram_col(F.col("t"), n)).alias("pos", "gram"),
    )
    bench = (
        grams.filter(F.col("doc_id") < N_BENCH_DOCS)
        .select("gram")
        .distinct()
    )
    hits = grams.filter(F.col("doc_id") >= N_BENCH_DOCS).join(
        F.broadcast(bench), "gram"
    )
    return (
        hits.groupBy("doc_id")
        .agg(
            F.countDistinct("gram").alias("n_hit_grams"),
            (F.min("pos") + 1).cast("long").alias("first_hit_pos"),
            F.min("gram").alias("min_gram"),
        )
        .orderBy("doc_id")
    )
