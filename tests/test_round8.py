"""Round-8 hygiene fixes: the higher-order-function rewrite of
mix_sources' quota apportionment (no window of any kind left in the
quota path), the distributed json_rescue staging with explicit
field-nulling on rescued rows, and the two_phase_global_rank
reserved-column guard."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"
SF_TINY = "/root/testdata/sf0.001"


def test_two_phase_rank_rejects_reserved_columns(spark):
    """The general-purpose rank helper must refuse inputs that would
    be silently clobbered: an existing rank_col or __pid column."""
    from mapreducego_spark.operators.twophase import two_phase_global_rank

    df = spark.range(5).select(
        F.col("id"), F.lit(0).alias("rn"), F.lit(1).alias("v")
    )
    with pytest.raises(ValueError, match="rn"):
        two_phase_global_rank(df, ["id"], rank_col="rn")
    df2 = spark.range(5).select(F.col("id"), F.lit(0).alias("__pid"))
    with pytest.raises(ValueError, match="__pid"):
        two_phase_global_rank(df2, ["id"])


def test_two_phase_weight_is_a_global_running_sum(spark):
    """With ``weight`` the helper returns the inclusive running sum of
    the weights in key order, equal to a serial cumsum at 1, 3 and 7
    input partitions. Coalescing is off so the range exchange keeps
    its 8 partitions, and 4-row Arrow batches make each partition
    carry its total across batches. Spark's range partitioner puts
    every bound on a sampled key and plans no more partitions than it
    sampled, so a non-empty deterministic input leaves no range
    partition empty; the empty input is the case whose single range
    partition is empty."""
    from mapreducego_spark.operators.twophase import two_phase_global_rank

    rows = [((i * 37) % 50, (i * 13) % 7) for i in range(50)]  # w = 0 too
    run, want = 0, {}
    for k, w in sorted(rows):
        run += w
        want[k] = run
    confs = {
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.shuffle.partitions": "8",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "4",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        for n_in in (1, 3, 7):
            df = spark.createDataFrame(
                spark.sparkContext.parallelize(rows, n_in), "k long, w long"
            )
            assert df.rdd.getNumPartitions() == n_in
            got = two_phase_global_rank(df, ["k"], "cum", weight="w")
            assert got.columns == ["k", "w", "cum"]
            assert {r.k: r.cum for r in got.collect()} == want, n_in
        empty = spark.createDataFrame([], "k long, w long")
        assert two_phase_global_rank(empty, ["k"], "cum", weight="w").count() == 0
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_mix_sources_quota_path_is_window_free(spark):
    """r7 finding: the quota arithmetic used Window.partitionBy(
    lit(1)), which Catalyst folds to an UNPARTITIONED window (the
    'No Partition Defined' WindowExec). The r8 rewrite does the whole
    Hamilton apportionment inside one single-row struct array via
    higher-order functions, so curriculum_mix's plan must contain
    exactly ONE window — the per-source selection rank — and it must
    be partitioned."""
    import re

    from mapreducego_spark.functions.text import curriculum_mix

    plan = (
        curriculum_mix(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    specs = [
        line
        for line in plan.splitlines()
        if "windowspecdefinition" in line
    ]
    assert len(specs) == 1, plan
    m = re.search(r"windowspecdefinition\(([^,]+),", specs[0])
    assert m and " ASC" not in m.group(1) and " DESC" not in m.group(1), (
        specs[0]
    )


def test_mix_sources_quota_is_upper_bound_on_small_sources(spark):
    """Documented contract: a source smaller than its largest-
    remainder quota keeps only its n_docs rows (budget becomes an
    upper bound; seats are NOT reallocated)."""
    from mapreducego_spark.functions.text import mix_sources

    rows = [(i, "big") for i in range(1000)] + [(10_000, "tiny")]
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    out = mix_sources(docs, alpha=0.5, budget=200).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r)
    # tiny's sqrt-share earns it several seats but it has ONE doc
    tiny = by_src["tiny"]
    assert len(tiny) == 1
    assert tiny[0]["quota"] >= 1
    # big fills its quota exactly; the total underfills the budget by
    # exactly tiny's unfillable seats
    big = by_src["big"]
    assert len(big) == big[0]["quota"]
    assert len(out) == 200 - (tiny[0]["quota"] - 1)


def test_json_rescue_staging_is_distributed_and_nulls_fields(spark):
    """The r8 rewrite stages the corrupted JSONL via column
    expressions + df.write.text (no driver collect), and nulls
    lang/source on rescued rows EXPLICITLY (version-proof against
    Spark's partial-result JSON parsing, SPARK-40646 lineage)."""
    from mapreducego_spark.sources.catalog import json_rescue, load_table

    out = json_rescue(spark, SF_TINY).collect()
    n_docs = load_table(spark, SF_TINY, "documents").count()
    assert len(out) == n_docs
    for r in out:
        assert r["rescued"] == (r["doc_id"] % 13 == 0)
        if r["rescued"]:
            assert r["lang"] is None and r["source"] is None
        else:
            assert r["lang"] is not None


def test_oversample_hits_budget_exactly_and_reduces_to_mix(spark):
    """Algebraic laws of the epoch mixer: (1) sum(n_repeats) ==
    budget EXACTLY for any budget, including budgets far beyond the
    corpus (the regime mix_sources can only upper-bound); (2) for a
    budget where every quota <= n_docs, the n_repeats==1 row set is
    exactly mix_sources' selection (with-replacement reduces to
    without-replacement when no source overflows)."""
    from mapreducego_spark.functions.text import (
        mix_sources,
        oversample_sources,
    )

    rows = [(i, "big") for i in range(1000)] + [
        (10_000 + i, "tiny") for i in range(10)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    for budget in (50, 300, 1010, 5000):
        out = oversample_sources(docs, alpha=0.5, budget=budget).collect()
        assert sum(r["n_repeats"] for r in out) == budget, budget
    # reduction law at a small budget (quotas provably under n_docs)
    o = oversample_sources(docs, alpha=0.5, budget=50).collect()
    m = mix_sources(docs, alpha=0.5, budget=50).collect()
    assert all(r["n_repeats"] == 1 for r in o)
    assert {(r["doc_id"], r["source"]) for r in o} == {
        (r["doc_id"], r["source"]) for r in m
    }


def test_bm25_matches_serial_reference(spark):
    """BM25 scores match a serial Python implementation of the SAME
    integer contract (Lucene idf in milli-nats, milli-token avgdl,
    one integer division per term) on a crafted corpus — pinning the
    arithmetic independently of the DuckDB oracle."""
    import math
    from collections import Counter

    from mapreducego_spark.functions.text import bm25_topk

    corpus = {
        1: "fast join fast join hash",
        2: "hash join table scan scan scan",
        3: "slow scan filter filter",
        4: "window agg stream stream window",
        5: "join",
    }
    docs = spark.createDataFrame(
        [(k, v, "en", "t", len(v)) for k, v in corpus.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    queries = [(7, ["hash", "join"]), (8, ["scan", "filter"])]
    got = {
        (r["query_id"], r["doc_id"]): (r["rank"], r["score_milli"])
        for r in bm25_topk(docs, queries=queries, top_k=10).collect()
    }

    toks = {k: v.split() for k, v in corpus.items()}
    n_docs = len(toks)
    lens = {k: len(v) for k, v in toks.items()}
    avgdl_milli = (1000 * sum(lens.values())) // n_docs
    tf = {k: Counter(v) for k, v in toks.items()}
    want = {}
    for qid, terms in queries:
        scores = {}
        for d in toks:
            s = 0
            matched = False
            for t in set(terms):
                if tf[d][t] == 0:
                    continue
                matched = True
                df = sum(1 for dd in toks if tf[dd][t] > 0)
                idf_milli = math.floor(
                    math.log(1 + (n_docs - df + 0.5) / (df + 0.5)) * 1000
                )
                num = idf_milli * tf[d][t] * 22 * avgdl_milli
                den = (
                    10 * tf[d][t] * avgdl_milli
                    + 3 * avgdl_milli
                    + 9000 * lens[d]
                )
                s += num // den
            # the engine ranks every doc containing >= 1 query term,
            # INCLUDING docs whose contributions all floor to 0
            # (idf_milli == 0 when df ~ N) — mirror that, don't drop
            if matched:
                scores[d] = s
        for rank, d in enumerate(
            sorted(scores, key=lambda d: (-scores[d], d)), start=1
        ):
            want[(qid, d)] = (rank, scores[d])
    assert got == want
