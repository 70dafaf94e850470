"""Plan-hygiene audit: dump per-query physical-plan statistics for
every registry entry to PLAN_AUDIT.json.

The scale posture lives or dies in the physical plan, not the
results, so this makes it inspectable as one artifact: for each of
the registry's queries — exchange count, join strategies, whether
scan-level pushdown happened, whole-stage-codegen span count, and
the red flags (CartesianProduct / BroadcastNestedLoopJoin /
row-at-a-time BatchEvalPython in the plan).

Eagerly-checkpointed intermediates (r7 verdict item 3): pipelines
that `localCheckpoint(eager=True)` mid-build (PPJoin's candidate
join, the graph iteration rounds, dedup_incremental's per-step band
joins) execute their heavy plans during query CONSTRUCTION, so the
tail plan the audit used to inspect showed almost nothing. The audit
wraps DataFrame.localCheckpoint while each query is built
(tools/harness.checkpoint_plans) and captures the executed plan of
every intermediate immediately before it is checkpointed, keyed by
call site (file:line). Each entry gets
an `intermediates` map with the same per-plan statistics, and
intermediate red flags feed the SAME red-flag/waiver accounting as
the tail plan — nothing hides behind a checkpoint.

Usage: python tools/plan_audit.py [query ...]
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.harness import checkpoint_plans, plan_text, start, write_artifact  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

# Streaming-sink and files-staging entries execute real jobs just to
# build their result DataFrame; their interesting plans are the
# in-stream ones. The audit skips them HERE, and tools/stream_plans.py
# captures each one's pre-start + last-execution plans (same red-flag
# scan) into STREAM_PLANS.json — nothing is plan-unaudited.
SKIP = {
    "stream_tumbling_sink",
    "stream_sliding_sink",
    "stream_session_sink",
    "job_wordcount_files",
    "upsert_documents",
    "upsert_schema_evolution",
    "compact_documents",
    "stream_dedup_sink",
    "rollup_incremental",
    "xml_round_trip",
    "stream_stateful_totals",
    "stream_enrich_sink",
    "stream_join_sink",
    "json_round_trip",
    "csv_round_trip",
    "orc_round_trip",
    "stream_upsert_sink",
    "stream_left_join_sink",
    "stream_funnel_sink",
}

# Red flags that are BY DESIGN, with the reason on record. A nested-
# loop join against a bounded broadcast side (a fixed query set, a
# 1-row scalar aggregate) is not the unbounded-cartesian failure mode
# the flag exists for. (sql_wordcount_udf's former BatchEvalPython
# waiver is gone: the plugin UDF is a pandas_udf since r4 and plans
# as ArrowEvalPython.)
#
# SCOPE: every reason below describes a BroadcastNestedLoopJoin, so a
# waiver clears ONLY that flag (_WAIVABLE_FLAGS). A CartesianProduct
# or BatchEvalPython appearing in a waived query — e.g. via a newly
# captured checkpoint intermediate — stays red; a blanket wipe would
# let the intermediates mechanism be bypassed for every waived name.
_WAIVABLE_FLAGS = {"BroadcastNestedLoopJoin"}
WAIVED: dict[str, str] = {
    "dedup_embedding": "BNLJ vs broadcast 1-row guard aggregate; "
    "exact O(n^2) baseline is loud-fail guarded",
    "tfidf_top_terms": "BNLJ vs broadcast 1-row corpus-count aggregate",
    "perplexity_score": "BNLJ vs broadcast 1-row token-total aggregate "
    "(same pattern as tfidf_top_terms)",
    "q22_cold_customers": "BNLJ vs broadcast 1-row global-average "
    "aggregate (the decorrelated scalar subquery; relational.py:1158)",
    "tfidf_cosine_pairs": "BNLJ vs broadcast 1-row corpus-count "
    "aggregate (same pattern as tfidf_top_terms/perplexity_score)",
    "active_users_rolling": "BNLJ vs broadcast 1-row max-day "
    "aggregate (trims trailing window days; same 1-row pattern)",
    "sketch_active_users": "BNLJ vs broadcast 1-row max-day "
    "aggregate (same trim as active_users_rolling)",
    "nb_classify": "BNLJ vs broadcast 1-row train-count/vocab-size "
    "aggregates and the |langs|-row (5) class grid — all bounded "
    "broadcasts (same pattern as perplexity_score)",
    "ab_test_lift": "BNLJ is the 1x1 arm-profile crossJoin "
    "(two 1-row aggregates composed into the readout row)",
    "perplexity_bigram": "BNLJ vs broadcast 1-row token-total "
    "aggregate (same pattern as perplexity_score)",
    "bm25_topk": "BNLJ vs broadcast 1-row (n_docs, avgdl_milli) "
    "corpus-stats aggregate (same pattern as tfidf_top_terms)",
    "hybrid_rerank": "inherits bm25_topk's waived 1-row corpus-stats "
    "BNLJ verbatim (its lexical arm IS bm25_topk; the fusion itself "
    "adds only a full-outer SortMergeJoin over two <= |queries|*depth "
    "ranked lists)",
    "hybrid_rerank_ann": "inherits bm25_topk's waived 1-row "
    "corpus-stats BNLJ verbatim (same lexical arm as hybrid_rerank; "
    "the IVF-PQ dense arm adds a broadcast cell-routing join and a "
    "bounded shortlist re-rank, no nested loop)",
}
# (vector_topk / knn_label_vote / decontaminate_embedding waivers are
# gone as of r5: the query/benchmark set now ships in the pair-cosine
# pandas-UDF closure — the plans have no nested-loop join at all.)


def audit_plan(plan: str) -> dict:
    joins = re.findall(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
        r"BroadcastNestedLoopJoin|CartesianProduct)",
        plan,
    )
    return {
        "exchanges": plan.count("Exchange hashpartitioning")
        + plan.count("Exchange rangepartitioning")
        + plan.count("Exchange SinglePartition"),
        "broadcasts": plan.count("BroadcastExchange"),
        "joins": sorted(set(joins)),
        "pushed_filters": "PushedFilters: [" in plan
        and "PushedFilters: []" not in plan,
        "codegen_spans": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "python_eval": "BatchEvalPython" in plan,  # row-at-a-time UDF: red flag
        "arrow_eval": "ArrowEvalPython" in plan or "MapInPandas" in plan
        or "FlatMapGroupsInPandas" in plan,
        "red_flags": sorted(
            {
                j
                for j in joins
                if j in ("CartesianProduct", "BroadcastNestedLoopJoin")
            }
            | ({"BatchEvalPython"} if "BatchEvalPython" in plan else set())
        ),
    }


def _merge_intermediates(calls) -> dict[str, dict]:
    """Collapse the captured (tag, plan, _) list into one audit entry
    per call site: loop pipelines (graph rounds, incremental steps)
    hit the same line many times with near-identical plans, so the
    artifact keeps the first occurrence's statistics, an occurrence
    count, and the UNION of joins/red flags across occurrences."""
    merged: dict[str, dict] = {}
    for tag, plan, _ in calls:
        entry = audit_plan(plan)
        if tag not in merged:
            merged[tag] = entry | {"occurrences": 1}
        else:
            m = merged[tag]
            m["occurrences"] += 1
            m["joins"] = sorted(set(m["joins"]) | set(entry["joins"]))
            m["red_flags"] = sorted(
                set(m["red_flags"]) | set(entry["red_flags"])
            )
            m["exchanges"] = max(m["exchanges"], entry["exchanges"])
    return merged


def main() -> None:
    only = set(sys.argv[1:])
    from mapreducego_spark.registry import QUERIES

    spark = start("plan_audit", static_plans=True)
    out: dict[str, dict] = {}
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        if name in SKIP:
            out[name] = {
                "skipped": "executes a full job to build its result; "
                "plans captured in STREAM_PLANS.json"
            }
            continue
        try:
            with checkpoint_plans() as calls:
                plan = plan_text(fn(spark, SF_DIR))
        except Exception as ex:  # noqa: BLE001
            out[name] = {"error": str(ex)[:200]}
            continue
        entry = audit_plan(plan)
        inter = _merge_intermediates(calls)
        if inter:
            entry["intermediates"] = inter
            # intermediate red flags are the query's red flags: the
            # checkpointed plan EXECUTES when the query is built
            entry["red_flags"] = sorted(
                set(entry["red_flags"])
                | {f for m in inter.values() for f in m["red_flags"]}
            )
        if entry["red_flags"] and name in WAIVED:
            waivable = [
                f for f in entry["red_flags"] if f in _WAIVABLE_FLAGS
            ]
            if waivable:
                entry["red_flags_waived"] = {
                    "flags": waivable, "reason": WAIVED[name]
                }
            entry["red_flags"] = [
                f for f in entry["red_flags"] if f not in _WAIVABLE_FLAGS
            ]
        out[name] = entry
        print(name, json.dumps(entry))
    if not only:
        n_flag = sum(1 for v in out.values() if v.get("red_flags"))
        path = write_artifact(
            "PLAN_AUDIT.json",
            {"sf_dir": SF_DIR, "n_queries": len(out),
             "aqe": "disabled for static codegen visibility",
             "n_with_red_flags": n_flag, "plans": out},
        )
        print(f"wrote {path} ({n_flag} queries with red flags)")


if __name__ == "__main__":
    main()
