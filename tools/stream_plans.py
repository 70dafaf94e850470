"""Streaming/staging plan evidence — the 19 registry entries
PLAN_AUDIT skips (r7 verdict item 7).

PLAN_AUDIT's SKIP set holds the entries that execute a REAL job just
to build their result DataFrame: the streaming sinks (checkpointed
writeStream pipelines run to completion, then the sink read back) and
the files-staging round trips. Skipping kept the audit cheap but left
their in-stream plans with no artifact at all — pytest-covered, not
inspectable.

This tool closes that gap. For each skipped entry it runs the query
for real and captures, into STREAM_PLANS.json:

  * every `DataStreamWriter.start()` call's PRE-START plan (the
    optimized LOGICAL streaming plan — Spark refuses to physically
    plan a streaming source before start, so this capture is scanned
    with LOGICAL-node patterns: the join-type list and a cross-join
    red flag; physical-only statistics here would be structurally
    zero and read as false-green), tagged by the pipelines.py call
    site — captured by wrapping the writer class while each entry is
    built (tools/harness.capture_calls);
  * the same query's LAST-EXECUTION physical plan after the stream
    drains (`StreamingQuery.explainInternal`), which is where the
    stateful operators (StateStoreSave/Restore, session windows,
    flatMapGroupsWithState) actually appear — THIS is the plan that
    carries the full audit_plan statistics + red-flag scan;
  * the returned batch DataFrame's executed tail plan (AQE disabled
    for the session, same as plan_audit, so codegen/exchange counts
    are comparable across the two artifacts);

with the same explicit waiver mechanism as PLAN_AUDIT. A query whose
construction or capture ERRORS is recorded, counted in `n_errors`,
and fails the run (non-zero exit) — an error entry is missing
evidence, not a green row.

Usage: python tools/stream_plans.py [query ...]
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.harness import capture_calls, plan_text, start, write_artifact  # noqa: E402
from tools.plan_audit import SKIP, audit_plan  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

# Red flags that are BY DESIGN for these entries (same contract as
# plan_audit.WAIVED). Currently empty.
WAIVED: dict[str, str] = {}

def _pre_start_plan(writer) -> str:
    return writer._df._jdf.queryExecution().optimizedPlan().toString()


def _audit(plan: str) -> dict:
    entry = audit_plan(plan)
    n_state = plan.count("StateStoreSave")
    if n_state:
        entry["state_store_saves"] = n_state
    return entry


def _audit_logical(plan: str) -> dict:
    """Red-flag scan for a LOGICAL plan (the only form available for
    a streaming DataFrame pre-start): logical joins print as
    'Join <Type>', so physical-node patterns (CartesianProduct,
    BatchEvalPython, Exchange) would match nothing and certify
    nothing. Scans what logical plans can actually show: the join
    types (Cross = the cartesian red flag) and, INFORMATIONALLY, the
    Python-eval LOGICAL nodes (MapInPandas /
    FlatMapGroupsInPandas[WithState] / FlatMapCoGroupsInPandas /
    PythonMapInArrow). Those are recorded in `python_eval_nodes`,
    NOT red-flagged: the repo's discipline (plan_audit.audit_plan)
    reds only row-at-a-time BatchEvalPython, which is a PHYSICAL
    node a logical plan cannot show — deciding batch-vs-arrow is
    the last-execution physical scan's job, and scalar UDFs
    registered under arbitrary names can hide from the logical scan
    anyway. This field exists so a Python-eval node appearing in a
    pre-start plan is visible in the artifact rather than silently
    unexamined (r8 ADVICE)."""
    joins = sorted(set(re.findall(r"\bJoin (\w+)", plan)))
    flags = []
    if "Cross" in joins or "Join Cross" in plan:
        flags.append("CrossJoin(logical)")
    py_nodes = sorted(
        set(
            re.findall(
                r"\b(MapInPandas|FlatMapGroupsInPandasWithState"
                r"|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas"
                r"|PythonMapInArrow)\b",
                plan,
            )
        )
    )
    return {
        "plan_form": "logical",
        "joins": joins,
        "python_eval_nodes": py_nodes,
        "red_flags": flags,
    }


def _drain_starts(starts) -> list[dict]:
    """One record per captured (tag, pre-start plan, StreamingQuery)."""
    out = []
    for tag, pre, q in starts:
        item: dict = {"start_site": tag, "pre_start": _audit_logical(pre)}
        try:
            # the last micro-batch's physical plan — valid after the
            # availableNow drain even though the query has stopped
            item["last_execution"] = _audit(q._jsq.explainInternal(False))
        except Exception as ex:  # noqa: BLE001
            item["last_execution"] = {"error": str(ex)[:200]}
        out.append(item)
    return out


def main() -> None:
    only = set(sys.argv[1:])
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from mapreducego_spark.registry import QUERIES

    # the same static-plan view as plan_audit, so the tail statistics
    # of the two artifacts are comparable
    spark = start("stream_plans", static_plans=True)
    names = [n for n in QUERIES if n in SKIP and (not only or n in only)]
    out: dict[str, dict] = {}
    for name in names:
        try:
            with capture_calls(DataStreamWriter, "start", _pre_start_plan) as starts:
                tail = plan_text(QUERIES[name](spark, SF_DIR))
        except Exception as ex:  # noqa: BLE001
            out[name] = {"error": str(ex)[:200]}
            continue
        entry: dict = {"tail": _audit(tail), "streams": _drain_starts(starts)}
        flags = set(entry["tail"]["red_flags"])
        for s in entry["streams"]:
            for k in ("pre_start", "last_execution"):
                flags |= set(s.get(k, {}).get("red_flags", []))
        if flags and name in WAIVED:
            entry["red_flags_waived"] = {
                "flags": sorted(flags), "reason": WAIVED[name]
            }
            flags = set()
        entry["red_flags"] = sorted(flags)
        out[name] = entry
        print(
            name,
            json.dumps(
                {
                    "streams": len(entry["streams"]),
                    "red_flags": entry["red_flags"],
                    "state_saves": sum(
                        s.get("last_execution", {}).get(
                            "state_store_saves", 0
                        )
                        for s in entry["streams"]
                    ),
                }
            ),
            flush=True,
        )
    # An error anywhere is MISSING EVIDENCE, not a green row: count
    # query-level construction errors and per-stream last_execution
    # capture errors, and fail the run on either (so end_of_round's
    # regeneration step fails loudly instead of committing a gate
    # that silently stopped inspecting a query).
    n_errors = sum(1 for v in out.values() if "error" in v) + sum(
        1
        for v in out.values()
        for s in v.get("streams", [])
        if "error" in s.get("last_execution", {})
    )
    n_flag = sum(1 for v in out.values() if v.get("red_flags"))
    if not only:
        path = write_artifact(
            "STREAM_PLANS.json",
            {"sf_dir": SF_DIR, "n_queries": len(out),
             "n_with_red_flags": n_flag, "n_errors": n_errors,
             "plans": out},
        )
        print(
            f"wrote {path} ({n_flag} queries with red flags, "
            f"{n_errors} capture errors)"
        )
    sys.exit(1 if n_errors else 0)


if __name__ == "__main__":
    main()
