"""Partition-invariance (determinism) audit for the whole registry.

The driver's correctness gate compares each query against DuckDB at
ONE partitioning. That cannot catch the classic distributed-
correctness trap: an answer that silently depends on the physical
partition layout (unstable window tie-breaks, first()/head-of-
partition picks, float sum ordering surfacing through a rounded
column, rank schemes that assume one partition). This audit runs
every registry query TWICE — spark.sql.shuffle.partitions = 32 and
then 7, the second also with a different defaultParallelism-ish
spread via repartition-free config only — and compares the
order-insensitive value multisets. Any mismatch is a determinism
bug by definition (every operator in this repo documents a total
order or an exact-arithmetic reason it is layout-independent).

Writes DETERMINISM.json at the repo root with per-query status.

Usage: python tools/determinism_audit.py [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.harness import start, write_artifact  # noqa: E402
from tools.verify_local import SF_DIR, normalize_rows  # noqa: E402

# Streaming-sink and files-staging entries run real checkpointed jobs
# whose temp-dir lifecycles are not designed for double execution in
# one session; their determinism is covered by their own crash/replay
# pytests. Skipped here, listed in the artifact.
SKIP = {
    "stream_tumbling_sink", "stream_sliding_sink", "stream_session_sink",
    "stream_dedup_sink", "stream_enrich_sink", "stream_join_sink",
    "stream_upsert_sink", "stream_left_join_sink", "stream_funnel_sink",
    "stream_stateful_totals", "job_wordcount_files",
}


def main() -> None:
    from mapreducego_spark.registry import QUERIES

    only = set(sys.argv[1:])
    spark = start("determinism-audit")

    out: dict[str, dict] = {}
    n_fail = 0
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        if name in SKIP:
            out[name] = {"status": "skipped_streaming_or_files"}
            continue
        runs = []
        err = None
        for parts in ("32", "7"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            try:
                df = fn(spark, SF_DIR)
                runs.append(normalize_rows(
                    [tuple(r) for r in df.collect()], df.columns
                ))
            except Exception as ex:  # noqa: BLE001
                err = str(ex)[:200]
                break
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        if err is not None:
            out[name] = {"status": "ERROR", "err": err}
            n_fail += 1
            print(f"ERROR {name}: {err}")
            continue
        if runs[0] == runs[1]:
            out[name] = {"status": "OK", "rows": sum(runs[0].values())}
            print(f"ok    {name}: {sum(runs[0].values())} rows")
        else:
            diff_a = list((runs[0] - runs[1]).items())[:3]
            diff_b = list((runs[1] - runs[0]).items())[:3]
            out[name] = {
                "status": "NONDETERMINISTIC",
                "only_at_32": [str(x) for x in diff_a],
                "only_at_7": [str(x) for x in diff_b],
            }
            n_fail += 1
            print(f"FAIL  {name}: partition-dependent output")

    if not only:
        path = write_artifact(
            "DETERMINISM.json",
            {"sf_dir": SF_DIR, "partitions_compared": [32, 7],
             "n_queries": len(out), "n_failures": n_fail, "results": out},
        )
        print(f"wrote {path} ({n_fail} failures)")
    if n_fail:
        sys.exit(1)


if __name__ == "__main__":
    main()
