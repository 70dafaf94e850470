"""Isolate one registry query: warmed best-of-N wall (noop sink), the
Spark jobs, stages and tasks of each rep (read from the rep's
``prof:<query>:<rep>`` job group), plus the formatted physical plan,
for the optimization rounds' before/after evidence (guide §1: measure
first, noop sink, label jobs).

Usage:
  python tools/prof_query.py <query> [more queries...] \
      [--reps N] [--sf DIR] [--plan-dir plans/r17 --suffix before]

Writes <plan-dir>/<query>_<suffix>.txt when --plan-dir is given.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.harness import (  # noqa: E402
    checkpoint_plans,
    job_counts,
    start,
    timed_runs,
    warm_up,
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--plan-dir", default=None)
    ap.add_argument("--suffix", default="before")
    args = ap.parse_args()

    from mapreducego_spark.registry import QUERIES

    spark = start("prof")
    warm_up(spark, args.sf)  # the same warm-up as bench.py

    for name in args.queries:
        walls = timed_runs(spark, "prof", name, args.sf, args.reps)
        print(
            f"{name}: best={min(walls):.3f}s  runs="
            + ",".join(f"{w:.3f}" for w in walls),
            flush=True,
        )
        for rep, wall in enumerate(walls):
            jobs, stages, tasks = job_counts(spark, f"prof:{name}:{rep}")
            print(
                f"  rep {rep}: {wall:.3f}s  jobs={jobs} stages={stages} "
                f"tasks={tasks}",
                flush=True,
            )
        if args.plan_dir:
            os.makedirs(args.plan_dir, exist_ok=True)
            # Capture the executed plan of every localCheckpointed
            # intermediate too: the tail plan of a checkpoint-
            # materialized query is just `Sort <- Exchange <- Scan
            # ExistingRDD`, which hides the stages the optimization
            # rounds actually change.
            with checkpoint_plans() as captured:
                df = QUERIES[name](spark, args.sf)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            out = os.path.join(args.plan_dir, f"{name}_{args.suffix}.txt")
            with open(out, "w") as fh:
                fh.write(buf.getvalue())
                for tag, p, _ in captured:
                    fh.write(
                        f"\n\n=== checkpointed intermediate at {tag} ===\n"
                    )
                    fh.write(p)
            print(f"  plan -> {out}", flush=True)


if __name__ == "__main__":
    main()
