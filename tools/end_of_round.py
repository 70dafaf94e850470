"""End-of-round artifact regeneration — run AFTER the round's last
source commit, as the literal final step.

Regenerates, in order:
  1. VERIFY_LOCAL.json  (tools/verify_local.py, full registry)
  2. PLAN_AUDIT.json    (tools/plan_audit.py, full registry)
  3. STREAM_PLANS.json  (tools/stream_plans.py, the PLAN_AUDIT SKIP set)
  4. DETERMINISM.json   (tools/determinism_audit.py, full registry —
     added in r10: the r9 round left it stale at n=214 because it was
     "regenerated on demand" and nothing demanded it; now the one
     script really does produce every artifact the pytest gate
     (tests/test_zz_artifact_gate.py) checks)

then verifies and PRINTS that both artifact mtimes are newer than the
last non-doc commit — the r3/r4 lesson, twice learned: a verification
artifact produced before the last change is evidence of nothing
(r3: stale VERIFY_LOCAL; r4: PLAN_AUDIT 10 min older than a
plan-affecting commit). One script, one ordering, no third repeat.

Runs the two generators as separate processes so their Spark sessions
never coexist with a benchmark JVM (bench hygiene note, NOTES_r04).
"""

from __future__ import annotations

import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

# The artifacts this script regenerates, in the order of the scripts
# that write them.
ARTIFACTS = (
    "VERIFY_LOCAL.json", "PLAN_AUDIT.json", "STREAM_PLANS.json",
    "DETERMINISM.json", "VERIFY_SF1.json", "SCALE_PROFILE.json",
)
# Everything that is not source: the artifacts above plus the round
# records. A change to these neither dates the last source commit nor
# counts as an uncommitted source change.
NOT_SOURCE = [
    ".", *(f":(exclude){p}" for p in (
        *ARTIFACTS, "BENCH_DETAIL.json", "BENCH_r*.json",
        "CORRECTNESS_r*.json", "NOTES_r*.md", "VERDICT.md", "ADVICE.md",
        "bench_stderr.txt",
    )),
]


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args, "--", *NOT_SOURCE],
        cwd=REPO, capture_output=True, text=True, check=True,
    ).stdout.strip()


def last_source_commit_epoch() -> tuple[str, int]:
    """Committer timestamp of the newest commit touching anything
    outside the round artifacts/docs (the artifacts this script
    writes must postdate it)."""
    sha, ts = _git("log", "-1", "--format=%H %ct").split()
    return sha, int(ts)


def uncommitted_source_changes() -> str:
    """`git status --porcelain` over the source, or "" when clean."""
    return _git("status", "--porcelain")


def main() -> None:
    for script in (
        "verify_local.py",
        "plan_audit.py",
        "stream_plans.py",
        "determinism_audit.py",
        # r11 (r10 verdict item 1): the last two on-demand artifacts
        # join the one-script regeneration — the pytest gate
        # (tests/test_zz_artifact_gate.py) now mtime-checks all six.
        "verify_sf1.py",
        "scale_profile.py",
    ):
        print(f"== regenerating via tools/{script} ==", flush=True)
        r = subprocess.run(
            [sys.executable, os.path.join(HERE, script)], cwd=REPO
        )
        if r.returncode != 0:
            sys.exit(f"tools/{script} failed (rc={r.returncode})")

    sha, commit_ts = last_source_commit_epoch()
    ok = True
    for artifact in ARTIFACTS:
        mtime = int(os.path.getmtime(os.path.join(REPO, artifact)))
        fresh = mtime >= commit_ts
        ok = ok and fresh
        print(
            f"{artifact}: mtime {mtime} vs last source commit "
            f"{sha[:9]} at {commit_ts} -> "
            + ("FRESH" if fresh else "STALE (regenerate after committing!)")
        )

    # Content-level freshness (the r6 lesson: a VERIFY_LOCAL that
    # predates the round's registry additions has the right mtime
    # shape but the wrong COVERAGE): both artifacts must report
    # exactly the live registry's query count, and the working tree
    # must be clean of uncommitted source edits (artifacts over
    # uncommitted code certify nothing the next clone can see).
    import json

    sys.path.insert(0, REPO)
    from mapreducego_spark.registry import QUERIES

    n_live = len(QUERIES)
    # DETERMINISM.json is regenerated above since r10 (the r9 lesson:
    # "on demand" meant "never"); its COVERAGE must match the live
    # registry like the others — the r7 lesson was a query added
    # after the audit ran staying invisible to this gate for a round.
    for artifact in (
        "VERIFY_LOCAL.json", "PLAN_AUDIT.json", "DETERMINISM.json",
    ):
        with open(os.path.join(REPO, artifact)) as fh:
            n_art = json.load(fh)["n_queries"]
        match = n_art == n_live
        ok = ok and match
        print(
            f"{artifact}: n_queries {n_art} vs live registry {n_live} -> "
            + ("MATCH" if match else "MISMATCH (stale coverage!)")
        )
    with open(os.path.join(REPO, "VERIFY_LOCAL.json")) as fh:
        n_fail = json.load(fh)["n_failures"]
    print(f"VERIFY_LOCAL.json: n_failures {n_fail}")
    ok = ok and n_fail == 0

    # STREAM_PLANS covers the PLAN_AUDIT SKIP set, not the whole
    # registry — its coverage gate is |SKIP ∩ registry| (and SKIP
    # must not name queries the registry no longer has).
    from tools.plan_audit import SKIP

    n_skip_live = len(SKIP & set(QUERIES))
    with open(os.path.join(REPO, "STREAM_PLANS.json")) as fh:
        sp = json.load(fh)
    # an {"error": ...} entry has no red_flags key and would count as
    # covered-and-clean — require explicitly zero capture errors too
    sp_ok = (
        sp["n_queries"] == n_skip_live == len(SKIP)
        and sp.get("n_errors", 0) == 0
    )
    ok = ok and sp_ok and sp["n_with_red_flags"] == 0
    print(
        f"STREAM_PLANS.json: n_queries {sp['n_queries']} vs live SKIP "
        f"set {n_skip_live} (declared {len(SKIP)}), red flags "
        f"{sp['n_with_red_flags']}, errors {sp.get('n_errors', 0)} -> "
        + ("MATCH" if sp_ok else "MISMATCH (stale coverage or errors!)")
    )

    dirty = uncommitted_source_changes()
    if dirty:
        print("UNCOMMITTED source changes:\n" + dirty)
        ok = False

    if not ok:
        sys.exit(1)
    print("end-of-round artifacts are fresh relative to the last source commit")


if __name__ == "__main__":
    main()
