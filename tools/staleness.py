"""Driver-evidence staleness report + next-window proposal.

For every registry query, find the newest round whose
CORRECTNESS_r{N}.json contains a row for it, then print:

  - a staleness histogram (round -> #queries whose LAST driver row is
    from that round, plus never-checked),
  - the never-checked list,
  - how many names of the live `_VERIFY_FIRST` already have a row in
    the newest CORRECTNESS file (a high count means the next round
    re-checks entries it has just checked),
  - a proposed next verification window of WINDOW_SIZE entries:
    never-checked first (registry order), then oldest-stale, printed
    as a paste-ready `_VERIFY_FIRST = [...]` block.

The round driver verifies the FIRST 50 registry entries in insertion
order, and registry.py puts `_VERIFY_FIRST` first, so the block
replaces that list as printed.

Usage: python tools/staleness.py [window_size]
"""

from __future__ import annotations

import glob
import json
import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

WINDOW_SIZE = int(sys.argv[1]) if len(sys.argv) > 1 else 50


def main() -> None:
    from mapreducego_spark.registry import _VERIFY_FIRST, QUERIES

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    last_round: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        rnd = int(path.rsplit("_r", 1)[1].split(".")[0])
        try:
            with open(path) as fh:
                data = json.load(fh)
        except (OSError, json.JSONDecodeError):
            continue
        for name in data:
            if name in QUERIES:
                last_round[name] = max(last_round.get(name, 0), rnd)

    never = [q for q in QUERIES if q not in last_round]
    hist = Counter(last_round.values())
    latest = max(hist) if hist else 0

    print(f"registry: {len(QUERIES)} queries")
    print("staleness histogram (last driver round -> count):")
    for rnd in sorted(hist):
        print(f"  r{rnd}: {hist[rnd]}")
    print(f"  never: {len(never)}")
    if never:
        print("never driver-checked:")
        for q in never:
            print(f"  {q}")

    stale_sorted = sorted(
        (q for q in QUERIES if q in last_round),
        key=lambda q: (last_round[q], q),
    )
    repeat = [q for q in _VERIFY_FIRST if last_round.get(q) == latest]
    print(
        f"\nlive _VERIFY_FIRST: {len(repeat)} of {len(_VERIFY_FIRST)}"
        f" already have a CORRECTNESS_r{latest:02d} row"
    )

    proposal = (never + stale_sorted)[:WINDOW_SIZE]
    oldest_after = (never + stale_sorted)[WINDOW_SIZE:]
    print(f"\nproposed next window ({WINDOW_SIZE}):")
    print("_VERIFY_FIRST = [")
    for q in proposal:
        tag = "never" if q not in last_round else f"r{last_round[q]}"
        print(f'    "{q}",  # {tag}')
    print("]")
    if oldest_after:
        q = oldest_after[0]
        tag = "never" if q not in last_round else f"r{last_round[q]}"
        print(f"\nmax staleness AFTER this window: {tag} ({q})")
    print(
        f"\nrotation health: an entry is overdue when its last driver "
        f"row is older than r{latest - 2} (>2 rounds)."
    )


if __name__ == "__main__":
    main()
