"""sf1 correctness spot-check (r7 verdict item 8).

The driver's oracle gate runs at sf0.01; the bench's sf1 block
measures only WALL CLOCK at 10x rows. That leaves a gap: an operator
whose guards are size-dependent (hot-bucket caps, band-bucket limits,
prefix-density behavior, sampling floors) could stay hash-green at
sf0.01 while silently changing RESULTS at scale. This tool closes it:
the heaviest / most size-sensitive queries run the full DuckDB oracle
compare on the 10x amplified dataset (tools/make_sf1.py, the same
fixture the bench scaling block uses) and the per-query outcome is
committed as VERIFY_SF1.json.

Query selection: the bench's most expensive entries plus the worst
sf1-scaling ratios from BENCH_r07's probe (dedup_minhash 5.11x,
tfidf_top_terms 4.56x, dedup_clusters 4.32x, perplexity_score 4.18x)
— exactly the ones whose scale behavior is least like their sf0.01
behavior — plus the two corpus-prep compositions (every stage's guard
fires in one hash).

Usage: python tools/verify_sf1.py  (writes VERIFY_SF1.json)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)

from tools.harness import write_artifact  # noqa: E402

QUERIES = [
    "dedup_minhash",
    "tfidf_top_terms",
    "dedup_clusters",
    "perplexity_score",
    "jaccard_prefix_join",
    "dedup_incremental",
    "prepare_corpus",
    "copurchase_pairs",
    "bpe_apply",
    "prepare_corpus_mixed",
    # r9: the semantic tier's 10x-scale correctness (dynamic-k
    # SCALE_ORACLES variants — the engine runs k=80 at sf1)
    "kmeans_embed",
    "semantic_dedup",
]

# Rotating 10x corpus-scale spot-verify (r13 verdict demand #7): the
# r13 ad-hoc sf0.1 oracle re-checks of the corpus-scaling ingest
# tiers (warc/webdataset/gif/bmp) proved valuable, so the practice is
# now an artifact: 3-5 entries whose fixtures scale WITH the corpus
# (staged from documents/orders, unlike the fixed-n media sets) run
# the full oracle compare at sf0.1 (10x the driver's gate scale) and
# land in VERIFY_SF1.json alongside the sf1 suite. Rotate the list
# each round toward entries without a recent 10x row; r14 leads with
# the round's own corpus-scaling births.
ROTATED_SF01 = [
    # r17 rotation (r16 verdict #7): the two r16 decode births never
    # 10x-checked (both CHANGED again in r17 — LZW / meta-prefix
    # families), pdf_extract_text (CHANGED in r17 — LZW stream
    # cycle, corpus-scaling so the 10x run exercises ~9k pages), and
    # two r11-stale compute entries without any prior 10x row
    "multimodal_tiff_decode",  # r16 birth, +LZW families r17
    "multimodal_webp_decode",  # r16 birth, +meta/predtr families r17
    "pdf_extract_text",        # CHANGED r17 (raw/flate/lzw cycle)
    "ngram_jaccard",           # r11-stale compute, no prior 10x row
    "pack_shards",             # r11-stale compute, no prior 10x row
]
SF01_DIR = "/root/testdata/sf0.1"

# Queries whose ORACLE cannot reach sf1 on this box, checked at the
# largest scale the single-node comparator can evaluate instead.
# EMPTY since r9: jaccard_prefix_join's naive oracle (full
# sum-C(df,2) pair stream, >80 GB spill at sf1) is replaced at
# non-driver scales by registry.SCALE_ORACLES' prefix-filtered
# DuckDB variant (verify_local swaps it in automatically when
# SPARK_GRAFT_VERIFY_SF is not sf0.01), so the sf1 row runs the
# full oracle compare at sf1 like everything else. The naive form
# remains the driver-gate oracle at sf0.01 for independence.
FALLBACK_SF: dict[str, str] = {}


def main() -> None:
    from tools.make_sf1 import ensure_sf1

    sf1_dir = ensure_sf1()
    env = dict(os.environ, SPARK_GRAFT_VERIFY_SF=sf1_dir)
    results: dict[str, dict] = {}
    # ONE SUBPROCESS PER QUERY: the first combined run showed that a
    # single oracle exhausting DuckDB's buffer manager poisons every
    # later allocation in the same process ('failed to allocate 8
    # bytes' cascades) even across fresh connections — process exit
    # is the only reliable reclaim. Costs one Spark session startup
    # per query; correctness evidence is worth the ~30s each.
    for query in QUERIES + ROTATED_SF01:
        q_dir = (
            SF01_DIR
            if query in ROTATED_SF01
            else FALLBACK_SF.get(query, sf1_dir)
        )
        machine_out = os.path.join(
            "/tmp", f"verify_sf1_{query}.json"
        )
        if os.path.exists(machine_out):
            os.remove(machine_out)
        q_env = dict(
            env,
            SPARK_GRAFT_VERIFY_SF=q_dir,
            SPARK_GRAFT_VERIFY_OUT=machine_out,
        )
        r = subprocess.run(
            [sys.executable, os.path.join(HERE, "verify_local.py"), query],
            cwd=REPO, env=q_env, capture_output=True, text=True,
        )
        # Read verify_local's machine-readable per-run artifact (the
        # former stdout scraping broke silently on wording changes —
        # r8 ADVICE). A missing/unparsable artifact or a subprocess
        # crash surfaces as an explicit SUBPROCESS_ERROR row, which
        # the n_pass gate counts as a failure.
        try:
            with open(machine_out) as fh:
                run = json.load(fh)
            entry = run["results"][query]
            status = {
                "PASS": "PASS",
                "FAIL": "FAIL",
                "rows_only_by_design": "rows",
            }[entry["status"]]
            detail = str(
                entry.get("err") or entry.get("rows")
                or entry.get("spark_rows") or ""
            )[:300]
            results[query] = {
                "status": status, "sf_dir": q_dir, "detail": detail,
            }
        except Exception as ex:  # noqa: BLE001
            results[query] = {
                "status": "SUBPROCESS_ERROR",
                "sf_dir": q_dir,
                "detail": f"{ex}; rc={r.returncode}; "
                f"stderr tail: {r.stderr[-200:]}",
            }
        print(query, results.get(query, {}).get("status", "NO OUTPUT"),
              f"({q_dir})", flush=True)
    suite = QUERIES + ROTATED_SF01
    missing = [q for q in suite if q not in results]
    n_pass = sum(1 for v in results.values() if v["status"] == "PASS")
    out = {
        "sf_dir": sf1_dir,
        "oracle_scale_fallbacks": FALLBACK_SF,
        "rotated_sf01": ROTATED_SF01,
        "n_queries": len(suite),
        "n_pass": n_pass,
        # anything that is not an explicit oracle PASS fails the gate:
        # a 'rows' outcome means the query LOST its oracle (rename /
        # refactor) and the spot-check silently stopped checking it —
        # that is a failure of the gate's purpose, not a third state
        "n_fail": len(suite) - n_pass,
        "missing": missing,
        "results": results,
    }
    path = write_artifact("VERIFY_SF1.json", out)
    print(f"wrote {path}: {out['n_pass']}/{out['n_queries']} PASS")
    sys.exit(1 if out["n_fail"] else 0)


if __name__ == "__main__":
    main()
