"""Local replica of the driver's correctness gate.

Runs every queries()[name] on Spark and oracle_sql()[name] on DuckDB
at sf0.01, then compares row count, column names, and an
order-insensitive value multiset. Reports per-query PASS/FAIL with
first differing rows, so oracle drift is debuggable locally before
the driver ever sees it.

Usage: python tools/verify_local.py [query ...]

A full (no-argument) run also writes VERIFY_LOCAL.json at the repo
root — the complete per-query result table, including the entries
beyond the round driver's verification window, so full-registry
verification is inspectable as an artifact.
"""

from __future__ import annotations

import math
import os
import sys
from collections import Counter

import duckdb

# The checkout this file lives in, so the engine imported here is the
# one beside it, not whichever tree happens to sit at a fixed path.
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.harness import start, write_artifact  # noqa: E402

# Overridable so correctness (not just wall clock) can be spot-checked
# at other scales — e.g. SPARK_GRAFT_VERIFY_SF=/tmp/spark_graft_sf1
# runs the same oracle compare on the 10x amplified dataset. The
# VERIFY_LOCAL.json artifact is only written for default-dir full runs.
SF_DIR = os.environ.get("SPARK_GRAFT_VERIFY_SF", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm_value(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # collapse -0.0 / 0.0 and format with full precision
        return repr(v + 0.0)
    if isinstance(v, bool):
        return bool(v)
    if isinstance(v, int):
        return int(v)
    if hasattr(v, "isoformat"):
        # tz-aware datetimes canonicalize to naive UTC (r12 verdict
        # wrong #1): Spark timestamps are instant-semantics and come
        # back tz-aware under a non-UTC session, DuckDB's are naive —
        # rendering them verbatim would make identical instants hash
        # differently, the exact divergence class the r12 driver
        # caught and this replica could not.
        import datetime as _dt

        if isinstance(v, _dt.datetime) and v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    from decimal import Decimal

    if isinstance(v, Decimal):
        return repr(float(v))
    return str(v)


def normalize_rows(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(norm_value(r[i]) for i in order) for r in rows)


def main():
    import __spark_entry__ as E

    only = set(sys.argv[1:])
    spark = start("verify-local")

    def fresh_con():
        """One DuckDB connection PER QUERY, tuned for the sf1 runs:
        out-of-core spill + a hard memory cap of half the machine's
        memory, at most 80 GB (the box also hosts the Spark JVM; a cap
        above physical memory gets the process killed before DuckDB
        spills) + a thread cap (32 threads multiply the peak of
        the list-heavy dedup oracles). Per-query isolation matters:
        an oracle that exhausts a shared connection poisons every
        later query on it ('failed to allocate 4096 bytes' cascades,
        observed in the first sf1 run). preserve_insertion_order off
        is free — the comparator is order-insensitive."""
        c = duckdb.connect()
        mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
        c.execute(f"SET memory_limit='{min(80, int(mem_gb / 2))}GB'")
        c.execute("SET temp_directory='/tmp/duckdb_verify_spill'")
        c.execute("SET preserve_insertion_order=false")
        c.execute("SET threads=8")
        for t in TABLES:
            c.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
            )
        return c

    qs = E.queries()
    oracles = E.oracle_sql()
    if not SF_DIR.endswith("sf0.01"):
        # Larger-than-driver-gate runs swap in the scale-capable
        # oracle variants (registry.SCALE_ORACLES) where the naive
        # form cannot reach the requested scale on one node. The
        # driver gate itself always compares against the naive,
        # maximally-independent oracles.
        from mapreducego_spark.registry import SCALE_ORACLES

        swapped = sorted(set(oracles) & set(SCALE_ORACLES))
        oracles = {**oracles, **SCALE_ORACLES}
        if swapped:
            print(f"scale-oracle variants in use: {swapped}")
    failures = []
    results = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, SF_DIR)
            spark_cols = df.columns
            # Recorded so the registry-wide output-type convention is
            # artifact-enforceable (r12 verdict #1): no entry may
            # output a raw TimestampType — tests/test_zz_artifact_gate
            # asserts it over this field for all entries.
            out_schema = df.schema.simpleString()
            spark_rows = [tuple(r) for r in df.collect()]
        except Exception as ex:  # noqa: BLE001
            failures.append(name)
            results[name] = {"status": "FAIL", "err": f"spark error: {ex}"}
            print(f"FAIL  {name}: spark error: {ex}")
            continue
        if name not in oracles:
            results[name] = {
                "status": "rows_only_by_design",
                "spark_rows": len(spark_rows),
                "out_schema": out_schema,
            }
            print(f"rows  {name}: {len(spark_rows)} rows (no oracle)")
            continue
        try:
            con = fresh_con()
            try:
                res = con.execute(oracles[name])
                duck_cols = [d[0] for d in res.description]
                duck_rows = res.fetchall()
            finally:
                con.close()
        except Exception as ex:  # noqa: BLE001
            failures.append(name)
            results[name] = {"status": "FAIL", "err": f"duckdb error: {ex}"}
            print(f"FAIL  {name}: duckdb error: {ex}")
            continue
        problems = []
        if sorted(spark_cols) != sorted(duck_cols):
            problems.append(f"cols spark={sorted(spark_cols)} duck={sorted(duck_cols)}")
        if len(spark_rows) != len(duck_rows):
            problems.append(f"rowcount spark={len(spark_rows)} duck={len(duck_rows)}")
        if not problems:
            s = normalize_rows(spark_rows, spark_cols)
            d = normalize_rows(duck_rows, duck_cols)
            if s != d:
                only_s = list((s - d).items())[:3]
                only_d = list((d - s).items())[:3]
                problems.append(f"values spark-only={only_s} duck-only={only_d}")
        if problems:
            failures.append(name)
            results[name] = {"status": "FAIL", "err": " | ".join(problems)}
            print(f"FAIL  {name}: " + " | ".join(problems))
        else:
            results[name] = {
                "status": "PASS",
                "rows": len(spark_rows),
                "rows_match": True,
                "schema_match": True,
                "hash_match": True,
                "out_schema": out_schema,
            }
            print(f"PASS  {name}: {len(spark_rows)} rows")
    record = {"sf_dir": SF_DIR, "n_queries": len(results),
              "n_failures": len(failures), "results": results}
    if not only and SF_DIR.endswith("sf0.01"):
        print(f"wrote {write_artifact('VERIFY_LOCAL.json', record, sort_keys=False)}")
    # Machine-readable per-run artifact for tool callers (verify_sf1
    # formerly scraped the human stdout via substring markers, which
    # broke silently on any wording change — r8 ADVICE): written for
    # ANY run shape, subset or full, at the caller-chosen path.
    machine_out = os.environ.get("SPARK_GRAFT_VERIFY_OUT")
    if machine_out:
        write_artifact(machine_out, record, sort_keys=False)
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
