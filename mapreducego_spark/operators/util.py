"""Cross-engine determinism helpers, plus the media-fixture staging
helpers every staged-file entry shares.

The driver hash-compares Spark results against DuckDB. Floating-point
SUMs are order-dependent (Spark sums per-partition then merges; DuckDB
sums in its own order), so any double aggregate can differ in the last
ulp. We sidestep tolerance games entirely: cast inputs to DECIMAL,
aggregate exactly, cast the final result to DOUBLE. Both engines then
produce bit-identical values.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F


def dec(col: Column | str, precision: int = 18, scale: int = 2) -> Column:
    """Cast to an exact decimal for order-independent aggregation."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({precision},{scale})")


def dsum(col: Column, alias: str, cents: bool = False) -> Column:
    """Exact decimal SUM surfaced as double (bit-stable cross-engine).

    ``cents=True`` rounds the decimal sum to scale 2 BEFORE the
    double cast — required for product decimals (scale 4/6): the sum
    itself is engine-exact at any size, but DECIMAL->DOUBLE is only
    correctly rounded by every engine while the scaled integer fits
    2^53. At scale 2 that bound is ~2^51 cents (~$22 trillion) per
    group — beyond any per-group revenue at 100 TB — where a scale-6
    sum blows past it at ~$9 billion (observed: one-ulp oracle drift
    at sf1). Use for every monetary product sum."""
    s = F.round(F.sum(col), 2) if cents else F.sum(col)
    return s.cast("double").alias(alias)


def davg(col: Column, alias: str) -> Column:
    """avg as exact-decimal sum / count, divided in double — one
    deterministic division instead of an order-dependent mean."""
    return (F.sum(col).cast("double") / F.count(F.lit(1)).cast("double")).alias(alias)


def guard_limit(n: Column, limit: int, message: Column) -> Column:
    """In-plan quadratic-blowup guard: a boolean filter expression
    that FAILS LOUDLY (F.assert_true at execution time) when ``n``
    exceeds ``limit``, and passes rows through otherwise.

    Used by the exact O(n^2) baselines (ngram_jaccard,
    embedding_pairs_exact): rather than silently melting down on a
    corpus that needs the LSH path, the plan itself raises with a
    routing hint. Runs distributed — no driver-side count round-trip."""
    return F.when(
        n > limit, F.assert_true(F.lit(False), message).isNull()
    ).otherwise(F.lit(True))


def sort_once(df, *cols):
    """Presentation sort without the hidden double execution.

    A global ``orderBy`` plans a range exchange, and the range
    partitioner runs a SAMPLING job over its child before the real
    pass — so when nothing between the expensive work and the sort is
    a shuffle boundary (the Python-decode tiers: scan -> mapInArrow/
    mapInPandas -> project -> orderBy), the entire decode executes
    TWICE (probe: 16 task invocations for an 8-partition mapInArrow
    under orderBy; guide §2.4's "orderBy used only to make output
    deterministic" cost). Materializing the decode OUTPUT once and
    sorting the materialized rows keeps the result byte-identical
    while halving the decode cost. At 100 TB the checkpoint holds
    only the per-file stats/text rows — never the input payloads —
    which is exactly the small side a presentation sort should run
    over. Same audit-visible idiom as the PPJoin/graph checkpoints
    (tools/plan_audit.py captures pre-checkpoint plans).

    eager=False on purpose: the range partitioner's sampling job is
    the FIRST job to touch the checkpoint and materializes every
    partition as a side effect (RangePartitioner sketches all
    partitions), so the real pass reads persisted rows — two jobs
    total instead of eager's three (measured: pdf_extract_text
    3.44s eager -> 3.05s lazy, multimodal_decode 0.85 -> 0.57).

    Fault-tolerance trade (r17 verdict wrong #2 / ADVICE): a
    localCheckpoint TRUNCATES lineage — on a multi-executor cluster,
    losing an executor that held checkpointed partitions fails the
    job instead of recomputing (plain orderBy recovers; so does
    persist, which keeps lineage). On local[N] there is exactly one
    executor, so the distinction cannot matter and the cheapest form
    wins. Cluster deploys choose via SPARK_GRAFT_SORT_ONCE:
      - "checkpoint" (default): lazy localCheckpoint — fastest,
        non-replayable; right for single-node and for presentation
        sorts where a job retry is acceptable.
      - "persist": MEMORY_AND_DISK persist — lineage kept, executor
        loss recomputes; one extra plan-construction no-op, same
        two-job execution shape.
      - "orderby": plain orderBy — no storage at all, at the cost of
        re-executing the decode under the range sampler (the very
        double execution this helper exists to remove).
    The two storing modes release their blocks differently.
    "checkpoint" blocks belong to the checkpointed RDD, which the
    ContextCleaner unpersists once the JVM garbage-collects it.
    "persist" registers the plan with the session's CacheManager,
    which holds it until an explicit ``unpersist()`` (or
    ``spark.catalog.clearCache()``); garbage collection never drops
    it, so a caller in that mode must unpersist the returned frame.

    The eager=False fusion relies on RangePartitioner's sampling job
    materializing the lazily-checkpointed partitions as a side
    effect — an undocumented Spark internal. A Spark upgrade that
    samples differently would silently re-introduce the double
    execution (a perf regression, never a correctness one);
    tests/test_sort_once_probe.py pins the task-invocation count so
    the upgrade surfaces it loudly instead."""
    mode = os.environ.get("SPARK_GRAFT_SORT_ONCE", "checkpoint")
    if mode == "orderby":
        return df.orderBy(*cols)
    if mode == "persist":
        from pyspark import StorageLevel

        return df.persist(StorageLevel.MEMORY_AND_DISK).orderBy(*cols)
    return df.localCheckpoint(eager=False).orderBy(*cols)


def merge_small_splits(df, factor: int = 2):
    """Coalesce a many-tiny-files scan down to ~``factor`` x cores
    before a per-file Python decode (r18, guide §6 small files /
    §2.2 fewer map tasks). binaryFile charges every file
    ``openCostInBytes`` (4 MB), so 5000 sidecar files plan ~157
    scan tasks of ~32 files each — per-task scheduling + Python
    worker round-trip overhead then dwarfs the decode (measured:
    subtitle_cues 2.7s -> 0.8s warm at sf0.1 just from this).
    coalesce() merges WITHOUT a shuffle and never increases the
    partition count, so large inputs at cluster scale — where the
    listing produces byte-sized splits in the right count — pass
    through untouched; the factor keeps a 2x task-to-core ratio for
    load balancing. Only for cheap-per-byte decodes: a heavy decode
    with per-file size skew should keep per-file tasks (see
    multimodal.frame_sample_plan's repartition note)."""
    try:
        sc = df.sparkSession.sparkContext
        target = sc.defaultParallelism * factor
        n_parts = df.rdd.getNumPartitions()
    except Exception:
        return df
    if n_parts > target:
        return df.coalesce(target)
    return df


def spread_scan(df):
    """Repartition an under-partitioned scan across the session's
    cores before CPU-heavy map-side work (tokenize/shingle/md5/
    explode). A parquet file with one row group arrives as ONE input
    partition, serializing the whole map side onto a single task —
    measured 3.2s -> 0.4s on the sf0.1 shingle stage. At cluster
    scale inputs have many splits and this no-ops; the repartition
    itself only moves the raw column bytes once.

    Falls back to no-op under Spark Connect, where the classic
    sparkContext / RDD surface is unavailable — there the remote
    cluster's input splitting governs parallelism anyway."""
    try:
        sc = df.sparkSession.sparkContext
        target = sc.defaultParallelism
        n_parts = df.rdd.getNumPartitions()
    except Exception:
        return df
    if min(n_parts, _parquet_row_groups(df, target)) < target:
        return df.repartition(target)
    return df


def _parquet_row_groups(df, cap: int) -> int:
    """Row groups in ``df``'s input files, or ``cap`` when there are
    ``cap`` or more files or a file is not local parquet. Spark splits
    a large file by byte range but reads each row group in one split,
    so a file with fewer row groups than splits scans as mostly empty
    partitions: the sf3 embeddings file (one row group) arrives as 4
    partitions with every row in one of them."""
    from urllib.parse import unquote, urlparse

    import pyarrow.parquet as pq

    try:
        files = df.inputFiles()
        if len(files) >= cap:
            return cap
        return sum(
            pq.ParquetFile(unquote(urlparse(f).path)).metadata.num_row_groups
            for f in files
        )
    except Exception:
        return cap


def scratch_dir(prefix: str) -> str:
    """A fresh temporary directory, removed when the process exits."""
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


MEDIA_ROOT = "/tmp/spark_graft_media"


def staged_dir(sf_dir: str, name: str, write: Callable[[str], int]) -> str:
    """Fixture directory ``MEDIA_ROOT/<tag>_<name>``, filled once.

    ``tag`` is the basename of ``sf_dir``. ``write(out)`` writes the
    fixture files into ``out`` and returns how many it wrote; the
    count then goes into a marker file, and a directory that has the
    marker is returned as is. Staging is driver-side test plumbing (in
    production media arrives as files) and idempotent.

    The rule that follows from the marker: a change to the bytes a
    fixture writes must rename its directory (bump the version in
    ``name``, e.g. ``bmpB`` -> ``bmpC``). Otherwise a directory staged
    by the old code keeps serving the old bytes. The digests in
    tests/test_fixture_bytes.py catch a change that forgot to."""
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    out = os.path.join(MEDIA_ROOT, f"{tag}_{name}")
    os.makedirs(out, exist_ok=True)
    marker = os.path.join(out, "_STAGED")
    if not os.path.exists(marker):
        count = write(out)
        with open(marker, "w") as fh:
            fh.write(str(count))
    return out


def stage_items(
    sf_dir: str, name: str, n: int, ext: str, encode: Callable[[int], bytes]
) -> str:
    """Stage ``n`` files ``media_{i:05d}.{ext}`` holding ``encode(i)``
    into ``staged_dir(sf_dir, f"{name}{n}", ...)``."""

    def write(out: str) -> int:
        for i in range(n):
            with open(os.path.join(out, f"media_{i:05d}.{ext}"), "wb") as fh:
                fh.write(encode(i))
        return n

    return staged_dir(sf_dir, f"{name}{n}", write)
