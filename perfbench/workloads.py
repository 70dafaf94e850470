"""The benchmark's workloads: which registry queries each one submits.

Each workload is a closed loop with one client: a single driver thread
submits the queries one after another, waiting for each result, in an
order the seed shuffles afresh on every pass.
"""

from __future__ import annotations

# A third workload, read-only SQL analytics (pricing aggregate, join
# chain, wordcount), was measured and left out: a run's fixed cost (JVM
# start plus a cold pass, 25-35 s on a 4-core host under steal) leaves
# too few measured passes per run for three workloads inside the run
# budget, and its wall-time spread across seeds was the widest.
WORKLOADS: dict[str, list[str]] = {
    # Near-duplicate clustering of the documents corpus: shingle,
    # MinHash, LSH band join, exact-Jaccard verify, connected
    # components. Eager localCheckpoints and tens of small jobs per
    # query, so materialization, job overhead, shuffle volume and LSH
    # candidate waste dominate. Reads, never writes, and runs no
    # Python UDF: the control for codec and write-path changes.
    "corpus_dedup": [
        "dedup_clusters",
    ],
    # Untrusted bytes in, committed tables out: an Arrow-batched Python
    # UDF running the pure-Python JPEG decoder, and the write side of
    # sources (avro container write and read-back, parquet snapshot
    # commits: full, append and merge). One eager checkpoint per pass:
    # the near-control for materialization changes.
    # The checkpointed streaming sink (stream_tumbling_sink) was
    # measured here and left out: 6.7 s of an 11 s pass, it would
    # double the run and drown the codec and avro share of cpu_s.
    "ingest_write": [
        "multimodal_jpeg_decode",
        "avro_round_trip",
        "snapshot_append",
    ],
}

# Passes before measuring, the first (cold) one included. Process-tree
# CPU per pass falls while the JIT compiles; measured on four cores in
# one long run each ("|" marks where measuring starts):
#   corpus_dedup 38.0 12.5 10.8 9.8 7.9 7.4 6.2 | 6.3 5.7 5.2 5.2 5.2 5.1 5.4 s
#   ingest_write 43.0 14.4 12.2 11.2 | 10.7 9.9 9.7 11.8 9.8 10.1 10.7 10.4 s
# ingest_write is level by then. corpus_dedup still falls about 8 % a
# pass over its three measured passes and is level two passes later;
# those two passes would not fit the benchmark's time budget.
WARMUP_PASSES: dict[str, int] = {
    "corpus_dedup": 7,
    "ingest_write": 4,
}

# Wall time of one warm pass on four cores. ``--seconds`` is turned
# into a fixed number of measured passes with it, so that a faster or
# slower engine measures the same passes: a time-boxed loop would
# compare a fast commit's later passes with a slow commit's earlier
# ones.
PASS_SECONDS: dict[str, float] = {
    "corpus_dedup": 2.5,
    "ingest_write": 4.5,
}
