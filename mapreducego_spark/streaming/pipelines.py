"""Structured Streaming tier.

The reference is batch-only (no streaming code exists anywhere in
/root/reference — SURVEY.md §2.B); this tier is north-star scope:
the same event-time window semantics as operators/timewin.py, run
incrementally with watermarks, late-data handling, stateful dedup,
and a custom stateful operator via applyInPandasWithState.

Design for scale: every pipeline here is a pure function from a
streaming DataFrame to a streaming DataFrame — source and sink are
injected, so the same logic runs against Kafka/file/rate sources
and is unit-tested with trigger(availableNow) + memory sink against
the batch twins (tests/test_streaming.py).
"""

from __future__ import annotations

import json
import os
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from mapreducego_spark.operators.util import scratch_dir
from mapreducego_spark.sources.snapshots import _repoint, current_version

# Schema of the STAGED event chunks the file-stream source reads.
# The fixture has shipped as TIMESTAMP(NANOS), TIMESTAMP(MICROS) and
# could ship as raw int64 nanos; _normalized_events_table converts
# every encoding to timestamp[us] at stage time, so the stream source
# always sees one canonical TimestampType column (session tz is UTC)
# and no per-encoding branching survives into the streaming plan.
from pyspark.sql.types import TimestampType  # noqa: E402

EVENTS_STREAM_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

# Number of staged chunk files = number of availableNow micro-batches
# (maxFilesPerTrigger=1). Chunks are ts-sorted, so event time advances
# monotonically across batches and the watermark finalizes earlier
# windows incrementally — a real multi-batch replay, not a
# one-batch-plus-sentinel run.
N_STREAM_CHUNKS = 8


class StreamSpec(NamedTuple):
    """A streaming DataFrame paired with the sink output mode its
    plan requires. Every pipeline returns one; the run_* sinks
    consume it. (Replaces the earlier private-attribute tag on the
    DataFrame, which would not survive DataFrame re-creation.)"""

    df: DataFrame
    mode: str


# Watermark-flush sentinel (see events_stream(flush=True)): one
# synthetic event far past any fixture timestamp. Under
# trigger(availableNow) an aggregation in append mode only emits
# windows whose end falls below the FINAL watermark — without the
# sentinel, the last watermark-delay's worth of real windows would
# stay in state forever and never reach the sink. The sentinel pushes
# the closing watermark past every real window; its own rows carry
# FLUSH_EVENT_ID / FLUSH_USER_ID / FLUSH_EVENT_TYPE so downstream
# consumers can drop them.
FLUSH_TS_SECONDS = 4102444800  # 2100-01-01T00:00:00Z
FLUSH_EVENT_ID = -1
FLUSH_USER_ID = -1
FLUSH_EVENT_TYPE = "flush"


def _normalized_events_table(sf_dir: str):
    """Read the events fixture with pyarrow and normalize ``ts`` to
    timestamp[us], whatever encoding the fixture shipped with:
    TIMESTAMP(MICROS) (no-op), TIMESTAMP(NANOS) (pyarrow yields
    timestamp[ns]; cast truncates to micros exactly like the batch
    path's ``ts div 1000``), or raw int64 nanoseconds (integer
    divide then reinterpret as micros). Mirrors
    ``sources.catalog.load_table``'s batch normalization so stream
    and batch twins see bit-identical event times. Rows are sorted
    by ts so the staged chunk files replay in event-time order."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    idx = t.schema.get_field_index("ts")
    ts = t.column("ts")
    if pa.types.is_integer(ts.type):  # raw int64 nanos encoding
        ts = pc.divide(ts.cast(pa.int64()), 1000).cast(pa.timestamp("us"))
    else:  # timestamp[ns] or timestamp[us] (tz-less, session tz UTC)
        ts = ts.cast(pa.timestamp("us"))
    t = t.set_column(idx, pa.field("ts", pa.timestamp("us")), ts)
    return t.sort_by("ts")


def _sentinel_table(schema, ts_seconds: int = FLUSH_TS_SECONDS):
    """One flush-sentinel row with EXACTLY the staged chunks' schema
    (a second schema in the directory would make the parquet source's
    reads encoding-dependent — the r3 bug's shape)."""
    import pyarrow as pa

    vals = {
        "event_id": FLUSH_EVENT_ID,
        "user_id": FLUSH_USER_ID,
        "event_type": FLUSH_EVENT_TYPE,
        "value": 0.0,
        "props": "{}",
    }
    arrays = []
    for f in schema:
        if f.name == "ts":
            arrays.append(
                pa.array([ts_seconds * 1_000_000], pa.int64()).cast(f.type)
            )
        else:
            arrays.append(pa.array([vals[f.name]]).cast(f.type))
    return pa.Table.from_arrays(arrays, schema=schema)


# Deterministic staged-file mtimes (epoch seconds): FileStreamSource
# orders files by modification time, so explicit utimes make the
# micro-batch order a written-down contract instead of a copy-speed
# accident. Any fixed base works — only the ordering matters.
_STAGE_MTIME_BASE = 1_600_000_000


def events_stream(
    spark: SparkSession,
    sf_dir: str,
    stage_dir: str | None = None,
    flush: bool = False,
    n_chunks: int = N_STREAM_CHUNKS,
    max_files_per_trigger: int = 1,
    copies: int = 1,
) -> DataFrame:
    """File-source stream over the events parquet (the batch fixture
    replayed as a stream). The fixture is staged as ``n_chunks``
    ts-sorted, ts-normalized (timestamp[us]) parquet files with
    strictly increasing mtimes; with ``maxFilesPerTrigger=1`` each
    chunk is one micro-batch under trigger(availableNow), so the
    watermark genuinely advances across batches and windowed state is
    finalized incrementally — the same lifecycle a Kafka deployment
    of these pipelines would see.

    FileStreamSource requires a *directory* to monitor, hence the
    staging step (read-only fixture untouched; temp dir removed at
    interpreter exit). Normalization happens ONCE here at stage time
    (see _normalized_events_table), so the streaming plan itself is
    encoding-agnostic.

    ``stage_dir``: pass a stable directory when the stream runs
    against a checkpoint — restart recovery requires the SAME source
    path across runs (a fresh temp dir per call would invalidate the
    checkpoint's recorded offsets). Already-staged directories are
    reused verbatim (the ``_staged`` marker), which restart recovery
    also requires.

    ``flush=True`` additionally stages a one-row sentinel file (see
    FLUSH_TS_SECONDS above), schema-identical to the chunks and
    mtime-ordered last, so append-mode aggregations emit every real
    window before the availableNow run terminates. Consumers filter
    the sentinel back out (FLUSH_EVENT_TYPE / FLUSH_USER_ID).

    ``copies=k`` stages every chunk k times (interleaved mtimes:
    chunk 0 copy 0, chunk 0 copy 1, chunk 1 copy 0, ...), replaying
    each event in k different micro-batches — the at-least-once
    delivery a dedup stage exists to absorb (stream_dedup_sink)."""
    import math

    import pyarrow.parquet as pq

    if stage_dir is None:
        stage = scratch_dir("events_stream_")
    else:
        stage = stage_dir
        os.makedirs(stage, exist_ok=True)
    marker = os.path.join(stage, "_staged")  # "_"-prefixed: invisible to Spark
    if os.path.exists(marker):
        # Reuse is only sound when the directory was staged with the
        # SAME parameters: a caller asking for a copies=2 replay over
        # a dir staged with copies=1 would silently get a single
        # replay. The marker records the staging params; mismatch is
        # an error, identical-params reuse (what checkpoint restart
        # recovery needs) still works.
        with open(marker) as fh:
            staged_params = json.loads(fh.read())
        want = {"n_chunks": n_chunks, "copies": copies}
        have = {k: staged_params[k] for k in want}
        if have != want:
            raise ValueError(
                f"stage_dir {stage} was staged with {have}, but this "
                f"call asked for {want}; use a fresh stage_dir (or "
                "matching parameters) — silent reuse would replay a "
                "different stream than requested"
            )
    else:
        t = _normalized_events_table(sf_dir)
        n = max(1, min(n_chunks, t.num_rows))
        step = math.ceil(t.num_rows / n)
        seq = 0
        for i in range(n):
            chunk = t.slice(i * step, step)
            if chunk.num_rows == 0:
                break
            for c in range(copies):
                path = os.path.join(stage, f"chunk_{i:03d}_{c}.parquet")
                pq.write_table(chunk, path)
                os.utime(
                    path, (_STAGE_MTIME_BASE + seq, _STAGE_MTIME_BASE + seq)
                )
                seq += 1
        with open(marker, "w") as fh:
            fh.write(
                json.dumps(
                    {"rows": t.num_rows, "n_chunks": n_chunks, "copies": copies}
                )
            )
    if flush:
        flush_path = os.path.join(stage, "zz_flush.parquet")
        if not os.path.exists(flush_path):
            chunk0 = sorted(
                f for f in os.listdir(stage) if f.startswith("chunk_")
            )[0]
            schema = pq.read_schema(os.path.join(stage, chunk0))
            pq.write_table(_sentinel_table(schema), flush_path)
            os.utime(
                flush_path,
                (_STAGE_MTIME_BASE + 10_000, _STAGE_MTIME_BASE + 10_000),
            )
    return (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .format("parquet")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(stage)
    )


def rate_stream(spark: SparkSession, rows_per_batch: int = 1000) -> DataFrame:
    """Rate source demo (SURVEY §7 step 3 "rate/file sources"):
    rate-micro-batch generates a DETERMINISTIC sequence (value =
    0..rows_per_batch-1 in batch 0), mapped here onto the events
    schema so every downstream pipeline (tumbling_counts, dedup_stream,
    user_running_stats) runs unchanged against a synthetic firehose —
    the standard soak-test harness for a streaming deploy."""
    raw = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rows_per_batch)
        .option("numPartitions", 4)
        .option("startTimestamp", 0)
        .load()
    )
    return raw.select(
        F.col("value").alias("event_id"),
        F.col("timestamp").alias("ts"),
        (F.col("value") % 100).alias("user_id"),
        F.concat(F.lit("type_"), (F.col("value") % 5).cast("string")).alias(
            "event_type"
        ),
        ((F.col("value") % 1000) / F.lit(10.0)).alias("value"),
        F.lit("{}").alias("props"),
    )


def tumbling_counts(events: DataFrame, watermark: str = "1 hour") -> StreamSpec:
    """Streaming twin of timewin.window_tumbling: 1-hour tumbling
    count+sum per event type, late data beyond the watermark dropped.
    State size is bounded by (|windows within watermark| x |types|).

    append mode: each window emits exactly once, when the watermark
    passes its end, and its state is purged — the mode the bounded-
    state docstring claim requires (complete mode would retain every
    window forever AND is rejected by the file sink)."""
    return StreamSpec(
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).cast("long").alias("win_start"),
            "event_type",
            "n_events",
            "sum_value",
        ),
        "append",
    )


def sliding_avg(events: DataFrame, watermark: str = "1 hour") -> StreamSpec:
    """Streaming twin of timewin.window_sliding (append mode — see
    tumbling_counts)."""
    return StreamSpec(
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("avg_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).cast("long").alias("win_start"),
            "n_events",
            "avg_value",
        ),
        "append",
    )


def session_counts(events: DataFrame, gap: str = "30 minutes") -> StreamSpec:
    """Streaming session windows (merging state) per user (append
    mode — sessions emit once closed by the watermark). Output schema
    matches the batch twin timewin.window_session exactly
    (session_start = first event ts; session_seconds = last - first)
    so the parquet sink read-back shares its oracle."""
    return StreamSpec(
        events.withWatermark("ts", "1 hour")
        .groupBy(
            F.session_window("ts", gap).alias("sw"),
            F.col("user_id").cast("long").alias("user_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .select(
            "user_id",
            F.unix_timestamp("first_ts").cast("long").alias("session_start"),
            "n_events",
            (F.unix_timestamp("last_ts") - F.unix_timestamp("first_ts"))
            .cast("long")
            .alias("session_seconds"),
        ),
        "append",
    )


def dedup_stream(events: DataFrame, watermark: str = "1 hour") -> StreamSpec:
    """Stateful dedup on event_id within the watermark horizon —
    the streaming form of timewin.dedup_events. State is purged as
    the watermark advances (bounded memory at any throughput)."""
    return StreamSpec(
        events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
            ["event_id"]
        ),
        "append",
    )


def _as_spec(stream: DataFrame | StreamSpec) -> StreamSpec:
    if isinstance(stream, StreamSpec):
        return stream
    return StreamSpec(stream, "append")


def run_to_memory(
    stream: DataFrame | StreamSpec,
    spark: SparkSession,
    name: str = "mem_out",
    output_mode: str | None = None,
    once: bool = False,
) -> DataFrame:
    """Execute a streaming pipeline to completion with
    trigger(availableNow) into a memory sink; returns the batch
    result table. Test/demo harness — production uses parquet/Kafka
    sinks with checkpointing.

    ``output_mode`` overrides the StreamSpec's declared mode (a bare
    DataFrame defaults to append); ``once=True`` runs exactly one
    micro-batch instead (for unbounded sources like rate_stream)."""
    spec = _as_spec(stream)
    mode = output_mode or spec.mode
    writer = spec.df.writeStream.format("memory").queryName(name).outputMode(mode)
    if once:
        q = writer.trigger(once=True).start()
    else:
        q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    return spark.table(name)


def stream_static_enrich(events: DataFrame, customers: DataFrame) -> StreamSpec:
    """Stream-static join: enrich the event stream with the (batch)
    customer dimension. The static side is broadcast per micro-batch
    — no stream state at all, the cheapest join a stream can do; the
    standard dimension-enrichment stage of any event pipeline."""
    from pyspark.sql import functions as F2

    dim = customers.select(
        F2.col("c_custkey").alias("user_id"), "c_name", "c_mktsegment"
    )
    return StreamSpec(
        events.join(F2.broadcast(dim), "user_id", "left").select(
            "event_id", "user_id", "event_type", "ts", "c_name", "c_mktsegment"
        ),
        "append",
    )


def stream_stream_purchase_attribution(events: DataFrame) -> StreamSpec:
    """Stream-stream interval join with watermarks on BOTH sides:
    attribute each purchase to the same user's clicks in the
    preceding 30 minutes. State is bounded by the watermark + the
    join's time-range condition (Spark evicts click state once no
    future purchase can reach it) — the canonical funnel-attribution
    shape."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    return StreamSpec(
        purchases.join(
            clicks,
            (F.col("p_user") == F.col("c_user"))
            & (F.col("click_ts") <= F.col("purchase_ts"))
            & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 30 MINUTES")),
            "inner",
        ).select("purchase_id", "click_id", F.col("p_user").alias("user_id")),
        "append",
    )


def run_to_parquet(
    stream: DataFrame | StreamSpec,
    path: str,
    checkpoint: str,
    output_mode: str | None = None,
):
    """Checkpointed parquet sink, availableNow: the production write
    path. The checkpoint directory carries source offsets + sink
    commit log, so re-running after a crash (or on a schedule)
    resumes exactly-once — re-invoking on fully-consumed input
    appends nothing.

    The file sink only supports append mode, so a StreamSpec
    declaring anything else is rejected up front (clearer than the
    sink's own start()-time error).

    Returns the terminated StreamingQuery so callers can assert
    execution shape (e.g. lastProgress batchId proves a multi-batch
    replay actually happened)."""
    spec = _as_spec(stream)
    mode = output_mode or spec.mode
    if mode != "append":
        raise ValueError(
            f"run_to_parquet: the file sink only supports append mode, "
            f"got {mode!r} (aggregations must be watermarked so append "
            "emits finalized windows)"
        )
    q = (
        spec.df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def _stream_sink_readback(spark, sf_dir, pipeline, name: str) -> DataFrame:
    """Shared harness for the stream-sink registry entries: replay the
    events fixture (plus the watermark-flush sentinel) through
    ``pipeline`` into a checkpointed parquet sink (run_to_parquet, the
    production write path), then read the sink back as a batch
    DataFrame. Append mode + the flush sentinel means the sink holds
    exactly one finalized row per group, identical to the batch twin
    — so each sink entry shares its twin's DuckDB oracle.

    Fresh temp output/checkpoint per call (cleaned at exit): the
    point here is verifying the stream's RESULT, not incremental
    resume — test_streaming.py covers checkpoint idempotence.

    State partitioning: streaming state tasks are committed per
    micro-batch per partition, so the multi-batch replay pays
    |batches| x |state partitions| store commits. The batch conf's
    32 partitions is overhead-dominated for windowed state (state
    rows ~= |open windows|, tiny); 8 keeps the same semantics at a
    quarter of the commit cost. A real deployment sizes this to
    state VOLUME (it is fixed at first checkpoint), not to the batch
    shuffle width."""
    import os

    workdir = scratch_dir(f"{name}_")
    out = os.path.join(workdir, "out")
    ckpt = os.path.join(workdir, "ckpt")
    stage = os.path.join(workdir, "stage")
    events = events_stream(spark, sf_dir, stage_dir=stage, flush=True)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        run_to_parquet(pipeline(events), out, ckpt)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.read.parquet(out)


def stream_tumbling_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: the STREAM path itself, oracle-checked — shares
    the window_tumbling oracle (sentinel rows filtered out by their
    event_type)."""
    return (
        _stream_sink_readback(spark, sf_dir, tumbling_counts, "stream_tumbling_sink")
        .filter(F.col("event_type") != FLUSH_EVENT_TYPE)
        .select("win_start", "event_type", "n_events", "sum_value")
    )


def stream_sliding_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: sliding-window stream through the parquet sink,
    sharing the window_sliding oracle. The sentinel has no grouping
    key here, so its own far-future windows are filtered by bound
    (anything within a day of the year-2100 flush timestamp is
    sentinel-only — real fixture events are decades earlier)."""
    return (
        _stream_sink_readback(spark, sf_dir, sliding_avg, "stream_sliding_sink")
        .filter(F.col("win_start") < FLUSH_TS_SECONDS - 86400)
        .select("win_start", "n_events", "avg_value")
    )


def stream_session_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: session-window stream through the parquet sink,
    sharing the window_session oracle (sentinel rows carry
    FLUSH_USER_ID)."""
    return (
        _stream_sink_readback(spark, sf_dir, session_counts, "stream_session_sink")
        .filter(F.col("user_id") != FLUSH_USER_ID)
        .select("user_id", "session_start", "n_events", "session_seconds")
    )


def stream_dedup_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: stateful streaming dedup through the parquet
    sink, oracle-checked against the plain events table. The replay
    is staged with ``copies=2`` — every chunk arrives in TWO
    different micro-batches (at-least-once delivery, the condition a
    dedup stage exists to absorb) — and dropDuplicatesWithinWatermark
    must emit each event exactly once: a duplicate still inside the
    watermark horizon is deduped against state, one already behind
    the watermark is late-filtered, and either way the sink holds one
    row per event_id. No flush sentinel needed: dedup is stateful
    but non-aggregating, so append emits rows immediately."""
    workdir = scratch_dir("stream_dedup_sink_")
    events = events_stream(
        spark, sf_dir, stage_dir=os.path.join(workdir, "stage"), copies=2
    )
    run_to_parquet(
        dedup_stream(events),
        os.path.join(workdir, "out"),
        os.path.join(workdir, "ckpt"),
    )
    return spark.read.parquet(os.path.join(workdir, "out")).select(
        F.col("event_id").cast("long").alias("event_id"),
        F.unix_micros("ts").alias("us"),
        F.col("user_id").cast("long").alias("user_id"),
        "event_type",
        "value",
    )


# --- custom stateful operator: per-user running counters ---------------


def user_running_stats(
    events: DataFrame,
    watermark: str = "1 hour",
    state_ttl_ms: int = 24 * 3600 * 1000,
) -> StreamSpec:
    """Custom stateful streaming operator via applyInPandasWithState:
    per-user cumulative event count and value sum, emitted on every
    update — the stateful-operator escape hatch for semantics the
    built-in windows can't express (reference analog: the generic
    Reduce contract, mpWorker/worker.go:22).

    State: one (count, sum) pair per user_id, bounded by
    EventTimeTimeout — a user idle for ``state_ttl_ms`` past the
    watermark has its state evicted, so total state is
    O(active users), not O(all users ever seen). Without this a
    100 TB/day stream grows state without bound."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("sum_value", DoubleType()),
        ]
    )
    state_schema = StructType(
        [StructField("cnt", LongType()), StructField("total", DoubleType())]
    )

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        cnt, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            cnt += len(pdf)
            total += float(pdf["value"].sum())
        state.update((cnt, total))
        state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + state_ttl_ms)
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [cnt], "sum_value": [total]}
        )

    return StreamSpec(
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        ),
        "update",
    )


def user_totals_exact(
    events: DataFrame,
    watermark: str = "1 hour",
    state_ttl_ms: int | None = None,
) -> StreamSpec:
    """user_running_stats' oracle-checkable sibling: per-user event
    count and value total accumulated in EXACT integer micro-units
    (floor(value * 1e6) per event) inside applyInPandasWithState.
    Float accumulation order across micro-batches is unobservable
    with integer state, so the FINAL state per user is engine- and
    schedule-independent — which is what lets a custom stateful
    operator be hash-compared against a one-shot SQL aggregate
    (stream_stateful_totals).

    ``state_ttl_ms`` defaults to None = GroupStateTimeout.NoTimeout:
    the oracle compares FINAL totals against a one-shot aggregate
    over ALL events, so evicting an idle user mid-replay would
    silently restart their count at 0 and corrupt the comparison —
    it only held before because every fixture user happened to
    appear in every event-time chunk. State eviction is a
    production-sizing concern, not an exactness one; pass a TTL (ms
    past the watermark) to get user_running_stats' bounded-state
    behavior when totals-since-eviction is the intended semantic."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("sum_micros", LongType()),
        ]
    )
    state_schema = StructType(
        [StructField("cnt", LongType()), StructField("micros", LongType())]
    )

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        cnt, micros = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            cnt += len(pdf)
            micros += int(
                np.floor(pdf["value"].to_numpy() * 1_000_000).astype("int64").sum()
            )
        state.update((cnt, micros))
        if state_ttl_ms is not None:
            state.setTimeoutTimestamp(
                state.getCurrentWatermarkMs() + state_ttl_ms
            )
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [cnt], "sum_micros": [micros]}
        )

    return StreamSpec(
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=(
                GroupStateTimeout.NoTimeout
                if state_ttl_ms is None
                else GroupStateTimeout.EventTimeTimeout
            ),
        ),
        "update",
    )


def stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: the custom stateful operator
    (applyInPandasWithState) oracle-checked. Update mode emits one
    row per (user, batch); the FINAL state is the row with that
    user's max n_events (cumulative counts are strictly increasing),
    extracted with max_by — so the result is the per-user total,
    comparable against DuckDB's one-shot GROUP BY."""
    import uuid

    out = run_to_memory(
        user_totals_exact(events_stream(spark, sf_dir)),
        spark,
        name=f"stateful_totals_{uuid.uuid4().hex[:8]}",
    )
    return out.groupBy(F.col("user_id").cast("long").alias("user_id")).agg(
        F.max("n_events").cast("long").alias("n_events"),
        F.max_by("sum_micros", "n_events").cast("long").alias("sum_micros"),
    )


def stream_enrich_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: the stream-static broadcast join through the
    checkpointed parquet sink, oracle-checked against the batch LEFT
    JOIN. Append mode with no aggregation — rows flow straight
    through; the dimension is re-broadcast per micro-batch (8 of
    them here), exactly as a production enrichment stage would."""
    from mapreducego_spark.sources.catalog import load_table as _lt

    workdir = scratch_dir("stream_enrich_sink_")
    events = events_stream(spark, sf_dir, stage_dir=os.path.join(workdir, "stage"))
    run_to_parquet(
        stream_static_enrich(events, _lt(spark, sf_dir, "customer")),
        os.path.join(workdir, "out"),
        os.path.join(workdir, "ckpt"),
    )
    return spark.read.parquet(os.path.join(workdir, "out")).select(
        F.col("event_id").cast("long").alias("event_id"),
        F.unix_micros("ts").alias("us"),
        F.col("user_id").cast("long").alias("user_id"),
        "event_type",
        "c_name",
        "c_mktsegment",
    )


def stream_join_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: the stream-stream interval join through the
    checkpointed parquet sink, oracle-checked against the one-shot
    SQL time-range self-join. Inner stream-stream joins emit on
    match (no sentinel needed); the ts-sorted multi-batch replay
    means click state is always still within the watermark horizon
    when its purchases arrive."""
    workdir = scratch_dir("stream_join_sink_")
    events = events_stream(spark, sf_dir, stage_dir=os.path.join(workdir, "stage"))
    run_to_parquet(
        stream_stream_purchase_attribution(events),
        os.path.join(workdir, "out"),
        os.path.join(workdir, "ckpt"),
    )
    return spark.read.parquet(os.path.join(workdir, "out")).select(
        F.col("purchase_id").cast("long").alias("purchase_id"),
        F.col("click_id").cast("long").alias("click_id"),
        F.col("user_id").cast("long").alias("user_id"),
    )


# --- streaming continuous aggregate (hypertable rollup, stream side) ----


def stream_rollup_maintenance(
    events: DataFrame, path: str, checkpoint: str
) -> None:
    """Streaming side of operators/rollup.py's continuous aggregate:
    every micro-batch is folded into the stored day-partitioned
    hourly rollup via foreachBatch -> update_rollup (algebraic merge,
    dynamic partition overwrite — only the touched day partitions
    rewrite per batch).

    foreachBatch is the right sink here because the write is a
    read-modify-write against an existing table, which no built-in
    sink expresses; the checkpoint gives at-least-once batch
    delivery with batch_id replay detection left to the fold —
    production would record the last applied batch_id inside the
    table's metadata for exactly-once (documented, not implemented:
    plain parquet has no atomic metadata slot; a table format's
    commit log is where that belongs)."""
    import os

    from mapreducego_spark.operators.rollup import build_rollup, update_rollup

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if not os.path.exists(path):
            build_rollup(batch_df, path)
        else:
            update_rollup(spark, batch_df, path)

    q = (
        events.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


# --- streaming keyed upsert (foreachBatch MERGE) -----------------------


def _latest_per_user(df: DataFrame) -> DataFrame:
    """One row per user: the event with the greatest (ts, event_id).
    max over a struct compares fields left-to-right, so the unique
    event_id breaks ts ties deterministically and the later fields
    ride along as the winner's payload."""
    return (
        df.groupBy("user_id")
        .agg(F.max(F.struct("ts", "event_id", "event_type", "value")).alias("s"))
        .select("user_id", "s.ts", "s.event_id", "s.event_type", "s.value")
    )


def _current_version_path(table_dir: str) -> str | None:
    v = current_version(table_dir)
    return None if v is None else os.path.join(table_dir, f"v{v}")


def stream_upsert_maintenance(
    events: DataFrame, table_dir: str, checkpoint: str
) -> None:
    """Streaming MERGE: maintain a per-user latest-event table from
    the event stream via foreachBatch — the lakehouse CDC-apply
    pattern (stream in, MERGE INTO out) built on plain parquet.

    The merge rule is last-write-wins by (ts, event_id) — a pure MAX,
    so it is IDEMPOTENT and ORDER-INSENSITIVE: an at-least-once
    replay (the same chunk delivered in two micro-batches) or a
    delayed redelivery merges to the same table, which is what makes
    foreachBatch's at-least-once contract safe here. (A blind
    replace-by-key would regress rows on out-of-order redelivery;
    counters would double-count.)

    Crash-safety is the versioned-directory + _CURRENT pointer
    mini-commit-log (what a table format's transaction log does):
    each batch writes v{batch_id} beside the live version, then
    atomically repoints _CURRENT (snapshots._repoint, an os.replace;
    the table has no _LOG, so snapshots.current_version reads the
    pointer alone). A crash mid-write leaves _CURRENT on the old
    version; the checkpoint replays the batch, which rewrites
    v{batch_id} and repoints. Readers never see a partial table.
    Only the last two versions are retained.

    At 100 TB the per-batch rewrite is the knob: bucket the table by
    hash(user_id) and rewrite only buckets the batch touches
    (dynamic partition overwrite, as stream_rollup_maintenance does
    for day partitions); the merge rule and commit protocol are
    unchanged."""
    import shutil

    os.makedirs(table_dir, exist_ok=True)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        latest = _latest_per_user(batch_df)
        cur = _current_version_path(table_dir)
        if cur is not None:
            latest = _latest_per_user(
                spark.read.parquet(cur).unionByName(latest)
            )
        vname = f"v{batch_id}"
        latest.write.mode("overwrite").parquet(os.path.join(table_dir, vname))
        _repoint(table_dir, batch_id)
        keep = {vname, os.path.basename(cur) if cur else vname}
        for d in os.listdir(table_dir):
            if d.startswith("v") and d not in keep:
                shutil.rmtree(os.path.join(table_dir, d), ignore_errors=True)

    q = (
        events.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_upsert_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: the streaming MERGE, oracle-checked. The
    events fixture replays at-least-once (copies=2, every chunk in
    two micro-batches); the maintained table must still equal the
    batch answer — one row per user carrying the (ts, event_id)-max
    event — proving the LWW merge absorbs redelivery."""
    workdir = scratch_dir("stream_upsert_sink_")
    events = events_stream(
        spark, sf_dir, stage_dir=os.path.join(workdir, "stage"), copies=2
    )
    table = os.path.join(workdir, "table")
    stream_upsert_maintenance(events, table, os.path.join(workdir, "ckpt"))
    cur = _current_version_path(table)
    return spark.read.parquet(cur).select(
        F.col("user_id").cast("long").alias("user_id"),
        F.unix_micros("ts").alias("us"),
        F.col("event_id").cast("long").alias("event_id"),
        "event_type",
        "value",
    )


def stream_stream_attribution_outer(events: DataFrame) -> StreamSpec:
    """Stream-stream LEFT OUTER interval join: every purchase emits —
    joined to each preceding-30-min click when one exists, with NULL
    click columns otherwise. The outer side is the genuinely
    different streaming capability vs the inner join: an unmatched
    purchase can only be DECLARED unmatched once the watermark
    proves no in-window click can still arrive, so null rows emit on
    watermark passage, from state, not on data arrival.

    Watermark subtlety this encodes: the flush sentinel must reach
    the EventTimeWatermark operator on BOTH join branches, or the
    final watermark never passes the last real purchases and their
    null rows stay in state forever. Filtering to the role's
    event_type alone does NOT guarantee that — the optimizer pushes
    non-event-time predicates BELOW the watermark node, silently
    dropping the sentinel before its timestamp is observed (the
    watermark then sticks an hour behind the last REAL event, which
    is exactly what the first cut of this operator did). So each
    role filter explicitly admits the sentinel; it can only ever
    join its own user (-1) and the readback drops those rows."""
    wm = events.withWatermark("ts", "1 hour")
    clicks = wm.filter(
        F.col("event_type").isin("click", FLUSH_EVENT_TYPE)
    ).select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = wm.filter(
        F.col("event_type").isin("purchase", FLUSH_EVENT_TYPE)
    ).select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr("INTERVAL 30 MINUTES")
        ),
        "left_outer",
    ).select("purchase_id", "click_id", F.col("p_user").alias("user_id"))
    return StreamSpec(joined, "append")


def _stage_watermark_heartbeat(stage_dir: str) -> None:
    """Stage one more sentinel (ts = flush + 1h, latest mtime) into an
    already-staged directory. Why a SECOND sentinel: a batch's data
    advances the watermark only for SUBSEQUENT batches, and
    stream-stream outer-join state flushes on watermark passage
    during a batch — so the null-side rows guarded by the first
    sentinel's watermark need one more batch to run under it.
    availableNow stops at end-of-data without such a batch (unlike
    aggregations, join eviction gets no closing no-data batch), which
    is exactly the heartbeat-event workaround streaming deployments
    use on quiet sources."""
    import pyarrow.parquet as pq

    chunk0 = sorted(
        f for f in os.listdir(stage_dir) if f.startswith("chunk_")
    )[0]
    schema = pq.read_schema(os.path.join(stage_dir, chunk0))
    path = os.path.join(stage_dir, "zz_flush2.parquet")
    if not os.path.exists(path):
        pq.write_table(
            _sentinel_table(schema, ts_seconds=FLUSH_TS_SECONDS + 3600), path
        )
        os.utime(
            path, (_STAGE_MTIME_BASE + 10_001, _STAGE_MTIME_BASE + 10_001)
        )


def stream_left_join_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: the LEFT OUTER stream-stream join through the
    checkpointed sink, oracle-checked against the batch left join —
    unmatched purchases must surface exactly once with NULL click_id
    (proving watermark-driven null emission works under the
    multi-batch availableNow replay). Runs availableNow twice: the
    second run consumes the heartbeat sentinel so the final
    watermark actually evicts (and emits) the last unmatched
    purchases — see _stage_watermark_heartbeat."""
    workdir = scratch_dir("stream_left_join_sink_")
    stage = os.path.join(workdir, "stage")
    out = os.path.join(workdir, "out")
    ckpt = os.path.join(workdir, "ckpt")
    events = events_stream(spark, sf_dir, stage_dir=stage, flush=True)
    run_to_parquet(stream_stream_attribution_outer(events), out, ckpt)
    _stage_watermark_heartbeat(stage)
    events2 = events_stream(spark, sf_dir, stage_dir=stage, flush=True)
    run_to_parquet(stream_stream_attribution_outer(events2), out, ckpt)
    return (
        spark.read.parquet(out)
        .filter(F.col("user_id") >= 0)  # drop sentinel self-joins
        .select(
            F.col("purchase_id").cast("long").alias("purchase_id"),
            F.col("click_id").cast("long").alias("click_id"),
            F.col("user_id").cast("long").alias("user_id"),
        )
    )


# --- custom stateful operator #3: ordered-funnel state machine ---------


def user_funnel_stream(events: DataFrame) -> StreamSpec:
    """Per-user ordered-funnel STATE MACHINE in streaming: track the
    earliest view, the earliest click strictly after it, and the
    earliest purchase strictly after that — the incremental form of
    operators/timewin.funnel_conversion, whose one-shot min-chain
    the greedy rule reproduces exactly WHEN events are processed in
    event-time order: the first view seen sets t_view, the first
    click with ts > t_view is by construction the minimum such
    click, and likewise the purchase. Order is guaranteed here by
    (a) the staged replay's ts-sorted chunks across batches and
    (b) an explicit (ts, event_id) sort within each batch; all
    comparisons are strict, so equal-timestamp permutations cannot
    change the outcome.

    State is three nullable epoch-micro longs — O(1) per user
    forever, the selling point of the state-machine form over
    re-running the batch funnel: at 100 TB of history the batch
    form re-scans everything nightly, this touches each event
    once."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("t_view", LongType()),
            StructField("t_click", LongType()),
            StructField("t_purchase", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("t_view", LongType()),
            StructField("t_click", LongType()),
            StructField("t_purchase", LongType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        tv, tc, tp = state.get if state.exists else (None, None, None)
        for pdf in pdfs:
            pdf = pdf.sort_values(["us", "event_id"])
            for us, etype in zip(pdf["us"], pdf["event_type"]):
                us = int(us)
                if etype == "view":
                    if tv is None:
                        tv = us
                elif etype == "click":
                    if tv is not None and us > tv and tc is None:
                        tc = us
                elif etype == "purchase":
                    if tc is not None and us > tc and tp is None:
                        tp = us
        state.update((tv, tc, tp))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "t_view": [tv],
                "t_click": [tc],
                "t_purchase": [tp],
            }
        )

    prepped = events.filter(F.col("user_id") != FLUSH_USER_ID).select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.col("event_id").cast("long").alias("event_id"),
        "event_type",
    )
    return StreamSpec(
        prepped.groupBy("user_id").applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        ),
        "update",
    )


def stream_funnel_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: the streaming funnel state machine reduced to
    per-stage user counts — SHARES funnel_conversion's oracle, so
    the hash match proves the incremental state machine computes
    exactly the one-shot min-chain. Final per-user state = the row
    from the last emitting batch (stage times only ever move from
    NULL to a value, so max_by on the filled-stage count is the
    final state)."""
    import uuid

    out = run_to_memory(
        user_funnel_stream(events_stream(spark, sf_dir)),
        spark,
        name=f"funnel_state_{uuid.uuid4().hex[:8]}",
    )
    filled = (
        F.when(F.col("t_view").isNotNull(), 1).otherwise(0)
        + F.when(F.col("t_click").isNotNull(), 1).otherwise(0)
        + F.when(F.col("t_purchase").isNotNull(), 1).otherwise(0)
    )
    final = (
        out.withColumn("__filled", filled)
        .groupBy("user_id")
        .agg(
            F.max_by("t_view", "__filled").alias("t_view"),
            F.max_by("t_click", "__filled").alias("t_click"),
            F.max_by("t_purchase", "__filled").alias("t_purchase"),
        )
    )

    def stage(col: str, name: str) -> DataFrame:
        return (
            final.filter(F.col(col).isNotNull())
            .agg(F.count(F.lit(1)).alias("users"))
            .select(F.lit(name).alias("stage"), "users")
        )

    return (
        stage("t_view", "1_view")
        .unionAll(stage("t_click", "2_click"))
        .unionAll(stage("t_purchase", "3_purchase"))
    )
