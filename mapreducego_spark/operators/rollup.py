"""Hypertable-style continuous aggregate: an hourly rollup table
over ``events``, maintained incrementally.

The pattern (TimescaleDB continuous aggregates / Druid rollup /
streaming "materialized view"): keep a PHYSICAL aggregate table
partitioned by day, and when late or new events arrive, recompute
only the day partitions they touch — never the whole history.

Two scale mechanisms carry the weight:

1. **Algebraic merge.** count and sum are algebraic aggregates: the
   stored rollup rows for a bucket and a freshly-aggregated delta
   for the same bucket merge by summing — the raw events of the
   affected day are never re-scanned. sum_value stays DECIMAL(18,6)
   in the stored table so the merge is exact (double addition would
   make merge order observable); readers cast at the edge.

2. **Dynamic partition overwrite.** The merged result is written
   with ``partitionOverwriteMode=dynamic``: only the day partitions
   present in the update are rewritten; every other partition's
   files are untouched (tested by file-listing equality). At 100 TB
   an update that touches 2 days rewrites 2 partitions, not 3 000.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreducego_spark.operators.util import scratch_dir

ROLLUP_SCHEMA_COLS = ("day", "win_start", "event_type", "n_events", "sum_value")


def _hourly_agg(events: DataFrame) -> DataFrame:
    """Events -> one row per (hour window, type), day partition col.
    The stored form keeps sum_value as exact decimal (see module
    docstring); n_events is long."""
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("day"),
            F.unix_timestamp(F.col("w.start")).cast("long").alias("win_start"),
            "event_type",
            "n_events",
            F.col("sum_value").cast("decimal(18,6)").alias("sum_value"),
        )
    )


def build_rollup(events: DataFrame, path: str) -> None:
    """Full backfill: write the complete hourly rollup, partitioned
    by day (partition pruning for readers + the unit of incremental
    rewrite)."""
    _hourly_agg(events).write.mode("overwrite").partitionBy("day").parquet(path)


def update_rollup(spark: SparkSession, new_events: DataFrame, path: str) -> None:
    """Incremental maintenance: fold ``new_events`` into the stored
    rollup, rewriting ONLY the day partitions they touch.

    delta = aggregate(new events)            (shuffle of the delta only)
    existing = stored rollup, affected days  (partition-pruned read)
    merged = re-aggregate(existing U delta)  (algebraic: sums of sums)
    write merged, dynamic partition overwrite
    """
    delta = _hourly_agg(new_events)
    # Affected-day pruning: the filter is a broadcast semi-join on
    # the tiny distinct-day set, so the stored-rollup scan prunes to
    # the touched partitions.
    days = delta.select("day").distinct()
    existing = (
        spark.read.parquet(path)
        .join(F.broadcast(days), "day", "left_semi")
        .select(*ROLLUP_SCHEMA_COLS)
    )
    merged = (
        existing.unionByName(delta.select(*ROLLUP_SCHEMA_COLS))
        .groupBy("day", "win_start", "event_type")
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.sum("sum_value").cast("decimal(18,6)").alias("sum_value"),
        )
        .select(*ROLLUP_SCHEMA_COLS)
    )
    # Materialize BEFORE overwriting: the merge reads the same path
    # it is about to rewrite — Spark (correctly) refuses to overwrite
    # a file source still present in the plan, so the merged rows are
    # pinned via eager localCheckpoint first. The checkpointed set is
    # only the affected days' rollup rows (tiny), not raw events.
    merged = merged.localCheckpoint(eager=True)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        merged.write.mode("overwrite").partitionBy("day").parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def read_rollup(spark: SparkSession, path: str) -> DataFrame:
    """Reader view: double at the edge, exact decimal in storage."""
    return spark.read.parquet(path).select(
        "day",
        "win_start",
        "event_type",
        "n_events",
        F.col("sum_value").cast("double").alias("sum_value"),
    )


def rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: the continuous aggregate exercised end-to-end
    on real data — cold build on the older half of events, then an
    incremental update_rollup fold of the newer half (the two-phase
    lifecycle every materialized rollup lives through), read back
    from storage. The DuckDB oracle aggregates ALL events in one
    shot, so the hash match proves the algebraic merge + dynamic
    partition overwrite reproduce the full rebuild exactly — the
    invariant that lets a 100 TB deployment maintain the rollup
    without ever re-scanning history."""
    from mapreducego_spark.sources.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    cut = lo + (hi - lo) / 2
    path = scratch_dir("rollup_inc_") + "/rollup"
    build_rollup(ev.filter(F.col("ts") <= F.lit(cut)), path)
    update_rollup(spark, ev.filter(F.col("ts") > F.lit(cut)), path)
    return read_rollup(spark, path).orderBy("win_start", "event_type")


def sketch_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct users from a PRE-AGGREGATED HLL sketch
    table — the at-scale answer to active_users_rolling's exact
    construction. The exact form fans the (user, day) table out 7x
    and re-distincts; this one stores ONE fixed-size DataSketches
    HLL per day (hll_sketch_agg — raw events are touched once,
    ever), then answers ANY date range by merging sketches
    (hll_union_agg): a year of dashboards re-reads 365 KB-sized
    sketches instead of re-scanning events. Union of HLL registers
    is max-per-register — commutative and associative — so the
    merged estimate is schedule-deterministic.

    Approximate by construction (the estimate's rsd is ~1.6% at the
    default lgK=12) -> rows-only in the driver; the pytest floors it
    against the exact operator and pins the mergeability law."""
    from mapreducego_spark.sources.catalog import load_table

    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("long").alias("user_id"),
        F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("day"),
    )
    sketches = ev.groupBy("day").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    max_day = ev.agg(F.max("day").alias("mx"))
    contrib = (
        sketches.select(
            "sk",
            F.explode(F.sequence(F.col("day"), F.col("day") + 6)).alias("day"),
        )
        .crossJoin(F.broadcast(max_day))
        .filter(F.col("day") <= F.col("mx"))
    )
    return (
        contrib.groupBy("day")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("wau7_est"))
        .select(
            F.col("day").cast("long").alias("day"),
            F.col("wau7_est").cast("long").alias("wau7_est"),
        )
        .orderBy("day")
    )


def ivm_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for a JOIN view (insert-only
    delta-join rule): with V = O |><| C, arriving deltas dO and dC
    maintain V without rescanning the join of the full tables —
    V' = V + dO|><|C + O|><|dC + dO|><|dC (Blakeley et al. 1986;
    the join-view sibling of rollup_incremental's aggregate IVM).

    The registry entry splits orders/customer into base + held-out
    deltas (o_orderkey % 10 == 7, c_custkey % 9 == 4), applies the
    three delta joins, and returns the maintained view; the oracle
    simply joins the FULL tables — hash equality proves
    incremental == rebuild, the IVM contract.

    Scale shape: each delta join is |delta| x matching rows — the
    deltas broadcast when small (a micro-batch), the big tables are
    scanned once each and never joined to each other again. At
    100 TB the base view V is a stored table; here it is the base
    join, which the oracle-equality argument doesn't depend on."""
    from mapreducego_spark.sources.catalog import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        F.col("o_custkey").cast("long").alias("o_custkey"),
        "o_totalprice",
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("c_custkey"),
        "c_mktsegment",
    )
    base_o = orders.filter(F.col("o_orderkey") % 10 != 7)
    d_o = orders.filter(F.col("o_orderkey") % 10 == 7)
    base_c = cust.filter(F.col("c_custkey") % 9 != 4)
    d_c = cust.filter(F.col("c_custkey") % 9 == 4)

    on = orders["o_custkey"]  # noqa: F841 (documentation of the key)
    j = lambda o, c: o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        "o_orderkey", "o_custkey", "o_totalprice", "c_mktsegment"
    )
    v0 = j(base_o, base_c)
    maintained = (
        v0.unionByName(j(d_o, base_c))
        .unionByName(j(base_o, d_c))
        .unionByName(j(d_o, d_c))
    )
    return maintained.orderBy("o_orderkey")
