"""Distributed two-phase global rank — the scale-safe replacement for
``row_number() OVER (ORDER BY ...)`` with no PARTITION BY, which Spark
plans as a SINGLE partition (one task sorts the world; the WindowExec
"No Partition Defined" warning is the tell, and at 100 TB the stage
simply dies).

The construction is a count+offset scheme:

  1. ``repartitionByRange`` on the order key (one shuffle; Spark's
     range partitioner samples the key distribution, so every
     partition holds a contiguous, roughly equal-sized key range);
  2. per-partition row counts to the driver — |partitions| longs, a
     bounded scalar collect — cumulated into per-partition start
     offsets;
  3. one ``mapInPandas`` pass over the already-sorted partitions adds
     ``offset + local 1-based position``; no second shuffle, integer
     arithmetic only.

With a ``weight`` column the same three steps compute a global
prefix sum instead: per-partition weight totals become the offsets,
and each row gets the inclusive running sum of the weights
(``functions.text.pack_shards`` fills token-budget shards this way).

The result is deterministic iff ``order_cols`` is a total order
(callers append a unique id as tie-break, same contract as the
window form).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType


def two_phase_global_rank(
    df: DataFrame,
    order_cols: list[str],
    rank_col: str = "rn",
    weight: str | None = None,
) -> DataFrame:
    """Append a global 1-based dense row number ``rank_col`` ordered
    by ``order_cols`` (must be a total order for determinism),
    computed distributed — never a single-partition window. With
    ``weight``, ``rank_col`` is instead the inclusive running sum of
    that integer column in the same order."""
    for reserved in (rank_col, "__pid"):
        if reserved in df.columns:
            raise ValueError(
                f"two_phase_global_rank: input already has a column "
                f"named {reserved!r} — rename it or pass a different "
                f"rank_col (withColumn would silently overwrite it)"
            )
    part = (
        df.repartitionByRange(*order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("__pid", F.spark_partition_id())
        .persist()
    )
    try:
        size = F.count(F.lit(1)) if weight is None else F.sum(weight)
        totals = {
            r["__pid"]: int(r["c"] or 0)
            for r in part.groupBy("__pid").agg(size.alias("c")).collect()
        }
        offsets: dict[int, int] = {}
        run = 0
        for pid in sorted(totals):
            offsets[pid] = run
            run += totals[pid]

        out_cols = df.columns

        def assign(batches):
            # mapInPandas slices one partition into several Arrow
            # batches, in order — carry the running total across them
            state = {"cum": None}
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                if state["cum"] is None:
                    state["cum"] = offsets.get(int(pdf["__pid"].iloc[0]), 0)
                out = pdf[out_cols].copy()
                if weight is None:
                    out[rank_col] = range(
                        state["cum"] + 1, state["cum"] + 1 + len(pdf)
                    )
                    state["cum"] += len(pdf)
                else:
                    out[rank_col] = state["cum"] + pdf[weight].cumsum()
                    state["cum"] += int(pdf[weight].sum())
                yield out

        schema = part.drop("__pid").schema.add(rank_col, LongType())
        return part.mapInPandas(assign, schema).localCheckpoint(eager=True)
    finally:
        part.unpersist()
