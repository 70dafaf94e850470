"""Regression probe for sort_once's double-execution fix (r17
Change 1; r17 ADVICE): the eager=False localCheckpoint relies on an
undocumented Spark internal — RangePartitioner's sampling job
materializing the lazily-checkpointed partitions as a side effect.
If a future Spark version samples differently, the expensive map
work under a global orderBy would silently execute twice again.
This test counts actual Python-function task invocations through an
accumulator so that upgrade surfaces as a loud assertion instead of
a quiet perf regression.
"""

from __future__ import annotations

import pandas as pd


def _counted_source(spark, acc, n_parts: int = 4, rows_per: int = 50):
    """A DataFrame whose mapInPandas body bumps ``acc`` once per task
    invocation — the probe for how many times the 'decode' ran."""
    base = spark.range(n_parts * rows_per, numPartitions=n_parts).toDF("id")

    def fn(batches):
        acc.add(1)
        for b in batches:
            yield pd.DataFrame({"id": b["id"], "v": b["id"] * 2})

    return base.mapInPandas(fn, "id long, v long")


def test_plain_orderby_double_executes(spark):
    """Control: a global orderBy above a shuffle-free Python map DOES
    run the map more than once per partition (sampling pass + real
    pass; the sampler may skip a partition). If this ever
    starts failing, Spark fixed the double execution upstream and
    sort_once's checkpoint is pure overhead — re-measure it."""
    acc = spark.sparkContext.accumulator(0)
    df = _counted_source(spark, acc)
    df.orderBy("id").write.format("noop").mode("overwrite").save()
    assert acc.value > 4, f"expected more than 1x4 invocations, saw {acc.value}"


def test_sort_once_single_execution(spark):
    """sort_once must run the map exactly once per partition: the
    range sampler materializes the lazy localCheckpoint, the real
    pass reads persisted rows."""
    from mapreducego_spark.operators.util import sort_once

    acc = spark.sparkContext.accumulator(0)
    df = _counted_source(spark, acc)
    sort_once(df, "id").write.format("noop").mode("overwrite").save()
    assert acc.value == 4, f"expected 1x4 invocations, saw {acc.value}"


def test_sort_once_persist_mode_single_execution(spark, monkeypatch):
    """The cluster-deploy mode (SPARK_GRAFT_SORT_ONCE=persist) keeps
    lineage (replayable on executor loss) while still executing the
    map once per partition."""
    from mapreducego_spark.operators.util import sort_once

    monkeypatch.setenv("SPARK_GRAFT_SORT_ONCE", "persist")
    acc = spark.sparkContext.accumulator(0)
    df = _counted_source(spark, acc)
    out = sort_once(df, "id")
    out.write.format("noop").mode("overwrite").save()
    assert acc.value == 4, f"expected 1x4 invocations, saw {acc.value}"


def test_sort_once_output_matches_orderby(spark):
    """Same rows, same order, regardless of mode."""
    from mapreducego_spark.operators.util import sort_once

    acc = spark.sparkContext.accumulator(0)
    df = _counted_source(spark, acc)
    expect = [(i, 2 * i) for i in range(200)]
    got = [tuple(r) for r in sort_once(df, "id").collect()]
    assert got == expect
