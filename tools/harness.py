"""The one harness under bench.py and the Spark tools: session start,
the timed noop-sink run, call-site capture of a patched method, and
the artifact writer.

pyspark and the engine are imported inside the functions, so importing
this module (bench.py and tools/verify_local.py do, and perfbench
imports the latter) loads neither.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def start(app: str, static_plans: bool = False):
    """The engine's session (``get_spark``) with logging at ERROR.

    ``static_plans`` turns AQE off for the session. With AQE on, a plan
    taken before execution is an AdaptiveSparkPlan(isFinalPlan=false)
    wrapper with no codegen nodes, so the plan tools read the static
    plan instead. Red-flag detection is unaffected, structured
    streaming plans its micro-batches outside AQE anyway, and every
    other session keeps AQE on."""
    from mapreducego_spark.session import get_spark

    spark = get_spark(app)
    spark.sparkContext.setLogLevel("ERROR")
    if static_plans:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
    return spark


def warm_up(spark, sf_dir: str) -> None:
    """JVM, codegen and parquet footer caches, so the first timed query
    does not pay session start: one tiny query plus a footer read of
    each fixture table (counts read metadata only)."""
    from mapreducego_spark.registry import QUERIES
    from mapreducego_spark.sources.catalog import TABLES, load_table

    QUERIES["topk"](spark, sf_dir).collect()
    for t in TABLES:
        load_table(spark, sf_dir, t).count()


def timed_runs(spark, app: str, name: str, sf_dir: str, reps: int) -> list[float]:
    """Wall seconds of ``reps`` builds of registry query ``name``, each
    written to the noop sink: the full plan runs, with no count()
    short-circuit and no driver collect. Every job a rep issues, query
    build included, runs under the job group ``<app>:<name>:<rep>``."""
    from mapreducego_spark.registry import QUERIES

    sc = spark.sparkContext
    walls = []
    try:
        for rep in range(reps):
            group = f"{app}:{name}:{rep}"
            sc.setJobGroup(group, group)
            t0 = time.perf_counter()
            QUERIES[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            walls.append(time.perf_counter() - t0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return walls


def job_counts(spark, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) that ran under job group ``group``, read
    from the status tracker. A stage counts once, and only if it ran
    tasks: a stage skipped because its shuffle output was reused does
    not."""
    st = spark.sparkContext.statusTracker()
    stages = set()
    jobs = st.getJobIdsForGroup(group)
    for job in jobs:
        info = st.getJobInfo(job)
        stages.update(info.stageIds if info is not None else ())
    ran = [st.getStageInfo(s) for s in stages]
    ran = [s for s in ran if s is not None and s.numCompletedTasks > 0]
    return len(jobs), len(ran), sum(s.numCompletedTasks for s in ran)


def plan_text(df) -> str:
    """The executed physical plan of ``df`` as Spark prints it."""
    return df._jdf.queryExecution().executedPlan().toString()


@contextlib.contextmanager
def capture_calls(cls, method: str, before):
    """Patch ``cls.method`` for the with-block. Each call appends
    ``(caller "file:line", before(self), result)`` to the yielded list;
    ``before`` runs ahead of the call, and if it raises, its error text
    is recorded instead. The original method is restored on exit."""
    orig = getattr(cls, method)
    calls: list[tuple[str, object, object]] = []

    def capturing(self, *args, **kwargs):
        caller = sys._getframe(1)
        tag = f"{os.path.basename(caller.f_code.co_filename)}:{caller.f_lineno}"
        try:
            value = before(self)
        except Exception as ex:  # noqa: BLE001 - recorded, not raised
            value = f"<{method} capture unavailable: {ex}>"
        result = orig(self, *args, **kwargs)
        calls.append((tag, value, result))
        return result

    setattr(cls, method, capturing)
    try:
        yield calls
    finally:
        setattr(cls, method, orig)


def checkpoint_plans():
    """capture_calls over ``DataFrame.localCheckpoint``, recording the
    executed plan of every checkpointed intermediate: the plans that
    run while a query is built and never show in its tail plan."""
    # PySpark 4: pyspark.sql.DataFrame is the abstract base; runtime
    # instances are the classic subclass, whose own localCheckpoint
    # would shadow a patch on the base, so patch the concrete class.
    try:
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:  # older layout
        from pyspark.sql import DataFrame
    return capture_calls(DataFrame, "localCheckpoint", plan_text)


def write_artifact(name: str, data: dict, sort_keys: bool = True) -> str:
    """Write ``data`` as indented JSON to ``name`` (relative to the repo
    root, or an absolute path) and return the path."""
    path = os.path.join(REPO, name)
    with open(path, "w") as fh:
        json.dump(data, fh, indent=1, sort_keys=sort_keys)
        fh.write("\n")
    return path
