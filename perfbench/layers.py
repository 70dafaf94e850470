"""Per-layer measurement from outside the engine.

Two sources, neither of which edits an engine file:

* ``Spans`` wraps public functions of ``mapreducego_spark``'s modules
  (and the DataFrame materialization methods) and adds their wall time
  and call count to the span that is current when they run. A span id
  is ``workload:pass:query`` and is also the Spark job group, so both
  sources fold onto the same keys.
* ``fold_event_log`` reads Spark's own JSON event log and sums task
  metrics and SQL metrics per job group.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import statistics
import sys
import time
from collections import defaultdict
from collections.abc import Callable, Iterable

# (module, attribute, calls metric, seconds metric): the engine
# functions whose time and calls form a layer of their own.
FUNCTION_SPANS = [
    ("mapreducego_spark.sources.catalog", "load_table",
     "sources.load_table.calls", "sources.load_table_s"),
    ("mapreducego_spark.sources.snapshots", "commit_snapshot",
     "snapshots.commit.calls", "snapshots.commit_s"),
    ("mapreducego_spark.operators.graph", "connected_components",
     "graph.cc.calls", "graph.cc_s"),
]
# Eager materialization (operators.util and the dedup tier call these).
MATERIALIZE_METHODS = ["localCheckpoint", "checkpoint", "persist", "cache"]

# Metrics summed over the queries of one pass (``spark.core_util`` is
# derived per pass by the caller); a reported value is the median over
# the traced passes. Units as printed.
PER_PASS = [
    ("registry.build_s", "s"), ("exec.final_s", "s"),
    ("materialize.calls", "count"), ("materialize.s", "s"),
    ("sources.load_table.calls", "count"), ("sources.load_table_s", "s"),
    ("scan.input_bytes", "bytes"), ("scan.input_records", "count"),
    ("scan.time_s", "s"),
    ("write.output_bytes", "bytes"), ("write.output_records", "count"),
    ("snapshots.commit.calls", "count"), ("snapshots.commit_s", "s"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.task_run_s", "s"), ("spark.task_cpu_s", "s"), ("spark.gc_s", "s"),
    ("spark.core_util", "ratio"), ("spark.stage_skew", "ratio"),
    ("shuffle.write_bytes", "bytes"), ("shuffle.read_bytes", "bytes"),
    ("shuffle.records", "count"), ("shuffle.fetch_wait_s", "s"),
    ("shuffle.write_s", "s"), ("spill.bytes", "bytes"),
    ("memory.peak_execution_mb", "MB"),
    ("python.run_s", "s"), ("python.start_s", "s"),
    ("python.bytes_sent", "bytes"), ("python.bytes_received", "bytes"),
    ("graph.cc_s", "s"),
]
# Folded with max instead of a sum.
_MAX_METRICS = {"memory.peak_execution_mb", "spark.stage_skew"}

CODEC_FORMATS = [
    "jpeg", "jpeg_progressive", "png", "gif", "webp", "tiff", "wav", "avi",
    "pdf", "warc", "subtitle", "avro",
]
# Every per-layer metric of a traced run, in output order. The first
# three are the end-to-end wall times, reported here because they are
# too host-noisy to gate (see run.END_TO_END); they come from the run's
# untraced passes.
PER_LAYER = [
    ("pass_s", "s"), ("query_s_p50", "s"), ("query_s_tail", "s"),
    ("session.start_s", "s"), ("peak_rss_mb", "MB"),
    *PER_PASS,
    *[(f"codec.{fmt}.mb_s", "MB/s") for fmt in CODEC_FORMATS],
    ("dedup.lsh_candidates", "count"), ("dedup.lsh_verified", "count"),
    ("dedup.lsh_precision", "ratio"),
    ("trace.pass_s", "s"), ("trace.overhead_s", "s"),
]


def fold_pass(parts: Iterable[dict[str, float]]) -> dict[str, float]:
    """Combine per-query metric dicts of one pass: sums, except the
    peak and skew metrics, which take the largest value."""
    acc: dict[str, float] = defaultdict(float)
    for part in parts:
        for name, value in part.items():
            if name in _MAX_METRICS:
                acc[name] = max(acc[name], value)
            else:
                acc[name] += value
    return dict(acc)


class Spans:
    """Wall time and calls of wrapped functions, summed per span id."""

    def __init__(self) -> None:
        self.current = "setup"
        self.values: dict[str, dict[str, float]] = defaultdict(
            lambda: defaultdict(float)
        )
        self._depth: dict[str, int] = defaultdict(int)
        self._undo: list[tuple[object, str, object]] = []

    def add(self, metric: str, value: float) -> None:
        self.values[self.current][metric] += value

    def _wrap(self, fn: Callable, calls: str, seconds: str) -> Callable:
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            # Only the outermost call counts: cache() calls persist(),
            # and load_table may be reached through another wrapper.
            outer = self._depth[calls] == 0
            self._depth[calls] += 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self._depth[calls] -= 1
                if outer:
                    self.add(calls, 1)
                    self.add(seconds, time.perf_counter() - t0)

        return wrapper

    def _patch(self, owner: object, attr: str, new: object) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def install(self) -> None:
        """Patch every binding of each wrapped function in every loaded
        engine module: ``from x import f`` makes a second binding that a
        patch of ``x.f`` alone would miss, leaving its span empty."""
        from pyspark.sql.classic.dataframe import DataFrame

        for name in MATERIALIZE_METHODS:
            wrapper = self._wrap(
                getattr(DataFrame, name), "materialize.calls", "materialize.s"
            )
            self._patch(DataFrame, name, wrapper)
        for module_name, attr, calls, seconds in FUNCTION_SPANS:
            original = getattr(importlib.import_module(module_name), attr)
            wrapper = self._wrap(original, calls, seconds)
            for mod_name, mod in list(sys.modules.items()):
                if not mod_name.startswith("mapreducego_spark") or mod is None:
                    continue
                for key, value in list(vars(mod).items()):
                    if value is original:
                        self._patch(mod, key, wrapper)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, old = self._undo.pop()
            setattr(owner, attr, old)


# --- Spark event log -------------------------------------------------------

# SQL metric name -> layer metric. The unit comes from the metric's
# type in the plan: "timing" is milliseconds, "nsTiming" nanoseconds.
SQL_METRICS = {
    "scan time": "scan.time_s",
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.start_s",
    "time to initialize Python workers": "python.start_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}
_SQL_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


def _task_metrics(tm: dict) -> dict[str, float]:
    sr = tm.get("Shuffle Read Metrics", {})
    sw = tm.get("Shuffle Write Metrics", {})
    inp = tm.get("Input Metrics", {})
    out = tm.get("Output Metrics", {})
    return {
        "spark.tasks": 1,
        "spark.task_run_s": tm.get("Executor Run Time", 0) / 1e3,
        "spark.task_cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
        "spark.gc_s": tm.get("JVM GC Time", 0) / 1e3,
        "scan.input_bytes": inp.get("Bytes Read", 0),
        "scan.input_records": inp.get("Records Read", 0),
        "write.output_bytes": out.get("Bytes Written", 0),
        "write.output_records": out.get("Records Written", 0),
        "shuffle.write_bytes": sw.get("Shuffle Bytes Written", 0),
        "shuffle.read_bytes": sr.get("Remote Bytes Read", 0)
        + sr.get("Local Bytes Read", 0),
        "shuffle.records": sr.get("Total Records Read", 0),
        "shuffle.fetch_wait_s": sr.get("Fetch Wait Time", 0) / 1e3,
        "shuffle.write_s": sw.get("Shuffle Write Time", 0) / 1e9,
        "spill.bytes": tm.get("Memory Bytes Spilled", 0)
        + tm.get("Disk Bytes Spilled", 0),
    }


def fold_event_log(lines: Iterable[str]) -> dict[str, dict[str, float]]:
    """Sum the event log's task and SQL metrics per job group.

    Jobs carry the group in their properties; stages and tasks are
    attributed through the job that submitted their stage. Per group
    the result also has ``spark.jobs``, ``spark.stages``,
    ``memory.peak_execution_mb`` (largest task peak) and
    ``spark.stage_skew`` (largest max/median task run time over the
    group's stages with at least four tasks).
    """
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    stage_runs: dict[tuple[str, int], list[float]] = defaultdict(list)
    sql_metrics: dict[int, tuple[str, float]] = {}

    def note_plan(plan: dict) -> None:
        for m in plan.get("metrics", []):
            if m["name"] in SQL_METRICS:
                sql_metrics[m["accumulatorId"]] = (
                    SQL_METRICS[m["name"]], _SQL_SCALE.get(m["metricType"], 1.0)
                )
        for child in plan.get("children", []):
            note_plan(child)

    for line in lines:
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "other"
            out[group]["spark.jobs"] += 1
            for sid in ev["Stage IDs"]:
                stage_group[sid] = group
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            out[stage_group.get(sid, "other")]["spark.stages"] += 1
        elif kind.endswith("SQLExecutionStart") or kind.endswith(
            "SQLAdaptiveExecutionUpdate"
        ):
            note_plan(ev.get("sparkPlanInfo", {}))
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            group = stage_group.get(sid, "other")
            tm = ev.get("Task Metrics") or {}
            acc = out[group]
            for name, value in _task_metrics(tm).items():
                acc[name] += value
            acc["memory.peak_execution_mb"] = max(
                acc["memory.peak_execution_mb"],
                tm.get("Peak Execution Memory", 0) / 2**20,
            )
            stage_runs[(group, sid)].append(tm.get("Executor Run Time", 0))
            for a in ev.get("Task Info", {}).get("Accumulables", []):
                metric = sql_metrics.get(a.get("ID"))
                if metric is not None:
                    acc[metric[0]] += float(a.get("Update", 0)) * metric[1]
    for (group, _sid), runs in stage_runs.items():
        if len(runs) >= 4 and statistics.median(runs) > 0:
            skew = max(runs) / statistics.median(runs)
            out[group]["spark.stage_skew"] = max(out[group]["spark.stage_skew"], skew)
    return {g: dict(v) for g, v in out.items()}


_FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures",
                        "eventlog_sample.jsonl")
# Totals of the fixture, computed independently from its raw task
# metrics and accumulator updates.
_FIXTURE_EXPECTED = {
    "w:0:agg_pricing_summary": {
        "spark.jobs": 5, "spark.stages": 5, "spark.tasks": 5,
        "spark.task_run_s": 1.924, "scan.input_records": 60000,
        "scan.time_s": 0.415, "write.output_bytes": 0, "python.run_s": 0,
    },
    "w:0:multimodal_tiff_decode": {
        "spark.jobs": 3, "spark.tasks": 13, "spark.task_run_s": 6.303,
        "python.run_s": 5.255, "python.bytes_sent": 104792,
        "write.output_bytes": 0,
    },
    "w:0:snapshot_append": {
        "spark.jobs": 29, "spark.tasks": 35, "write.output_bytes": 219156,
        "scan.input_records": 148865, "scan.time_s": 0.251,
    },
}


def self_check() -> None:
    """Fold the recorded event log in ``fixtures/`` and compare it with
    totals known in advance; raises if the folding has drifted."""
    with open(_FIXTURE) as fh:
        got = fold_event_log(fh)
    bad = [
        f"{group} {name}: {got.get(group, {}).get(name, 0.0)} != {want}"
        for group, metrics in _FIXTURE_EXPECTED.items()
        for name, want in metrics.items()
        if abs(got.get(group, {}).get(name, 0.0) - want) > 1e-9 * max(1, want)
    ]
    if bad:
        raise RuntimeError("event-log folding self-check failed: " + "; ".join(bad))


if __name__ == "__main__":
    self_check()
    print("event-log folding self-check passed")
