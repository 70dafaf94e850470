"""The harness contract under bench.py and tools/: the compact stdout
line, the like-for-like previous-run lookup, call-site capture and
the job groups of the timed runner."""

from __future__ import annotations

import json
import os
import sys

import bench
from tools.harness import capture_calls, checkpoint_plans, job_counts, timed_runs


def _out(n_queries: int) -> dict:
    queries = {f"headline_query_{k:03d}_with_a_long_name": 1.234 + k for k in range(n_queries)}
    return {
        "metric": "headline_queries_total_wall",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "sf": 0.1,
        "timing": "best_of_3_noop_sink",
        "calibration": {"probe": "agg_pricing_summary", "start_sec": 1.0,
                        "end_sec": 1.1, "intra_run_band_pct": 10.0},
        "sf1": {"queries": {"q": {"ratio_10x_data": 7.5}},
                "superlinear_flagged": ["q"]},
        "prev_round": "BENCH_r18_c8",
        "delta_total": -1.0,
        "regressions_vs_prev": 3,
        "median_delta_vs_prev": 0.01,
        "drift_adjusted_regressions": 1,
        "detail_sha": "0123456789ab",
    }


def test_compact_line_fits_the_budget_and_keeps_the_evidence():
    line = bench._compact_line(_out(140))
    assert len(json.dumps(line, separators=(",", ":"))) <= bench.STDOUT_BUDGET
    assert line["detail_sha"] == "0123456789ab"
    assert line["drift_band_pct"] == 10.0
    assert line["sf1_max_ratio"] == 7.5
    assert line["sf1_flagged"] == ["q"]
    # the slowest queries are the ones kept
    assert "headline_query_139_with_a_long_name" in line["queries"]
    assert line["queries_omitted"] == 140 - len(line["queries"])


def _bench_file(root, name: str, cpus: int, queries: dict | None) -> None:
    record = {"n": 18, "rc": 0, "cpus": cpus, "sf": 0.1, "tail": "",
              "parsed": None if queries is None else {"queries": queries}}
    (root / name).write_text(json.dumps(record))


def test_previous_run_is_the_newest_on_the_same_core_count(tmp_path):
    _bench_file(tmp_path, "BENCH_r17.json", 32, {"a": 1.0})
    _bench_file(tmp_path, "BENCH_r17_c8.json", 8, {"a": 2.0})
    _bench_file(tmp_path, "BENCH_r18.json", 32, {"a": 3.0})
    _bench_file(tmp_path, "BENCH_r18_c8.json", 8, {"a": 4.0})
    _bench_file(tmp_path, "BENCH_r19.json", 8, None)  # unparsed line
    assert bench._latest_prev_bench(32, str(tmp_path)) == ("BENCH_r18", {"a": 3.0})
    assert bench._latest_prev_bench(8, str(tmp_path)) == ("BENCH_r18_c8", {"a": 4.0})
    assert bench._latest_prev_bench(4, str(tmp_path)) == (None, None)


class _Box:
    def grow(self, by: int) -> int:
        self.size += by
        return self.size


def test_capture_calls_tags_the_caller_and_restores_the_method():
    orig = _Box.grow
    box = _Box()
    box.size = 1
    with capture_calls(_Box, "grow", lambda b: b.size) as calls:
        line = sys._getframe().f_lineno + 1
        assert box.grow(2) == 3
    assert _Box.grow is orig
    assert calls == [(f"{os.path.basename(__file__)}:{line}", 1, 3)]


def test_checkpoint_plans_and_timed_run_job_groups(spark, sf_dir):
    from pyspark.sql.classic.dataframe import DataFrame

    orig = DataFrame.localCheckpoint
    with checkpoint_plans() as calls:
        line = sys._getframe().f_lineno + 1
        spark.range(5).localCheckpoint().count()
    assert DataFrame.localCheckpoint is orig
    [(tag, plan, _)] = calls
    assert tag == f"{os.path.basename(__file__)}:{line}"
    assert "Range" in plan

    sc = spark.sparkContext
    walls = timed_runs(spark, "harness", "filter_project", sf_dir, 2)
    assert len(walls) == 2 and min(walls) > 0
    tracker = sc.statusTracker()
    assert tracker.getJobIdsForGroup("harness:filter_project:0")
    assert tracker.getJobIdsForGroup("harness:filter_project:1")
    jobs, stages, tasks = job_counts(spark, "harness:filter_project:0")
    assert jobs == len(tracker.getJobIdsForGroup("harness:filter_project:0"))
    assert 1 <= stages <= tasks
    assert sc.getLocalProperty("spark.jobGroup.id") is None
