"""Closed-loop benchmark of the engine's registry queries.

    python3 perfbench/run.py --workload corpus_dedup --seed 1 \
        --seconds 10 --trace 0

One driver thread submits the workload's queries (``workloads.py``) one
after another on ``local[nproc]``, in an order the seed shuffles afresh
on every pass. ``--seconds`` sets how many passes are measured: as many
as fill that long on four cores (``workloads.PASS_SECONDS``), at least
two. Before them, set-up (``setup_s``) starts the session and runs the
workload's warm-up passes (``workloads.WARMUP_PASSES``), the first of
which stages the media fixtures. Every output is checked against the
query's DuckDB oracle run on the same generated tables; a mismatch or
an exception counts as a failed operation.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` prints the
per-layer table instead: it turns on Spark's event log, interleaves
untraced passes with passes whose engine calls are wrapped in spans
(untraced, traced, traced, untraced, ...: the order keeps the JIT's
warm-up drift out of the tracing overhead), and folds both sources per
traced pass. The event log and the RSS sampler stay on for the whole
traced run, so ``trace.overhead_s`` (traced minus untraced passes of
that run) is the cost of the span wrappers alone, and the per-layer
``pass_s`` and ``query_s_*`` are wall times with the event log and the
sampler running; compare them with a ``--trace 0`` run's (printed in
its diagnostics) to see the whole cost of tracing.

The last line of stdout is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the lines
before it print the pinned configuration, run diagnostics and every
metric with its unit.

All run state (inputs, Spark local dirs, temp files, warehouse, event
log) lives in ``perfbench/.runs/<run id>`` and is removed at exit;
oracle digests are cached in ``perfbench/.cache``. The engine stages
media fixtures under ``/tmp/spark_graft_media/`` keyed by the input
directory's basename; the run gives its input directory a unique name
and removes exactly the staging directories carrying that name.
"""

from __future__ import annotations

import argparse
import glob
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

import datagen
import layers
from procstat import PeakRss, host_steal_s, tree_cpu_s, tree_pids
from workloads import PASS_SECONDS, WARMUP_PASSES, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Generated-table scale (lineitem = 6M x SF rows). Small enough that a
# pass of each workload takes a few seconds on four cores. At sf0.02 a
# dedup_clusters run issues the same 33 Spark jobs as at sf0.1 over a
# fifth of the documents (4,570 LSH candidates instead of 108,525), so
# per-job overhead weighs more in corpus_dedup than at sf0.1.
SF = 0.02
MEDIA_ROOT = "/tmp/spark_graft_media"
# The gated metrics. Wall-clock pass and query times (``wall_metrics``)
# are printed by every run and are part of the per-layer table, but are
# not gated: on a shared 4-vCPU host their spread over ten seeds
# (IQR/median up to 0.36) followed hypervisor steal (correlation 0.8)
# and was wider than any bound a regression gate can use. Process-tree
# CPU is not charged for stolen time.
END_TO_END = [("setup_s", "s"), ("cpu_s", "s")]


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def check_spec() -> None:
    """The workloads and metrics this script emits must be the ones
    ``BENCHMARK.json`` declares, in the same order and units."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    declared = {
        "workloads": [w["name"] for w in spec["workloads"]],
        "end_to_end": [(m["name"], m["unit"]) for m in spec["end_to_end"]],
        "per_layer": [(m["name"], m["unit"]) for m in spec["per_layer"]],
    }
    emitted = {"workloads": list(WORKLOADS), "end_to_end": END_TO_END,
               "per_layer": layers.PER_LAYER}
    for key, want in emitted.items():
        if declared[key] != want:
            raise RuntimeError(f"BENCHMARK.json {key} {declared[key]} != {want}")


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def pin_environment(run_dir: str) -> dict:
    """Point every scratch location at ``run_dir`` and size Spark to the
    host. Must run before the engine is imported or the JVM starts."""
    cores = len(os.sched_getaffinity(0))
    driver_mem_mb = min(2048, _mem_total_mb() // 4)
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    env = {
        # Python workers import the engine from any working directory.
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "TMPDIR": dirs["tmp"],
        "SPARK_LOCAL_DIRS": dirs["local"],
        "SPARK_GRAFT_WAREHOUSE": dirs["warehouse"],
        "SPARK_GRAFT_CPUS": str(cores),
        "PYSPARK_SUBMIT_ARGS": f"--driver-memory {driver_mem_mb}m pyspark-shell",
        # Every JVM, spark-submit's launcher included, keeps its temp
        # files in the run dir and writes no /tmp/hsperfdata_* file.
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
    }
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    sys.path.insert(0, ROOT)
    return {"cores": cores, "master": f"local[{cores}]",
            "driver_memory_mb": driver_mem_mb, "sf": SF, **env}


class Runner:
    """One benchmark run: session, passes, checks and measurements."""

    def __init__(self, args: argparse.Namespace, run_dir: str, config: dict) -> None:
        self.args = args
        self.run_dir = run_dir
        self.config = config
        self.queries = WORKLOADS[args.workload]
        self.order_rng = random.Random(args.seed)
        # Unique basename: it keys the engine's media staging dirs.
        self.input_dir = os.path.join(
            run_dir, f"in-{args.workload}-{args.seed}-{os.getpid()}-{time.time_ns()}"
        )
        self.spark = None
        self.spans: layers.Spans | None = None
        self.expected: dict[str, dict] = {}
        self.attempted = 0
        self.failed = 0
        self.passes: list[dict] = []

    def prepare_inputs(self) -> None:
        from oracle import OracleDigests

        from mapreducego_spark.registry import ORACLES

        missing = [q for q in self.queries if q not in ORACLES]
        if missing:
            raise RuntimeError(f"queries without a DuckDB oracle: {missing}")
        key = datagen.write_inputs(self.input_dir, SF, self.args.seed)
        oracles = OracleDigests(
            self.input_dir, datagen.TABLES, f"sf{SF}-{key}",
            cache_dir=os.path.join(HERE, ".cache"),
            spill_dir=os.path.join(self.run_dir, "tmp"),
            threads=self.config["cores"],
        )
        for q in self.queries:
            self.expected[q] = oracles.expected(q, ORACLES[q])

    def start_session(self) -> float:
        from mapreducego_spark.session import get_spark

        conf = {"spark.ui.showConsoleProgress": "false"}
        if self.args.trace:
            ev_dir = os.path.join(self.run_dir, "eventlog")
            os.makedirs(ev_dir)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{ev_dir}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench", master=self.config["master"],
            shuffle_partitions=self.config["cores"], extra_conf=conf,
        )
        elapsed = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        return elapsed

    def stop_session(self) -> None:
        """Stop Spark, end the JVM and every Python worker it forked,
        and wait until each has exited."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        descendants = [p for p in tree_pids(os.getpid()) if p != os.getpid()]
        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
            proc = gateway.proc
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.monotonic() + 30
        while alive := [p for p in descendants if os.path.exists(f"/proc/{p}")]:
            if time.monotonic() > deadline:
                for p in alive:
                    try:
                        os.kill(p, 9)
                    except ProcessLookupError:
                        pass
            time.sleep(0.1)

    def run_pass(self, label: str, traced: bool = False) -> dict:
        """Run every query once in a seed-shuffled order. Wall and CPU
        cover query build + result collection; the oracle comparison
        that follows each query is outside both."""
        from oracle import digest

        from mapreducego_spark.registry import QUERIES

        me = os.getpid()
        order = list(self.queries)
        self.order_rng.shuffle(order)
        sc = self.spark.sparkContext
        walls, cpus = {}, {}
        for q in order:
            group = f"{self.args.workload}:{label}:{q}"
            sc.setJobGroup(group, group)
            if self.spans is not None:
                self.spans.current = group
            self.attempted += 1
            c0 = tree_cpu_s(me)
            t0 = time.perf_counter()
            try:
                df = QUERIES[q](self.spark, self.input_dir)
                t1 = time.perf_counter()
                rows = df.collect()
                t2 = time.perf_counter()
                cpus[q] = tree_cpu_s(me) - c0
                got = digest(rows, df.columns)
            except Exception:  # noqa: BLE001 - a failed query is a result
                self.failed += 1
                print(f"perfbench: {group} raised\n{traceback.format_exc()}",
                      file=sys.stderr)
                continue
            if got != self.expected[q]:
                self.failed += 1
                print(f"perfbench: {group} output {got} != oracle "
                      f"{self.expected[q]}", file=sys.stderr)
                continue
            walls[q] = t2 - t0
            if traced:
                self.spans.values[group]["registry.build_s"] += t1 - t0
                self.spans.values[group]["exec.final_s"] += t2 - t1
        sc.setJobGroup("", "")
        return {"label": label, "wall_s": sum(walls.values()),
                "cpu_s": sum(cpus.values()), "walls": walls, "cpus": cpus,
                "traced": traced}

    def measure(self, interleave_traced: bool) -> None:
        n = max(2, math.ceil(self.args.seconds / PASS_SECONDS[self.args.workload]))
        if interleave_traced:
            n = max(n, 4)  # at least one whole untraced/traced/traced/untraced
        for i in range(n):
            traced = interleave_traced and i % 4 in (1, 2)
            if traced:
                self.spans.install()
            try:
                p = self.run_pass(f"t{i}", traced=traced)
            finally:
                if traced:
                    self.spans.uninstall()
            self.passes.append(p)


def tail(values: list[float]) -> tuple[float, float, int]:
    """Value at the highest percentile with at least ten samples above
    it, that percentile, and the sample count. Below 100 samples that
    percentile is under p90 and says nothing of the tail: the max is
    reported instead."""
    s = sorted(values)
    n = len(s)
    if n < 100:
        return s[-1], 100.0, n
    k = n - 11
    return s[k], 100.0 * (k + 1) / n, n


def wall_metrics(passes: list[dict]) -> dict[str, float]:
    walls = [w for p in passes for w in p["walls"].values()]
    return {
        "pass_s": statistics.median(p["wall_s"] for p in passes),
        "query_s_p50": statistics.median(walls),
        "query_s_tail": tail(walls)[0],
    }


def per_query_median(r: Runner, key: str) -> dict[str, float]:
    """Median over the measured passes of each query's ``walls`` or
    ``cpus`` entry."""
    out = {}
    for q in r.queries:
        values = [p[key][q] for p in r.passes if q in p[key]]
        if values:
            out[q] = round(statistics.median(values), 4)
    return out


def end_to_end(r: Runner, setup_s: float) -> dict:
    values = {
        "setup_s": setup_s,
        "cpu_s": statistics.median(p["cpu_s"] for p in r.passes),
    }
    return {name: (values[name], unit) for name, unit in END_TO_END}


def per_layer(r: Runner, session_start_s: float, peak_rss_mb: float,
              dedup: dict, codecs: dict) -> dict:
    (log_path,) = glob.glob(os.path.join(r.run_dir, "eventlog", "*"))
    with open(log_path) as fh:
        groups = layers.fold_event_log(fh)
    traced = [p for p in r.passes if p["traced"]]
    untraced = [p for p in r.passes if not p["traced"]]
    per_pass = []
    for p in traced:
        key = f"{r.args.workload}:{p['label']}:"
        acc = layers.fold_pass(
            [v for g, v in groups.items() if g.startswith(key)]
            + [v for g, v in r.spans.values.items() if g.startswith(key)]
        )
        acc["spark.core_util"] = acc.get("spark.task_run_s", 0.0) / (
            p["wall_s"] * r.config["cores"]
        )
        per_pass.append(acc)
    out = {name: statistics.median(a.get(name, 0.0) for a in per_pass)
           for name, _unit in layers.PER_PASS}
    out.update(wall_metrics(untraced))
    out["trace.pass_s"] = statistics.median(p["wall_s"] for p in traced)
    # Span-wrapper cost only: the event log and RSS sampler are on for
    # the untraced passes of this run too.
    out["trace.overhead_s"] = statistics.mean(
        p["wall_s"] for p in traced
    ) - statistics.mean(p["wall_s"] for p in untraced)
    out["session.start_s"] = session_start_s
    out["peak_rss_mb"] = peak_rss_mb
    out.update(dedup)
    out.update(codecs)
    return {name: (out[name], unit) for name, unit in layers.PER_LAYER}


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    needed = [os.path.join(ROOT, "mapreducego_spark", "registry.py"),
              os.path.join(ROOT, "tools", "verify_local.py")]
    absent = [p for p in needed if not os.path.exists(p)]
    if absent:
        print(f"perfbench: engine sources not found: {absent}", file=sys.stderr)
        return 2
    check_spec()
    run_dir = os.path.join(
        HERE, ".runs", f"{args.workload}-{args.seed}-{os.getpid()}-{time.time_ns()}"
    )
    config = pin_environment(run_dir)
    # A terminated run still stops Spark and removes its files.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    r = Runner(args, run_dir, config)
    phases: dict[str, float] = {}
    t_phase = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = round(now - t_phase, 3)
        t_phase = now

    try:
        r.prepare_inputs()
        phase("inputs_and_oracles")
        # Sampling the tree's RSS costs driver CPU: traced runs only.
        rss = PeakRss(os.getpid()) if args.trace else None
        if rss is not None:
            rss.start()
        steal0 = host_steal_s()
        t0 = time.perf_counter()
        session_start_s = r.start_session()
        warm = [r.run_pass(f"w{i}") for i in range(WARMUP_PASSES[args.workload])]
        setup_s = time.perf_counter() - t0
        phase("setup")
        if args.trace:
            layers.self_check()
            r.spans = layers.Spans()
        r.measure(interleave_traced=bool(args.trace))
        steal_s = host_steal_s() - steal0
        phase("measure")
        if args.trace:
            import probes

            r.spark.sparkContext.setJobGroup("probe", "probe")
            dedup = probes.lsh_waste(r.spark, r.input_dir)
            r.stop_session()
            metrics = per_layer(r, session_start_s, rss.stop(), dedup,
                                probes.codec_throughput(r.input_dir))
            phase("probes_and_stop")
        else:
            r.stop_session()
            metrics = end_to_end(r, setup_s)
            phase("stop")
        _value, pct, n = tail([w for p in r.passes for w in p["walls"].values()])
        print("perfbench config: " + json.dumps(config, sort_keys=True))
        print("perfbench diagnostics: " + json.dumps({
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "queries": r.queries,
            "warmup_pass_s": [round(p["wall_s"], 3) for p in warm],
            "warmup_pass_cpu_s": [round(p["cpu_s"], 3) for p in warm],
            "wall": {k: round(v, 4) for k, v in wall_metrics(r.passes).items()},
            "pass_s": [round(p["wall_s"], 3) for p in r.passes],
            "pass_cpu_s": [round(p["cpu_s"], 3) for p in r.passes],
            "query_wall_s_median": per_query_median(r, "walls"),
            "query_cpu_s_median": per_query_median(r, "cpus"),
            "query_s_tail_percentile": round(pct, 2), "query_samples": n,
            "failed_ratio": r.failed / r.attempted,
            "host.steal_s": round(steal_s, 3),
            "phase_s": phases,
        }))
        for name, (value, unit) in metrics.items():
            print(f"perfbench metric {name} = {value:.6g} {unit}")
        print(json.dumps({
            "correct": r.failed == 0,
            "attempted": r.attempted,
            "failed": r.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        r.stop_session()
        tag = os.path.basename(r.input_dir)
        for d in glob.glob(os.path.join(MEDIA_ROOT, f"{tag}_*")):
            shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
