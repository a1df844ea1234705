"""Benchmark of the blueforty-spark query library: two workloads of the
``__spark_entry__.queries()`` builders on the seed-42 sf0.1 tables in
``perfbench/data``.

Usage (from the repository root):

    python3 perfbench/run.py --workload etl --seed 1 --seconds 10 --trace 0

One process, one client, closed loop: the driver thread builds each
query of the workload and drives it to completion through the ``noop``
write format, back to back, on ``local[4]``.  A run is

1. set-up: imports, JVM and session start, one cold pass that collects
   every query's result at sf0.001, and WARMUP_PASSES untimed passes at
   sf0.1;
2. timed passes at sf0.1 until ``--seconds`` have passed (at least
   MIN_PASSES; with ``--trace 1``, TRACED_MIN_PASSES untraced and
   TRACED_MIN_PASSES traced), each in an order drawn from ``--seed``;
3. a check of the collected results against the DuckDB oracle.

The last line of stdout is one JSON object.  ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` alternates untraced and traced passes
and reports the per-layer ledger (see README.md and tracing.py).  The
per-query ledger of a traced run is written under
``.bench_build/perfbench/ledger/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse
import gc
import json
import os
import random
import shutil
import signal
import statistics
import sys
import traceback
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import WORKLOADS

PACKAGE = "blueforty___etl_data_pipeline_spark"
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
TIMED_DIR = os.path.join(HERE, "data", "sf0.1")
CHECK_DIR = os.path.join(HERE, "data", "sf0.001")
CORES = 4
#: Untimed passes at the timed scale, part of set-up.  After the cold
#: pass the JVM is still compiling: a query's first passes at sf0.1 take
#: up to half again as long as its later ones, and how fast that slope
#: flattens depends on how much CPU the host leaves the compiler
#: threads, so timing it spread whole runs apart.  Two passes flatten
#: most of it.
WARMUP_PASSES = 2
#: Each query's figure is its fastest timed pass.  On a shared VM the
#: hypervisor takes CPU away in bursts (steal time), which slows
#: whichever passes they overlap; that only ever adds time, so the
#: minimum drops it.  Not more than four: a
#: pass takes 4-6 s, and every run of the benchmark's schedule must stay
#: near a minute.  ``--seconds`` is set below four passes' time, so the
#: number of passes is fixed.
MIN_PASSES = 4
#: A traced run takes this many of each kind: its figures have no bound.
TRACED_MIN_PASSES = 3
#: Hard stop for one run, below the 180 s a run may take.
RUN_LIMIT_S = 170


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spec() -> dict:
    """BENCHMARK.json: the workload names, metric names and units."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def metric_units(kind: str) -> dict[str, str]:
    """{metric name: unit} of the ``end_to_end`` or ``per_layer`` list."""
    return {m["name"]: m["unit"] for m in spec()[kind]}


def driver_heap() -> str:
    """A fifth of this host's memory, between 1 and 3 GiB."""
    with open("/proc/meminfo") as fh:
        kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal"))
    return f"{min(3072, max(1024, kb // 1024 // 5))}m"


def configure_env(scratch: str, tmp: str) -> None:
    """Keep every file the run writes inside the checkout, and let the
    Python workers Spark forks import the package from any cwd."""
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # Overrides spark.local.dir, so an inherited value would win.
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    # The short-lived JVM spark-submit runs to build the driver's command
    # line would otherwise write its perf-data file under /tmp.
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_DRIVER_MEMORY"] = driver_heap()
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.makedirs(scratch, exist_ok=True)


def start_session(trace: bool, tmp: str):
    from blueforty___etl_data_pipeline_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if trace else "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.driver.extraJavaOptions": (
            f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} "
            f"-Dderby.system.home={os.path.join(WORK, 'derby')}"
        ),
    }
    if trace:
        conf.update(
            {
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.streaming.numRecentProgressUpdates": "10000",
            }
        )
    spark = get_spark(app_name="perfbench", master=f"local[{CORES}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it owns)
    to exit: the gateway JVM exits when its stdin closes."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def tree_peak_rss_mb() -> float:
    """Sum of the peak resident sets (VmHWM) of this process and every
    live descendant: the JVM and the Python workers it forked."""
    children = defaultdict(list)
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children[ppid].append(int(pid))
    total_kb, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        total_kb += _vm_hwm_kb(pid)
    return total_kb / 1024


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            return next(int(ln.split()[1]) for ln in fh if ln.startswith("VmHWM"))
    except (OSError, StopIteration):
        return 0  # the process exited while the tree was walked


def live_mem_mb(spark) -> float:
    """Memory the driver holds after the workload, independent of GC
    timing: JVM heap still live after full GCs, plus JVM non-heap in use
    (metaspace, code cache), plus the Python driver's peak RSS.
    The tree's peak RSS swings by a quarter between runs of the same
    code, with when the collector happens to run, so it is a per-layer
    figure instead.

    Python's cyclic GC goes first: a py4j proxy caught in a reference
    cycle keeps its JVM object (about 100 MB of a query's broadcast
    blocks on ``etl``) alive until Python collects the cycle, which
    happened in some runs and not others.  Then one JVM GC is not
    enough: the objects it frees let Spark's ContextCleaner drop the
    broadcast blocks they owned, and only a later GC reclaims those.  So
    collect until the heap stops shrinking."""
    gc.collect()
    jvm = spark._jvm
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    prev = None
    for _ in range(5):
        jvm.java.lang.System.gc()
        heap = mx.getHeapMemoryUsage().getUsed() / 2**20
        if prev is not None and prev - heap < 1.0:
            break
        prev = heap
        time.sleep(0.5)  # the cleaner's thread works off the GC's queue
    non_heap = mx.getNonHeapMemoryUsage().getUsed() / 2**20
    python = _vm_hwm_kb(os.getpid()) / 1024
    log(f"live memory: heap {heap:.1f} MB, non-heap {non_heap:.1f}, python {python:.1f}")
    return heap + non_heap + python


class Runner:
    """Runs one workload's queries and keeps the tallies."""

    def __init__(self, spark, entry, names, tracer=None) -> None:
        self.spark = spark
        self.builders = entry.queries()
        self.oracle_sql = entry.oracle_sql()
        self.names = list(names)
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.results = {}

    def _fail(self, what: str) -> None:
        self.failed += 1
        log(f"FAILED {what}")

    def collect(self, data_dir: str) -> None:
        """Run every query at ``data_dir`` and keep its result for
        ``check``."""
        for name in self.names:
            self.attempted += 1
            try:
                self.results[name] = self.builders[name](self.spark, data_dir).toPandas()
            except Exception:
                self._fail(f"{name} at {data_dir}:\n{traceback.format_exc()}")

    def check(self, data_dir: str) -> None:
        """Compare each collected result with the oracle's over the same
        ``data_dir``."""
        from oracle import Oracle

        oracle = Oracle(data_dir, self.oracle_sql)
        try:
            for name, got in self.results.items():
                why = oracle.mismatch(name, got)
                if why:
                    self._fail(f"{name} at {data_dir}: {why}")
        finally:
            oracle.close()

    def passes(
        self, data_dir: str, seconds: float, seed: int, trace: bool, min_passes: int
    ):
        """Timed passes until ``seconds`` have passed and at least
        ``min_passes`` ran, each in an order drawn from ``seed``.  With
        ``trace``, passes alternate untraced and traced in the order
        U T T U U T ... (at least ``min_passes`` of each), so both kinds
        see the same warm-up.  Return
        ({query: [untraced wall per pass]}, {query: [traced wall per
        pass]}, {query: [ledger per traced pass]})."""
        walls = {kind: {q: [] for q in self.names} for kind in (False, True)}
        ledgers = {q: [] for q in self.names}
        t0 = time.perf_counter()
        p = 0
        while p < min_passes * (1 + trace) or time.perf_counter() - t0 < seconds:
            traced = trace and p % 4 in (1, 2)
            order = random.Random(f"{seed}:{p}").sample(self.names, len(self.names))
            pass_ledgers = {}
            for name in order:
                self.attempted += 1
                try:
                    if traced:
                        wall, pass_ledgers[name] = self._one_traced(name, data_dir, p)
                    else:
                        wall = self._one(name, data_dir)
                except Exception:
                    self._fail(f"{name} pass {p}:\n{traceback.format_exc()}")
                    continue
                walls[traced][name].append(wall)
            if traced:
                self._add_engine(pass_ledgers)
                for name, led in pass_ledgers.items():
                    ledgers[name].append(led)
            p += 1
        return walls[False], walls[True], ledgers

    def _one(self, name: str, data_dir: str) -> float:
        t0 = time.perf_counter()
        df = self.builders[name](self.spark, data_dir)
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def _one_traced(self, name: str, data_dir: str, p: int):
        sc = self.spark.sparkContext
        group = f"perfbench:{p}:{name}"
        tracer = self.tracer
        t0 = time.perf_counter()
        sc.setJobGroup(group + ":build", name)
        try:
            tracer.begin()
            t_build = time.perf_counter()
            df = self.builders[name](self.spark, data_dir)
            build_s = time.perf_counter() - t_build
            tracer.active = False
            t_plan = time.perf_counter()
            df._jdf.queryExecution().executedPlan()
            plan_s = time.perf_counter() - t_plan
            sc.setJobGroup(group + ":run", name)
            tracer.active = True
            t_run = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            run_s = time.perf_counter() - t_run
        finally:
            ledger, run_ids = tracer.end()
            sc.setLocalProperty("spark.jobGroup.id", None)
        ledger.update(
            {
                "entry.build_s": build_s,
                "catalyst.plan_s": plan_s,
                "engine.run_s": run_s,
                "_groups_build": [group + ":build", *run_ids],
                "_group_run": group + ":run",
            }
        )
        return time.perf_counter() - t0, ledger

    def _add_engine(self, pass_ledgers: dict) -> None:
        """Fold the engine's job/stage numbers into each query's ledger.
        Builder jobs (including the batches of streams the builder
        drained) are entry.build_*; every job counts in engine.*."""
        from tracing import EngineStats

        groups = set()
        for led in pass_ledgers.values():
            groups.update(led["_groups_build"])
            groups.add(led["_group_run"])
        stats = EngineStats(self.spark).by_group(groups)
        for led in pass_ledgers.values():
            build = [stats[g] for g in led.pop("_groups_build")]
            run = stats[led.pop("_group_run")]
            led["entry.build_jobs"] = sum(s.get("jobs", 0) for s in build)
            led["entry.build_job_s"] = sum(s.get("job_s", 0) for s in build)
            for key in (
                "jobs",
                "stages",
                "tasks",
                "task_s",
                "gc_s",
                "shuffle_read_mb",
                "shuffle_write_mb",
                "spill_mb",
            ):
                led[f"engine.{key}"] = sum(s.get(key, 0) for s in build) + run.get(key, 0)


def sum_of_mins(per_query: dict[str, list[float]]) -> float:
    return sum(min(v) for v in per_query.values() if v)


def layer_metrics(ledgers: dict[str, list[dict]]) -> tuple[dict[str, float], dict]:
    """Per metric: the median over traced passes of each query, summed
    over queries; ratios are recomputed from those sums.  Also return
    the per-query medians (the ledger file)."""
    per_query = {}
    for name, runs in ledgers.items():
        keys = set().union(*runs) if runs else set()
        per_query[name] = {
            k: statistics.median(r.get(k, 0.0) for r in runs) for k in sorted(keys)
        }
    total: defaultdict[str, float] = defaultdict(float)
    for led in per_query.values():
        for k, v in led.items():
            total[k] += v
    job_s = total["engine.run_s"] + total["entry.build_job_s"]
    total["engine.busy_ratio"] = total["engine.task_s"] / (job_s * CORES) if job_s else 0.0
    calls = total["parallelism.spread_scan.calls"]
    total["parallelism.spread_scan.hit_ratio"] = (
        total["parallelism.spread_scan.hits"] / calls if calls else 0.0
    )
    return dict(total), per_query


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec()["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class RunTimeout(BaseException):
    """Raised from SIGALRM.  Not an ``Exception``, so the per-query
    handlers cannot count it as one failed query and carry on."""


def _timeout(signum, frame):
    raise RunTimeout(f"run exceeded {RUN_LIMIT_S} s")


def main(argv=None) -> int:
    args = parse_args(argv)
    for need in ("__spark_entry__.py", PACKAGE, "tools/check_correctness.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            log(f"{need} not found under {ROOT}: nothing to benchmark")
            return 2

    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(RUN_LIMIT_S)

    scratch = os.path.join(WORK, "scratch")
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(scratch, ignore_errors=True)
    configure_env(scratch, tmp)
    sys.path.insert(0, ROOT)

    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer()
        tracer.install()  # before __spark_entry__ binds the functions
    import __spark_entry__ as entry

    entry.SCRATCH = scratch
    names = WORKLOADS[args.workload]
    t_imported = time.perf_counter()
    spark = start_session(bool(args.trace), tmp)
    t_session = time.perf_counter()
    try:
        runner = Runner(spark, entry, names, tracer)
        runner.collect(CHECK_DIR)
        t_cold = time.perf_counter()
        runner.passes(TIMED_DIR, 0.0, args.seed, False, WARMUP_PASSES)
        setup_s = time.perf_counter() - T_START
        log(
            f"setup {setup_s:.2f} s: imports {t_imported - T_START:.2f}, "
            f"session {t_session - t_imported:.2f}, cold pass "
            f"{t_cold - t_session:.2f}, warm-up {time.perf_counter() - t_cold:.2f}"
        )

        walls, twalls, ledgers = runner.passes(
            TIMED_DIR,
            args.seconds,
            args.seed,
            bool(args.trace),
            TRACED_MIN_PASSES if args.trace else MIN_PASSES,
        )
        wall_s = sum_of_mins(walls)
        t_check = time.perf_counter()
        runner.check(CHECK_DIR)
        log(f"oracle check {time.perf_counter() - t_check:.2f} s")

        peak_rss_mb = tree_peak_rss_mb()
        mem_mb = live_mem_mb(spark)
    finally:
        t_stop = time.perf_counter()
        stop_session(spark)
        log(f"shutdown {time.perf_counter() - t_stop:.2f} s")
    signal.alarm(0)

    if args.trace:
        totals, per_query = layer_metrics(ledgers)
        totals["trace.wall_s"] = sum_of_mins(twalls)
        totals["trace.overhead_s"] = totals["trace.wall_s"] - wall_s
        totals["proc.peak_rss_mb"] = peak_rss_mb
        units = metric_units("per_layer")
        values = {name: totals.get(name, 0.0) for name in units}
        ledger_dir = os.path.join(WORK, "ledger")
        os.makedirs(ledger_dir, exist_ok=True)
        path = os.path.join(ledger_dir, f"{args.workload}.json")
        with open(path, "w") as fh:
            json.dump({"untraced_wall_s": wall_s, "totals": totals, "queries": per_query}, fh, indent=1)
        log(f"per-query ledger: {path}")
    else:
        values = {
            "wall_s": wall_s,
            "setup_s": setup_s,
            "live_mem_mb": mem_mb,
            "success_rate": 1 - runner.failed / runner.attempted,
        }
        units = metric_units("end_to_end")
    log(f"per-query walls: { {q: [round(w, 3) for w in v] for q, v in walls.items()} }")
    print(
        json.dumps(
            {
                "correct": runner.failed == 0,
                "attempted": runner.attempted,
                "failed": runner.failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
