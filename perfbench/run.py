#!/usr/bin/env python3
"""Benchmark of the query engine over frozen workloads.

Run from the repository root::

    python3 perfbench/run.py --workload light_sweep --seed 1 --seconds 12 --trace 0

One process, one closed-loop client: queries run one at a time against
``local[<cores>]``. A run

1. writes the workload's input tables for ``--seed`` (``datagen.py``);
2. sets up ``N_SETUPS`` times and reports the median as ``setup_s``:
   importing the package and collecting the registry, building the session
   and building the ``.cache`` relays through ``io.sources``. The first
   set-up launches the JVM; the others stop the session, delete the relays,
   drop the package's modules and do all three again;
3. runs every query once, collects its result and checks it against the
   expected digest (``verify.py``); this pass also fills the codegen cache;
4. runs one untimed warm-up pass, in which the JIT compiles much of the
   code the queries run, then timed passes over the workload for
   ``--seconds``, at least ``MIN_PASSES`` of them, each query forced by a
   ``noop`` write and each pass started from a collected heap, and
   reports ``pass_s``, the median
   pass, and ``query_p50_s``, the median over the queries of each query's
   median time, as bounded metrics, with
   ``query_tail_s`` (when a percentile above the median has ``TAIL_BEYOND``
   samples beyond it), ``peak_rss_mb`` and ``cold_start_s``, the first
   set-up.

With ``--trace 1`` the warm-up pass is followed by untraced and traced
passes in the order of ``TRACED_ORDER``, whatever ``--seconds`` says:
spans around calls into the program's layers (``tracing.py``), Catalyst
phase times, codegen counters, cache entries left behind and the Spark
event log give the per-layer metrics, and ``trace.overhead_s`` is traced
minus untraced pass time. Spans and one record per query are written to
``.perfbench_out/``.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. Everything the run writes stays
under the working directory and is removed at exit, apart from the trace
records.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

import datagen
from workloads import SF, WORKLOADS

#: set-ups per run; the first launches the JVM and is reported as
#: ``cold_start_s``, the median of the others as ``setup_s``
N_SETUPS = 4
#: timed passes a run makes at least, whatever ``--seconds`` says, so that
#: every run takes the same number of samples; the JIT is still compiling
#: in the first of them, and the median leaves it out
MIN_PASSES = 3
#: the timed passes of a traced run, traced or not, after the warm-up
#: pass: the JIT warm-up still under way weighs on both kinds alike, so
#: their difference is the tracing overhead
TRACED_ORDER = (False, True, True, False)
#: samples that must lie beyond the reported tail percentile
TAIL_BEYOND = 10

#: end-to-end metrics in the untraced run's JSON. The run also prints
#: ``cold_start_s``, ``query_tail_s`` (not on every workload) and
#: ``peak_rss_mb``; ``steal_share`` in the run information, the share of
#: the machine's CPU time taken by other virtual machines, tells a
#: contended run apart.
END_TO_END = ("setup_s", "pass_s", "query_p50_s")

#: per-layer metrics in the traced run's JSON; each is either a per-pass
#: figure over the traced passes or a set-up figure. Times that are zero on
#: some workload (``exec.gc_ms``, each ``api.<fn>.s``) are printed and
#: written to the trace record instead.
PER_LAYER = (
    "session.build_s", "registry.collect_s", "io.relay_s",
    "codegen.compiles", "codegen.compile_ms", "codegen.pass_compiles",
    "operators.build_s", "operators.eager_jobs", "operators.eager_s",
    "io.load.calls", "io.load_s", "api.calls", "api.s",
    "mllib.fit_calls", "mllib.fit_s", "mllib.fit_jobs", "mllib.jobs_per_fit",
    "plans.analysis_ms", "plans.optimization_ms", "plans.planning_ms",
    "plans.exchanges", "plans.broadcast_exchanges", "plans.smj", "plans.bhj",
    "plans.python_evals", "plans.inmemory_scans", "plans.aqe_replans",
    "exec.s", "exec.jobs", "exec.stages", "exec.tasks", "exec.run_ms",
    "exec.cpu_ms", "exec.task_wait_ms", "exec.shuffle_read_bytes",
    "exec.shuffle_write_bytes", "exec.spill_bytes", "exec.peak_mem_bytes",
    "exec.failed_tasks", "cache.entries_left", "cache.clear_s",
    "trace.overhead_s",
)


def unit(metric: str) -> str:
    for suffix, u in (("_ms", "ms"), ("_s", "s"), (".s", "s"),
                      ("_bytes", "bytes"), ("_mb", "MB")):
        if metric.endswith(suffix):
            return u
    return "count"


#: event-log figures summed over a query's jobs, by metric name
_EXEC_SUMS = ("jobs", "stages", "tasks", "run_ms", "cpu_ms", "gc_ms",
              "task_wait_ms", "shuffle_read_bytes", "shuffle_write_bytes",
              "spill_bytes", "failed_tasks")
_PLAN_COUNTS = ("plans.exchanges", "plans.broadcast_exchanges", "plans.smj",
                "plans.bhj", "plans.python_evals", "plans.inmemory_scans",
                "plans.aqe_replans")


def configure_env(run_dir: str, trace: bool) -> int:
    """Environment for the program and the JVM it launches; must be set
    before pyspark starts the JVM. Returns the core count."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    events = os.path.join(run_dir, "events")
    for d in (tmp, local, events):
        os.makedirs(d)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # the JVM that spark-submit runs first to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    args = ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
    if trace:
        for kv in ("spark.eventLog.enabled=true",
                   f"spark.eventLog.dir=file://{events}",
                   "spark.eventLog.compress=false",
                   "spark.eventLog.rolling.enabled=false"):
            args += ["--conf", kv]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    return cpus


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant: the driver JVM and the Python
    worker daemon with its workers."""
    children: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        children[int(stat.rsplit(")", 1)[1].split()[1])].append(int(entry))
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


def tree_peak_rss_mb(root: int) -> float:
    """Sum of peak resident memory (VmHWM) over the process tree."""
    total_kb = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def steal_ticks() -> tuple[int, int]:
    """Machine-wide (steal, total) CPU ticks so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def tail(samples: list[float]) -> tuple[float | None, float]:
    """The highest percentile with at least ``TAIL_BEYOND`` samples beyond
    it, as (value, percentile); (None, 0) when there are too few samples.
    The run reports the value only for a percentile above 50."""
    xs = sorted(samples)
    k = len(xs) - TAIL_BEYOND - 1
    if k < 0:
        return None, 0.0
    return xs[k], 100.0 * (k + 1) / len(xs)


class Bench:
    def __init__(self, workload, seed: int, seconds: float, trace: bool,
                 run_dir: str, cpus: int) -> None:
        self.wl = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.run_dir = run_dir
        self.cpus = cpus
        self.sf_dir = os.path.join(run_dir, "data")
        self.spark = None
        self.relays: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.failures: dict[str, str] = {}
        self.records: dict[str, dict] = {}
        self.tracer = None

    @property
    def failed_frac(self) -> float:
        """Executions that raised or whose result mismatched, over those
        attempted."""
        return self.failed / max(self.attempted, 1)

    # -- set-up --------------------------------------------------------
    def set_up(self) -> dict[str, float]:
        t0 = time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
            for path in self.relays:
                shutil.rmtree(path)
            # so that the import of the package is timed again
            for mod in [m for m in sys.modules if m == "spark_ml_spark"
                        or m.startswith("spark_ml_spark.")]:
                del sys.modules[mod]
        from spark_ml_spark import registry

        self.queries, self.oracles = registry.collect()
        t1 = time.perf_counter()
        from spark_ml_spark.session import get_spark

        self.spark = get_spark("perfbench")
        t2 = time.perf_counter()
        from spark_ml_spark.io import sources

        self.relays = [
            sources.documents_csv_path(self.spark, self.sf_dir),
            sources.documents_json_path(self.spark, self.sf_dir),
            sources.dirty_orders_csv_path(self.spark, self.sf_dir),
        ]
        t3 = time.perf_counter()
        return {"total": t3 - t0, "registry.collect_s": t1 - t0,
                "session.build_s": t2 - t1, "io.relay_s": t3 - t2}

    def codegen(self) -> tuple[int, float]:
        """Whole-stage codegen compiles so far in this JVM, and their ms."""
        jvm = self.spark._jvm
        count = (jvm.org.apache.spark.metrics.source.CodegenMetrics
                 .METRIC_COMPILATION_TIME().getCount())
        ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen \
            .CodeGenerator.compileTime()
        return count, ns / 1e6

    def jit_ms(self) -> int:
        """Milliseconds the JVM's JIT compilers have spent so far."""
        return (self.spark._jvm.java.lang.management.ManagementFactory
                .getCompilationMXBean().getTotalCompilationTime())

    # -- verification --------------------------------------------------
    def verify_pass(self, expected: dict[str, dict]) -> dict[str, float]:
        """Collect every query's result once and check it against
        ``expected``; returns the seconds each query took."""
        from verify import mismatch, spark_digest

        got: dict[str, object] = {}
        seconds: dict[str, float] = {}
        for name in self.wl.queries:
            t0 = time.perf_counter()
            try:
                got[name] = spark_digest(self.queries[name](self.spark, self.sf_dir))
            except Exception as ex:  # noqa: BLE001 - reported as a failure
                got[name] = ex
            finally:
                self.spark.catalog.clearCache()
            seconds[name] = time.perf_counter() - t0
        for name, d in got.items():
            self.attempted += 1
            why = f"raised {d!r}"[:300] if isinstance(d, Exception) \
                else mismatch(expected.get(name), d)
            if why:
                self.failed += 1
                self.failures[name] = why
        return seconds

    # -- timed passes --------------------------------------------------
    def run_query(self, name: str) -> float:
        t0 = time.perf_counter()
        df = self.queries[name](self.spark, self.sf_dir)
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def run_query_traced(self, qid: str, name: str) -> None:
        tr, sc = self.tracer, self.spark.sparkContext
        tr.qid = qid
        cg0 = self.codegen()
        with tr.span("query"):
            sc.setJobGroup(f"{qid}|build", qid)
            with tr.span("operators.build"):
                df = self.queries[name](self.spark, self.sf_dir)
            sc.setJobGroup(f"{qid}|plan", qid)
            with tr.span("plans.force"):
                qe = df._jdf.queryExecution()
                qe.executedPlan()
            phases = qe.tracker().phases()
            sc.setJobGroup(f"{qid}|exec", qid)
            with tr.span("exec"):
                df.write.format("noop").mode("overwrite").save()
            sc.setLocalProperty("spark.jobGroup.id", None)
        cg1 = self.codegen()
        rec = self.records.setdefault(qid, {"query": name})
        for phase in ("analysis", "optimization", "planning"):
            opt = phases.get(phase)
            rec[f"plans.{phase}_ms"] = opt.get().durationMs() if opt.isDefined() else 0
        rec["codegen.compiles"] = cg1[0] - cg0[0]
        rec["codegen.compile_ms"] = cg1[1] - cg0[1]

    def one_pass(self, idx: int, traced: bool) -> tuple[float, dict[str, float]]:
        """Run every query once; returns the pass's seconds and each
        query's seconds."""
        samples = {}
        # every pass starts from a collected heap, so garbage left by the
        # previous pass does not land in this one (driver and executors
        # share this JVM in local mode)
        self.spark._jvm.System.gc()
        t0 = time.perf_counter()
        for name in self.wl.queries:
            self.attempted += 1
            qid = f"p{idx}:{name}"
            try:
                if traced:
                    self.run_query_traced(qid, name)
                else:
                    samples[name] = self.run_query(name)
            except Exception as ex:  # noqa: BLE001 - reported as a failure
                self.failed += 1
                self.failures[name] = f"pass {idx} raised {ex!r}"[:300]
            finally:
                if traced:
                    jsess = self.spark._jsparkSession
                    rec = self.records.setdefault(qid, {"query": name})
                    rec["cache.entries_left"] = (
                        jsess.sharedState().cacheManager().numCachedEntries()
                        + self.spark.sparkContext._jsc.getPersistentRDDs().size())
                    with self.tracer.span("cache.clear"):
                        self.spark.catalog.clearCache()
                else:
                    self.spark.catalog.clearCache()
        return time.perf_counter() - t0, samples

    def install_tracer(self) -> None:
        import pyspark.ml.base

        import spark_ml_spark.api
        import spark_ml_spark.io.sources
        import spark_ml_spark.registry
        import spark_ml_spark.session
        from tracing import Tracer

        tracer = self.tracer = Tracer()
        for mod, layer in ((spark_ml_spark.api, "api"),
                           (spark_ml_spark.io.sources, "io"),
                           (spark_ml_spark.session, "session"),
                           (spark_ml_spark.registry, "registry")):
            tracer.patch_functions(mod, layer)
        tracer.patch_method(pyspark.ml.base.Estimator, "fit", "mllib.fit")
        # jobs a fit runs go to the query's ``fit`` job group
        traced_fit = pyspark.ml.base.Estimator.fit
        sc = self.spark.sparkContext

        def fit(estimator, *args, **kwargs):
            outer = sc.getLocalProperty("spark.jobGroup.id")
            if not tracer.enabled or outer is None:
                return traced_fit(estimator, *args, **kwargs)
            sc.setJobGroup(f"{tracer.qid}|fit", tracer.qid)
            try:
                return traced_fit(estimator, *args, **kwargs)
            finally:
                sc.setJobGroup(outer, tracer.qid)

        tracer._set(pyspark.ml.base.Estimator, "fit", fit)

    # -- the run -------------------------------------------------------
    def run(self) -> tuple[dict, dict[str, float]]:
        """Returns run information and the metrics by name."""
        inputs = datagen.input_set(self.seed)
        datagen.write_tables(self.sf_dir, SF, inputs)
        setups = [self.set_up() for _ in range(N_SETUPS)]
        from pyspark.version import __version__ as pyspark_version

        from spark_ml_spark.io.sources import TABLES, fixture_key
        from verify import expected_for, load_expected

        info = {
            "workload": self.wl.name, "seed": self.seed, "input_set": inputs,
            "sf": SF, "cpus": self.cpus, "pyspark": pyspark_version,
            "java": self.spark._jvm.System.getProperty("java.version"),
            "fixture_key": fixture_key(self.sf_dir, *TABLES),
        }
        t0 = time.perf_counter()
        info["verify_query_s"] = self.verify_pass(
            expected_for(load_expected(), inputs))
        info["verify_s"] = time.perf_counter() - t0
        info["setups"] = setups
        # the counters start with the JVM, so this is set-up plus warm-up
        cg_warm = self.codegen()

        if self.trace:
            self.install_tracer()
        walls, traced_walls = [], []
        per_query: dict[str, list[float]] = defaultdict(list)
        self.one_pass(0, traced=False)
        steal0, jit0 = steal_ticks(), self.jit_ms()
        t_run = time.perf_counter()
        while True:
            done = len(walls) + len(traced_walls)
            if self.trace:
                if done == len(TRACED_ORDER):
                    break
                traced = self.tracer.enabled = TRACED_ORDER[done]
            else:
                elapsed = time.perf_counter() - t_run
                if done >= MIN_PASSES and elapsed + elapsed / done > self.seconds:
                    break
                traced = False
            wall, qs = self.one_pass(done + 1, traced)
            if traced:
                traced_walls.append(wall)
            else:
                walls.append(wall)
                for name, t in qs.items():
                    per_query[name].append(t)
        if self.tracer:
            self.tracer.enabled = False
        info["passes"] = len(walls)
        steal1 = steal_ticks()
        info["pass_walls"] = walls
        info["steal_share"] = (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)
        # JIT compile time of the JVM during the timed passes, per pass:
        # the warm-up still under way, which the spread of pass times
        # follows
        info["pass_jit_s"] = (self.jit_ms() - jit0) / 1000 / (
            len(walls) + len(traced_walls))
        info["traced_passes"] = len(traced_walls)
        info["peak_rss_mb"] = tree_peak_rss_mb(os.getpid())
        info["failed_frac"] = self.failed_frac
        info["failures"] = self.failures

        info["query_s"] = {n: statistics.median(v) for n, v in per_query.items()}

        if self.trace:
            self.tracer.restore()
            stop_spark(self.spark)
            self.spark = None
            layer = self.per_layer(setups, cg_warm, statistics.median(walls),
                                   statistics.median(traced_walls))
            self.write_trace(info, layer)
            return info, layer
        samples = [t for v in per_query.values() for t in v]
        metrics = {
            "setup_s": statistics.median(s["total"] for s in setups[1:]),
            "cold_start_s": setups[0]["total"],
            "pass_s": statistics.median(walls),
            # the median of all samples would fall, on a workload of few
            # queries, in the gap between two queries' times, where it
            # follows the extreme samples of both
            "query_p50_s": statistics.median(info["query_s"].values()),
            "peak_rss_mb": info["peak_rss_mb"],
        }
        info["query_samples"] = len(samples)
        value, pct = tail(samples)
        info["query_tail_percentile"] = pct
        if pct > 50:
            metrics["query_tail_s"] = value
        return info, metrics

    def per_layer(self, setups, cg_warm, untraced_pass,
                  traced_pass) -> dict[str, float]:
        """Per-layer metrics: set-up figures are medians over the set-ups;
        the rest are per traced pass."""
        import spark_ml_spark.api
        from tracing import parse_event_log, public_functions

        events_dir = os.path.join(self.run_dir, "events")
        log = parse_event_log(sorted(
            os.path.join(events_dir, f) for f in os.listdir(events_dir)))
        selfs = self.tracer.self_times()
        for qid, rec in self.records.items():
            spans = selfs.get(qid, {})
            rec["self_s"] = {n: v[1] for n, v in spans.items()}
            rec["calls"] = {n: v[0] for n, v in spans.items()}
            steps = log.get(qid, {})
            rec["jobs"] = {step: dict(v) for step, v in steps.items()}
        # sums over every traced pass, divided by their number at the end
        tot: dict[str, float] = defaultdict(float, {k: 0.0 for k in PER_LAYER})
        for fn in public_functions(spark_ml_spark.api):
            tot[f"api.{fn}.calls"] = tot[f"api.{fn}.s"] = 0.0
        peak_mem = 0
        for rec in self.records.values():
            s, c = rec["self_s"], rec["calls"]
            tot["codegen.pass_compiles"] += rec["codegen.compiles"]
            tot["operators.build_s"] += s.get("operators.build", 0.0)
            tot["io.load.calls"] += c.get("io.load", 0)
            tot["io.load_s"] += s.get("io.load", 0.0)
            tot["mllib.fit_calls"] += c.get("mllib.fit", 0)
            tot["mllib.fit_s"] += s.get("mllib.fit", 0.0)
            for k, v in s.items():
                if k.startswith("api."):
                    tot["api.calls"] += c[k]
                    tot["api.s"] += v
                    tot[f"{k}.calls"] += c[k]
                    tot[f"{k}.s"] += v
            tot["exec.s"] += s.get("exec", 0.0)
            tot["cache.entries_left"] += rec["cache.entries_left"]
            tot["cache.clear_s"] += s.get("cache.clear", 0.0)
            for phase in ("analysis", "optimization", "planning"):
                tot[f"plans.{phase}_ms"] += rec[f"plans.{phase}_ms"]
            for step in ("build", "fit"):
                eager = rec["jobs"].get(step, {})
                tot["operators.eager_jobs"] += eager.get("jobs", 0)
                tot["operators.eager_s"] += eager.get("job_ms", 0) / 1000
            tot["mllib.fit_jobs"] += rec["jobs"].get("fit", {}).get("jobs", 0)
            for step in rec["jobs"].values():
                for k in _EXEC_SUMS:
                    tot[f"exec.{k}"] += step.get(k, 0)
                for k in _PLAN_COUNTS:
                    tot[k] += step.get(k, 0)
                peak_mem = max(peak_mem, step.get("peak_mem_bytes", 0))
        n = len({qid.split(":")[0] for qid in self.records})
        out = {k: v / n for k, v in tot.items()}
        for key in ("session.build_s", "registry.collect_s", "io.relay_s"):
            out[key] = statistics.median(s[key] for s in setups[1:])
        out["codegen.compiles"], out["codegen.compile_ms"] = cg_warm
        out["exec.peak_mem_bytes"] = peak_mem
        out["mllib.jobs_per_fit"] = (
            tot["mllib.fit_jobs"] / tot["mllib.fit_calls"]
            if tot["mllib.fit_calls"] else 0.0)
        out["trace.overhead_s"] = traced_pass - untraced_pass
        return out

    def write_trace(self, info: dict, layer: dict) -> None:
        """Spans, one record per query and the per-layer totals."""
        out_dir = ".perfbench_out"
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"trace-{self.wl.name}-s{self.seed}.json")
        with open(path, "w") as f:
            json.dump({"info": info, "per_layer": layer,
                       "queries": self.records, "spans": self.tracer.spans}, f)
        info["trace_file"] = path


@contextmanager
def scratch(run_dir: str):
    """Remove ``run_dir`` and every ``.cache`` relay made meanwhile on exit."""
    cache = os.path.join(os.getcwd(), ".cache")
    before = set(os.listdir(cache)) if os.path.isdir(cache) else set()
    try:
        yield
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        if os.path.isdir(cache):
            for entry in set(os.listdir(cache)) - before:
                shutil.rmtree(os.path.join(cache, entry), ignore_errors=True)


def stop_spark(spark) -> None:
    """Stop the session and the JVM that pyspark launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - any failure to exit: kill it
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a stop request still runs the clean-up below and stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join("spark_ml_spark", "registry.py")) or \
            not os.path.isfile(os.path.join("tools", "driver_check.py")):
        print("perfbench: run from the repository root; spark_ml_spark/ and "
              "tools/driver_check.py are missing here", file=sys.stderr)
        return 2
    sys.path.insert(0, os.getcwd())

    run_dir = os.path.abspath(os.path.join(
        ".perfbench_run", f"{args.workload}-s{args.seed}-{os.getpid()}"))
    with scratch(run_dir):
        cpus = configure_env(run_dir, bool(args.trace))
        bench = Bench(WORKLOADS[args.workload], args.seed, args.seconds,
                      bool(args.trace), run_dir, cpus)
        try:
            result = bench.run()
        finally:
            if bench.spark is not None:
                stop_spark(bench.spark)

    info, metrics = result
    reported = PER_LAYER if args.trace else END_TO_END
    print("# " + json.dumps(info, sort_keys=True))
    print(f"failed_frac {info['failed_frac']:.4f} (of {bench.attempted} executions)")
    for name in sorted(metrics):
        print(f"{name} {metrics[name]:.6g} {unit(name)}")
    if not args.trace:
        pct, n = info["query_tail_percentile"], info["query_samples"]
        print(f"query_tail_s is the p{pct:.1f} of {n} query samples" if pct > 50
              else f"query_tail_s not reported: {n} query samples leave only "
                   f"p{pct:.1f} with {TAIL_BEYOND} beyond it")
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": metrics[k], "unit": unit(k)} for k in reported},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
