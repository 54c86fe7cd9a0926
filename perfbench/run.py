"""Benchmark of the ETL engine: one workload per run, closed loop, one client.

Usage (from the repository root)::

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10 --trace 0

One driver process with one client thread builds each registered query of
the workload with ``queries()[name](spark, sf)`` and forces it with a
``noop`` write before the next is dispatched. Spark runs on
``local[$SPARK_GRAFT_CPUS]`` (default: the cores this process may use).
The seed fixes the order of the queries within every sweep; the input
tables are fixed (``datagen.py``) and written once per checkout.

A run: set up the session and registry, run one cold sweep, then warm
sweeps until the sweeps have measured ``--seconds`` (at least
``MIN_WARM_SWEEPS`` of them). The last warm sweep also collects every
query with ``toPandas()`` outside the timed region and diffs it against
its DuckDB oracle.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced warm sweeps with traced ones, during which a Spark event-log
listener is attached, and prints the per-layer metrics. The last line of
standard output is one JSON object; a per-query artifact is written under
the build directory (``$CARGO_TARGET_DIR``, default ``.bench_build``).
"""

from __future__ import annotations

import argparse
import gc
import glob
import json
import os
import platform
import random
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "ssn_college_software_architecture_assignments__spark"
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import procstat  # noqa: E402
from spans import Tracer, fold, read_event_log  # noqa: E402
from workloads import MODULES, WORKLOADS  # noqa: E402

MIN_WARM_SWEEPS = 3
MIN_TRACED_SWEEPS = 1
CATALOG_REPEATS = 3
# The bounded end-to-end metrics. Sweeps are measured in CPU seconds: on a
# shared host, wall time follows the neighbours' load (runs of one commit
# spread by a third and more), while the CPU a sweep uses repeats within a
# few percent. The wall-clock times are reported beside them. Warm CPU is
# averaged over the warm sweeps, not a median: background JIT compilation
# moves CPU between consecutive sweeps, but their total repeats.
END_TO_END_UNITS = {
    "setup_s": "s",
    "cold_sweep_cpu_s": "s",
    "sweep_cpu_s": "s",
    "jvm_peak_rss_mb": "MB",
}
WALL_CLOCK_UNITS = {
    "cold_sweep_s": "s",
    "sweep_s": "s",
    "query_geomean_s": "s",
}
MODULE_UNITS = {
    "build_s": "s",
    "force_s": "s",
    "jobs": "count",
    "stages": "count",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "shuffle_mb": "MB",
}
WORKLOAD_LAYER_UNITS = {
    "session.build_s": "s",
    "registry.load_s": "s",
    "catalog.resolve_s": "s",
    "codegen.compiles": "count",
    "codegen.compile_s": "s",
    "pyworker.cpu_s": "s",
    "driver.py_cpu_s": "s",
    "spark.busy_cores": "cores",
    "spark.gc_s": "s",
    "spark.spill_mb": "MB",
    "spark.input_mb": "MB",
    "spark.output_mb": "MB",
    "spark.unattributed_jobs": "count",
    "scratch.cached_rdds_after": "count",
    "scratch.disk_mb": "MB",
    "trace.overhead_s": "s",
}


def layer_units() -> dict[str, str]:
    units = {
        f"{m}.{k}": unit for m in MODULES for k, unit in MODULE_UNITS.items()
    }
    units.update(WORKLOAD_LAYER_UNITS)
    return units


class BenchError(Exception):
    """The benchmark cannot produce a valid result (no result is printed)."""


class Bench:
    def __init__(self, args, run_dir: str, data_dir: str):
        self.workload = WORKLOADS[args.workload]
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.run_dir = run_dir
        self.data_dir = data_dir
        self.failed: dict[str, str] = {}
        self.detail = {
            q: {"cold_s": None, "warm_s": [], "build_s": [], "force_s": [], "warm_cpu_s": []}
            for q in self.workload.queries
        }
        self.layers: dict[str, float] = {}
        self.phases: dict[str, float] = {}

    # -- set-up ---------------------------------------------------------

    def setup(self) -> None:
        t0 = time.perf_counter()
        from ssn_college_software_architecture_assignments__spark import (
            build_session,
            registry,
        )

        spark = build_session(
            app_name=f"perfbench-{self.workload.name}",
            extra_confs={
                "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
                # a heap fixed at its maximum: with G1 sizing it per run,
                # peak RSS of one commit ranged from 0.9 to 1.5 GB
                "spark.driver.extraJavaOptions": (
                    f"-Xms{os.environ['SPARK_DRIVER_MEMORY']} "
                    f"-Djava.io.tmpdir={os.environ['TMPDIR']}"
                ),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        t1 = time.perf_counter()
        queries = registry.all_queries()
        t2 = time.perf_counter()
        self.setup_s = procstat.seconds_since_start()
        self.layers["session.build_s"] = t1 - t0
        self.layers["registry.load_s"] = t2 - t1
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.jvm_pid = int(self.jvm.java.lang.ProcessHandle.current().pid())
        missing = [q for q in self.workload.queries if q not in queries]
        if missing:
            raise BenchError(f"queries not registered: {missing}")
        self.queries = {q: queries[q] for q in self.workload.queries}
        self.oracles = registry.all_oracles()

    def fingerprint(self) -> dict:
        import pyspark

        requested = int(os.environ["SPARK_GRAFT_CPUS"])
        fp = {
            "master": self.sc.master,
            "default_parallelism": self.sc.defaultParallelism,
            "SPARK_GRAFT_CPUS": requested,
            "nproc": len(os.sched_getaffinity(0)),
            "os_cpu_count": os.cpu_count(),
            "cpu_model": procstat.cpu_model(),
            "pyspark": pyspark.__version__,
            "python": platform.python_version(),
            "java": self.jvm.java.lang.System.getProperty("java.version"),
            "SPARK_DRIVER_MEMORY": os.environ["SPARK_DRIVER_MEMORY"],
            "SPARK_LOCAL_DIRS": os.environ["SPARK_LOCAL_DIRS"],
            "TMPDIR": os.environ["TMPDIR"],
        }
        if fp["master"] != f"local[{requested}]" or fp["default_parallelism"] != requested:
            raise BenchError(
                f"session parallelism does not match the requested core budget: "
                f"master={fp['master']} defaultParallelism="
                f"{fp['default_parallelism']} SPARK_GRAFT_CPUS={requested}"
            )
        return fp

    # -- sweeps -----------------------------------------------------------

    def _set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, "perfbench")

    def sweep(self, order, kind: str, check=None) -> dict:
        """Build and force every query once. ``kind`` is ``cold``, ``warm``
        or ``traced``; returns the sweep's total and, when traced, its
        tracer and side counters."""
        traced = kind == "traced"
        tracer = Tracer(set_group=self._set_group) if traced else None
        out = {"total_s": 0.0, "cpu_s": 0.0, "py_cpu_s": 0.0, "cached_rdds_after": 0}
        for name in order:
            fn = self.queries[name]
            try:
                if traced:
                    with tracer.span(name, module=_module_of(fn)):
                        cpu0 = time.process_time()
                        with tracer.span("build", group=True) as b:
                            df = fn(self.spark, self.data_dir)
                        out["py_cpu_s"] += time.process_time() - cpu0
                        with tracer.span("force", group=True) as f:
                            df.write.format("noop").mode("overwrite").save()
                    build_s, force_s = b.duration, f.duration
                else:
                    cpu0 = self.cpu_s()
                    t0 = time.perf_counter()
                    df = fn(self.spark, self.data_dir)
                    t1 = time.perf_counter()
                    df.write.format("noop").mode("overwrite").save()
                    t2 = time.perf_counter()
                    cpu_s = self.cpu_s() - cpu0
                    build_s, force_s = t1 - t0, t2 - t1
            except Exception as exc:  # a failing query must not end the run
                self.failed.setdefault(name, f"{kind} sweep: {type(exc).__name__}: {exc}")
                continue
            out["total_s"] += build_s + force_s
            d = self.detail[name]
            if not traced:
                out["cpu_s"] += cpu_s
            if kind == "cold":
                d.update(
                    cold_s=build_s + force_s,
                    cold_build_s=build_s,
                    cold_force_s=force_s,
                    cold_cpu_s=cpu_s,
                )
            elif kind == "warm":
                d["warm_s"].append(build_s + force_s)
                d["build_s"].append(build_s)
                d["force_s"].append(force_s)
                d["warm_cpu_s"].append(cpu_s)
            if check is not None:
                check(name, df)
            del df
            if traced:
                gc.collect()
                out["cached_rdds_after"] = max(
                    out["cached_rdds_after"], self.sc._jsc.getPersistentRDDs().size()
                )
        out["tracer"] = tracer
        return out

    def warm_phase(self, order, check, cold_s: float) -> tuple[list[dict], list[dict]]:
        """Warm sweeps until the cold and warm sweeps together have measured
        ``--seconds`` and at least ``MIN_WARM_SWEEPS`` untraced warm sweeps
        ran. A traced run alternates untraced and traced sweeps and runs at
        least ``MIN_TRACED_SWEEPS`` traced ones. The last sweep is untraced
        and carries the output check, so it has to be known in advance: it
        is the one predicted to reach the limit, taking a sweep to last as
        long as the previous one (half the cold sweep before any)."""
        warm, traced = [], []
        spent, next_s = cold_s, cold_s / 2
        while True:
            if self.traced and len(traced) < len(warm):
                res = self.traced_sweep(order)
                traced.append(res)
            else:
                final = (
                    spent + next_s >= self.seconds
                    and len(warm) + 1 >= MIN_WARM_SWEEPS
                    and (not self.traced or len(traced) >= MIN_TRACED_SWEEPS)
                )
                res = self.sweep(order, "warm", check if final else None)
                warm.append(res)
                if final:
                    return warm, traced
            spent += res["total_s"]
            next_s = res["total_s"]

    # -- tracing ----------------------------------------------------------

    def traced_sweep(self, order) -> dict:
        jsc = self.sc._jsc.sc()
        log_dir = os.path.join(self.run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        app = f"{self.sc.applicationId}-sweep{len(os.listdir(log_dir))}"
        conf = (
            jsc.conf()
            .clone()
            .set("spark.eventLog.compress", "false")
            .set("spark.eventLog.rolling.enabled", "false")
        )
        listener = self.jvm.org.apache.spark.scheduler.EventLoggingListener(
            app,
            self.jvm.scala.Option.empty(),
            self.jvm.java.net.URI.create("file://" + os.path.abspath(log_dir)),
            conf,
            jsc.hadoopConfiguration(),
        )
        listener.start()
        jsc.addSparkListener(listener)
        py0 = procstat.python_tree_cpu_s(self.jvm_pid)
        wall0 = time.perf_counter()
        try:
            res = self.sweep(order, "traced")
        finally:
            wall = time.perf_counter() - wall0
            res_py = procstat.python_tree_cpu_s(self.jvm_pid) - py0
            jsc.listenerBus().waitUntilEmpty()
            jsc.removeSparkListener(listener)
            listener.stop()
        (path,) = glob.glob(os.path.join(log_dir, app + "*"))
        with open(path) as fh:
            events = read_event_log(fh)
        res["fold"] = fold(res["tracer"], events)
        res["wall_s"] = wall
        res["pyworker_cpu_s"] = max(res_py, 0.0)
        res["disk_mb"] = procstat.dir_mb(os.environ["TMPDIR"])
        return res

    def traced_layers(self, traced: list[dict]) -> None:
        per_sweep: list[dict[str, float]] = []
        for res in traced:
            m = dict.fromkeys(
                (f"{mod}.{k}" for mod in MODULES for k in MODULE_UNITS), 0.0
            )
            tracer = res["tracer"]
            for s in tracer.spans:
                if s.parent is not None:
                    continue  # a query span: its build/force are its children
                mod = s.attrs["module"]
                for step in tracer.children(s):  # build, then force unless it raised
                    m[f"{mod}.{step.name}_s"] += step.duration
                for k in ("jobs", "stages", "executor_run_s", "executor_cpu_s", "shuffle_mb"):
                    m[f"{mod}.{k}"] += s.total[k]
            all_jobs = res["fold"].all_jobs
            m["spark.busy_cores"] = all_jobs["executor_run_s"] / res["wall_s"]
            m["spark.gc_s"] = all_jobs["gc_s"]
            m["spark.spill_mb"] = all_jobs["spill_mb"]
            m["spark.input_mb"] = all_jobs["input_mb"]
            m["spark.output_mb"] = all_jobs["output_mb"]
            m["spark.unattributed_jobs"] = res["fold"].unattributed_jobs
            m["pyworker.cpu_s"] = res["pyworker_cpu_s"]
            m["driver.py_cpu_s"] = res["py_cpu_s"]
            per_sweep.append(m)
        for key in per_sweep[0]:
            self.layers[key] = statistics.median(s[key] for s in per_sweep)
        self.layers["scratch.cached_rdds_after"] = max(r["cached_rdds_after"] for r in traced)
        self.layers["scratch.disk_mb"] = max(r["disk_mb"] for r in traced)

    def catalog_resolve_s(self) -> float:
        from ssn_college_software_architecture_assignments__spark.catalog import Catalog

        times = []
        for _ in range(CATALOG_REPEATS):
            t0 = time.perf_counter()
            cat = Catalog(self.spark, self.data_dir)
            for table in self.workload.tables:
                cat.table(table).schema
            times.append(time.perf_counter() - t0)
        return statistics.median(times)

    def cpu_s(self) -> float:
        """CPU seconds used so far by the harness, the JVM and its Python
        workers. The kernel charges time stolen by the hypervisor to no
        process, so unlike wall time this does not grow when the host is
        oversubscribed."""
        return procstat.tree_cpu_s(self.jvm_pid) + time.process_time()

    def codegen_counters(self) -> tuple[int, float]:
        cg = self.jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        metrics = self.jvm.org.apache.spark.metrics.source.CodegenMetrics
        return (
            int(metrics.METRIC_COMPILATION_TIME().getCount()),
            int(cg.compileTime()) / 1e9,
        )

    # -- the run ----------------------------------------------------------

    def run(self) -> dict:
        import checks

        self.setup()
        fp = self.fingerprint()
        # written once per checkout, after set-up so setup_s excludes it
        t0 = time.perf_counter()
        datagen.ensure_tables(self.data_dir)
        self.phases["datagen_s"] = time.perf_counter() - t0
        order = list(self.workload.queries)
        random.Random(self.seed).shuffle(order)
        checker = checks.Checker(self.data_dir, self.oracles)

        def check(name, df):
            t0 = time.perf_counter()
            problem = checker.check(name, df)
            self.detail[name]["check_s"] = time.perf_counter() - t0
            self.detail[name]["check"] = problem or "pass"
            if problem:
                self.failed.setdefault(name, f"check: {problem}")

        t0 = time.perf_counter()
        compiles0, compile_s0 = self.codegen_counters()
        cold = self.sweep(order, "cold")
        compiles1, compile_s1 = self.codegen_counters()
        self.phases["cold_wall_s"] = time.perf_counter() - t0
        if self.traced:
            self.layers["catalog.resolve_s"] = self.catalog_resolve_s()
            self.layers["codegen.compiles"] = compiles1 - compiles0
            self.layers["codegen.compile_s"] = compile_s1 - compile_s0
        t0 = time.perf_counter()
        warm, traced = self.warm_phase(order, check, cold["total_s"])
        self.phases["warm_wall_s"] = time.perf_counter() - t0
        for name in self.workload.queries:
            if "check" not in self.detail[name]:
                self.failed.setdefault(name, "not checked: it failed in the final sweep")
        rss = procstat.vm_hwm_mb(self.jvm_pid)
        checker.close()

        per_query = {}
        for name, d in self.detail.items():
            row = {k: v for k, v in d.items() if not isinstance(v, list)}
            if d["warm_s"]:
                row.update(
                    warm_median_s=statistics.median(d["warm_s"]),
                    warm_n=len(d["warm_s"]),
                    warm_build_median_s=statistics.median(d["build_s"]),
                    warm_force_median_s=statistics.median(d["force_s"]),
                    warm_cpu_median_s=statistics.median(d["warm_cpu_s"]),
                )
            per_query[name] = row
        medians = [r["warm_median_s"] for r in per_query.values() if "warm_median_s" in r]
        end_to_end = {
            "setup_s": self.setup_s,
            "cold_sweep_cpu_s": cold["cpu_s"],
            "sweep_cpu_s": statistics.fmean(r["cpu_s"] for r in warm),
            "jvm_peak_rss_mb": rss,
        }
        wall_clock = {
            "cold_sweep_s": cold["total_s"],
            "sweep_s": statistics.median(r["total_s"] for r in warm),
            "query_geomean_s": statistics.geometric_mean(medians) if medians else float("nan"),
        }
        if self.traced:
            self.traced_layers(traced)
            self.layers["trace.overhead_s"] = (
                statistics.median(r["total_s"] for r in traced) - wall_clock["sweep_s"]
            )
        return {
            "workload": self.workload.name,
            "seed": self.seed,
            "seconds": self.seconds,
            "trace": int(self.traced),
            "order": order,
            "fingerprint": fp,
            "warm_sweeps_s": [r["total_s"] for r in warm],
            "warm_sweeps_cpu_s": [r["cpu_s"] for r in warm],
            "traced_sweeps_s": [r["total_s"] for r in traced],
            "queries": per_query,
            "failures": self.failed,
            "fail_ratio": len(self.failed) / len(self.workload.queries),
            "end_to_end": end_to_end,
            "wall_clock": wall_clock,
            "layers": dict(self.layers),
            "phases": self.phases,
        }

    def shutdown(self) -> None:
        """Stop Spark, then wait for the JVM and its Python workers to exit."""
        from pyspark import SparkContext

        spark = getattr(self, "spark", None)
        if spark is None:
            return
        workers = procstat.python_descendants(self.jvm_pid)
        gateway = SparkContext._gateway
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                try:
                    proc.stdin.close()
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()
        deadline = time.monotonic() + 15
        while any(procstat.alive(p) for p in workers) and time.monotonic() < deadline:
            time.sleep(0.1)
        for p in workers:
            if procstat.alive(p):
                os.kill(p, 9)


def _module_of(fn) -> str:
    return fn.__module__.removeprefix(PKG + ".")


def _prepare_environment(build_dir: str, workload: str) -> str:
    run_dir = tempfile.mkdtemp(prefix=f"{workload}-", dir=os.path.join(build_dir, "runs"))
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    # HotSpot writes /tmp/hsperfdata_<user> whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData"
    ).strip()
    tempfile.tempdir = None  # re-read TMPDIR
    return run_dir


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for needed in (os.path.join(ROOT, PKG, "registry.py"), os.path.join(ROOT, "tools", "check_oracle.py")):
        if not os.path.exists(needed):
            print(f"perfbench: {needed} is missing; run from a full checkout", file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(os.path.join(build_dir, "runs"), exist_ok=True)
    os.makedirs(os.path.join(build_dir, "results"), exist_ok=True)
    run_dir = _prepare_environment(build_dir, args.workload)
    try:
        bench = Bench(args, run_dir, os.path.join(build_dir, "data", f"sf{datagen.SCALE}"))
        try:
            result = bench.run()
        except BenchError as exc:
            print(f"perfbench: {exc}", file=sys.stderr)
            return 3
        finally:
            t0 = time.perf_counter()
            bench.shutdown()
            bench.phases["shutdown_s"] = time.perf_counter() - t0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    units = END_TO_END_UNITS if not args.trace else layer_units()
    values = result["end_to_end"] if not args.trace else result["layers"]
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    artifact = os.path.join(
        build_dir, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    with open(artifact, "w") as fh:
        json.dump(result, fh, indent=1, sort_keys=True)
    for k, m in metrics.items():
        print(f"{args.workload} {k} {m['value']:.6g} {m['unit']}")
    if not args.trace:
        for k, unit in WALL_CLOCK_UNITS.items():
            print(f"{args.workload} {k} {result['wall_clock'][k]:.6g} {unit}")
    print(f"{args.workload} fail_ratio {result['fail_ratio']:.6g} ratio")
    for name, why in result["failures"].items():
        print(f"{args.workload} FAILED {name}: {why}")
    print(f"{args.workload} artifact {os.path.relpath(artifact, ROOT)}")
    print(
        json.dumps(
            {
                "correct": not result["failures"],
                "attempted": len(result["queries"]),
                "failed": len(result["failures"]),
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
