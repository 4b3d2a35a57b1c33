#!/usr/bin/env python3
"""Benchmark of the engine: one workload per invocation.

    python3 perfbench/run.py --workload infer_scale --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from ``--seed``, sets the engine up
twice in one process, each time in a new JVM (``setup_s`` is the median
set-up), then runs the workload's operations in a closed loop from a
single client on ``local[<cores>]`` (half the CPUs, see main) for
``--seconds`` (rounded up to whole rounds), checking every result, the
untimed warm-up operations included. The last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json; with ``--trace 1`` they are the per-layer metrics of a
traced run (see spans.py and layers.py). Metric definitions, tail
percentiles and the layer map are in spec.json. The line before the
result is a diagnostics JSON object: machine load (loadavg and the
fixed single-thread DuckDB canary of bench.py, at start and end),
input sizes, sample counts and failure messages.

Generated inputs and Spark scratch space live under ``.perfbench_work/``
in the checkout and are removed at exit. A traced run also writes its
spans and per-operation records to
``.perfbench_traces/<workload>-seed<seed>.json``.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager, nullcontext
from pathlib import Path

T_START = time.perf_counter()
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]

from workloads import make, sink, warm_up  # noqa: E402  (after the path setup)
PKG = "embarrassingly_parallel_image_classification_spark"
SETUP_REPS = 2


def parse_args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def proc_status_mb(pid: int | str, field: str) -> float:
    """A memory field of /proc/<pid>/status (VmHWM: peak resident set,
    VmRSS: resident set now), in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024.0
    raise KeyError(field)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers it
    forked) to exit: the gateway JVM exits when its stdin closes. The
    next get_spark then launches a new JVM."""
    from pyspark import SparkContext

    proc = spark.sparkContext._gateway.proc
    spark.stop()
    spark.sparkContext._gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def cpu_shares() -> dict:
    """Cumulative CPU time of the machine by state, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = f.readline().split()[1:9]
    return dict(zip(("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal"),
                    map(int, fields)))


def percentile(values: list[float], p: float) -> float:
    import numpy as np

    return float(np.percentile(values, p))


def geomean(values) -> float:
    values = list(values)
    return math.exp(sum(map(math.log, values)) / len(values))


class Bench:
    def __init__(self, args: argparse.Namespace, work: Path):
        self.args = args
        self.work = work
        self.fixture = str(HERE / "fixture" / "sf0.01")
        self.spec = json.loads((HERE / "spec.json").read_text())
        self.wl = make(args.workload, args.seed, str(work), self.fixture)
        self.setup_parts: dict[str, list[float]] = {}
        self.setup_s: list[float] = []
        self.records: list[dict] = []
        self.failures: list[str] = []
        self.spark = None
        self.tracer = None
        self.cpu_during: dict[str, float] = {}
        self.first_timed_op_s = 0.0

    @contextmanager
    def timed(self, name: str):
        t0 = time.perf_counter()
        yield
        self.setup_parts.setdefault(name, []).append(time.perf_counter() - t0)

    # -- set-up -------------------------------------------------------------
    def set_up(self) -> None:
        from embarrassingly_parallel_image_classification_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work / 'tmp'}",
        }
        if self.args.trace:
            conf["spark.sql.pyspark.udf.profiler"] = "perf"
        for _ in range(SETUP_REPS):
            # every set-up launches its own JVM, as a new process would
            if self.spark is not None:
                stop_spark(self.spark)
                self.spark = None
            t0 = time.perf_counter()
            with self.timed("session.start_s"):
                self.spark = get_spark(f"perfbench-{self.wl.name}", conf)
            self.spark.sparkContext.setLogLevel("ERROR")
            with self.timed("session.warmup_s"):
                warm_up(self.spark)
            self.wl.setup(self.spark, self.timed)
            self.setup_s.append(time.perf_counter() - t0)

    # -- one operation ---------------------------------------------------------
    def run_op(self, op, traced: bool, warm: bool = False) -> None:
        tr = self.tracer if traced else None
        span = tr.span if tr else (lambda *a, **k: nullcontext())
        rec = {"kind": op.kind, "rows": op.rows, "traced": traced, "warm": warm}
        if tr:
            tr.op_id = str(len(self.records))
            self.spark.profile.clear()
        err = None
        t0 = time.perf_counter()
        try:
            with span("op"):
                with span("registry.build"):
                    df = op.build()
                if tr:
                    with span("catalyst.plan"):
                        df._jdf.queryExecution().executedPlan()
                with span("exec.sink"):
                    result = sink(df, op.sink)
            rec["wall"] = time.perf_counter() - t0
            err = op.check(result)
        except Exception as e:  # an operation that raises is a counted failure
            rec["wall"] = time.perf_counter() - t0
            traceback.print_exc()
            err = "".join(traceback.format_exception_only(type(e), e)).strip()
        finally:
            if tr:
                tr.op_id = None
        if err:
            rec["error"] = err
            self.failures.append(f"{op.kind}: {err}"[:2000])
            print(f"FAILED {op.kind}: {err}"[:2000], file=sys.stderr)
        if tr:
            from layers import udf_profile

            rec["op_id"] = str(len(self.records))
            rec["profile"] = udf_profile(self.spark)
        self.records.append(rec)

    # -- measurement --------------------------------------------------------
    def measure(self) -> None:
        # untimed warm-up operations, checked and counted like the rest
        for op in self.wl.warm(self.spark):
            self.run_op(op, traced=False, warm=True)
        seconds = self.args.seconds
        cpu0 = cpu_shares()
        start = time.perf_counter()
        self.first_timed_op_s = start - T_START
        pairs = 0
        for ops in self.wl.rounds(self.spark):
            for op in ops:
                if not self.args.trace:
                    self.run_op(op, traced=False)
                    continue
                # the same operation untraced and traced, the order
                # alternating (a second run is warmer): the pair gives
                # the tracing overhead
                first = pairs % 2 == 1
                pairs += 1
                self.run_op(op, traced=first)
                self.run_op(op, traced=not first)
            # whole rounds, so every query of a pass has as many samples
            if time.perf_counter() - start >= seconds:
                break
        # where the machine's CPU time went while measuring: steal is time
        # the hypervisor gave to other guests
        cpu1 = cpu_shares()
        total = sum(cpu1.values()) - sum(cpu0.values())
        self.cpu_during = {k: round((cpu1[k] - cpu0[k]) / total, 4) for k in cpu1}

    # -- results ------------------------------------------------------------
    def memory(self) -> dict:
        """Memory of the JVM (the py4j gateway child) and of this driver
        process at the end of the run, MiB: the resident-set peaks, and
        what the JVM still holds after full collections (heap and
        non-heap in use). The JVM's resident set is not used: it follows
        when G1 chose to grow or return its heap."""
        jvm = self.spark.sparkContext._gateway.proc.pid
        mem = {
            "jvm_peak": proc_status_mb(jvm, "VmHWM"),
            "python_peak": proc_status_mb("self", "VmHWM"),
            "python": proc_status_mb("self", "VmRSS"),
        }
        # py4j proxies caught in Python reference cycles keep their JVM
        # objects (plans, broadcast relations) alive until Python's own
        # collector runs, and when it last ran depends on the run length
        gc.collect()
        lang = self.spark._jvm.java.lang
        bean = lang.management.ManagementFactory.getMemoryMXBean()
        # Spark's ContextCleaner drops the blocks and shuffles of
        # collected references asynchronously, after a collection:
        # collect again until the heap stops shrinking
        live = float("inf")
        for _ in range(10):
            lang.System.gc()
            used = bean.getHeapMemoryUsage().getUsed() / 2**20
            if used > live - 1:
                break
            live = used
            time.sleep(0.5)
        mem["jvm_heap_live"] = min(live, used)
        mem["jvm_non_heap"] = bean.getNonHeapMemoryUsage().getUsed() / 2**20
        return mem

    def end_to_end(self, mem: dict) -> dict:
        """Each query's median and tail over its own operations, then the
        geometric mean over the queries, so that every query of a mixed
        pass moves the figures by its own relative change."""
        tail_p = self.spec["workloads"][self.wl.name]["tail_percentile"]
        walls: dict[str, list[float]] = {}
        rows: dict[str, int] = {}
        for r in self.records:
            if not r["traced"] and not r["warm"]:
                walls.setdefault(r["kind"], []).append(r["wall"])
                rows[r["kind"]] = r["rows"]
        ok = sum(1 for r in self.records if "error" not in r)
        return {
            "setup_s": statistics.median(self.setup_s),
            "query_s_p50": geomean(statistics.median(w) for w in walls.values()),
            "query_s_tail": geomean(percentile(w, tail_p) for w in walls.values()),
            "rows_per_s": geomean(rows[k] / statistics.median(w) for k, w in walls.items()),
            "live_mb": mem["jvm_heap_live"] + mem["jvm_non_heap"] + mem["python"],
            "ok_ratio": ok / len(self.records),
        }

    def per_layer(self) -> dict:
        """Fold Spark's job, stage and SQL metrics into the traced
        records (read once, after the measurement), write the spans and
        records out, and return the per-layer metrics."""
        from layers import collect_op, per_layer

        sql = self.tracer.sql_executions()
        for rec in self.records:
            if rec["traced"]:
                rec.update(collect_op(self.tracer, rec["op_id"], sql, rec["profile"]))
        out = ROOT / ".perfbench_traces" / f"{self.wl.name}-seed{self.args.seed}.json"
        out.parent.mkdir(exist_ok=True)
        out.write_text(json.dumps({"spans": self.tracer.spans, "records": self.records}))
        setup = {k: statistics.median(v) for k, v in self.setup_parts.items()}
        return per_layer([r for r in self.records if not r["warm"]], setup)


def main() -> int:
    args = parse_args()
    if not (ROOT / PKG / "__init__.py").is_file():
        print(f"package {PKG} not found under {ROOT}", file=sys.stderr)
        return 2
    # Task slots: half the CPUs. A task of an Arrow UDF streams to a
    # Python worker of its own, and the driver's scheduler, planner, JIT
    # and GC threads run beside the tasks, so a slot on every CPU
    # oversubscribes them. On 4 vCPUs of a shared VM, 2 slots were no
    # slower than 4 on infer_scale (median call 2.3-2.6 s against 2.7 s
    # in the quietest run with 4), and driver_chain stopped drifting
    # within a run (k-core 3.0-3.2 s per pass against 3.0 falling to 2.1).
    nproc = len(os.sched_getaffinity(0))
    cores = max(1, nproc // 2)
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    # Python workers import the package: make the checkout importable for
    # them, and keep every scratch file inside the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    bench = None
    try:
        import bench as repo_bench

        canary_start = repo_bench.contention_canary(str(HERE / "fixture" / "sf0.01"))
        bench = Bench(args, work)
        inputs = bench.wl.generate()
        bench.set_up()
        if args.trace:
            from spans import Tracer

            bench.wl.probe_layers(bench.spark, bench.timed)
            bench.tracer = Tracer(bench.spark)
            bench.tracer.install(bench.spark)
        bench.measure()
        if bench.tracer:
            bench.tracer.uninstall()
        mem = bench.memory()
        metrics = bench.per_layer() if args.trace else bench.end_to_end(mem)
        canary_end = repo_bench.contention_canary(str(HERE / "fixture" / "sf0.01"))
    finally:
        if bench is not None and bench.spark is not None:
            stop_spark(bench.spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()  # unless another run is using it
        except OSError:
            pass

    units = {
        m["name"]: m["unit"]
        for m in json.loads((ROOT / "BENCHMARK.json").read_text())[
            "per_layer" if args.trace else "end_to_end"
        ]
    }
    missing = set(units) - set(metrics)
    if missing:
        print(f"metrics not produced: {sorted(missing)}", file=sys.stderr)
        return 3
    attempted = len(bench.records)
    failed = sum(1 for r in bench.records if "error" in r)
    print(json.dumps({
        "workload": args.workload,
        "seed": args.seed,
        "nproc": nproc,
        "cores": cores,
        "load": {"start": canary_start, "end": canary_end, "cpu_during": bench.cpu_during},
        "inputs": inputs,
        "samples": sum(1 for r in bench.records if not (r["traced"] or r["warm"])),
        "tail_percentile": bench.spec["workloads"][args.workload]["tail_percentile"],
        "memory_mb": mem,
        "setup_reps_s": bench.setup_s,
        "first_timed_op_s": bench.first_timed_op_s,
        "setup_parts_s": bench.setup_parts,
        "warm_ops": [[r["kind"], round(r["wall"], 4)] for r in bench.records if r["warm"]],
        "ops": [[r["kind"], round(r["wall"], 4)] for r in bench.records
                if not (r["traced"] or r["warm"])],
        "failures": bench.failures,
    }))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": metrics[n], "unit": u} for n, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
