"""Closed-loop benchmark of the spark-graft engine: one client, one
operation at a time, on ``local[nproc]``.

Usage (from the repository root):

    python3 graftbench/run.py --workload star_refresh --seed 1 --seconds 8 --trace 0

A run writes its inputs from ``--seed``, then times its set-up: it starts
the program's session with ``get_spark(cpus=nproc)`` and runs one warm-up
pass and the workload's settling passes. Timed passes follow until ``--seconds`` of pass
time have accumulated, and at least three have run. A pass runs every
operation of the workload once, in an order drawn from the seed. Between
operations, outside the timed region, the benchmark clears Spark's cache
and reads its counters. Every output is checked against an oracle outside
the timed region (the star tables right after each pass, since the next
refresh overwrites them).

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs untraced
and traced passes in the order U T T U ... and prints the per-layer
metrics, including ``trace.overhead_frac`` (median traced over median
untraced pass time, minus 1).
The last line of standard output is the JSON result; the line before it
is the run record (host, versions, input sizes, per-pass samples).
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "etl_s3_to_redshift_spark"
WORK = os.path.join(ROOT, ".graftbench_work")
MIN_PASSES = 3
TRACE_PASSES = 4  # untraced, traced, traced, untraced


@dataclass
class OpRun:
    op: str
    seconds: float
    cpu_s: float
    start: float  # epoch, for matching Spark's job timestamps
    end: float
    result: object = None
    error: str | None = None
    jobs: list = field(default_factory=list)
    execs: list = field(default_factory=list)
    stats: dict | None = None


@dataclass
class Pass:
    traced: bool
    ops: list[OpRun]
    peak_rss_mb: float  # JVM and Python workers, summed

    @property
    def seconds(self) -> float:
        return sum(o.seconds for o in self.ops)

    @property
    def cpu_s(self) -> float:
        return sum(o.cpu_s for o in self.ops)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def _git_sha() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10, check=False
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def _source_sha() -> str:
    """Digest of the program's sources (the checkout may not be a git repo)."""
    h = hashlib.sha1()
    pkg = os.path.join(ROOT, PACKAGE)
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith((".py", ".sql")):
                path = os.path.join(d, f)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def _deployment_env() -> None:
    """Deployment paths only: scratch, Spark local dirs, saved-index caches."""
    tmp = os.path.join(WORK, "tmp")
    for d in ("tmp", "spark-local", "ivf", "bm25"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_IVF_CACHE"] = os.path.join(WORK, "ivf")
    os.environ["SPARK_GRAFT_BM25_CACHE"] = os.path.join(WORK, "bm25")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # keep the JVM's scratch files, including its perf-data file, in the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem"
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


class Bench:
    def __init__(self, workload, seed: int, seconds: float, trace: bool, data_dir: str, out_dir: str):
        from workloads import pass_orders, runner_for

        self.w = workload
        self.seconds = seconds
        self.trace = trace
        self.data_dir = data_dir
        self.runner = runner_for(workload, data_dir, out_dir)
        self.orders = pass_orders(workload, seed)
        self.spark = None
        self.tree = None
        self.reader = None
        self.tracer = None
        self.passes: list[Pass] = []
        self.problems: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.warmup: dict[str, object] = {}
        self.setup: dict[str, float] = {}
        self.setup_end = 0.0  # epoch seconds
        self.cores = nproc()
        self.json_input_bytes = 0

    # -- phases --------------------------------------------------------------

    def run(self) -> None:
        t0 = time.perf_counter()
        if self.trace:
            self._load_program()
            from probes import Tracer

            self.tracer = Tracer()
            self.tracer.install()
        from etl_s3_to_redshift_spark.session import get_spark

        t_session = time.perf_counter()
        self.spark = get_spark(cpus=nproc())
        self.setup["session_s"] = time.perf_counter() - t_session
        self.spark.sparkContext.setLogLevel("ERROR")
        from probes import ProcessTree, StatusReader

        self.tree = ProcessTree(self.spark.sparkContext._gateway.proc.pid)
        if self.trace:
            self.reader = StatusReader(self.spark)
        t_warm = time.perf_counter()
        warm = self._pass(traced=self.trace)
        self.setup["warmup_s"] = time.perf_counter() - t_warm
        for _ in range(self.w.settle_passes):
            self._pass(traced=False)
        self.setup["setup_s"] = time.perf_counter() - t0
        self.setup_end = time.time()
        from workloads import index_warm_frac

        self.setup["index_warm_frac"] = index_warm_frac(self.w, self.data_dir)
        # set-up outputs are not counted; the warm-up's are kept as the
        # expectation of the queries pinned to another lake
        self.warmup = {o.op: o.result for o in warm.ops}
        timed = 0.0
        while timed < self.seconds or len(self.passes) < (TRACE_PASSES if self.trace else MIN_PASSES):
            # untraced, traced, traced, untraced, ...: a steady drift in
            # pass time (JIT still warming) cancels out of the overhead
            traced = self.trace and len(self.passes) % 4 in (1, 2)
            if self.tracer is not None:
                (self.tracer.install if traced else self.tracer.uninstall)()
            p = self._pass(traced=traced)
            self.passes.append(p)
            timed += p.seconds
            self._check(p)

    def _load_program(self) -> None:
        """Import every program module, so the tracer can wrap them all."""
        import importlib
        import pkgutil

        pkg = importlib.import_module(PACKAGE)
        for m in pkgutil.walk_packages(pkg.__path__, PACKAGE + "."):
            importlib.import_module(m.name)
        from etl_s3_to_redshift_spark.queries import _load_extensions

        _load_extensions()

    def _pass(self, traced: bool) -> Pass:
        self.tree.reset_peaks()
        ops = [self._op(op, traced) for op in next(self.orders)]
        return Pass(traced, ops, sum(self.tree.peak_rss_mb().values()))

    def _op(self, op: str, traced: bool) -> OpRun:
        self.spark.catalog.clearCache()
        span = self._span_factory(op, traced)
        cpu0 = self.tree.cpu_s()
        w0 = time.time()
        t0 = time.perf_counter()
        result, error = None, None
        try:
            with span(None):
                result = self.runner.run(self.spark, op, span)
        except Exception as e:  # an operation's failure is a result, not a crash
            first_line = (str(e).strip().splitlines() or [""])[0]
            error = f"{type(e).__name__}: {first_line[:300]}"
        seconds = time.perf_counter() - t0
        w1 = time.time()
        run = OpRun(op, seconds, self.tree.cpu_s() - cpu0, w0, w1, result, error)
        if self.reader is not None:
            run.jobs, run.execs = self.reader.read()
        if traced and hasattr(self.runner, "output_stats"):
            run.stats = self.runner.output_stats()
        return run

    def _span_factory(self, op: str, traced: bool):
        if not traced:
            return lambda part: contextlib.nullcontext()
        layer = self.w.layer if self.w.layer == "queries" else "op"
        return lambda part: self.tracer.span(layer, op if part is None else f"{op}.{part}")

    def _check(self, p: Pass) -> None:
        """Check every output of a pass (outside the timed region)."""
        for o in p.ops:
            self.attempted += 1
            problem = o.error or self.runner.check(o.op, o.result, self.warmup.get(o.op))
            if problem:
                self.failed += 1
                self.problems.append(f"{o.op}: {problem}")
            o.result = None  # checked; free it

    # -- metrics -------------------------------------------------------------

    @property
    def ok_frac(self) -> float:
        """Operations that ran and matched their oracle, over those attempted."""
        return (self.attempted - self.failed) / max(self.attempted, 1)

    def end_to_end(self) -> dict[str, dict]:
        ps = self.passes
        return {
            "setup_s": {"value": self.setup["setup_s"], "unit": "s"},
            "pass_s": {"value": _median([p.seconds for p in ps]), "unit": "s"},
            "cpu_s": {"value": _median([p.cpu_s for p in ps]), "unit": "s"},
            "ok_frac": {"value": self.ok_frac, "unit": "ratio"},
        }

    def per_layer(self, declared: list[dict]) -> dict[str, dict]:
        from layers import pass_metrics, setup_metrics

        traced = [p for p in self.passes if p.traced]
        plain = [p for p in self.passes if not p.traced]
        per_pass = [pass_metrics(p, self, declared) for p in traced]
        values = {}
        for m in declared:
            values[m["name"]] = _median([pm.get(m["name"], 0.0) for pm in per_pass])
        values.update(setup_metrics(self))
        values["session.peak_rss_mb"] = _median([p.peak_rss_mb for p in traced])
        base = _median([p.seconds for p in plain])
        values["trace.overhead_frac"] = _median([p.seconds for p in traced]) / base - 1.0 if base else 0.0
        return {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]} for m in declared}

    # -- teardown ------------------------------------------------------------

    def shutdown(self) -> None:
        """Stop Spark, the JVM and its Python workers, and wait for them."""
        if self.tracer is not None:
            self.tracer.uninstall()
        with contextlib.suppress(Exception):
            self.runner.close()
        if self.spark is None:
            return
        from probes import pids_alive

        pids = self.tree.pids() if self.tree else []
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        with contextlib.suppress(Exception):
            self.spark.stop()
        if gateway is not None:
            proc = gateway.proc
            with contextlib.suppress(Exception):
                gateway.shutdown()
            with contextlib.suppress(Exception):
                proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        deadline = time.time() + 30
        while pids_alive(pids) and time.time() < deadline:
            time.sleep(0.1)
        for pid in pids_alive(pids):
            with contextlib.suppress(OSError):
                os.kill(pid, 9)


def load_declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: the program ({PACKAGE}/) is not in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    sys.path.insert(1, ROOT)
    from workloads import WORKLOADS, make_inputs

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    declared = load_declared()
    workload = WORKLOADS[args.workload]
    shutil.rmtree(WORK, ignore_errors=True)
    _deployment_env()
    record = {
        "workload": workload.name,
        "seed": args.seed,
        "trace": args.trace,
        "git_sha": _git_sha(),
        "source_sha": _source_sha(),
        "nproc": nproc(),
        "mem_total_kb": _mem_total_kb(),
        "loadavg_start": _loadavg(),
    }
    data_dir = os.path.join(WORK, "data")
    record["inputs"] = make_inputs(workload, data_dir, args.seed)
    bench = Bench(workload, args.seed, args.seconds, bool(args.trace), data_dir, os.path.join(WORK, "out"))
    if workload.layer == "sinks":  # the star workload: all its inputs are JSON
        bench.json_input_bytes = sum(v["bytes"] for v in record["inputs"].values())
    try:
        bench.run()
        spark = bench.spark
        jvm = spark.sparkContext._jvm
        record.update(
            driver_memory=spark.conf.get("spark.driver.memory", None),
            jvm_max_heap_mb=round(jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20),
            versions={
                "java": jvm.java.lang.System.getProperty("java.version"),
                "spark": spark.version,
                "python": sys.version.split()[0],
                "duckdb": __import__("duckdb").__version__,
            },
        )
        metrics = bench.per_layer(declared["per_layer"]) if args.trace else bench.end_to_end()
    finally:
        bench.shutdown()
    shutil.rmtree(WORK, ignore_errors=True)
    record.update(
        setup={k: round(v, 4) for k, v in bench.setup.items()},
        passes=len(bench.passes),
        pass_s=[round(p.seconds, 4) for p in bench.passes],
        cpu_s=[round(p.cpu_s, 4) for p in bench.passes],
        peak_rss_mb=[round(p.peak_rss_mb, 1) for p in bench.passes],
        op_s=[{o.op: round(o.seconds, 4) for o in p.ops} for p in bench.passes],
        problems=bench.problems[:20],
        loadavg_end=_loadavg(),
    )
    print("record " + json.dumps(record, sort_keys=True))
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
