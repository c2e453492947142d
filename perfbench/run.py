"""Closed-loop benchmark of the rideshare analytics engine.

    python3 perfbench/run.py --workload event_ranking --seed 1 --seconds 20 --trace 0

One client sends one operation at a time to one Spark session
(``local[nproc]``).  An operation is a registry query build plus a noop-sink
execution, or an ingest build step.  Each run:

1. reads the input tables from ``perfbench/data/sf<scale>/`` (copies of
   the project's seed-42 test tables) and sends every write to its own
   work area under ``.perfbench_work/`` in the checkout: the stage
   directory, Spark's local dirs and the ``spark-warehouse`` (it is the
   working directory); the work area is deleted at the end;
2. starts the session once: JVM launch and ``get_spark``;
3. runs a first pass that collects and checks every output (DuckDB oracle
   or rows + digest); it is the warm-up, excluded from timing and counted
   in ``setup_s`` with the session start (checks excluded);
4. runs timed passes until ``--seconds`` is used; ``--seed`` only sets the
   order of the operations in each pass;
5. re-reads every rows-only output and checks its digest did not change.

Set-up and operations are timed twice: by the wall clock and by the CPU
seconds of the whole process tree (this process, the JVM and its Python
workers).  The end-to-end metrics are the CPU-based ones: on a shared
virtual machine the hypervisor steals a varying share of the cores (2-27%
within one hour on the 4-vCPU sizing host), which moved wall-clock
throughput by up to 60% between runs of the same code.  An operation's
CPU seconds leave out the JVM's JIT compiler threads: compilation is still
running in the timed passes of a run this short and took 40-60% of an
operation's CPU there; it is warm-up, which ``setup_s`` counts.  The
wall-clock figures, the JIT seconds of the timed passes and the steal
share are in the report line.

``--trace 1`` additionally wraps the layer functions and reads Spark's
status store after every operation (see ``tracing.py``); it reports the
per-layer table instead of the end-to-end metrics.  The last stdout line
is one JSON object; the line before it is the full report.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import random
import shutil
import sys
import time
from dataclasses import dataclass
from pathlib import Path
from typing import Callable

_T0 = time.perf_counter()
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(HERE))

import pyarrow.parquet as pq  # noqa: E402
import pyspark  # noqa: E402
from pyspark.sql import DataFrame, SparkSession  # noqa: E402

from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe import stage  # noqa: E402
from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.functions.cachectl import (  # noqa: E402
    release_query_caches,
)
from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.registry import load_all  # noqa: E402
from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.session import get_spark  # noqa: E402
from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.sources import warehouse  # noqa: E402

import tracing  # noqa: E402
from check import Checker  # noqa: E402

DATA = HERE / "data"

#: rank-helper (functions.skew) and cache-pin (functions.cachectl) queries
#: whose cost is in stages and shuffles, not reads
EVENT_RANKING = (
    "mad_outlier_events",
    "customer_rfm_segments",
    "peak_concurrent_sessions",
    "session_overlap_histogram",
    "events_global_sequence",
    "quartiles_by_event_type",
)
#: two independent staged builders: the tokenizer frame (JVM) and the
#: embedding near-dup pairs (an Arrow ``mapInPandas`` kernel)
INGEST_STAGES = ("staged_features", "staged_embedding_pairs")
#: reads over the freshly rebuilt bucketed warehouses
INGEST_QUERIES = ("enrich_trips", "events_sessionize")
WORKLOADS = ("event_ranking", "ingest_refresh")
@dataclass
class Op:
    name: str
    kind: str  # "query", "stage" or "warehouse"
    build: Callable[[SparkSession], object]
    oracle: str | None = None


def _query_op(spec, sf_dir: str, **kwargs) -> Op:
    return Op(spec.name, "query", lambda spark: spec.fn(spark, sf_dir, **kwargs), spec.oracle)


def make_ops(workload: str, sf_dir: str) -> tuple[list[Op], list[Op]]:
    """(build steps, queries); each pass permutes the two groups separately
    and runs every build step before the first query."""
    registry = load_all()
    if workload == "event_ranking":
        return [], [_query_op(registry[n], sf_dir) for n in EVENT_RANKING]
    builds = [
        Op("build_trip_warehouse", "warehouse",
           lambda spark: warehouse.build_trip_warehouse(spark, sf_dir, force=True)),
        Op("build_events_warehouse", "warehouse",
           lambda spark: {"events": warehouse.build_events_warehouse(spark, sf_dir, force=True)}),
    ]
    for name in INGEST_STAGES:
        builder = getattr(stage, name)
        builds.append(Op(name, "stage", lambda spark, b=builder: b(spark, sf_dir)))
    queries = [_query_op(registry[n], sf_dir, use_warehouse=True) for n in INGEST_QUERIES]
    return builds, queries


# -- host and isolation ---------------------------------------------------
def host_info() -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_gb": round(mem_kb / 2**20, 1),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
    }


def isolate(work: Path, host: dict) -> None:
    """Point every engine and Spark write at ``work`` and size the session
    to this host (driver heap: a quarter of RAM, 1-4 GB)."""
    for sub in ("stage", "local", "tmp"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    heap_gb = max(1, min(4, int(host["mem_total_gb"] // 4)))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(host["nproc"]),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_gb}g",
        "SPARK_GRAFT_STAGE_DIR": str(work / "stage"),
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "TMPDIR": str(work / "tmp"),
        "SPARK_GRAFT_SHUFFLE": str(2 * host["nproc"]),
        # a fixed young generation: with G1's adaptive young sizing the
        # JVM's peak RSS wandered by a sixth between identical runs
        # compiler threads that never exit, so their CPU time can be read
        "JAVA_TOOL_OPTIONS": (
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData -Xmn512m"
            " -XX:-UseDynamicNumberOfCompilerThreads"
        ),
        # Python workers import the engine package from the checkout
        "PYTHONPATH": os.pathsep.join(p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p),
    })
    host["driver_mem"] = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    host["shuffle_partitions"] = int(os.environ["SPARK_GRAFT_SHUFFLE"])
    host["jvm_options"] = os.environ["JAVA_TOOL_OPTIONS"].split(" ", 1)[1]
    os.chdir(work)  # spark-warehouse/ is created in the working directory


def dir_bytes(path: Path) -> int:
    """Bytes of every file under ``path``."""
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file()) if path.exists() else 0


# -- session ----------------------------------------------------------------
def set_up() -> tuple[SparkSession, float, float]:
    """The session start a user pays: JVM launch and ``get_spark``.
    Returns the session, its wall seconds and its CPU seconds."""
    cpu_start = tree_cpu_s(os.getpid())
    start = time.perf_counter()
    spark = get_spark("perfbench")
    get_s = time.perf_counter() - start
    spark.sparkContext.setLogLevel("ERROR")
    return spark, get_s, tree_cpu_s(os.getpid()) - cpu_start


def shut_down(spark: SparkSession | None) -> None:
    """Stop the context and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def jvm_peak_rss_mb(pid: int) -> float:
    """The process's peak resident set (``VmHWM``) in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM not reported")


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, reaped children included) of ``root``
    and every live descendant."""
    stats = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended meanwhile
            continue
        # fields[1] is the parent pid; [11:15] utime, stime, cutime, cstime
        stats[int(entry.name)] = (int(fields[1]), sum(int(f) for f in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    ticks, stack = 0, [root]
    while stack:
        pid = stack.pop()
        ticks += stats.get(pid, (0, 0))[1]
        stack.extend(children.get(pid, ()))
    return ticks / os.sysconf("SC_CLK_TCK")


def jit_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of the JVM's JIT compiler threads."""
    ticks = 0
    for task in os.scandir(f"/proc/{jvm_pid}/task"):
        try:
            with open(f"{task.path}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        if "CompilerThre" in raw[: raw.rindex(")")]:  # "C1/C2 CompilerThread<n>"
            fields = raw.rsplit(")", 1)[1].split()
            ticks += int(fields[11]) + int(fields[12])
    return ticks / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from the virtual CPUs
    (``steal`` in ``/proc/stat``), summed over all of them."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def hygiene(spark: SparkSession) -> None:
    """Between operations, outside every timing: drop query-scoped cache
    pins, return the heap to a common baseline, and let the status
    listeners finish, so no operation runs beside the previous one's
    bookkeeping."""
    release_query_caches(spark)
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60_000)


# -- passes -----------------------------------------------------------------
class Run:
    """The operations of one workload, run in seeded order, and their
    attempt and failure counts."""

    def __init__(self, workload: str, seed: int, sf_dir: str, work: Path, jvm_pid: int):
        self.sf_dir = sf_dir
        self.work = work
        self.jvm_pid = jvm_pid
        self.jit_s = 0.0
        self.rng = random.Random(seed)
        self.builds, self.queries = make_ops(workload, sf_dir)
        self.attempted = 0
        self.failures: list[str] = []

    def order(self) -> list[Op]:
        return self.rng.sample(self.builds, len(self.builds)) + self.rng.sample(
            self.queries, len(self.queries)
        )

    def fail(self, op: Op, problem: str) -> None:
        self.failures.append(f"{op.name}: {problem}")
        print(f"[perfbench] FAILED {op.name}: {problem}", file=sys.stderr)

    def start_pass(self) -> None:
        if self.builds:  # ingest starts every pass from an empty stage directory
            shutil.rmtree(self.work / "stage", ignore_errors=True)
            (self.work / "stage").mkdir()

    def check_pass(self, spark: SparkSession, checker: Checker) -> tuple[float, float]:
        """First pass: run and collect every operation, check its output.
        Returns the engine's wall and CPU seconds (checks excluded)."""
        self.start_pass()
        engine_s = engine_cpu_s = 0.0
        for op in self.order():
            self.attempted += 1
            try:
                cpu_start = tree_cpu_s(os.getpid())
                start = time.perf_counter()
                out = op.build(spark)
                rows = out.collect() if isinstance(out, DataFrame) else None
                engine_s += time.perf_counter() - start
                engine_cpu_s += tree_cpu_s(os.getpid()) - cpu_start
                problem = self.check(op, spark, checker, out, rows)
            except Exception as exc:  # noqa: BLE001 - a failed op is a result
                problem = f"{type(exc).__name__}: {str(exc)[:300]}"
            if problem:
                self.fail(op, problem)
            hygiene(spark)
        return engine_s, engine_cpu_s

    def check(self, op: Op, spark, checker: Checker, out, rows) -> str | None:
        if op.kind == "warehouse":
            for source, table in out.items():
                want = pq.ParquetFile(f"{self.sf_dir}/{source}.parquet").metadata.num_rows
                got = spark.table(table).count()
                if got != want:
                    return f"{table} holds {got} rows, source {source} has {want}"
            return None
        return checker.rows(op.name, spark, op.oracle, rows, out.columns)

    def recheck(self, spark: SparkSession, checker: Checker) -> None:
        """Rows-only outputs must read back with the digest of the first pass."""
        for op in self.builds + self.queries:
            if op.kind == "warehouse" or op.oracle is not None:
                continue
            self.attempted += 1
            try:
                out = op.build(spark)
                problem = checker.rows(op.name, spark, None, out.collect(), out.columns)
            except Exception as exc:  # noqa: BLE001
                problem = f"{type(exc).__name__}: {str(exc)[:300]}"
            if problem:
                self.fail(op, problem)
            hygiene(spark)

    def cpu_s(self) -> tuple[float, float]:
        """(CPU seconds of the process tree less JIT, JIT seconds)."""
        jit = jit_cpu_s(self.jvm_pid)
        return tree_cpu_s(os.getpid()) - jit, jit

    def timed_pass(self, spark: SparkSession, tracer=None) -> list[tuple[str, float, float]]:
        """One noop-sink pass in a seeded order; returns (operation, wall
        seconds, CPU seconds) for every operation that succeeded."""
        self.start_pass()
        samples = []
        build_s = {"stage": 0.0, "warehouse": 0.0}
        for op in self.order():
            self.attempted += 1
            plan_s = 0.0
            try:
                if tracer:
                    tracer.begin_op()
                cpu_start, jit_start = self.cpu_s()
                start = time.perf_counter()
                out = op.build(spark)
                if tracer:
                    tracer.after_build(time.perf_counter() - start)
                    if isinstance(out, DataFrame):
                        plan_s = tracer.plan(out)
                sink_start = time.perf_counter()
                if isinstance(out, DataFrame):
                    out.write.format("noop").mode("overwrite").save()
                end = time.perf_counter()
                cpu_end, jit_end = self.cpu_s()
                samples.append((op.name, end - start, cpu_end - cpu_start))
                self.jit_s += jit_end - jit_start
                if op.kind in build_s:
                    build_s[op.kind] += end - start
                if tracer:
                    tracer.end_op(plan_s, end - sink_start)
            except Exception as exc:  # noqa: BLE001
                self.fail(op, f"{type(exc).__name__}: {str(exc)[:300]}")
            hygiene(spark)
        if tracer:
            totals = tracer.pass_totals
            totals["stage.build_s"] += build_s["stage"]
            totals["warehouse.build_s"] += build_s["warehouse"]
            totals["stage.bytes_written"] += dir_bytes(self.work / "stage")
            totals["warehouse.bytes_written"] += dir_bytes(self.work / "spark-warehouse")
        return samples

    def timed_passes(self, spark: SparkSession, seconds: float, tracer=None) -> tuple[list, int]:
        """Whole passes until ``seconds`` is used: another pass starts only
        if it would end less than half a pass past the budget.  Returns the
        samples of every pass and the number of passes."""
        samples = []
        passes = 0
        start = time.perf_counter()
        while True:
            pass_start = time.perf_counter()
            samples += self.timed_pass(spark, tracer)
            passes += 1
            if tracer:
                tracer.passes.append(tracer.take_pass())
            now = time.perf_counter()
            if now - start + (now - pass_start) / 2 > seconds:
                return samples, passes


def hd_quantile(samples: list[float], p: float, steps: int = 64) -> float:
    """Harrell-Davis estimate of the ``p`` quantile: a Beta-weighted mean
    of every order statistic.  A pass mixes a few operations of distinct
    cost, so the plain sample median jumps between two of them; this
    estimate moves smoothly and spreads less between runs."""
    xs = sorted(samples)
    n = len(xs)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    log_beta = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)
    h = 1 / (n * steps)
    total = 0.0
    for i, x in enumerate(xs):
        # midpoint rule over [i/n, (i+1)/n] of the Beta(a, b) density
        weight = sum(
            math.exp((a - 1) * math.log(t) + (b - 1) * math.log1p(-t) - log_beta)
            for t in ((i * steps + k + 0.5) * h for k in range(steps))
        )
        total += weight * h * x
    return total


def summarize(samples: list[tuple[str, float, float]]) -> dict[str, float]:
    wall = [s[1] for s in samples]
    cpu = [s[2] for s in samples]
    return {
        "ops_per_cpu_s": len(cpu) / sum(cpu),
        "op_cpu_p50_s": hd_quantile(cpu, 0.5),
        "ops_per_s": len(wall) / sum(wall),
        "op_p50_s": hd_quantile(wall, 0.5),
        "op_p90_s": hd_quantile(wall, 0.9),
    }


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True, choices=WORKLOADS)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--sf", default="0.01", choices=("0.01", "0.001"), help="input scale factor")
    args = parser.parse_args(argv)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e_units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer_units = {m["name"]: m["unit"] for m in spec["per_layer"]}

    phases = {"imports": time.perf_counter() - _T0}
    host = host_info()
    cores = host["nproc"]
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    isolate(work, host)
    sf_dir = str(DATA / f"sf{args.sf}")

    if args.trace:
        tracing.raise_status_retention()
    spark = None
    checker = None
    try:
        spark, get_s, get_cpu_s = set_up()
        host["java"] = spark._jvm.System.getProperty("java.version")
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        run = Run(args.workload, args.seed, sf_dir, work, jvm_pid)
        checker = Checker(sf_dir)
        phases["setup"] = time.perf_counter() - _T0
        check_pass_s, check_pass_cpu_s = run.check_pass(spark, checker)
        setup_s = get_cpu_s + check_pass_cpu_s
        phases["check"] = time.perf_counter() - _T0
        tracer = None
        if args.trace:
            # untraced baseline of the tracing overhead
            untraced = run.timed_pass(spark)
            tracer = tracing.Tracer(spark, cores)
        steal_start, timed_start = steal_s(), time.perf_counter()
        samples, passes = run.timed_passes(spark, args.seconds, tracer)
        timed_s = time.perf_counter() - timed_start
        steal_frac = (steal_s() - steal_start) / (timed_s * os.cpu_count())
        phases["timed"] = time.perf_counter() - _T0
        run.recheck(spark, checker)
        phases["recheck"] = time.perf_counter() - _T0
        peak_mb = jvm_peak_rss_mb(jvm_pid)
    finally:
        if checker is not None:
            checker.close()
        shut_down(spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        parent = work.parent
        if parent.exists() and not any(parent.iterdir()):
            parent.rmdir()

    phases["end"] = time.perf_counter() - _T0
    if not samples:
        print(f"[perfbench] no operation succeeded: {run.failures}", file=sys.stderr)
        return 1
    summary = summarize(samples)
    failed = len(run.failures)
    measured = {**summary, "setup_s": setup_s, "jvm_peak_rss_mb": peak_mb}
    e2e = {k: measured[k] for k in e2e_units}
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "sf": args.sf,
        "rows": {
            f.stem: pq.ParquetFile(f).metadata.num_rows for f in sorted(Path(sf_dir).glob("*.parquet"))
        },
        "host": host,
        "timed_passes": passes,
        "samples": len(samples),
        "ops_per_pass": len(run.builds) + len(run.queries),
        "failed_frac": failed / run.attempted,
        "failures": run.failures,
        "wall_clock": {k: summary[k] for k in ("ops_per_s", "op_p50_s", "op_p90_s")},
        "steal_frac": steal_frac,
        "jit_cpu_s": run.jit_s,
        "op_samples": [{"op": name, "wall_s": wall, "cpu_s": cpu} for name, wall, cpu in samples],
        "phases": phases,
        "setup": {
            "get_spark_s": get_s,
            "check_pass_s": check_pass_s,
            "get_spark_cpu_s": get_cpu_s,
            "check_pass_cpu_s": check_pass_cpu_s,
        },
    }
    if tracer is None:
        metrics = {k: {"value": v, "unit": e2e_units[k]} for k, v in e2e.items()}
        report["end_to_end"] = {**metrics, "failed_frac": {"value": report["failed_frac"], "unit": "fraction"}}
    else:
        layers = {
            k: sum(p[k] for p in tracer.passes) / len(tracer.passes)
            for k in layer_units
            if not k.startswith(("session.", "trace."))
        }
        layers["session.get_spark_s"] = get_s
        layers["session.warmup_s"] = check_pass_s
        untraced_rate = summarize(untraced)["ops_per_cpu_s"]
        layers["trace.ops_per_cpu_s"] = summary["ops_per_cpu_s"]
        layers["trace.ops_per_cpu_s_delta"] = summary["ops_per_cpu_s"] - untraced_rate
        metrics = {k: {"value": layers[k], "unit": layer_units[k]} for k in layer_units}
        report["per_layer"] = metrics
        report["end_to_end_traced"] = e2e
    print(json.dumps(report))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": run.attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
