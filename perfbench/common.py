"""Shared benchmark plumbing: the run's work directory and environment,
the Spark session's life cycle, the closed loop and the statistics.

Everything a run writes lives under ``<checkout>/.bench_work``: Spark
local dirs, the JVM and Python temp dirs, Derby's home, the warehouse
and the staged inputs. Each run removes its own directory on exit and
keeps only its trace output.
"""

from __future__ import annotations

import math
import os
import shlex
import shutil
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from statistics import median

PACKAGE = "xlsx_to_database_spark"

#: How many times a run sets the engine up; ``setup_s`` is their median.
SETUP_REPEATS = 7

#: Fewest whole op cycles a timed run measures, so every kind of
#: operation has more than one sample behind its median.
MIN_CYCLES = 2



def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def prepare_env(root: str, work: str) -> None:
    """Point every writer (JVM, Python workers, Derby, warehouse) into
    ``work`` and put the checkout on the Python workers' path. Must run
    before pyspark launches the JVM."""
    tmp = os.path.join(work, "tmp")
    for d in ("tmp", "local", "derby", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    py_path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + py_path if py_path else "")
    os.environ["TMPDIR"] = tmp
    # Python workers and collect() convert timestamps in the process's
    # local zone; the engine pins its sessions to UTC.
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    java_opts = " ".join([
        f"-Djava.io.tmpdir={tmp}",
        f"-Dderby.system.home={os.path.join(work, 'derby')}",
        "-XX:-UsePerfData",
    ])
    conf = {
        "spark.driver.extraJavaOptions": java_opts,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def purge_package() -> None:
    """Forget every imported engine module, so the next set-up pays the
    import (and registry construction) again."""
    for name in [m for m in sys.modules if m == PACKAGE or m.startswith(PACKAGE + ".")]:
        del sys.modules[name]


def start_session():
    from xlsx_to_database_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """Stop the gateway JVM that pyspark launched and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(base, f))
    return total


def fresh_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)


# -- statistics -------------------------------------------------------------


def med(xs: list[float]) -> float:
    """Median, 0 for no samples."""
    return median(xs) if xs else 0.0


def rate(samples: list["Sample"]) -> float:
    """Rows per second of operation time over ``samples``, 0 for none."""
    secs = sum(s.seconds for s in samples)
    return sum(s.rows for s in samples) / secs if secs else 0.0


def tail(xs: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it:
    (value, percentile, sample count). Below twenty samples that
    percentile falls under the median, so the median is reported."""
    n = len(xs)
    s = sorted(xs)
    if n < 20:
        return med(s), 50.0, n
    k = n - 11  # 0-based rank with exactly ten samples above it
    return s[k], round(100.0 * (k + 1) / n, 1), n


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


# -- workloads and the closed loop -------------------------------------------


def error_line(what: str, e: Exception) -> str:
    return f"{what}: {type(e).__name__}: {e}"[:300]


class _NullTracer:
    """Stands in for the tracer in untraced runs: spans cost nothing."""

    enabled = False

    @contextmanager
    def span(self, name: str, job_group: str | None = None):
        yield

    def count(self, name: str, value: float) -> None:
        pass


NULL_TRACER = _NullTracer()


class Workload:
    """The hooks the closed loop calls. A workload generates its inputs
    from the seed (``generate``, once, untimed), binds the engine to a
    fresh session (``attach``, part of every set-up), warms every kind of
    operation once, runs one operation per ``run_op`` call and returns
    the rows it moved, and checks its outputs in ``verify``."""

    name = ""

    def __init__(self, work: str, seed: int):
        self.seed = seed
        self.tracer = NULL_TRACER
        self.warm_s: dict[str, float] = {}
        self.warm_errors: list[str] = []

    def prepare(self, kind: str) -> None:
        """Untimed work before one operation."""

    def warm(self) -> None:
        """One untimed pass of every kind of operation, in cycle order."""
        for kind in dict.fromkeys(self.cycle()):
            t0 = time.perf_counter()
            try:
                self.prepare(kind)
                self.run_op(kind)
            except Exception as e:
                self.warm_errors.append(error_line(kind, e))
            self.warm_s[kind] = time.perf_counter() - t0

    def layer_extras(self) -> dict:
        """Per-layer metrics measured outside the traced operations."""
        return {}


@dataclass
class Sample:
    kind: str
    seconds: float
    rows: int
    cycle: int
    traced: bool = False


@dataclass
class Loop:
    """Runs the workload's op cycle, one operation at a time, in whole
    cycles until the time budget is spent."""

    samples: list[Sample] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    wall_s: float = 0.0

    def run(self, workload, seconds: float, tracer=None) -> None:
        """Whole cycles until ``seconds`` are spent, at least MIN_CYCLES.
        With a tracer, cycles alternate untraced, traced, untraced, ...
        (at least three), so per-kind medians on both sides give the
        tracing overhead without replaying a stateful operation twice,
        and the traced cycle sits between two untraced ones."""
        cycle = workload.cycle()
        min_cycles = MIN_CYCLES if tracer is None else 3
        t_start = time.perf_counter()
        done = 0
        while done < min_cycles or time.perf_counter() - t_start < seconds:
            traced = tracer is not None and done % 2 == 1
            for kind in cycle:
                self._one(workload, kind, done, tracer if traced else None)
            done += 1
            if time.perf_counter() - t_start >= seconds and done >= min_cycles:
                break
        self.wall_s = time.perf_counter() - t_start

    def _one(self, workload, kind: str, n_cycle: int, tracer) -> None:
        self.attempted += 1
        try:
            workload.prepare(kind)
            if tracer is not None:
                with tracer.operation(kind):
                    t0 = time.perf_counter()
                    rows = workload.run_op(kind)
                    dt = time.perf_counter() - t0
            else:
                t0 = time.perf_counter()
                rows = workload.run_op(kind)
                dt = time.perf_counter() - t0
        except Exception as e:  # one failed op must not end the run
            self.failed += 1
            self.errors.append(error_line(kind, e))
            return
        self.samples.append(Sample(kind, dt, rows, n_cycle, tracer is not None))

    def by_kind(self, traced: bool = False) -> dict[str, list[float]]:
        out: dict[str, list[float]] = {}
        for s in self.samples:
            if s.traced == traced:
                out.setdefault(s.kind, []).append(s.seconds)
        return out


def e2e_metrics(workload, loop: Loop, setup_s: float) -> dict[str, dict]:
    """The end-to-end metrics every workload reports (untraced samples).
    A kind whose every operation failed has no sample and is left out;
    the run then reports ``failed`` > 0."""
    plain = [s for s in loop.samples if not s.traced]
    per_kind = {k: median(v) for k, v in loop.by_kind().items()}
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "cycle_s": {"value": sum(per_kind[k] for k in workload.cycle() if k in per_kind), "unit": "s"},
        "geomean_s": {"value": geomean(list(per_kind.values())) if per_kind else 0.0, "unit": "s"},
        "rows_per_s": {"value": rate(plain), "unit": "rows/s"},
    }


def latency_detail(loop: Loop) -> dict[str, dict]:
    """Median and tail latency over every timed operation, with the
    tail's percentile and sample count, and each kind's median."""
    lat = [s.seconds for s in loop.samples if not s.traced]
    t_tail, pct, n = tail(lat)
    return {
        "op_p50_s": {"value": med(lat), "unit": "s"},
        "op_tail_s": {"value": t_tail, "unit": "s", "percentile": pct, "samples": n},
        "kind_median_s": {k: median(v) for k, v in loop.by_kind().items()},
        "kind_samples_s": {k: [round(x, 4) for x in v] for k, v in loop.by_kind().items()},
        "cycle_sums_s": [
            sum(s.seconds for s in loop.samples if s.cycle == c)
            for c in sorted({s.cycle for s in loop.samples})
        ],
    }


def cpu_ticks() -> list[int]:
    """The machine's CPU time counters (user, nice, system, idle, iowait,
    irq, softirq, steal), empty where /proc/stat does not exist."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except OSError:
        return []


def steal_share(before: list[int], after: list[int]) -> float | None:
    """Share of the CPU time between two ``cpu_ticks`` readings that the
    hypervisor gave to other guests: when it moves, timings move."""
    if not before or not after:
        return None
    d = [b - a for a, b in zip(before, after)]
    return round(d[7] / sum(d), 4) if sum(d) else None


def calibration(spark) -> dict:
    """Host-speed probe, not a metric: a fixed pure-JVM aggregate chain
    and a fixed pure-Python loop, each the median of three."""
    from pyspark.sql import functions as F

    def jvm():
        (spark.range(2_000_000)
         .select((F.col("id") % 1000).alias("k"), ((F.col("id") * 2654435761) % 2147483647).alias("h"))
         .groupBy("k").agg(F.sum("h").alias("s")).agg(F.sum("s")).collect())

    def py():
        acc = 0
        for i in range(200_000):
            acc = (acc + i * 2654435761) % 2147483647
        return acc

    out = {}
    for name, fn in (("jvm_s", jvm), ("python_s", py)):
        fn()
        ts = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn()
            ts.append(time.perf_counter() - t0)
        out[name] = round(median(ts), 4)
    return out
