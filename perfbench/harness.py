"""Pieces shared by the workloads: the run context, the repeated
set-up, percentiles and the environment record."""

from __future__ import annotations

import os
import platform
import statistics
import time
from dataclasses import dataclass, field

from spans import Tracer

SETUPS = 3  # set-ups per run; setup_s is their median


@dataclass
class Context:
    root: str  # checkout root
    work: str  # scratch directory inside the checkout, removed at exit
    seed: int
    seconds: float
    tracer: Tracer
    spark: object = None
    setups: list[dict] = field(default_factory=list)
    # Wall-clock seconds at the end of each phase of the run, from its start.
    phases: dict[str, float] = field(default_factory=dict)
    t0: float = field(default_factory=time.perf_counter)

    def mark(self, phase: str) -> None:
        self.phases[phase] = round(time.perf_counter() - self.t0, 3)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def session_conf(ctx: Context) -> dict[str, str]:
    return {
        "spark.local.dir": ctx.path("spark-local"),
        "spark.sql.warehouse.dir": ctx.path("warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # Traced runs read every job and stage back at the end.
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={ctx.path('tmp')} "
            f"-Dderby.system.home={ctx.path('tmp')} -XX:-UsePerfData"
        ),
    }


def setup(ctx: Context, load) -> None:
    """Start a session and run ``load(spark)`` (table loads and warm-ups)
    ``SETUPS`` times, stopping the previous session each time. The first
    start also launches the JVM; the median is the steady set-up cost."""
    from scala_data_pipeline_spark.session import get_session

    for _ in range(SETUPS):
        if ctx.spark is not None:
            ctx.spark.stop()
        t0 = time.perf_counter()
        ctx.spark = get_session("perfbench", extra_conf=session_conf(ctx))
        ctx.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        load(ctx.spark)
        t2 = time.perf_counter()
        ctx.setups.append({"session_s": t1 - t0, "load_s": t2 - t1, "total_s": t2 - t0})
    ctx.tracer.spark = ctx.spark
    ctx.mark("setup")


def setup_metrics(ctx: Context) -> tuple[float, dict]:
    """``setup_s`` and the set-up layers, medians over the set-ups."""
    med = {k: statistics.median(s[k] for s in ctx.setups) for k in ctx.setups[0]}
    return med["total_s"], {
        "session.start_s": med["session_s"],
        "sources.table_load_s": med["load_s"],
    }


def closed_loop(ctx: Context, step) -> None:
    """Call ``step(i)`` back to back, at least once, while the next call
    is expected (from the longest so far) to end within the run's seconds."""
    t0 = time.perf_counter()
    longest = 0.0
    i = 0
    while i == 0 or time.perf_counter() - t0 + longest <= ctx.seconds:
        s = time.perf_counter()
        step(i)
        longest = max(longest, time.perf_counter() - s)
        i += 1


def quantile(values: list[float], q: int) -> float:
    """The q-th percentile, as ``statistics.quantiles(values, n=100)``."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def host_probe_s() -> float:
    """Seconds a fixed pure-Python loop takes. It does not touch the
    program, so it shows how fast the host itself ran around a run:
    shared hosts drift by 30% and more between minutes."""
    t0 = time.perf_counter()
    total = 0
    for i in range(2_000_000):
        total += i * i
    return time.perf_counter() - t0


def environment(ctx: Context) -> dict:
    import pyspark

    jvm = ctx.spark.sparkContext._jvm if ctx.spark is not None else None
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": pyspark.__version__,
        "java": jvm.System.getProperty("java.version") if jvm else None,
        "python": platform.python_version(),
        "seed": ctx.seed,
        "seconds": ctx.seconds,
    }
