"""Shared plumbing for the three workloads: the session set-up cycle,
forcing a frame, percentiles, peak memory and the run's result record."""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field

from spans import Tracer


def noop(df) -> None:
    """Force full execution of a frame without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def median_seconds(tracer: Tracer, name: str, call, reps: int = 3) -> float:
    """Median wall time of ``reps`` calls of ``call``. Only the first runs
    inside span ``name``, so the event log charges the span one call's work."""
    with tracer.span(name) as span:
        call()
    times = [span.seconds]
    for _ in range(reps - 1):
        t0 = time.perf_counter()
        call()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def _hwm_mb(pid: int) -> float:
    """Peak resident memory (VmHWM) of one process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise ValueError(f"no VmHWM for pid {pid}")


def peak_rss_mb() -> dict[str, float]:
    """Peak resident memory of this Python process and of the Spark driver
    JVM it launched. Python workers the JVM forks are left out: how many are
    alive when the run ends varies, and their pages are mostly shared."""
    from pyspark import SparkContext

    return {
        "python": _hwm_mb(os.getpid()),
        "jvm": _hwm_mb(SparkContext._gateway.proc.pid),
    }


@dataclass
class Context:
    """What every workload receives: its arguments, a private work
    directory inside the checkout, and the tracer (inactive when untraced)."""

    seed: int
    seconds: float
    work: str
    cores: int
    tracer: Tracer = field(default_factory=Tracer)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


@dataclass
class Result:
    """One run's outcome; ``metrics`` maps a metric name to its value."""

    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    metrics: dict[str, float] = field(default_factory=dict)
    detail: dict = field(default_factory=dict)  # per-operation data for the record

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.problems.append(what)

    @property
    def correct(self) -> bool:
        return not self.problems and self.failed == 0


def get_session(ctx: Context, extra_conf: dict[str, str] | None = None):
    from hadoop_jobanalyzer_spark import get_spark

    spark = get_spark(master=f"local[{ctx.cores}]", extra_conf=extra_conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def set_up(ctx: Context, workload, cycles: int = 3):
    """Set the session up ``cycles`` times, then warm it up once.

    One cycle is: stop the previous session, ``get_spark``, then
    ``workload.prepare(spark)`` (the session state the workload needs:
    tables and caches, or the chart server). The first cycle also pays the
    JVM launch. ``workload.warm_up(spark)`` then runs each kind of measured
    operation once on small inputs. Returns (spark, cycle seconds, warm-up
    seconds); set-up time is the median cycle plus the warm-up, so a change
    that moves work into either shows.
    """
    spark, times = None, []
    for _ in range(cycles):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_session(ctx)
        workload.prepare(spark)
        times.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    workload.warm_up(spark)
    return spark, times, time.perf_counter() - t0
