"""``fleet_lake``: a fleet of job logs -> the parquet lake -> fleet reports,
then a closed loop of per-job lookups over the lake.

One run: (1) ingest with ``write_history_lake(load_history(dir), lake,
"overwrite")``; (2) ``read_history_lake`` and every fleet report, each
collected; (3) a closed loop (one client) of lookups, each collecting
``job_summary``, ``reduce_table`` and ``timeline`` over the lake views
filtered to one sampled ``jobid``. Reports are collected rather than
forced with a ``noop`` write so that the rows checked against the
generator's ground truth are the rows the timed calls produced.

End-to-end: ``batch_s`` is steps 1+2, ``op_p50_ms`` / ``op_p80_ms`` are
lookup latencies.
"""

from __future__ import annotations

import os
import random
import time
from collections import Counter
from dataclasses import dataclass

from pyspark.sql import functions as F

from hadoop_jobanalyzer_spark import operators as ops
from hadoop_jobanalyzer_spark.operators.timeline import timeline_intervals
from hadoop_jobanalyzer_spark.sources import HistoryViews, load_history
from hadoop_jobanalyzer_spark.sources.history_lake import read_history_lake, write_history_lake

from harness import Context, Result, percentile
from layers import REPORTS, job_history_probe
from loggen import JobShape, JobTruth, write_fleet

FLEET_LOGS = 16
MIN_LOOKUPS = 4
SCALE = 1000  # the reports' default time scale
SERIES = ("maps", "shuffle", "merge", "reduce", "waste")
# similar-sized jobs, so which jobs a seed's lookups sample barely moves latency
SHAPE = JobShape(min_maps=40, max_maps=60, min_reduces=4, max_reduces=8)
WARM_SHAPE = JobShape(min_maps=4, max_maps=8, min_reduces=1, max_reduces=2)


@dataclass
class Inputs:
    fleet_dir: str
    truths: list[JobTruth]
    warm_dir: str

    @property
    def n_bytes(self) -> int:
        return sum(t.n_bytes for t in self.truths)


def make_inputs(ctx: Context) -> Inputs:
    fleet_dir, warm_dir = ctx.path("fleet"), ctx.path("warm")
    truths = write_fleet(fleet_dir, ctx.seed, FLEET_LOGS, SHAPE)
    # the warm-up log comes from another seed so no input is seen twice
    write_fleet(warm_dir, ctx.seed + 1_000_003, 1, WARM_SHAPE)
    return Inputs(fleet_dir, truths, warm_dir)


def job_views(views: HistoryViews, jobid: str) -> HistoryViews:
    """The lake views pruned to one job's partitions."""

    def one(df):
        return df.filter(F.col("jobid") == jobid)

    return HistoryViews(None, one(views.jobs), one(views.tasks), one(views.attempts))


def lookup(ctx: Context, views: HistoryViews, jobid: str) -> dict[str, list]:
    """One lookup: the job's summary, reduce table and timeline, collected."""
    tr, v = ctx.tracer, job_views(views, jobid)
    out = {}
    with tr.span("history_reports.job_summary"):
        out["job_summary"] = ops.job_summary(v).collect()
    with tr.span("history_reports.reduce_table"):
        out["reduce_table"] = ops.reduce_table(v).collect()
    with tr.span("timeline"):
        out["timeline"] = ops.timeline(v).collect()
    return out


def ingest(ctx: Context, spark, log_dir: str, lake: str) -> HistoryViews:
    """Step 1, then reopen the lake."""
    tr = ctx.tracer
    with tr.span("history_lake.ingest"):
        with tr.span("job_history.load_history"):
            views = load_history(spark, log_dir)
        with tr.span("history_lake.write"):
            write_history_lake(views, lake, "overwrite")
    with tr.span("history_lake.read"):
        return read_history_lake(spark, lake)


def fleet_reports(ctx: Context, views: HistoryViews) -> dict[str, list]:
    """Step 2: every fleet report, collected."""
    rows = {}
    for name in REPORTS:
        with ctx.tracer.span(f"history_reports.{name}"):
            rows[name] = getattr(ops, name)(views).collect()
    with ctx.tracer.span("timeline"):
        rows["timeline"] = ops.timeline(views).collect()
    return rows


def _timeline_mass(rows) -> dict[str, dict[str, int]]:
    mass: dict[str, dict[str, int]] = {}
    for r in rows:
        m = mass.setdefault(r["jobid"], dict.fromkeys(SERIES, 0))
        for s in SERIES:
            m[s] += r[s]
    return mass


def _summary_problem(r, t: JobTruth) -> str | None:
    got = (r["num_maps"], r["num_reduces"], r["total_time"])
    want = (t.tasks["MAP"], t.tasks["REDUCE"], t.total_time(SCALE))
    if got != want:
        return f"job_summary {t.jobid}: {got} != {want}"
    for col, value in (
        ("avg_map_len", t.avg_len("MAP", SCALE)),
        ("avg_reduce_len", t.avg_len("REDUCE", SCALE)),
        ("avg_shuffle_len", t.avg_shuffle_len(SCALE)),
    ):
        if abs(r[col] - value) > 1e-6:
            return f"job_summary {t.jobid} {col}: {r[col]} != {value}"
    return None


def check_lake(views: HistoryViews, truths: list[JobTruth], res: Result) -> None:
    """Lake rows against the rows the parsed views must hold."""
    want = {
        "jobs": len(truths),
        "tasks": sum(sum(t.tasks.values()) for t in truths),
        "attempts": sum(sum(t.attempts.values()) for t in truths),
    }
    for name, n in want.items():
        got = getattr(views, name).count()
        res.check(got == n, f"lake {name} rows {got} != {n}")


def check_reports(truths: list[JobTruth], rows: dict[str, list], res: Result) -> None:
    """Fleet report rows against the generator's ground truth."""
    truth = {t.jobid: t for t in truths}
    res.check(len(rows["job_summary"]) == len(truths), "job_summary rows")
    for r in rows["job_summary"]:
        problem = _summary_problem(r, truth[r["jobid"]])
        res.check(problem is None, str(problem))

    def per_job(name: str, col: str | None = None) -> Counter:
        c = Counter()
        for r in rows[name]:
            c[r["jobid"]] += 1 if col is None else r[col]
        return c

    for name, kind in (("map_table", "MAP"), ("reduce_table", "REDUCE")):
        res.check(
            per_job(name) == Counter({t.jobid: t.tasks[kind] for t in truths}),
            f"{name} rows per job",
        )
        res.check(
            per_job(name, "num_attempts") == Counter({t.jobid: t.attempts[kind] for t in truths}),
            f"{name} attempts per job",
        )
    res.check(
        all(r["shuffle_finish"] >= r["maps_complete"] for r in rows["reduce_table"]),
        "reduce_table: a shuffle finished before the job's maps",
    )
    res.check(
        per_job("reduce_bytes_table", "reduce_output_bytes")
        == Counter({t.jobid: t.reduce_bytes_written for t in truths}),
        "reduce_bytes_table bytes per job",
    )

    wasted = {r["jobid"]: r for r in rows["wasted_summary"]}
    for t in truths:
        r = wasted.get(t.jobid)
        got = (0, 0, 0, 0) if r is None else (
            r["n_wasted"], r["n_wasted_maps"], r["n_wasted_reduces"], r["wasted_time"]
        )
        want = (t.n_wasted, t.n_wasted_of("MAP"), t.n_wasted_of("REDUCE"), t.wasted_time(SCALE))
        res.check(got == want, f"wasted_summary {t.jobid}: {got} != {want}")

    errors = Counter()
    for r in rows["error_summary"]:
        errors[(r["task_type"], r["task_status"], r["error_class"])] += r["n_attempts"]
    res.check(errors == sum((t.errors for t in truths), Counter()), "error_summary classes")

    users = {r["user"]: (r["n_jobs"], r["total_maps"]) for r in rows["fleet_summary"]}
    want_users: dict[str, tuple[int, int]] = {}
    for t in truths:
        n, m = want_users.get(t.user, (0, 0))
        want_users[t.user] = (n + 1, m + t.tasks["MAP"])
    res.check(users == want_users, "fleet_summary jobs and maps per user")

    mass = _timeline_mass(rows["timeline"])
    res.check(
        mass == {t.jobid: t.timeline_mass(SCALE) for t in truths}, "timeline mass per job"
    )


def check_lookup(t: JobTruth, out: dict[str, list], res: Result) -> None:
    res.check(len(out["job_summary"]) == 1, f"lookup {t.jobid}: job_summary rows")
    for r in out["job_summary"]:
        problem = _summary_problem(r, t)
        res.check(problem is None, f"lookup {problem}")
    res.check(len(out["reduce_table"]) == t.tasks["REDUCE"], f"lookup {t.jobid}: reduce rows")
    res.check(
        _timeline_mass(out["timeline"]) == {t.jobid: t.timeline_mass(SCALE)},
        f"lookup {t.jobid}: timeline mass",
    )


class Workload:
    def __init__(self, ctx: Context) -> None:
        self.ctx, self.inp = ctx, make_inputs(ctx)
        self.views: HistoryViews | None = None
        self.report_rows: dict[str, int] = {}

    def prepare(self, spark) -> None:
        """The lake needs no session state beyond the session itself."""

    def warm_up(self, spark) -> None:
        """Ingest a one-job fleet. A warm-up lookup is left out: it
        cost about 3 s of set-up and moved no measured time."""
        ctx = self.ctx
        with ctx.tracer.span("setup.warm_up"):
            ingest(ctx, spark, self.inp.warm_dir, ctx.path("warm_lake"))

    def measure(self, spark, res: Result) -> dict[str, float]:
        """Steps 1-3, timed; every output is checked after the timed calls."""
        ctx, inp, tr = self.ctx, self.inp, self.ctx.tracer
        truth = {t.jobid: t for t in inp.truths}
        with tr.span("measure"):
            t0 = time.perf_counter()
            self.views = ingest(ctx, spark, inp.fleet_dir, ctx.path("lake"))
            t1 = time.perf_counter()
            reports = fleet_reports(ctx, self.views)
            t2 = time.perf_counter()
            res.attempted += 1 + len(reports)
            rng = random.Random(ctx.seed)
            latencies, checked = [], []
            deadline = time.perf_counter() + ctx.seconds
            while len(latencies) < MIN_LOOKUPS or time.perf_counter() < deadline:
                jobid = rng.choice(inp.truths).jobid
                res.attempted += 1
                with tr.span("lookup", op=tr.new_op()):
                    t = time.perf_counter()
                    try:
                        out = lookup(ctx, self.views, jobid)
                    except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
                        res.failed += 1
                        res.problems.append(f"lookup {jobid}: {type(exc).__name__}: {exc}")
                        continue
                    latencies.append(time.perf_counter() - t)
                checked.append((truth[jobid], out))
        check_lake(self.views, inp.truths, res)
        check_reports(inp.truths, reports, res)
        for t, out in checked:
            check_lookup(t, out, res)
        self.report_rows = {name: len(rows) for name, rows in reports.items()}
        res.metrics.update(
            batch_s=t2 - t0,
            op_p50_ms=percentile(latencies, 50) * 1000,
            op_p80_ms=percentile(latencies, 80) * 1000,
        )
        res.detail.update(
            ingest_s=t1 - t0,
            ingest_mb_per_s=inp.n_bytes / 1e6 / (t1 - t0),
            report_s=t2 - t1,
            lookup_s=latencies,
        )
        return {}

    def probe(self, spark) -> dict[str, float]:
        """Traced-only decompositions the measured phase cannot give."""
        inp = self.inp
        out = job_history_probe(self.ctx, spark, inp.fleet_dir, len(inp.truths), inp.n_bytes)
        sizes = [
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(self.ctx.path("lake"))
            for f in fs
            if f.endswith(".parquet")
        ]
        out["history_lake.files_written"] = len(sizes)
        out["history_lake.bytes_written"] = sum(sizes)
        out["history_lake.bytes_per_input_byte"] = sum(sizes) / inp.n_bytes
        out["history_reports.rows_out"] = sum(self.report_rows[name] for name in REPORTS)
        out["timeline.intervals"] = timeline_intervals(self.views).count()
        out["timeline.spine_rows"] = self.report_rows["timeline"]
        return out

    def close(self) -> None:
        pass
