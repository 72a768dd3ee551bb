"""Per-layer metrics of a traced run, named by the program's modules.

Every traced run reports every name below; a layer a workload never calls
reports 0. Values come from three places: span durations, the Spark work
the event log charges to spans (:func:`spans.span_stats`), and the
workload's own probes (forced calls made after the measured phase).
"""

from __future__ import annotations

import statistics

from harness import Context, median_seconds, noop
from spans import Span, SpanStats

REPORTS = (
    "job_summary",
    "map_table",
    "reduce_table",
    "reduce_bytes_table",
    "wasted_summary",
    "error_summary",
    "fleet_summary",
)

# name -> unit
PER_LAYER: dict[str, str] = {
    "session.get_spark_s": "s",
    "tables.load_s": "s",
    "plans.cache_build_s": "s",
    "job_history.read_raw_records_s": "s",
    "job_history.parse_records_s": "s",
    "job_history.views_s": "s",
    "job_history.input_files": "count",
    "job_history.input_mb": "MB",
    "job_history.records": "count",
    "job_history.view_rows": "count",
    "job_history.tasks": "count",
    "job_history.shuffle_write_mb": "MB",
    "history_lake.write_s": "s",
    "history_lake.files_written": "count",
    "history_lake.bytes_written": "bytes",
    "history_lake.bytes_per_input_byte": "ratio",
    "history_lake.read_s": "s",
    "history_lake.files_scanned_per_lookup": "count",
    **{f"history_reports.{r}_s": "s" for r in REPORTS},
    "history_reports.rows_out": "count",
    "history_reports.shuffle_read_mb": "MB",
    "timeline.s": "s",
    "timeline.intervals": "count",
    "timeline.spine_rows": "count",
    "sinks.render_timeline_png_self_s": "s",
    "sinks.render_gantt_png_self_s": "s",
    "sinks.rows_collected": "count",
    "sinks.png_bytes": "bytes",
    "webapp.render_chart_png_s": "s",
    "webapp.http_overhead_ms": "ms",
    "plans.build_s": "s",
    "plans.analysis_ms": "ms",
    "plans.optimization_ms": "ms",
    "plans.planning_ms": "ms",
    "plans.exec_s": "s",
    "plans.jobs": "count",
    "plans.stages": "count",
    "plans.tasks": "count",
    "plans.checkpoint_jobs": "count",
    "plans.shuffle_write_mb": "MB",
    "plans.shuffle_read_mb": "MB",
    "plans.spill_mb": "MB",
    "plans.gc_s": "s",
    "spark.task_busy_ratio": "ratio",
    "spark.task_failures": "count",
    "trace.overhead_batch_pct": "%",
    "trace.overhead_op_p50_pct": "%",
}

MB = 1e6


def job_history_probe(
    ctx: Context, spark, path: str, n_files: int, n_bytes: int
) -> dict[str, float]:
    """Self times of the three ingest stages as differences of forced
    cumulative calls (each the median of three): raw records, + parse, +
    each of the three views."""
    from hadoop_jobanalyzer_spark.sources import (
        attempts_view,
        jobs_view,
        parse_records,
        read_raw_records,
        tasks_view,
    )

    def timed(name: str, df) -> float:
        return median_seconds(ctx.tracer, name, lambda: noop(df))

    raw = read_raw_records(spark, path)
    parsed = parse_records(raw)
    views = [f(parsed) for f in (jobs_view, tasks_view, attempts_view)]
    read_s = timed("job_history.read_raw_records", raw)
    parse_s = timed("job_history.parse_records", parsed)
    views_s = sum(timed("job_history.views", v) for v in views)
    return {
        "job_history.read_raw_records_s": read_s,
        "job_history.parse_records_s": parse_s - read_s,
        "job_history.views_s": views_s - len(views) * parse_s,
        "job_history.input_files": n_files,
        "job_history.input_mb": n_bytes / MB,
        "job_history.records": parsed.count(),
        "job_history.view_rows": sum(v.count() for v in views),
    }


def _under(spans: list[Span], root: Span | None) -> list[Span]:
    """Spans whose ancestors include ``root`` (all spans when root is None)."""
    if root is None:
        return list(spans)
    out = []
    for s in spans:
        p = s.parent
        while p is not None and p != root.id:
            p = spans[p].parent
        if p == root.id:
            out.append(s)
    return out


def assemble(
    spans: list[Span],
    stats: dict[int, SpanStats],
    probe: dict[str, float],
    extra: dict[str, float],
    cores: int,
) -> dict[str, float]:
    """Every PER_LAYER metric from spans, their Spark work and the probes."""
    out = dict.fromkeys(PER_LAYER, 0.0)
    measure = next((s for s in spans if s.name == "measure"), None)
    measured = _under(spans, measure)

    def total(name: str, pool=spans) -> float:
        return sum(s.seconds for s in pool if s.name == name)

    def work(pred, pool=spans) -> SpanStats:
        acc = SpanStats()
        for s in pool:
            if pred(s.name):
                acc.add(stats[s.id])
        return acc

    out["tables.load_s"] = total("tables.load")
    out["plans.cache_build_s"] = total("plans.cache_build")

    ingest = work(lambda n: n.startswith("job_history."))
    out["job_history.tasks"] = ingest.tasks
    out["job_history.shuffle_write_mb"] = ingest.shuffle_write / MB

    # fleet pass: report spans that are direct children of the measure span
    top = [s for s in measured if measure is not None and s.parent == measure.id]
    out["history_lake.write_s"] = total("history_lake.write", measured)
    out["history_lake.read_s"] = total("history_lake.read", measured)
    lookups = [stats[s.id].files_read for s in measured if s.name == "lookup"]
    if lookups:
        out["history_lake.files_scanned_per_lookup"] = statistics.median(lookups)
    for r in REPORTS:
        out[f"history_reports.{r}_s"] = total(f"history_reports.{r}", top)
    out["timeline.s"] = total("timeline", top)
    out["history_reports.shuffle_read_mb"] = (
        work(lambda n: n.startswith("history_reports."), top).shuffle_read / MB
    )

    out["plans.build_s"] = total("plans.build")
    out["plans.exec_s"] = total("plans.exec")
    plans = work(lambda n: n in ("plans.build", "plans.exec"))
    out["plans.jobs"] = plans.jobs
    out["plans.stages"] = plans.stages
    out["plans.tasks"] = plans.tasks
    out["plans.checkpoint_jobs"] = plans.checkpoint_jobs
    out["plans.shuffle_write_mb"] = plans.shuffle_write / MB
    out["plans.shuffle_read_mb"] = plans.shuffle_read / MB
    out["plans.spill_mb"] = plans.spill / MB
    out["plans.gc_s"] = plans.gc_ms / 1000

    if measure is not None:
        out["spark.task_busy_ratio"] = (
            stats[measure.id].run_ms / 1000 / (measure.seconds * cores)
        )
    out["spark.task_failures"] = sum(
        stats[s.id].task_failures for s in spans if s.parent is None
    )

    out.update(probe)
    out.update(extra)
    unknown = set(out) - set(PER_LAYER)
    if unknown:
        raise KeyError(f"per-layer metrics not declared: {sorted(unknown)}")
    return {k: float(v) for k, v in out.items()}
