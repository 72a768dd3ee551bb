"""The reference's four reports as declarative DataFrame plans.

Time-scaling semantics, pinned from the reference goldens (SURVEY.md §2.9):

* absolute columns (start-time, end-time, shuffle-finish, all-maps-complete)
  floor each timestamp independently: ``floor(ts/scale)``;
* durations (elapsed, the averaged task/shuffle/reduce lengths) scale the
  exact millisecond difference: ``floor((a-b)/scale)`` — confirmed by
  ``vis/grap/map.d`` row 000000 (elapsed 8843 while the floored endpoints
  differ by 8844);
* the averaged shuffle length mixes both: SHUFFLE_FINISHED is floored at
  parse time, the task start is subtracted exactly
  (``bin/job_history:407-418``): ``floor((floor(sh/scale)*scale - start)/scale)``.

``scale`` is a single parameter (default 1000 = seconds, the scale the
README/vis goldens were produced at) instead of the reference's three
hard-coded constants (1e6 CLI / 1e3 py / 1e2 CGI — SURVEY.md §1.2).

Attempts reach the per-task reports through one aggregate,
:func:`_task_fold` (per task: the attempt count and the final attempt's
SHUFFLE_FINISHED and FINISH_TIME), joined to the tasks once. Per-job values
are conditional aggregates (``job_summary``) or a window (``reduce_table``'s
all-maps-complete) over the job's finished tasks, so no per-job aggregate
is joined back onto per-task rows. A per-job lookup costs its stages, not
its data, so every exchange saved here is latency saved
(``tests/test_plan_quality.py`` caps them).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from hadoop_jobanalyzer_spark.functions.counters import counter_value
from hadoop_jobanalyzer_spark.sources.job_history import (
    HistoryViews,
    error_class,
    final_eligible,
    not_setup_cleanup,
    with_final_flag,
)

_JOB_KEY = ["source_file", "jobid"]
_TASK_KEY = [*_JOB_KEY, "taskid"]


def _abs(ts: Column, scale: int) -> Column:
    """Absolute timestamp -> scaled bucket (per-value floor)."""
    return F.floor(ts / F.lit(scale))


def _dur(end: Column, start: Column, scale: int) -> Column:
    """Duration in scaled units (exact ms difference, then floor)."""
    return F.floor((end - start) / F.lit(scale))


def _task_fold(attempts: DataFrame) -> DataFrame:
    """Per task: ``num_attempts`` (distinct attempt ids, SURVEY.md A2/O3;
    bin/job_history:246-254) and the final attempt's SHUFFLE_FINISHED
    (``_sh``) and FINISH_TIME (``_fin``). Final is :func:`with_final_flag`'s
    rule, the eligible attempt with the largest ``finish_seq`` (a record
    index: no ties); ``max_by`` skips NULL orderings, so a task with no
    eligible attempt gets NULLs."""
    fseq = F.when(final_eligible(), F.col("finish_seq"))
    return attempts.groupBy(*_TASK_KEY).agg(
        F.countDistinct("attempt_id").alias("num_attempts"),
        F.max_by("shuffle_finished", fseq).alias("_sh"),
        F.max_by("finish_time", fseq).alias("_fin"),
    )


def _finished(tasks: DataFrame, *task_types: str) -> DataFrame:
    """Tasks of the given types with a FINISH_TIME (reference null-finish
    filter F6, bin/job_history:397,410-412,443)."""
    return tasks.filter(
        F.col("task_type").isin(*task_types) & F.col("finish_time").isNotNull()
    )


def job_summary(views: HistoryViews, scale: int = 1000) -> DataFrame:
    """The ``-s`` report (bin/job_history:380-424) as one row per job.

    Unlike the reference it does not bail out on non-SUCCESS jobs (null-safe
    avgs instead — SURVEY.md §2.9 decisions) and computes all statistics in
    one pass: one group-by over the job's finished MAP and REDUCE tasks,
    with conditional aggregates per type. A job with no finished task of a
    type has NULL ``num_maps``/``num_reduces``, as a left join would give.
    """
    is_map = F.col("task_type") == "MAP"
    is_red = F.col("task_type") == "REDUCE"
    dur = _dur(F.col("finish_time"), F.col("start_time"), scale)
    # avg shuffle reads each finished reduce task's final-attempt
    # SHUFFLE_FINISHED (reference dict lookup -> the fold, SURVEY.md J1/A5)
    shuffle_len = F.floor(
        (_abs(F.col("_sh"), scale) * scale - F.col("start_time")) / F.lit(scale)
    )
    n_maps = F.count(F.when(is_map, 1))
    n_reduces = F.count(F.when(is_red, 1))
    stats = (
        _finished(views.tasks, "MAP", "REDUCE")
        .join(_task_fold(views.attempts), _TASK_KEY, "left")
        .groupBy(*_JOB_KEY)
        .agg(
            F.when(n_maps > 0, n_maps).alias("num_maps"),
            F.avg(F.when(is_map, dur)).alias("avg_map_len"),
            F.max(F.when(is_map, _abs(F.col("finish_time"), scale))).alias(
                "all_maps_complete"
            ),
            F.when(n_reduces > 0, n_reduces).alias("num_reduces"),
            F.avg(F.when(is_red, shuffle_len)).alias("avg_shuffle_len"),
            F.avg(F.when(is_red, dur)).alias("avg_reduce_len"),
        )
    )

    return (
        views.jobs.select(
            *_JOB_KEY,
            "jobname",
            "user",
            "job_status",
            "submit_time",
            "launch_time",
            "finish_time",
            "total_maps",
            "total_reduces",
            "finished_maps",
            "finished_reduces",
            "failed_maps",
            "failed_reduces",
            _dur(F.col("finish_time"), F.col("launch_time"), scale).alias("total_time"),
        )
        .join(F.broadcast(stats), _JOB_KEY, "left")
    )


def map_table(views: HistoryViews, scale: int = 1000) -> DataFrame:
    """The ``-m`` report (bin/job_history:426-436): per-map-task table
    ordered by taskid. Golden: ``vis/grap/map.d`` (512 rows x 5 cols)."""
    return (
        _finished(views.tasks, "MAP")
        .join(_task_fold(views.attempts), _TASK_KEY, "left")
        .select(
            *_JOB_KEY,
            "taskid",
            _abs(F.col("start_time"), scale).alias("start_time"),
            _abs(F.col("finish_time"), scale).alias("end_time"),
            _dur(F.col("finish_time"), F.col("start_time"), scale).alias("elapsed"),
            F.coalesce("num_attempts", F.lit(0)).alias("num_attempts"),
        )
        .orderBy("taskid")
    )


def reduce_table(views: HistoryViews, scale: int = 1000) -> DataFrame:
    """The ``-r`` report (bin/job_history:438-458): per-reduce-task table with
    the job-wide all-maps-complete instant and the final attempt's
    shuffle-finish. 7 columns (code wins over the README's 6 — SURVEY.md §2.9).

    All-maps-complete is a window over the job's finished MAP and REDUCE
    tasks, taken before the filter to REDUCE.
    """
    maps_complete = F.max(
        F.when(F.col("task_type") == "MAP", _abs(F.col("finish_time"), scale))
    ).over(Window.partitionBy(*_JOB_KEY))
    return (
        _finished(views.tasks, "MAP", "REDUCE")
        .select("*", maps_complete.alias("maps_complete"))
        .filter(F.col("task_type") == "REDUCE")
        .join(_task_fold(views.attempts), _TASK_KEY, "left")
        .select(
            *_JOB_KEY,
            "taskid",
            _abs(F.col("start_time"), scale).alias("start_time"),
            "maps_complete",
            _abs(F.col("_sh"), scale).alias("shuffle_finish"),
            _abs(F.col("finish_time"), scale).alias("end_time"),
            _dur(F.col("finish_time"), F.col("start_time"), scale).alias("elapsed"),
            F.coalesce("num_attempts", F.lit(0)).alias("num_attempts"),
        )
        .orderBy("taskid")
    )


def reduce_bytes_table(views: HistoryViews, scale: int = 1000) -> DataFrame:
    """The Python frontend's reduce-bytes report (bin/job_history.py:106-113):
    per reduce task, HDFS_BYTES_WRITTEN plus shuffle/finish instants relative
    to job submit. Exposes the ``reduceBytes`` state the Groovy CLI collects
    but never outputs (SURVEY.md §2.9, A8)."""
    bytes_col = F.coalesce(
        counter_value(F.col("counters"), "FileSystemCounters", "HDFS_BYTES_WRITTEN"),
        F.lit(0),
    )
    submits = views.jobs.select(*_JOB_KEY, F.col("submit_time").alias("_submit"))
    return (
        views.tasks.filter((F.col("task_type") == "REDUCE") & F.col("counters").isNotNull())
        .select(*_TASK_KEY, bytes_col.alias("reduce_output_bytes"))
        .join(_task_fold(views.attempts), _TASK_KEY, "left")
        .join(F.broadcast(submits), _JOB_KEY, "left")
        .select(
            *_JOB_KEY,
            "taskid",
            "reduce_output_bytes",
            (_abs(F.col("_sh"), scale) - _abs(F.col("_submit"), scale)).alias(
                "shuffle_finish_rel"
            ),
            (_abs(F.col("_fin"), scale) - _abs(F.col("_submit"), scale)).alias(
                "reduce_finish_rel"
            ),
        )
        .orderBy("taskid")
    )


def error_summary(views: HistoryViews) -> DataFrame:
    """Failure analysis: per (job, task_type, status), attempt counts grouped
    by extracted exception class.

    The reference *parses* ERROR attributes (including multi-line stack
    traces, e.g. the OutOfMemoryError traces in fixture log 1) but exposes
    them in no report; wasted/failed attempts only feed the timeline's waste
    series (SURVEY.md §2.9). This report makes failures queryable: the
    exception class is the first ``...Exception``/``...Error`` token of the
    raw (backslash-escaped) ERROR value, unescaped for display; attempts
    that died without an ERROR attribute group under NULL.
    """
    return (
        views.attempts.filter(
            F.col("task_status").isin("FAILED", "KILLED") | F.col("error").isNotNull()
        )
        .select(
            *_JOB_KEY,
            "task_type",
            "task_status",
            error_class(F.col("error")).alias("error_class"),
            "attempt_id",
        )
        .groupBy(*_JOB_KEY, "task_type", "task_status", "error_class")
        .agg(F.countDistinct("attempt_id").alias("n_attempts"))
        .orderBy(*_JOB_KEY, "task_type", "task_status", "error_class")
    )


def fleet_summary(views: HistoryViews, scale: int = 1000) -> DataFrame:
    """Cross-job (fleet) rollup over per-job summaries: jobs, task totals,
    failure totals, and duration means per user.

    The reference analyzes one log per invocation; the lake makes the
    multi-job question ("how do my users' jobs behave?") a one-shuffle
    rollup over the already-aggregated per-job rows — never over raw
    attempts.
    """
    per_job = job_summary(views, scale=scale)
    n = F.count("*")
    return (
        per_job.groupBy("user")
        .agg(
            n.alias("n_jobs"),
            F.sum("total_maps").alias("total_maps"),
            F.sum("total_reduces").alias("total_reduces"),
            F.sum("failed_maps").alias("failed_maps"),
            F.sum("failed_reduces").alias("failed_reduces"),
            F.round(F.sum("total_time") / n, 2).alias("avg_job_time"),
            F.round(F.sum("avg_map_len") / n, 2).alias("avg_map_len"),
            F.round(F.sum("avg_reduce_len") / n, 2).alias("avg_reduce_len"),
        )
        .orderBy("user")
    )


def wasted_attempts(views: HistoryViews, scale: int = 1000) -> DataFrame:
    """Every finished MAP/REDUCE attempt whose work was thrown away — the
    reference's ``wastedAttempts`` list, collected but never reported
    (bin/job_history:205,276-281,302-307; SURVEY.md §2.9 "expose as real
    query outputs").

    Wasted = finished and not final per :func:`with_final_flag`: the finish
    record is non-SUCCESS or carries no status at all, or a later (in-file
    order) SUCCESS finish superseded it for the same task. SETUP/CLEANUP
    attempts never count (reference early-return, bin/job_history:242-244).
    """
    return (
        with_final_flag(views.attempts)
        .filter(
            F.col("finish_time").isNotNull()
            & not_setup_cleanup()
            & ~F.col("is_final")
        )
        .select(
            *_JOB_KEY,
            "taskid",
            "attempt_id",
            "task_type",
            "task_status",
            _abs(F.col("start_time"), scale).alias("start_time"),
            _abs(F.col("finish_time"), scale).alias("end_time"),
            _dur(F.col("finish_time"), F.col("start_time"), scale).alias("wasted_time"),
        )
        .orderBy(*_JOB_KEY, "taskid", "attempt_id")
    )


def wasted_summary(views: HistoryViews, scale: int = 1000) -> DataFrame:
    """Per-job rollup of :func:`wasted_attempts`: counts by type plus total
    wasted time (attempts with no START_TIME contribute null duration and
    are excluded from the time sum but counted)."""
    return (
        wasted_attempts(views, scale)
        .groupBy(*_JOB_KEY)
        .agg(
            F.count("*").alias("n_wasted"),
            F.count(F.when(F.col("task_type") == "MAP", 1)).alias("n_wasted_maps"),
            F.count(F.when(F.col("task_type") == "REDUCE", 1)).alias("n_wasted_reduces"),
            F.sum("wasted_time").alias("wasted_time"),
        )
        .orderBy(*_JOB_KEY)
    )
