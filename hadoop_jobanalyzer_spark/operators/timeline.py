"""Concurrency timeline (SURVEY.md A9): per time bucket, how many maps /
shuffles / sorts / reduces / wasted attempts were running.

Reference semantics (bin/job_history:460-536), with the SURVEY.md §2.9 bug
decisions frozen as:

* end-**inclusive** buckets (Groovy/CGI; the Python frontend's exclusive
  ``range()`` is the outlier);
* proper final-attempt classification (the Python ``if final:`` truthiness
  bug is fixed — waste really is non-final attempts);
* all buckets clamped to ``[0, range]`` (the CGI's ``Math.max(0, …)`` clamp,
  job_history.cgi:297-336; the CLI's negative/overflow autovivification is
  dropped);
* reduce phase boundaries double-count on purpose: shuffle ends at the same
  bucket the sort begins (Groovy ``<=`` loops).

All timestamps are bucketed ``floor(ts/scale)`` *before* arithmetic (the
Python frontend's consistent convention; Groovy's mixed BigDecimal behavior
differs by at most one bucket and is not golden-tested).

Scale design — two ways to fill the dense ``0..range`` rows:

* ``impl="sweep"`` (default): change points. Each interval adds +1 at t0
  and -1 at t1+1; a per-job running sum of the per-bucket deltas is the
  concurrency from each change point to the next, and each change point
  expands to its run of buckets. Cost: O(attempts) + O(range) rows per
  job, *independent of task duration*. The attempts are shuffled once, by
  job; the final-attempt window, the delta group-by and the running-sum
  window all reuse that partitioning. Jobs are the unit of parallelism
  (the 100 TB case is millions of logs); one job's change points live in
  one window partition, bounded by the guard below.
* ``impl="explode"``: the literal ``explode(sequence(t0, t1))`` histogram —
  O(sum of interval lengths) rows — left-joined onto a dense spine. Kept
  as an independently-derived cross-check (tests assert both agree) and
  for tiny inputs.

Guard (BASELINE.md "timeline scale guard"): a per-job coarsening factor
``k = ceil((range+1)/max_buckets)`` widens buckets so a job's timeline never
exceeds ``max_buckets`` rows regardless of job duration; ``k`` folds into
the same floor arithmetic (k=1 leaves reference semantics untouched).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from hadoop_jobanalyzer_spark.operators.history_reports import _JOB_KEY, _abs
from hadoop_jobanalyzer_spark.sources.job_history import (
    HistoryViews,
    not_setup_cleanup,
    with_final_flag,
)

SERIES = ["maps", "shuffle", "merge", "reduce", "waste"]


def timeline_intervals(views: HistoryViews, scale: int = 1000) -> DataFrame:
    """Classified, clamped per-attempt intervals in bucket units.

    Columns: source_file, jobid, attempt_id, series, t0, t1 (inclusive),
    range (job's last bucket). One row per (attempt, phase); reduce final
    attempts contribute three phases (bin/job_history:509-526).
    """
    bounds = views.jobs.select(
        *_JOB_KEY,
        _abs(F.col("submit_time"), scale).alias("_submit"),
        _abs(F.col("finish_time"), scale).alias("_finish"),
    )

    # the final flag is computed over every attempt, before the start-time
    # filter below could hide a task's last SUCCESS; the one repartition by
    # job serves the flag's window and every per-job step of timeline()
    att = (
        with_final_flag(views.attempts.repartition(*_JOB_KEY))
        .filter(
            not_setup_cleanup()
            & F.col("start_time").isNotNull()
            & F.col("finish_time").isNotNull()
        )
        .join(F.broadcast(bounds), _JOB_KEY)
    )

    start_s = _abs(F.col("start_time"), scale)
    end_s = _abs(F.col("finish_time"), scale)
    sh_s = _abs(F.col("shuffle_finished"), scale)
    sort_s = _abs(F.col("sort_finished"), scale)
    submit, finish = F.col("_submit"), F.col("_finish")

    # t0 >= 0, and t1 <= range because hi is capped at the job's finish
    def iv(series: str, lo: Column, hi: Column) -> Column:
        return F.struct(
            F.lit(series).alias("series"),
            F.greatest(lo - submit, F.lit(0)).alias("t0"),
            (F.least(hi, finish) - submit).alias("t1"),
        )

    is_map = F.col("kind") == "MapAttempt"
    is_red = F.col("kind") == "ReduceAttempt"
    final = F.col("is_final")
    phases = F.array(
        F.when(is_map & final, iv("maps", start_s, end_s)),
        F.when(is_map & ~final, iv("waste", start_s, end_s)),
        F.when(is_red & final, iv("shuffle", start_s, sh_s)),
        F.when(is_red & final, iv("merge", sh_s, sort_s)),
        F.when(is_red & final, iv("reduce", sort_s, end_s)),
        F.when(is_red & ~final, iv("waste", start_s, end_s)),
    )

    # a phase that does not apply is a NULL struct: inline makes it a row of
    # NULLs, which the filter drops
    return att.select(
        *_JOB_KEY, "attempt_id", (finish - submit).alias("range"), F.inline(phases)
    ).filter(F.col("t1") >= F.col("t0"))


def _coarsen(intervals: DataFrame, max_buckets: int) -> DataFrame:
    """Per-job bucket widening so the timeline stays <= max_buckets rows."""
    k = F.greatest(F.ceil((F.col("range") + 1) / F.lit(max_buckets)), F.lit(1))
    return intervals.select(
        *_JOB_KEY,
        "series",
        *[F.floor(F.col(c) / k).alias(c) for c in ("range", "t0", "t1")],
    )


def _series_sums(value: Column) -> list[Column]:
    return [
        F.coalesce(F.sum(F.when(F.col("series") == s, value)), F.lit(0)).alias(s)
        for s in SERIES
    ]


def timeline(
    views: HistoryViews,
    scale: int = 1000,
    max_buckets: int = 10_000_000,
    impl: str = "sweep",
) -> DataFrame:
    """The timeline report: (source_file, jobid, t, maps, shuffle, merge,
    reduce, waste), dense over t = 0..range, ordered by t."""
    intervals = _coarsen(timeline_intervals(views, scale), max_buckets)
    if impl == "sweep":
        dense = _sweep(intervals)
    elif impl == "explode":
        dense = _explode(intervals)
    else:
        raise ValueError(f"unknown timeline impl: {impl!r}")
    return dense.select(
        *_JOB_KEY, "t", *[F.coalesce(s, F.lit(0)).cast("long").alias(s) for s in SERIES]
    ).orderBy(*_JOB_KEY, "t")


def _sweep(intervals: DataFrame) -> DataFrame:
    """Change points (+1 at t0, -1 at t1+1, 0 at t=0 so a job's first run
    starts at 0), their per-job running sums, one run of buckets each."""

    def delta(t: Column, d: int) -> Column:
        return F.struct(t.cast("long").alias("t"), F.lit(d).alias("d"))

    deltas = intervals.select(
        *_JOB_KEY,
        "range",
        "series",
        F.inline(
            F.array(delta(F.col("t0"), 1), delta(F.col("t1") + 1, -1), delta(F.lit(0), 0))
        ),
    )
    by_t = Window.partitionBy(*_JOB_KEY).orderBy("t")
    running = by_t.rowsBetween(Window.unboundedPreceding, 0)
    # a change point at range+1 ends the job's last run; it starts none
    runs = (
        deltas.groupBy(*_JOB_KEY, "range", "t")
        .agg(*_series_sums(F.col("d")))
        .filter(F.col("t") <= F.col("range"))
        .select(
            *_JOB_KEY,
            "t",
            F.coalesce(F.lead("t").over(by_t), F.col("range") + 1).alias("_next"),
            *[F.sum(s).over(running).alias(s) for s in SERIES],
        )
    )
    # the generator runs in its own select: Spark plans no generator over a
    # window expression
    return runs.select(
        *_JOB_KEY,
        F.explode(F.sequence(F.col("t"), F.col("_next") - 1)).alias("t"),
        *SERIES,
    )


def _explode(intervals: DataFrame) -> DataFrame:
    """Literal per-bucket expansion — the reference's nested loops
    (bin/job_history:486-527) as explode(sequence)+groupBy, left-joined onto
    a dense ``0..range`` spine (the zeroed arrays of bin/job_history:476-482).
    Cross-check impl; cost grows with total interval length."""
    buckets = intervals.select(
        *_JOB_KEY, "series", F.explode(F.sequence(F.col("t0"), F.col("t1"))).alias("t")
    )
    counts = buckets.groupBy(*_JOB_KEY, "t").agg(*_series_sums(F.lit(1)))
    spine = (
        intervals.groupBy(*_JOB_KEY)
        .agg(F.max("range").alias("range"))
        .select(*_JOB_KEY, F.explode(F.sequence(F.lit(0), F.col("range"))).alias("t"))
    )
    return spine.join(counts, [*_JOB_KEY, "t"], "left")
