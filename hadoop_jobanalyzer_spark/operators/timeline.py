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

Scale design — one dense spine, two ways to fill it:

* ``impl="sweep"`` (default): each interval becomes two delta rows
  (+1 at t0, -1 at t1+1), summed per bucket into a sparse aggregate; after
  the spine join a cumulative-sum window partitioned by job turns deltas
  into running concurrency. Cost: O(attempts) + O(range) rows per job —
  *independent of task duration*, so a 10-hour task costs the same as a
  10-second one. Jobs are the unit of parallelism (the 100 TB case is
  millions of logs); one job's spine lives in one window partition,
  bounded by the guard below.
* ``impl="explode"``: the literal ``explode(sequence(t0, t1))`` histogram —
  O(sum of interval lengths) rows, already counts per bucket. Kept as an
  independently-derived cross-check (property tests assert both agree)
  and for tiny inputs.

Either aggregate is sparse (buckets nothing touches are absent);
:func:`timeline` builds the dense ``0..range`` spine once and left-joins
the aggregate onto it once.

Guard (BASELINE.md "timeline scale guard"): a per-job coarsening factor
``k = ceil((range+1)/max_buckets)`` widens buckets so the spine never
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
    # filter below could hide a task's last SUCCESS
    att = (
        with_final_flag(views.attempts)
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

    def iv(series: str, lo: Column, hi: Column) -> Column:
        return F.struct(
            F.lit(series).alias("series"),
            (lo - submit).alias("t0"),
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

    exploded = att.select(
        *_JOB_KEY,
        "attempt_id",
        (finish - submit).alias("range"),
        F.explode(phases).alias("_iv"),
    ).filter(F.col("_iv").isNotNull() & F.col("_iv.t1").isNotNull())

    return (
        exploded.select(
            *_JOB_KEY,
            "attempt_id",
            "range",
            F.col("_iv.series").alias("series"),
            F.greatest(F.col("_iv.t0"), F.lit(0)).alias("t0"),
            F.least(F.col("_iv.t1"), F.col("range")).alias("t1"),
        )
        .filter(F.col("t1") >= F.col("t0"))
    )


def _coarsen(intervals: DataFrame, max_buckets: int) -> DataFrame:
    """Per-job bucket widening so the spine stays <= max_buckets rows."""
    k = F.greatest(
        F.ceil((F.col("range") + 1) / F.lit(max_buckets)), F.lit(1)
    ).alias("_k")
    return (
        intervals.withColumn("_k", k)
        .withColumn("t0", F.floor(F.col("t0") / F.col("_k")))
        .withColumn("t1", F.floor(F.col("t1") / F.col("_k")))
        .withColumn("range", F.floor(F.col("range") / F.col("_k")))
        .drop("_k")
    )


def _series_sums(value: Column) -> list[Column]:
    return [
        F.coalesce(F.sum(F.when(F.col("series") == s, value)), F.lit(0)).alias(s)
        for s in SERIES
    ]


def _dense_spine(intervals: DataFrame) -> DataFrame:
    """One row per (job, t) for t in 0..range — the zeroed dense arrays of
    bin/job_history:476-482."""
    return (
        intervals.groupBy(*_JOB_KEY)
        .agg(F.max("range").alias("range"))
        .select(*_JOB_KEY, F.explode(F.sequence(F.lit(0), F.col("range"))).alias("t"))
    )


def timeline(
    views: HistoryViews,
    scale: int = 1000,
    max_buckets: int = 10_000_000,
    impl: str = "sweep",
) -> DataFrame:
    """The timeline report: (source_file, jobid, t, maps, shuffle, merge,
    reduce, waste), dense over t = 0..range, ordered by t."""
    intervals = _coarsen(timeline_intervals(views, scale), max_buckets)
    dense = [F.coalesce(F.col(s), F.lit(0)) for s in SERIES]
    if impl == "sweep":
        counts = _sweep_counts(intervals)
        # running concurrency = cumulative sum of the per-bucket deltas
        w = Window.partitionBy(*_JOB_KEY).orderBy("t").rowsBetween(
            Window.unboundedPreceding, 0
        )
        dense = [F.sum(c).over(w) for c in dense]
    elif impl == "explode":
        counts = _explode_counts(intervals)
    else:
        raise ValueError(f"unknown timeline impl: {impl!r}")
    return (
        _dense_spine(intervals)
        .join(counts, [*_JOB_KEY, "t"], "left")
        .select(*_JOB_KEY, "t", *[c.cast("long").alias(s) for c, s in zip(dense, SERIES)])
        .orderBy(*_JOB_KEY, "t")
    )


def _sweep_counts(intervals: DataFrame) -> DataFrame:
    """Sparse per-bucket boundary deltas: +1 at t0, -1 at t1+1.

    O(attempts) delta rows; :func:`timeline` turns them into running
    concurrency with a window partitioned by job (each job's spine is
    guard-bounded), so scale-out is across jobs.
    """
    deltas = intervals.select(
        *_JOB_KEY,
        "series",
        F.explode(
            F.array(
                F.struct(F.col("t0").alias("t"), F.lit(1).alias("d")),
                F.struct((F.col("t1") + 1).alias("t"), F.lit(-1).alias("d")),
            )
        ).alias("_e"),
    ).select(*_JOB_KEY, "series", F.col("_e.t").alias("t"), F.col("_e.d").alias("d"))
    return deltas.groupBy(*_JOB_KEY, "t").agg(*_series_sums(F.col("d")))


def _explode_counts(intervals: DataFrame) -> DataFrame:
    """Literal per-bucket expansion — the reference's nested loops
    (bin/job_history:486-527) as explode(sequence)+groupBy. Cross-check impl;
    cost grows with total interval length."""
    buckets = intervals.select(
        *_JOB_KEY, "series", F.explode(F.sequence(F.col("t0"), F.col("t1"))).alias("t")
    )
    return buckets.groupBy(*_JOB_KEY, "t").agg(*_series_sums(F.lit(1)))
