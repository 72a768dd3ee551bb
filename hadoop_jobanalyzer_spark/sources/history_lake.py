"""Persist parsed job history as a jobid-clustered parquet lake.

The multi-job shape (SURVEY.md §7 milestone 5): parse once, persist the
typed views as parquet, and run every report over the lake instead of
re-parsing raw logs. At fleet scale (millions of job logs) this is the
difference between O(raw text) and O(skipped columnar):

* each view is range-partitioned and sorted by ``jobid`` before the
  write, so the files of one write (and the row groups in them) hold
  contiguous, disjoint jobid ranges, and files are sized by AQE's
  advisory partition size rather than by the number of jobs — no
  ``jobid=`` directories, no small-file spread to compact;
* a per-job query's ``jobid == X`` filter is a pushed parquet filter
  (``PushedFilters`` in the scan — verified by tests): row groups whose
  footer min/max range excludes X are skipped unread;
* cross-job aggregations read only the columns they touch;
* ``append`` adds files next to the existing ones. Reprocessing a job
  means rewriting the view (``mode="overwrite"``); there is no per-job
  in-place replacement.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from hadoop_jobanalyzer_spark.sources.job_history import HistoryViews

_VIEW_NAMES = ("jobs", "tasks", "attempts")


def write_history_lake(views: HistoryViews, path: str, mode: str = "append") -> None:
    """Persist jobs/tasks/attempts, each clustered by jobid.

    Each view is range-partitioned and sorted by ``jobid``, so the files
    of one write cover disjoint jobid ranges; AQE coalesces the range
    partitions to its advisory size, which sets the file size. ``append``
    (the incremental-ingest default) adds one write's files to the view;
    ``overwrite`` replaces the whole view, which is how a job is
    reprocessed. A write of empty views still leaves a schema-carrying
    file, so the lake reopens.
    """
    for name in _VIEW_NAMES:
        (
            getattr(views, name)
            .repartitionByRange("jobid")
            .sortWithinPartitions("jobid")
            .write.mode(mode)
            .parquet(os.path.join(path, name))
        )


def read_history_lake(spark: SparkSession, path: str) -> HistoryViews:
    """Reopen a persisted lake as HistoryViews (records are not persisted —
    reports only consume the typed views)."""
    jobs = spark.read.parquet(os.path.join(path, "jobs"))
    tasks = spark.read.parquet(os.path.join(path, "tasks"))
    attempts = spark.read.parquet(os.path.join(path, "attempts"))
    return HistoryViews(records=None, jobs=jobs, tasks=tasks, attempts=attempts)


def read_evolved(spark: SparkSession, path: str):
    """Read a parquet dataset whose schema EVOLVED across writes
    (columns added over time) with ``mergeSchema``: the unified schema is
    the union of every file's footer schema, and files lacking a column
    surface NULLs for it.

    Plain ``spark.read.parquet`` takes one file's footer as THE schema
    (fast, but silently drops later-added columns when an old file is
    sampled first); a long-lived ingest lake must opt into the footer
    merge explicitly. At 100 TB the merge reads every footer once —
    schedule-time metadata cost, not data I/O — which is why it is a
    deliberate helper and not the default read path.
    """
    return spark.read.option("mergeSchema", "true").parquet(path)
