"""Structured Streaming ingest of arriving job-history logs.

The reference is batch-only, but two of its semantics are exactly the
shapes Structured Streaming formalizes (SURVEY.md §2.7):

* last-SUCCESS-attempt supersedes earlier ones  -> an update-mode arg-max
  aggregate (:func:`latest_success_attempts`, ``max_by`` over record order);
* concurrency-over-time counting               -> watermarked tumbling
  windows (:func:`attempt_finish_counts`).

Every operator here is built from the batch definitions in
``sources.job_history``: the same ``source_file`` key
(``input_file_name()``), the same record split and parse expressions, the
``ATTEMPT_FIELDS`` attribute projection, the ``final_eligible()`` rule and
the taskid→jobid rule. Each arriving file is one job's whole log, split to
records and parsed to the same (source_file, seq, event, attrs) shape, so
streamed rows join to the batch and lake views. A directory of job logs
therefore behaves as an unbounded table of history events — the 100 TB-scale
shape is "the JobTracker drops finished-job logs into a bucket; the engine
keeps rolling views current" with per-file parallelism and bounded state
(watermarks, or one small row per live key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from hadoop_jobanalyzer_spark.sources.job_history import (
    ATTEMPT_FIELDS,
    _jobid_of_taskid,
    _split_records,
    error_class,
    final_eligible,
    jobs_view,
    not_setup_cleanup,
    parse_records,
)

__all__ = [
    "read_history_stream",
    "attempt_finish_counts",
    "attempt_sessions",
    "job_status_stream",
    "latest_success_attempts",
    "dedup_attempts_stream",
    "wasted_counts_stream",
    "error_counts_stream",
    "enrich_attempts_stream",
]


def read_history_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
    unescape: bool = False,
) -> DataFrame:
    """Streaming analog of ``read_raw_records`` + ``parse_records``: watch a
    directory for arriving job-history logs, emit parsed event records.

    One file = one job's complete log, so record reassembly can never
    straddle a micro-batch boundary and ``seq`` (in-file order) is exact —
    the property the final-attempt rule below depends on. The
    ``binaryFile`` source delivers each file whole (the streaming ``text``
    source ignores ``wholetext`` and would drop multi-physical-line records
    — ERROR stack traces); ``source_file``, decode and record split are the
    same expressions as batch.
    """
    reader = spark.readStream.format("binaryFile").schema(
        "path STRING, modificationTime TIMESTAMP, length LONG, content BINARY"
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.load(path)
    records = _split_records(
        raw.select(
            F.input_file_name().alias("source_file"),
            F.decode(F.col("content"), "UTF-8").alias("value"),
        )
    )
    return parse_records(records, unescape=unescape)


# the ATTEMPT_FIELDS columns of one streamed attempt record; COUNTERS parsing
# and the tracker/host columns stay with the merged batch views
_EVENT_COLUMNS = {
    "taskid",
    "task_type",
    "task_status",
    "start_time",
    "finish_time",
    "shuffle_finished",
    "sort_finished",
    "error",
}


def _attempt_events(parsed: DataFrame) -> DataFrame:
    """Flat per-record projection of ``ATTEMPT_FIELDS`` (no cross-record
    merge — streaming operators fold records incrementally instead)."""
    a = F.col("attrs")
    return parsed.filter(F.col("event").isin("MapAttempt", "ReduceAttempt")).select(
        "source_file",
        "seq",
        F.col("event").alias("kind"),
        a["TASK_ATTEMPT_ID"].alias("attempt_id"),
        *[
            (a[key].cast(typ) if typ else a[key]).alias(name)
            for key, name, typ in ATTEMPT_FIELDS
            if name in _EVENT_COLUMNS
        ],
    )


def _finished_events(parsed: DataFrame) -> DataFrame:
    """Attempt records that carry a FINISH_TIME, with it as ``finish_ts``
    (the event-time column the watermarked operators key on)."""
    return (
        _attempt_events(parsed)
        .filter(F.col("finish_time").isNotNull())
        .withColumn("finish_ts", F.timestamp_millis(F.col("finish_time")))
    )


def attempt_finish_counts(
    parsed: DataFrame,
    window_duration: str = "1 minute",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Watermarked tumbling-window counts of attempt completions per task
    type — the streaming form of the timeline's "what finished when"
    (SURVEY.md §2.7). Late records beyond ``watermark_delay`` are dropped
    and window state is evicted, which bounds memory on an unbounded log
    stream.
    """
    return (
        _finished_events(parsed)
        .withWatermark("finish_ts", watermark_delay)
        .groupBy(F.window("finish_ts", window_duration).alias("win"), "task_type")
        .agg(F.count("*").alias("n_finished"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "task_type",
            "n_finished",
        )
    )


def attempt_sessions(
    parsed: DataFrame,
    gap: str = "5 minutes",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Session windows over attempt completions per task type: consecutive
    finishes closer than ``gap`` merge into one session (the streaming
    form of q36's batch sessionization). Works on a stream (with the
    watermark bounding session state) AND on a batch DataFrame (the same
    expression — Spark ignores the watermark in batch), which is what the
    differential test exploits.
    """
    return (
        _finished_events(parsed)
        .withWatermark("finish_ts", watermark_delay)
        .groupBy(F.session_window("finish_ts", gap).alias("win"), "task_type")
        .agg(F.count("*").alias("n_finished"))
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "task_type",
            "n_finished",
        )
    )


def job_status_stream(parsed: DataFrame) -> DataFrame:
    """Rolling last-write-wins job merge (reference A1) as a streaming
    aggregation: the batch ``jobs_view`` merge, projected to the job's
    identity, status, times and task totals.
    Emit with ``outputMode("update")`` / ``"complete"``.
    """
    return jobs_view(parsed).select(
        "source_file",
        "jobid",
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
    )


def latest_success_attempts(parsed: DataFrame) -> DataFrame:
    """Per task, the latest (by in-file record order) :func:`final_eligible`
    attempt record — the reference's ``finalAttempt`` map
    (bin/job_history:276-279), the rule batch ``with_final_flag`` applies.
    The rule is an arg-max, so it is a plain streaming aggregate: ``max_by``
    over ``seq`` plus a count, one state row per (source_file, taskid).
    Columns: source_file, taskid, attempt_id, finish_time, shuffle_finished,
    n_success_attempts. Emit with ``outputMode("update")`` /
    ``"complete"``; batch ``final_attempts`` is the differential check.
    """
    latest = F.max_by(
        F.struct("attempt_id", "finish_time", "shuffle_finished"), F.col("seq")
    )
    return (
        _attempt_events(parsed)
        .filter(final_eligible())
        .groupBy("source_file", "taskid")
        .agg(latest.alias("_latest"), F.count("*").alias("n_success_attempts"))
        .select("source_file", "taskid", "_latest.*", "n_success_attempts")
    )


def dedup_attempts_stream(
    parsed: DataFrame, watermark_delay: str = "30 minutes"
) -> DataFrame:
    """Streaming exact dedup of attempt records: first record per
    (attempt_id, record kind) wins, duplicates arriving within the
    watermark are dropped and state is evicted past it —
    ``dropDuplicatesWithinWatermark``, the streaming form of the batch
    engine's dropDuplicates/countDistinct family (SURVEY.md O3).
    """
    return (
        _finished_events(parsed)
        .withWatermark("finish_ts", watermark_delay)
        .dropDuplicatesWithinWatermark(["attempt_id", "kind"])
    )


def wasted_counts_stream(parsed: DataFrame) -> DataFrame:
    """Streaming form of the wasted-attempt rollup (reference
    ``wastedAttempts``, bin/job_history:205,276-281): per task, finished
    attempts minus the single surviving SUCCESS — every other finish is
    thrown-away work. Plain incremental aggregation (two counters per
    task, no custom state store); emit with ``update``/``complete``.
    SETUP/CLEANUP excluded as in the batch operator.
    """
    return (
        _finished_events(parsed)
        .filter(not_setup_cleanup())
        .groupBy("source_file", "taskid")
        .agg(
            F.count("*").alias("n_finished"),
            F.count(F.when(F.col("task_status") == "SUCCESS", 1)).alias("n_success"),
        )
        .select(
            "source_file",
            "taskid",
            "n_finished",
            (F.col("n_finished") - F.least(F.lit(1), F.col("n_success"))).alias(
                "n_wasted"
            ),
        )
    )


def error_counts_stream(parsed: DataFrame) -> DataFrame:
    """Streaming failure analysis: running counts of failed/killed attempts
    per (task_type, status, exception class) — the incremental form of the
    batch ``error_summary`` report. A failed attempt carries exactly one
    terminal record, so ``count(*)`` over the filtered stream equals the
    batch report's distinct-attempt count (differential-tested). Pure
    incremental aggregation; emit with ``update``/``complete``.
    """
    return (
        _attempt_events(parsed)
        .filter(
            F.col("task_status").isin("FAILED", "KILLED") | F.col("error").isNotNull()
        )
        .groupBy(
            "source_file",
            "task_type",
            "task_status",
            error_class(F.col("error")).alias("error_class"),
        )
        .agg(F.count("*").alias("n_attempts"))
    )


def enrich_attempts_stream(parsed: DataFrame, jobs_static: DataFrame) -> DataFrame:
    """Stream-static enrichment: attach job attributes (user, jobname) from
    a static jobs view (e.g. the history lake) to the live attempt stream.
    Spark plans the static side as a broadcast per micro-batch — the
    canonical pattern for joining a stream against slowly-changing
    dimensions without stateful stream-stream machinery.
    """
    # the static side must be unique per jobid or the join fans attempts
    # out (the same jobid can appear under two source files / duplicate
    # lake ingests); min() is a deterministic pick
    dims = (
        jobs_static.groupBy(F.col("jobid").alias("_jobid"))
        .agg(F.min("user").alias("user"), F.min("jobname").alias("jobname"))
    )
    ev = _attempt_events(parsed).withColumn("jobid", _jobid_of_taskid(F.col("taskid")))
    return ev.join(F.broadcast(dims), ev["jobid"] == dims["_jobid"], "left").drop(
        "_jobid"
    )
