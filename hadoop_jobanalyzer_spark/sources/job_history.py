"""Ingest: Hadoop 0.20-era job-history logs -> typed DataFrame views.

Input grammar (SURVEY.md §1.1; parser at ``/root/reference/bin/job_history:193-228``):
one *logical record* per ``" ."``-terminated line group —
``EVENT key1="v1" key2="v2" ... .`` — with multi-physical-line records when a
value (ERROR stack traces) embeds newlines. Values keep Hadoop's
backslash-escaping of ``. = :`` (the reference never unescapes; we expose an
option).

Scale design: one file = one Hadoop job (a few MB). We read ``wholetext``
per file and split records with a single regex — record reassembly can never
straddle a file-split boundary, the in-file record sequence is exact (needed
for last-write-wins merge order), and parallelism comes from *many files*
(the 100 TB case is millions of job logs, partitioned by file), not from
splitting one small file. Everything downstream is pure Catalyst
expressions — no Python UDFs (SURVEY.md §2.8).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hadoop_jobanalyzer_spark.functions.counters import parse_counters

# Reference record terminator (bin/job_history:214-218): a record ends with
# " ." at end-of-physical-line.
RECORD_SEP_RE = r" \.(\r?\n|$)"

# Reference attr regex is ([^=]+)="([^"]*)" (bin/job_history:193); all
# observed keys are \w+, and anchoring on word chars avoids swallowing the
# separating spaces the reference's [^=]+ tolerates.
ATTR_RE = r'(\w+)="([^"]*)"'

EVENT_RE = r"^(\w+)"


def read_raw_records(spark: SparkSession, path: str) -> DataFrame:
    """Read job-history log file(s) -> one row per *logical record*.

    Columns: source_file, seq (0-based record index within its file), record.

    Replaces the reference's ``remainder`` line-continuation loop
    (bin/job_history:214-218, bin/job_history.py:56-60) with a per-file
    regex split; ``seq`` preserves exact in-file event order, which the
    last-write-wins merges and final-attempt selection depend on.
    """
    raw = spark.read.text(path, wholetext=True)
    return _split_records(raw.select(F.input_file_name().alias("source_file"), "value"))


def stage_url(url: str, staging_dir: str | None = None) -> str:
    """HTTP(S) source (reference ``-i http...`` / CGI ``url=`` param,
    bin/job_history:181-183, job_history.cgi:96-97): download the log to a
    local staging file and return its path for ``load_history``.

    The fetch is a driver-side boundary exactly as in the reference (the
    only network hop in the system); the parallel read happens on the staged
    copy. ``file://`` URLs work too (used by tests — no network here).
    """
    import os
    import shutil
    import tempfile
    import urllib.request

    fd, path = tempfile.mkstemp(
        suffix=".txt", prefix="job_history_", dir=staging_dir
    )
    # open the descriptor first so it is closed whatever fails next; a
    # failed fetch leaves no staged file behind
    try:
        with open(fd, "wb") as out, urllib.request.urlopen(url) as resp:
            shutil.copyfileobj(resp, out, 1 << 20)
    except BaseException:
        os.unlink(path)
        raise
    return path


def records_from_string(spark: SparkSession, log_text: str, name: str = "<inline>") -> DataFrame:
    """Inline-body source: a whole log passed as a string (reference CGI
    ``log=`` POST param, job_history.cgi:98-99)."""
    raw = spark.createDataFrame([(name, log_text)], ["source_file", "value"])
    return _split_records(raw)


def _split_records(raw: DataFrame) -> DataFrame:
    parts = F.split(F.col("value"), RECORD_SEP_RE)
    rec = F.posexplode(F.col("_parts")).alias("seq", "record")
    return (
        raw.select("source_file", parts.alias("_parts"))
        .select("source_file", F.size("_parts").alias("_n"), rec)
        # the element after the last separator is unterminated remainder —
        # the reference never dispatches it (bin/job_history:214-218 leaves
        # it in `remainder` at EOF); it is "" when input ends with " ."
        .filter(F.col("seq") < F.col("_n") - 1)
        .filter(F.length(F.trim(F.col("record"))) > 2)
        .select("source_file", F.col("seq").cast("long").alias("seq"), "record")
    )


def parse_records(records: DataFrame, unescape: bool = False) -> DataFrame:
    """records -> (source_file, seq, event, attrs map<string,string>).

    Spark analog of the reference's regex fold step (bin/job_history:220-228).
    ``unescape=True`` strips Hadoop's backslash escapes; default False for
    byte parity with the reference, which never unescapes (SURVEY.md §1.1).
    """
    value = F.col("record")
    attr_val = F.regexp_extract_all(value, F.lit(ATTR_RE), 2)
    if unescape:
        attr_val = F.transform(attr_val, lambda v: F.regexp_replace(v, r"\\(.)", "$1"))
    return records.select(
        "source_file",
        "seq",
        F.regexp_extract(value, EVENT_RE, 1).alias("event"),
        F.map_from_arrays(
            F.regexp_extract_all(value, F.lit(ATTR_RE), 1),
            attr_val,
        ).alias("attrs"),
    )


def error_class(error: Column) -> Column:
    """Exception class of an ERROR attribute: the first
    ``...Exception``/``...Error`` token of the raw (backslash-escaped)
    value, unescaped for display; NULL when there is none."""
    klass = F.regexp_replace(
        F.regexp_extract(error, r"([\w$]+(?:\\\.[\w$]+)*(?:Exception|Error))", 1),
        r"\\\.",
        ".",
    )
    return F.when(klass != "", klass)


def _jobid_of_taskid(taskid: Column) -> Column:
    # task_201010291643_0125_m_000513 -> job_201010291643_0125
    return F.concat(F.lit("job_"), F.regexp_extract(taskid, r"^task_(\d+_\d+)_", 1))


def _last_non_null(attr: Column, seq: Column) -> Column:
    """Last-write-wins over in-file record order, ignoring records that lack
    the attribute — the Spark form of the reference's mutable-map merge
    (``attrs.each {k,v -> job[k]=v}``, bin/job_history:232-235)."""
    return F.max_by(attr, F.when(attr.isNotNull(), seq))


_A = "attrs"


def _merged_attrs(
    parsed: DataFrame,
    group_cols: list[str],
    fields: list[tuple[str, str, str | None]],
    extra_aggs: list[Column] | None = None,
) -> DataFrame:
    """Group records and merge each listed attribute last-non-null-wins.

    ``fields``: (ATTR_KEY, out_name, cast_type|None). Special cast types:
    'counters' -> parsed counters struct array, 'splits' -> array<string>.
    ``extra_aggs`` join the same single aggregation — one shuffle for
    everything a view needs (no second groupBy + join).
    """
    aggs = []
    for key, name, typ in fields:
        col = _last_non_null(F.col(_A)[key], F.col("seq"))
        if typ == "counters":
            col = parse_counters(col)
        elif typ == "splits":
            col = F.when(col == "", F.array().cast("array<string>")).otherwise(F.split(col, ","))
        elif typ is not None:
            col = col.cast(typ)
        aggs.append(col.alias(name))
    aggs.append(F.min("seq").alias("first_seq"))
    aggs.append(F.max("seq").alias("last_seq"))
    aggs.extend(extra_aggs or [])
    return parsed.groupBy(*group_cols).agg(*aggs)


JOB_FIELDS: list[tuple[str, str, str | None]] = [
    ("JOBNAME", "jobname", None),
    ("USER", "user", None),
    ("SUBMIT_TIME", "submit_time", "long"),
    ("LAUNCH_TIME", "launch_time", "long"),
    ("FINISH_TIME", "finish_time", "long"),
    ("JOBCONF", "jobconf", None),
    ("JOB_PRIORITY", "job_priority", None),
    ("JOB_STATUS", "job_status", None),
    ("TOTAL_MAPS", "total_maps", "long"),
    ("TOTAL_REDUCES", "total_reduces", "long"),
    ("FINISHED_MAPS", "finished_maps", "long"),
    ("FINISHED_REDUCES", "finished_reduces", "long"),
    ("FAILED_MAPS", "failed_maps", "long"),
    ("FAILED_REDUCES", "failed_reduces", "long"),
    ("COUNTERS", "counters", "counters"),
]


def jobs_view(parsed: DataFrame) -> DataFrame:
    """One row per job: last-write-wins merge of all ``Job`` records
    (SURVEY.md A1; bin/job_history:232-235)."""
    jobs = parsed.filter(F.col("event") == "Job").withColumn("jobid", F.col(_A)["JOBID"])
    return _merged_attrs(jobs, ["source_file", "jobid"], JOB_FIELDS)


TASK_FIELDS: list[tuple[str, str, str | None]] = [
    ("TASK_TYPE", "task_type", None),
    ("START_TIME", "start_time", "long"),
    ("FINISH_TIME", "finish_time", "long"),
    ("TASK_STATUS", "task_status", None),
    ("SPLITS", "splits", "splits"),
    ("COUNTERS", "counters", "counters"),
    ("ERROR", "error", None),
]


def tasks_view(parsed: DataFrame) -> DataFrame:
    """One row per task, merged from ``Task`` events (bin/job_history:315-333).

    All task types are kept (MAP/REDUCE/SETUP/CLEANUP); report operators
    filter, mirroring the reference's per-type folds.
    """
    tasks = parsed.filter(F.col("event") == "Task").withColumn("taskid", F.col(_A)["TASKID"])
    out = _merged_attrs(tasks, ["source_file", "taskid"], TASK_FIELDS)
    return out.withColumn("jobid", _jobid_of_taskid(F.col("taskid")))


ATTEMPT_FIELDS: list[tuple[str, str, str | None]] = [
    ("TASKID", "taskid", None),
    ("TASK_TYPE", "task_type", None),
    ("START_TIME", "start_time", "long"),
    ("FINISH_TIME", "finish_time", "long"),
    ("SHUFFLE_FINISHED", "shuffle_finished", "long"),
    ("SORT_FINISHED", "sort_finished", "long"),
    ("TASK_STATUS", "task_status", None),
    ("TRACKER_NAME", "tracker_name", None),
    ("HOSTNAME", "hostname", None),
    ("HTTP_PORT", "http_port", "int"),
    ("STATE_STRING", "state_string", None),
    ("COUNTERS", "counters", "counters"),
    ("ERROR", "error", None),
]


def attempts_view(parsed: DataFrame) -> DataFrame:
    """One row per task attempt, merged from ``MapAttempt``/``ReduceAttempt``
    records (bin/job_history:246-257,285-295).

    Extra columns beyond FIXTURES.md §2: ``kind`` (MapAttempt|ReduceAttempt),
    ``finish_seq`` (in-file order of the record carrying FINISH_TIME — the
    ordering key for final-attempt selection, bin/job_history:276-279), and
    first_seq/last_seq. START_TIME==0 is normalized to null (reference F5
    zero-start filter, bin/job_history:264).
    """
    att = parsed.filter(F.col("event").isin("MapAttempt", "ReduceAttempt")).withColumn(
        "attempt_id", F.col(_A)["TASK_ATTEMPT_ID"]
    )
    # kind and finish_seq need per-record (not last-non-null) semantics but
    # ride the same single aggregation — one shuffle, no join-back.
    merged = _merged_attrs(
        att,
        ["source_file", "attempt_id"],
        ATTEMPT_FIELDS,
        extra_aggs=[
            F.max_by("event", "seq").alias("kind"),
            F.max(
                F.when(F.col(_A)["FINISH_TIME"].isNotNull(), F.col("seq"))
            ).alias("finish_seq"),
        ],
    )
    out = (
        merged.withColumn("jobid", _jobid_of_taskid(F.col("taskid")))
        .withColumn(
            "start_time",
            F.when(F.col("start_time") == 0, F.lit(None).cast("long")).otherwise(
                F.col("start_time")
            ),
        )
    )
    return out


def not_setup_cleanup() -> Column:
    """True for MAP/REDUCE attempts: the reference skips SETUP/CLEANUP tasks
    in every per-task rule (early return, bin/job_history:242-244)."""
    return ~F.col("task_type").isin("SETUP", "CLEANUP")


def final_eligible() -> Column:
    """True for an attempt that may be its task's final one: SUCCESS with a
    FINISH_TIME, not SETUP/CLEANUP (bin/job_history:242-244,276-279). Reads
    ``task_status``/``finish_time``/``task_type``, so it applies to merged
    attempts and to single attempt records alike."""
    return (
        (F.col("task_status") == "SUCCESS")
        & F.col("finish_time").isNotNull()
        & not_setup_cleanup()
    )


def with_final_flag(attempts: DataFrame) -> DataFrame:
    """Add boolean ``is_final``: the attempt is its task's *last* (by in-file
    record order) :func:`final_eligible` finish — the reference's
    ``finalAttempt`` map (bin/job_history:276-279,302-305); every other
    finished attempt is wasted. Never NULL: a status-less attempt is False.
    The window key holds ``jobid`` (a function of taskid, so the groups are
    the same) so that input partitioned by job needs no second shuffle.
    """
    eligible = final_eligible()
    final_seq = F.max(F.when(eligible, F.col("finish_seq"))).over(
        Window.partitionBy("source_file", "jobid", "taskid")
    )
    is_final = F.coalesce(eligible & (F.col("finish_seq") == final_seq), F.lit(False))
    return attempts.withColumn("is_final", is_final)


def final_attempts(attempts: DataFrame) -> DataFrame:
    """Per task, the attempt :func:`with_final_flag` marks final: at most one
    row per task, none for a task that never succeeded. Same columns as
    ``attempts``."""
    return with_final_flag(attempts).filter(F.col("is_final")).drop("is_final")


@dataclass
class HistoryViews:
    """The typed views one ingest produces (SURVEY.md §1.3). ``records`` is
    None when the views were reopened from a persisted lake (reports only
    consume the typed views)."""

    records: DataFrame | None
    jobs: DataFrame
    tasks: DataFrame
    attempts: DataFrame

    def final_attempts(self) -> DataFrame:
        return final_attempts(self.attempts)

    def register(self, prefix: str = "jh_") -> None:
        """Expose every view to spark.sql as temp views."""
        if self.records is not None:
            self.records.createOrReplaceTempView(f"{prefix}records")
        self.jobs.createOrReplaceTempView(f"{prefix}jobs")
        self.tasks.createOrReplaceTempView(f"{prefix}tasks")
        self.attempts.createOrReplaceTempView(f"{prefix}attempts")
        self.final_attempts().createOrReplaceTempView(f"{prefix}final_attempts")


def filter_success(views: HistoryViews) -> HistoryViews:
    """Keep only jobs whose final status is SUCCESS, across every view.

    The reference's ``-s`` mode bails out before computing statistics for a
    non-SUCCESS job (bin/job_history:384-386); SURVEY.md §2.9 keeps that as
    an opt-in (``--require-success``) with compute-anyway as the default.
    The jobs view is tiny (one row per job), so the membership join is an
    explicit broadcast semi-join — no shuffle of tasks/attempts. The raw
    ``records`` surface is dropped (None, as for lake-reopened views):
    records carry jobids only inside free-form attrs, so they cannot be
    filtered by the same key set — exposing them unfiltered would leak
    non-SUCCESS jobs through ``jh_records``.
    """
    ok = views.jobs.filter(F.col("job_status") == "SUCCESS")
    keys = F.broadcast(ok.select("source_file", "jobid"))
    on = ["source_file", "jobid"]
    return HistoryViews(
        records=None,
        jobs=ok,
        tasks=views.tasks.join(keys, on, "left_semi"),
        attempts=views.attempts.join(keys, on, "left_semi"),
    )


def load_history(spark: SparkSession, path: str, unescape: bool = False) -> HistoryViews:
    """One-call ingest: path (file, glob, or directory of job logs) -> views."""
    parsed = parse_records(read_raw_records(spark, path), unescape=unescape)
    return HistoryViews(
        records=parsed,
        jobs=jobs_view(parsed),
        tasks=tasks_view(parsed),
        attempts=attempts_view(parsed),
    )
