"""Streaming ingest + stateful operators, differentially checked against the
batch engine on the real fixture logs."""

import os
import shutil
import uuid

import pytest
from pyspark.sql import functions as F

from hadoop_jobanalyzer_spark.sources import load_history
from hadoop_jobanalyzer_spark.streaming import (
    attempt_finish_counts,
    job_status_stream,
    latest_success_attempts,
    read_history_stream,
)

DATA = os.path.join(os.path.dirname(__file__), "data")


@pytest.fixture()
def log_dir(tmp_path, fixture_log1, fixture_log2):
    d = tmp_path / "incoming"
    d.mkdir()
    shutil.copy(fixture_log1, d / "job1.txt")
    shutil.copy(fixture_log2, d / "job2.txt")
    return str(d)


@pytest.fixture()
def local_log_dir(tmp_path):
    """The two in-repo logs (one SUCCESS job, one FAILED job) as an
    arriving-logs directory — runs where the reference logs are absent."""
    d = tmp_path / "incoming_local"
    d.mkdir()
    for name in ("tiny_log.txt", "failed_log.txt"):
        shutil.copy(os.path.join(DATA, name), d / name)
    return str(d)


# One job whose map and reduce each finish two SUCCESS attempts (speculative
# execution): the later finish record in the file is the final attempt.
SPECULATIVE_LOG = r"""Meta VERSION="1" .
Job JOBID="job_202001010000_0003" JOBNAME="speculative\.job" USER="alice" SUBMIT_TIME="1000000" .
Job JOBID="job_202001010000_0003" LAUNCH_TIME="2000000" TOTAL_MAPS="1" TOTAL_REDUCES="1" JOB_STATUS="RUNNING" .
Task TASKID="task_202001010000_0003_m_000000" TASK_TYPE="MAP" START_TIME="3000000" SPLITS="" .
MapAttempt TASK_TYPE="MAP" TASKID="task_202001010000_0003_m_000000" TASK_ATTEMPT_ID="attempt_202001010000_0003_m_000000_0" START_TIME="3000100" TRACKER_NAME="tracker_h1" HTTP_PORT="50060" .
MapAttempt TASK_TYPE="MAP" TASKID="task_202001010000_0003_m_000000" TASK_ATTEMPT_ID="attempt_202001010000_0003_m_000000_1" START_TIME="4000100" TRACKER_NAME="tracker_h2" HTTP_PORT="50060" .
MapAttempt TASK_TYPE="MAP" TASKID="task_202001010000_0003_m_000000" TASK_ATTEMPT_ID="attempt_202001010000_0003_m_000000_1" TASK_STATUS="SUCCESS" FINISH_TIME="5000000" HOSTNAME="h2" .
MapAttempt TASK_TYPE="MAP" TASKID="task_202001010000_0003_m_000000" TASK_ATTEMPT_ID="attempt_202001010000_0003_m_000000_0" TASK_STATUS="SUCCESS" FINISH_TIME="6000000" HOSTNAME="h1" .
Task TASKID="task_202001010000_0003_m_000000" TASK_TYPE="MAP" TASK_STATUS="SUCCESS" FINISH_TIME="6000100" .
Task TASKID="task_202001010000_0003_r_000000" TASK_TYPE="REDUCE" START_TIME="6500000" SPLITS="" .
ReduceAttempt TASK_TYPE="REDUCE" TASKID="task_202001010000_0003_r_000000" TASK_ATTEMPT_ID="attempt_202001010000_0003_r_000000_0" START_TIME="6500100" TRACKER_NAME="tracker_h1" HTTP_PORT="50060" .
ReduceAttempt TASK_TYPE="REDUCE" TASKID="task_202001010000_0003_r_000000" TASK_ATTEMPT_ID="attempt_202001010000_0003_r_000000_1" START_TIME="6600100" TRACKER_NAME="tracker_h2" HTTP_PORT="50060" .
ReduceAttempt TASK_TYPE="REDUCE" TASKID="task_202001010000_0003_r_000000" TASK_ATTEMPT_ID="attempt_202001010000_0003_r_000000_0" TASK_STATUS="SUCCESS" SHUFFLE_FINISHED="7000000" SORT_FINISHED="7500000" FINISH_TIME="8000000" HOSTNAME="h1" .
ReduceAttempt TASK_TYPE="REDUCE" TASKID="task_202001010000_0003_r_000000" TASK_ATTEMPT_ID="attempt_202001010000_0003_r_000000_1" TASK_STATUS="SUCCESS" SHUFFLE_FINISHED="7200000" SORT_FINISHED="7600000" FINISH_TIME="8500000" HOSTNAME="h2" .
Task TASKID="task_202001010000_0003_r_000000" TASK_TYPE="REDUCE" TASK_STATUS="SUCCESS" FINISH_TIME="8500100" .
Job JOBID="job_202001010000_0003" FINISH_TIME="9000000" JOB_STATUS="SUCCESS" FINISHED_MAPS="1" FINISHED_REDUCES="1" FAILED_MAPS="0" FAILED_REDUCES="0" .
"""


def _run_to_memory(df, name: str, output_mode: str):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return q


def test_stream_records_match_batch(spark, log_dir):
    name = f"rec_{uuid.uuid4().hex[:8]}"
    parsed = read_history_stream(spark, log_dir)
    _run_to_memory(parsed, name, "append")
    streamed = spark.sql(f"SELECT event, COUNT(*) n FROM {name} GROUP BY event")
    got = {r["event"]: r["n"] for r in streamed.collect()}
    batch = load_history(spark, log_dir).records
    want = {r["event"]: r["n"] for r in batch.groupBy("event").agg(F.count("*").alias("n")).collect()}
    assert got == want and got["Job"] > 0


def _job_status_stream_vs_batch(spark, log_dir):
    name = f"jobs_{uuid.uuid4().hex[:8]}"
    parsed = read_history_stream(spark, log_dir)
    _run_to_memory(job_status_stream(parsed), name, "complete")
    got = {
        r["jobid"]: (r["job_status"], r["finish_time"], r["finished_maps"])
        for r in spark.table(name).collect()
    }
    batch = load_history(spark, log_dir).jobs
    want = {
        r["jobid"]: (r["job_status"], r["finish_time"], r["finished_maps"])
        for r in batch.collect()
    }
    assert got == want and len(got) == 2
    return got


def test_job_status_stream_matches_batch_jobs(spark, log_dir):
    _job_status_stream_vs_batch(spark, log_dir)


def test_job_status_stream_matches_batch_jobs_local(spark, local_log_dir):
    got = _job_status_stream_vs_batch(spark, local_log_dir)
    assert got == {
        "job_202001010000_0001": ("SUCCESS", 12000000, 2),
        "job_202001010000_0002": ("FAILED", 6000000, 0),
    }


def test_latest_success_attempts_match_batch_finals(spark, log_dir):
    name = f"finals_{uuid.uuid4().hex[:8]}"
    parsed = read_history_stream(spark, log_dir)
    _run_to_memory(latest_success_attempts(parsed), name, "update")
    # last state emitted per task wins (single availableNow batch here)
    got = {r["taskid"]: r["attempt_id"] for r in spark.table(name).collect()}
    finals = load_history(spark, log_dir).final_attempts()
    want = {r["taskid"]: r["attempt_id"] for r in finals.collect()}
    assert got == want
    assert len(want) > 800  # 512+320 finished tasks in log1 alone


def test_latest_success_attempts_match_batch_finals_local(spark, local_log_dir):
    """One file per micro-batch, plus a speculative job: the streamed
    (source_file, taskid) rows equal batch ``final_attempts`` tuple for
    tuple, source_file included, so the two join."""
    with open(os.path.join(local_log_dir, "speculative_log.txt"), "w") as f:
        f.write(SPECULATIVE_LOG)
    name = f"finals_{uuid.uuid4().hex[:8]}"
    parsed = read_history_stream(spark, local_log_dir, max_files_per_trigger=1)
    _run_to_memory(latest_success_attempts(parsed), name, "update")
    rows = spark.table(name).collect()
    cols = ["source_file", "taskid", "attempt_id", "finish_time", "shuffle_finished"]
    got = sorted(tuple(r[c] for c in cols) for r in rows)
    finals = load_history(spark, local_log_dir).final_attempts().select(*cols)
    assert got == sorted(tuple(r) for r in finals.collect())
    speculative = {
        r["taskid"]: (r["attempt_id"], r["n_success_attempts"])
        for r in rows
        if r["source_file"].endswith("speculative_log.txt")
    }
    assert speculative == {
        "task_202001010000_0003_m_000000": ("attempt_202001010000_0003_m_000000_0", 2),
        "task_202001010000_0003_r_000000": ("attempt_202001010000_0003_r_000000_1", 2),
    }


def test_attempt_finish_counts_windows(spark, log_dir):
    name = f"wins_{uuid.uuid4().hex[:8]}"
    parsed = read_history_stream(spark, log_dir)
    # complete mode: append would (correctly) withhold windows newer than
    # the watermark at end-of-stream; complete emits every window, which is
    # what the batch differential needs
    _run_to_memory(
        attempt_finish_counts(parsed, window_duration="5 minutes"), name, "complete"
    )
    rows = spark.table(name).collect()
    assert rows, "expected windowed counts"
    total = sum(r["n_finished"] for r in rows)
    # every MAP/REDUCE (+SETUP/CLEANUP) attempt with a finish time lands in
    # exactly one window; compare against the batch attempt count
    batch = load_history(spark, log_dir).attempts
    want = batch.filter(F.col("finish_time").isNotNull()).count()
    assert total == want
    for r in rows:
        assert (r["window_end"] - r["window_start"]).total_seconds() == 300


def test_dedup_attempts_stream(spark, log_dir):
    from hadoop_jobanalyzer_spark.streaming import dedup_attempts_stream

    name = f"dedup_{uuid.uuid4().hex[:8]}"
    parsed = read_history_stream(spark, log_dir)
    _run_to_memory(dedup_attempts_stream(parsed), name, "append")
    rows = spark.table(name).collect()
    keys = [(r["attempt_id"], r["kind"]) for r in rows]
    assert len(keys) == len(set(keys))  # exactly-once per (attempt, kind)
    # matches batch distinct attempts with a finish record
    batch = load_history(spark, log_dir).attempts
    assert len(keys) == batch.filter(F.col("finish_time").isNotNull()).count()


def test_hash_sample_composes_with_streaming(spark, log_dir):
    """Stateless engine ops (deterministic hash sampling) compose with
    streaming sources unchanged: the streamed sample equals the batch
    sample of the same attempt events (membership is a pure key function,
    no state required)."""
    import pyspark.sql.functions as F

    from hadoop_jobanalyzer_spark.operators.sampling import hash_bucket
    from hadoop_jobanalyzer_spark.sources.job_history import parse_records, read_raw_records
    from hadoop_jobanalyzer_spark.streaming.history_stream import _attempt_events

    name = "sampled_attempts"
    parsed = read_history_stream(spark, log_dir)
    stream_sampled = _attempt_events(parsed).filter(
        hash_bucket(F.col("attempt_id")) < 25
    ).select("attempt_id", "seq")
    _run_to_memory(stream_sampled, name, "append")
    got = sorted((r["attempt_id"], r["seq"]) for r in spark.table(name).collect())

    batch = _attempt_events(parse_records(read_raw_records(spark, log_dir))).filter(
        hash_bucket(F.col("attempt_id")) < 25
    )
    want = sorted((r["attempt_id"], r["seq"]) for r in batch.select("attempt_id", "seq").collect())
    assert got == want and len(got) > 0


def test_attempt_sessions_stream_matches_batch(spark, log_dir):
    """Streaming session windows equal the batch evaluation of the same
    expression over the same records (complete mode; availableNow)."""
    from hadoop_jobanalyzer_spark.sources.job_history import parse_records, read_raw_records
    from hadoop_jobanalyzer_spark.streaming import attempt_sessions

    name = f"sessions_{uuid.uuid4().hex[:8]}"
    _run_to_memory(
        attempt_sessions(read_history_stream(spark, log_dir)), name, "complete"
    )
    got = sorted(
        (r["session_start"], r["session_end"], r["task_type"], r["n_finished"])
        for r in spark.table(name).collect()
    )
    want = sorted(
        (r["session_start"], r["session_end"], r["task_type"], r["n_finished"])
        for r in attempt_sessions(
            parse_records(read_raw_records(spark, log_dir))
        ).collect()
    )
    assert got == want and len(got) > 0


def _wasted_counts_stream_vs_batch(spark, log_dir):
    """Streaming wasted counts == batch wasted_attempts rolled up per task."""
    from hadoop_jobanalyzer_spark.operators import wasted_attempts
    from hadoop_jobanalyzer_spark.streaming.history_stream import wasted_counts_stream

    name = f"wasted_{uuid.uuid4().hex[:8]}"
    parsed = read_history_stream(spark, log_dir)
    _run_to_memory(wasted_counts_stream(parsed), name, "complete")
    got = {
        r["taskid"]: r["n_wasted"]
        for r in spark.table(name).filter("n_wasted > 0").collect()
    }
    batch = wasted_attempts(load_history(spark, log_dir))
    want = {
        r["taskid"]: r["n"]
        for r in batch.groupBy("taskid").agg(F.count("*").alias("n")).collect()
    }
    assert got == want
    return got


def test_wasted_counts_stream_matches_batch(spark, log_dir):
    got = _wasted_counts_stream_vs_batch(spark, log_dir)
    assert len(got) > 100  # kmerStats alone wastes 139


def test_wasted_counts_stream_matches_batch_local(spark, local_log_dir):
    got = _wasted_counts_stream_vs_batch(spark, local_log_dir)
    assert got == {
        "task_202001010000_0001_m_000001": 1,
        "task_202001010000_0002_m_000000": 1,
    }


def _error_counts_stream_vs_batch(spark, log_dir):
    """Streaming error counts == the batch ``error_summary`` rows, keyed by
    source_file."""
    from hadoop_jobanalyzer_spark.operators import error_summary
    from hadoop_jobanalyzer_spark.streaming.history_stream import error_counts_stream

    name = f"errs_{uuid.uuid4().hex[:8]}"
    parsed = read_history_stream(spark, log_dir)
    _run_to_memory(error_counts_stream(parsed), name, "complete")
    from collections import Counter

    got, want = Counter(), Counter()
    key = ["source_file", "task_type", "task_status", "error_class"]
    for r in spark.table(name).collect():
        got[tuple(r[c] for c in key)] += r["n_attempts"]
    for r in error_summary(load_history(spark, log_dir)).collect():
        want[tuple(r[c] for c in key)] += r["n_attempts"]
    assert got == want
    return got


def test_error_counts_stream_matches_batch(spark, log_dir):
    got = _error_counts_stream_vs_batch(spark, log_dir)
    assert sum(got.values()) > 100


def test_error_counts_stream_matches_batch_local(spark, local_log_dir):
    got = _error_counts_stream_vs_batch(spark, local_log_dir)
    by_file = {(os.path.basename(k[0]),) + k[1:]: n for k, n in got.items()}
    assert by_file == {
        ("tiny_log.txt", "MAP", "FAILED", "java.lang.OutOfMemoryError"): 1,
        ("failed_log.txt", "MAP", "FAILED", "java.io.IOException"): 1,
    }


def _enrich_attempts_stream_vs_batch(spark, log_dir):
    """Stream-static join: every streamed attempt picks up its job's user
    from the static jobs view; counts match the raw attempt-event count."""
    from hadoop_jobanalyzer_spark.streaming.history_stream import (
        enrich_attempts_stream,
    )

    batch = load_history(spark, log_dir)
    name = f"enr_{uuid.uuid4().hex[:8]}"
    parsed = read_history_stream(spark, log_dir)
    _run_to_memory(enrich_attempts_stream(parsed, batch.jobs), name, "append")
    out = spark.table(name)
    n_events = batch.records.filter(
        "event IN ('MapAttempt', 'ReduceAttempt')"
    ).count()
    assert out.count() == n_events
    return {r["user"] for r in out.select("user").distinct().collect()}


def test_enrich_attempts_stream_static_join(spark, log_dir):
    # every row enriched, none null
    assert _enrich_attempts_stream_vs_batch(spark, log_dir) == {"kbhatia", "hadoop"}


def test_enrich_attempts_stream_static_join_local(spark, local_log_dir):
    assert _enrich_attempts_stream_vs_batch(spark, local_log_dir) == {"alice", "bob"}


def test_history_stream_all_lists_every_public_function():
    import inspect

    from hadoop_jobanalyzer_spark.streaming import history_stream

    public = {
        name
        for name, fn in inspect.getmembers(history_stream, inspect.isfunction)
        if not name.startswith("_") and fn.__module__ == history_stream.__name__
    }
    assert public <= set(history_stream.__all__)
    assert all(hasattr(history_stream, name) for name in history_stream.__all__)
