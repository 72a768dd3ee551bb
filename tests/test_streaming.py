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


def test_error_counts_stream_matches_batch(spark, log_dir):
    from hadoop_jobanalyzer_spark.operators import error_summary
    from hadoop_jobanalyzer_spark.streaming.history_stream import error_counts_stream

    name = f"errs_{uuid.uuid4().hex[:8]}"
    parsed = read_history_stream(spark, log_dir)
    _run_to_memory(error_counts_stream(parsed), name, "complete")
    from collections import Counter

    got, want = Counter(), Counter()
    for r in spark.table(name).collect():
        got[(r["task_type"], r["task_status"], r["error_class"])] += r["n_attempts"]
    for r in error_summary(load_history(spark, log_dir)).collect():
        want[(r["task_type"], r["task_status"], r["error_class"])] += r["n_attempts"]
    assert got == want and sum(got.values()) > 100


def test_enrich_attempts_stream_static_join(spark, log_dir):
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
    users = {r["user"] for r in out.select("user").distinct().collect()}
    assert users == {"kbhatia", "hadoop"}  # every row enriched, none null


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
