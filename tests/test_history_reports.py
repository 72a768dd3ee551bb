"""Report operators: hand-computed tiny-log values + reference goldens
(README:25-62, vis/grap/map.d, vis/grap/reduce.d)."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from hadoop_jobanalyzer_spark.operators import (
    job_summary,
    map_table,
    reduce_bytes_table,
    reduce_table,
)
from hadoop_jobanalyzer_spark.sources import load_history

TINY = os.path.join(os.path.dirname(__file__), "data", "tiny_log.txt")
# TINY plus one MAP task whose only attempt finishes with no TASK_STATUS
NO_STATUS = os.path.join(os.path.dirname(__file__), "data", "no_status_log.txt")
GRAP = "/root/reference/vis/grap"


def test_summary_tiny(spark):
    s = job_summary(load_history(spark, TINY)).collect()[0]
    assert s["total_time"] == 10000
    assert s["num_maps"] == 2
    assert s["avg_map_len"] == pytest.approx(4600.5)
    assert s["all_maps_complete"] == 8000
    assert s["num_reduces"] == 1
    assert s["avg_shuffle_len"] == pytest.approx(3000.0)
    assert s["avg_reduce_len"] == pytest.approx(5001.0)
    assert s["job_status"] == "SUCCESS"


def test_summary_golden_log1(spark, fixture_log1):
    """README:26-28 golden averages for the kmerStats job (seconds scale)."""
    s = job_summary(load_history(spark, fixture_log1)).collect()[0]
    assert s["avg_map_len"] == pytest.approx(9450.6328125, abs=1e-9)
    assert s["avg_shuffle_len"] == pytest.approx(13765.465625, abs=1e-9)
    assert s["avg_reduce_len"] == pytest.approx(17074.065625, abs=1e-9)
    assert s["total_time"] == 26021  # floor((FINISH-LAUNCH)/1000)
    assert (s["num_maps"], s["num_reduces"]) == (512, 320)


def test_summary_log2(spark, fixture_log2):
    s = job_summary(load_history(spark, fixture_log2)).collect()[0]
    assert (s["num_maps"], s["num_reduces"]) == (1024, 144)
    assert s["job_status"] == "SUCCESS"
    assert s["avg_map_len"] > 0 and s["avg_reduce_len"] > 0


def test_map_table_tiny(spark):
    rows = map_table(load_history(spark, TINY)).collect()
    assert [tuple(r)[2:] for r in rows] == [
        ("task_202001010000_0001_m_000000", 3000, 7201, 4201, 1),
        ("task_202001010000_0001_m_000001", 3000, 8000, 5000, 2),
    ]


def test_reduce_table_tiny(spark):
    rows = reduce_table(load_history(spark, TINY)).collect()
    assert [tuple(r)[2:] for r in rows] == [
        ("task_202001010000_0001_r_000000", 6000, 8000, 9000, 11001, 5001, 1)
    ]


def test_reduce_bytes_tiny(spark):
    rows = reduce_bytes_table(load_history(spark, TINY)).collect()
    assert [tuple(r)[2:] for r in rows] == [
        ("task_202001010000_0001_r_000000", 4242, 8000, 10000)
    ]


def test_map_table_golden(spark, fixture_log1):
    """Full-frame comparison against the frozen -m output vis/grap/map.d
    (512 rows x 5 cols, space-delimited)."""
    golden = pd.read_csv(
        os.path.join(GRAP, "map.d"),
        sep=" ",
        names=["taskid", "start_time", "end_time", "elapsed", "num_attempts"],
    )
    ours = (
        map_table(load_history(spark, fixture_log1))
        .drop("source_file", "jobid")
        .toPandas()
    )
    pd.testing.assert_frame_equal(
        ours.reset_index(drop=True),
        golden.reset_index(drop=True),
        check_dtype=False,
    )


def test_reduce_table_golden(spark, fixture_log1):
    """vis/grap/reduce.d is the older 6-col -r output (no maps-complete);
    current code emits 7 (SURVEY.md §2.9) — compare the shared columns."""
    golden = pd.read_csv(
        os.path.join(GRAP, "reduce.d"),
        sep=" ",
        names=["taskid", "start_time", "shuffle_finish", "end_time", "elapsed", "num_attempts"],
    )
    ours = (
        reduce_table(load_history(spark, fixture_log1))
        .drop("source_file", "jobid", "maps_complete")
        .toPandas()
    )
    pd.testing.assert_frame_equal(
        ours.reset_index(drop=True),
        golden.reset_index(drop=True),
        check_dtype=False,
    )


def test_reduce_bytes_log1_sane(spark, fixture_log1):
    df = reduce_bytes_table(load_history(spark, fixture_log1))
    rows = df.collect()
    assert len(rows) == 320
    assert all(r["reduce_output_bytes"] > 0 for r in rows)
    assert all(r["shuffle_finish_rel"] <= r["reduce_finish_rel"] for r in rows)


def test_summary_multifile(spark, fixture_log1, fixture_log2):
    """Directory ingest: one summary row per job (multi-job capability the
    reference lacks — SURVEY.md §7 milestone 5)."""
    v = load_history(spark, "/root/reference/test/*")
    out = job_summary(v)
    assert out.count() == 2
    assert out.filter(F.col("num_maps") == 1024).count() == 1


def test_error_summary_goldens(spark, fixture_log1, fixture_log2):
    """Failure counts pinned to the fixture Job records: log 1 has 127
    failed maps and 12 failed reduces (3 with OutOfMemoryError traces from
    the multi-line ERROR records), log 2 has 34 failed maps."""
    from hadoop_jobanalyzer_spark.operators import error_summary

    rows = error_summary(load_history(spark, fixture_log1)).collect()
    by_key = {(r["task_type"], r["task_status"], r["error_class"]): r["n_attempts"] for r in rows}
    assert by_key[("MAP", "KILLED", None)] == 127
    assert by_key[("REDUCE", "FAILED", "java.lang.OutOfMemoryError")] == 3
    assert by_key[("REDUCE", "KILLED", None)] == 9

    rows2 = error_summary(load_history(spark, fixture_log2)).collect()
    by_key2 = {(r["task_type"], r["task_status"], r["error_class"]): r["n_attempts"] for r in rows2}
    assert by_key2 == {("MAP", "KILLED", None): 34}


def test_fleet_summary_both_logs(spark, fixture_log1, fixture_log2):
    """Cross-job rollup over both fixture jobs (distinct users, so two
    rows whose totals match the per-job Job records)."""
    import glob
    import os

    from hadoop_jobanalyzer_spark.operators.history_reports import fleet_summary

    views = load_history(spark, os.path.join(os.path.dirname(fixture_log1), "*"))
    rows = {r["user"]: r for r in fleet_summary(views).collect()}
    assert set(rows) == {"kbhatia", "hadoop"}
    k = rows["kbhatia"]
    assert (k["n_jobs"], k["total_maps"], k["total_reduces"]) == (1, 512, 320)
    assert (k["failed_maps"], k["failed_reduces"]) == (127, 12)
    h = rows["hadoop"]
    assert (h["n_jobs"], h["total_maps"], h["failed_maps"]) == (1, 1024, 34)


def _reference_wasted(path):
    """Independent line-by-line reimplementation of the reference's
    wastedAttempts fold (bin/job_history:205,242-244,268-281,296-307):
    record reassembly, SETUP/CLEANUP skip, last-success-wins supersession."""
    import re

    attr_pat = re.compile(r'(\w+)="((?:[^"\\]|\\.)*)"')
    final_attempt, wasted = {}, set()
    remainder = ""
    with open(path) as f:
        for line in f:
            line = line.rstrip("\n")
            if len(line) < 3 or not line.endswith(" ."):
                remainder += line
                continue
            record, remainder = remainder + line, ""
            event = record.split(" ", 1)[0]
            if event not in ("MapAttempt", "ReduceAttempt"):
                continue
            attrs = dict(attr_pat.findall(record))
            if attrs.get("TASK_TYPE") in ("SETUP", "CLEANUP"):
                continue
            if "START_TIME" in attrs:
                continue  # reference: START branch wins, FINISH is elif
            if "FINISH_TIME" in attrs:
                task, att = attrs["TASKID"], attrs["TASK_ATTEMPT_ID"]
                if attrs.get("TASK_STATUS") == "SUCCESS":
                    if task in final_attempt:
                        wasted.add(final_attempt[task])
                    final_attempt[task] = att
                else:
                    wasted.add(att)
    return wasted


@pytest.mark.parametrize(
    "fixture", ["fixture_log1", "fixture_log2", "tiny", "no_status"]
)
def test_wasted_attempts_matches_reference_fold(spark, request, fixture):
    from hadoop_jobanalyzer_spark.operators import wasted_attempts

    local = {"tiny": TINY, "no_status": NO_STATUS}
    path = local[fixture] if fixture in local else request.getfixturevalue(fixture)
    views = load_history(spark, path)
    got = {r["attempt_id"] for r in wasted_attempts(views).collect()}
    want = _reference_wasted(path)
    assert got == want
    if fixture == "tiny":  # spot golden: m_000001's failed first attempt
        assert got == {"attempt_202001010000_0001_m_000001_0"}
    if fixture == "no_status":  # a status-less finish is waste too
        assert got == {
            "attempt_202001010000_0001_m_000001_0",
            "attempt_202001010000_0001_m_000005_0",
        }


def test_wasted_attempts_match_timeline_waste(spark):
    """The report and the timeline's waste series classify the same
    attempts — both read the one final-attempt flag."""
    from hadoop_jobanalyzer_spark.operators import wasted_attempts
    from hadoop_jobanalyzer_spark.operators.timeline import timeline_intervals

    views = load_history(spark, NO_STATUS)
    report = {r["attempt_id"] for r in wasted_attempts(views).collect()}
    drawn = {
        r["attempt_id"]
        for r in timeline_intervals(views).filter("series = 'waste'").collect()
    }
    assert drawn == report and len(report) == 2


def test_wasted_summary_golden_log1(spark, fixture_log1):
    """README-level golden: kmerStats has 127 failed maps + 12 failed
    reduces; superseded successes add the rest (139 is the floor)."""
    from hadoop_jobanalyzer_spark.operators import wasted_summary

    row = wasted_summary(load_history(spark, fixture_log1)).collect()[0]
    assert row["n_wasted"] == row["n_wasted_maps"] + row["n_wasted_reduces"]
    assert row["n_wasted"] >= 139
    assert row["n_wasted"] == len(_reference_wasted(fixture_log1))
    assert row["wasted_time"] is not None and row["wasted_time"] > 0


# One reduce task run speculatively (two SUCCESS attempts: the later record
# wins), one whose final attempt follows a FAILED, a KILLED and a
# status-less finished attempt, and one that finished with no successful
# attempt at all.
SPECULATIVE_LOG = """Meta VERSION="1" .
Job JOBID="job_202001010000_0009" JOBNAME="spec" USER="carol" SUBMIT_TIME="1000000" .
Job JOBID="job_202001010000_0009" LAUNCH_TIME="2000000" TOTAL_MAPS="1" TOTAL_REDUCES="3" .
Task TASKID="task_202001010000_0009_m_000000" TASK_TYPE="MAP" START_TIME="2000000" .
MapAttempt TASK_TYPE="MAP" TASKID="task_202001010000_0009_m_000000" TASK_ATTEMPT_ID="attempt_202001010000_0009_m_000000_0" START_TIME="2000100" .
MapAttempt TASK_TYPE="MAP" TASKID="task_202001010000_0009_m_000000" TASK_ATTEMPT_ID="attempt_202001010000_0009_m_000000_0" TASK_STATUS="SUCCESS" FINISH_TIME="3000000" .
Task TASKID="task_202001010000_0009_m_000000" TASK_TYPE="MAP" TASK_STATUS="SUCCESS" FINISH_TIME="3000100" .
Task TASKID="task_202001010000_0009_r_000000" TASK_TYPE="REDUCE" START_TIME="3500000" .
ReduceAttempt TASK_TYPE="REDUCE" TASKID="task_202001010000_0009_r_000000" TASK_ATTEMPT_ID="attempt_202001010000_0009_r_000000_0" START_TIME="3500100" .
ReduceAttempt TASK_TYPE="REDUCE" TASKID="task_202001010000_0009_r_000000" TASK_ATTEMPT_ID="attempt_202001010000_0009_r_000000_1" START_TIME="4000000" .
ReduceAttempt TASK_TYPE="REDUCE" TASKID="task_202001010000_0009_r_000000" TASK_ATTEMPT_ID="attempt_202001010000_0009_r_000000_1" TASK_STATUS="SUCCESS" SHUFFLE_FINISHED="5000000" SORT_FINISHED="5500000" FINISH_TIME="6000000" .
ReduceAttempt TASK_TYPE="REDUCE" TASKID="task_202001010000_0009_r_000000" TASK_ATTEMPT_ID="attempt_202001010000_0009_r_000000_0" TASK_STATUS="SUCCESS" SHUFFLE_FINISHED="7000000" SORT_FINISHED="7500000" FINISH_TIME="8000000" .
Task TASKID="task_202001010000_0009_r_000000" TASK_TYPE="REDUCE" TASK_STATUS="SUCCESS" FINISH_TIME="8000100" .
Task TASKID="task_202001010000_0009_r_000001" TASK_TYPE="REDUCE" START_TIME="3500000" .
ReduceAttempt TASK_TYPE="REDUCE" TASKID="task_202001010000_0009_r_000001" TASK_ATTEMPT_ID="attempt_202001010000_0009_r_000001_0" START_TIME="3500100" .
ReduceAttempt TASK_TYPE="REDUCE" TASKID="task_202001010000_0009_r_000001" TASK_ATTEMPT_ID="attempt_202001010000_0009_r_000001_0" TASK_STATUS="FAILED" SHUFFLE_FINISHED="4100000" FINISH_TIME="4200000" .
ReduceAttempt TASK_TYPE="REDUCE" TASKID="task_202001010000_0009_r_000001" TASK_ATTEMPT_ID="attempt_202001010000_0009_r_000001_1" START_TIME="4300000" .
ReduceAttempt TASK_TYPE="REDUCE" TASKID="task_202001010000_0009_r_000001" TASK_ATTEMPT_ID="attempt_202001010000_0009_r_000001_1" TASK_STATUS="KILLED" SHUFFLE_FINISHED="4400000" FINISH_TIME="4500000" .
ReduceAttempt TASK_TYPE="REDUCE" TASKID="task_202001010000_0009_r_000001" TASK_ATTEMPT_ID="attempt_202001010000_0009_r_000001_2" START_TIME="4600000" .
ReduceAttempt TASK_TYPE="REDUCE" TASKID="task_202001010000_0009_r_000001" TASK_ATTEMPT_ID="attempt_202001010000_0009_r_000001_2" SHUFFLE_FINISHED="4700000" FINISH_TIME="4800000" .
ReduceAttempt TASK_TYPE="REDUCE" TASKID="task_202001010000_0009_r_000001" TASK_ATTEMPT_ID="attempt_202001010000_0009_r_000001_3" START_TIME="4900000" .
ReduceAttempt TASK_TYPE="REDUCE" TASKID="task_202001010000_0009_r_000001" TASK_ATTEMPT_ID="attempt_202001010000_0009_r_000001_3" TASK_STATUS="SUCCESS" SHUFFLE_FINISHED="6400000" SORT_FINISHED="6500000" FINISH_TIME="6600000" .
Task TASKID="task_202001010000_0009_r_000001" TASK_TYPE="REDUCE" TASK_STATUS="SUCCESS" FINISH_TIME="6600100" .
Task TASKID="task_202001010000_0009_r_000002" TASK_TYPE="REDUCE" START_TIME="3500000" .
ReduceAttempt TASK_TYPE="REDUCE" TASKID="task_202001010000_0009_r_000002" TASK_ATTEMPT_ID="attempt_202001010000_0009_r_000002_0" START_TIME="3500100" .
ReduceAttempt TASK_TYPE="REDUCE" TASKID="task_202001010000_0009_r_000002" TASK_ATTEMPT_ID="attempt_202001010000_0009_r_000002_0" TASK_STATUS="FAILED" SHUFFLE_FINISHED="3900000" FINISH_TIME="4000000" .
Task TASKID="task_202001010000_0009_r_000002" TASK_TYPE="REDUCE" TASK_STATUS="FAILED" FINISH_TIME="4000100" .
Job JOBID="job_202001010000_0009" FINISH_TIME="9000000" JOB_STATUS="SUCCESS" .
"""


@pytest.mark.parametrize(
    "log", ["tiny_log.txt", "failed_log.txt", "no_status_log.txt", "speculative"]
)
def test_task_fold_matches_final_attempts(spark, tmp_path, log):
    """The per-task fold the reports read (attempt count, final attempt's
    SHUFFLE_FINISHED) agrees with the attempts view and the
    ``final_attempts()`` rows, recomputed here in Python."""
    if log == "speculative":
        path = tmp_path / "speculative_log.txt"
        path.write_text(SPECULATIVE_LOG)
        path = str(path)
    else:
        path = os.path.join(os.path.dirname(TINY), log)
    scale = 1000
    v = load_history(spark, path)
    n_attempts: dict[str, set] = {}
    for r in v.attempts.collect():
        n_attempts.setdefault(r["taskid"], set()).add(r["attempt_id"])
    final_sh = {r["taskid"]: r["shuffle_finished"] for r in v.final_attempts().collect()}
    reduces = [
        r for r in v.tasks.collect()
        if r["task_type"] == "REDUCE" and r["finish_time"] is not None
    ]

    def floor_or_none(ts):
        return None if ts is None else ts // scale

    got = {
        r["taskid"]: (r["shuffle_finish"], r["num_attempts"])
        for r in reduce_table(v, scale=scale).collect()
    }
    assert got == {
        t["taskid"]: (floor_or_none(final_sh.get(t["taskid"])), len(n_attempts.get(t["taskid"], ())))
        for t in reduces
    }

    lens = [
        (final_sh[t["taskid"]] // scale * scale - t["start_time"]) // scale
        for t in reduces
        if final_sh.get(t["taskid"]) is not None and t["start_time"] is not None
    ]
    (summary,) = job_summary(v, scale=scale).collect()
    if lens:
        assert summary["avg_shuffle_len"] == pytest.approx(sum(lens) / len(lens))
    else:
        assert summary["avg_shuffle_len"] is None

    if log == "speculative":
        t = "task_202001010000_0009_r_00000"
        assert got == {t + "0": (7000, 2), t + "1": (6400, 4), t + "2": (None, 1)}
        assert summary["avg_shuffle_len"] == pytest.approx((3500 + 2900) / 2)
