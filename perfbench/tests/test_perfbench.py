"""Tests of the benchmark itself: input generators, the ground-truth fold,
and the metric names the one command prints.

    python3 -m pytest perfbench/tests -q

The engine-backed tests start a ``local[2]`` session; the last test runs
the whole command once (about a minute).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import layers  # noqa: E402
import loggen  # noqa: E402
import tablegen  # noqa: E402
from harness import Result, percentile  # noqa: E402

TINY = loggen.JobShape(min_maps=6, max_maps=12, min_reduces=2, max_reduces=4, slots=4,
                       p_retry=0.4)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_log_generator_is_deterministic(tmp_path):
    a = loggen.write_fleet(str(tmp_path / "a"), 7, 3)
    b = loggen.write_fleet(str(tmp_path / "b"), 7, 3)
    for ta, tb in zip(a, b):
        assert (tmp_path / "a" / ta.file_name).read_bytes() == (
            tmp_path / "b" / tb.file_name
        ).read_bytes()
        assert ta == tb
    assert loggen.generate_job(7, 0)[0] != loggen.generate_job(8, 0)[0]


def test_log_generator_emits_every_record_kind():
    jobs = [loggen.generate_job(3, i, TINY) for i in range(4)]
    text = "".join(t for t, _ in jobs)
    for kind in ("Meta ", "Job ", "Task ", "MapAttempt ", "ReduceAttempt "):
        assert any(line.startswith(kind) for line in text.splitlines()), kind
    assert 'TASK_STATUS="FAILED"' in text and 'TASK_STATUS="KILLED"' in text
    assert 'ERROR="Error: ' in text and "\n\tat org\\.apache" in text  # multi-line
    assert "}{(org\\.apache\\.hadoop\\.mapred\\.Task$Counter)" in text  # nested groups
    for _, truth in jobs:
        assert truth.tasks["SETUP"] == truth.tasks["CLEANUP"] == 1
        last_map = max(f for t, _, f in truth.task_times if t == "MAP")
        assert all(sh >= last_map for sh in truth.reduce_shuffle)


def test_table_generator_is_deterministic():
    a = tablegen.generate_tables(5, 0.001)
    b = tablegen.generate_tables(5, 0.001)
    assert tuple(a) == tablegen.TABLES
    for name in a:
        assert a[name].equals(b[name]), name
    assert not a["orders"].equals(tablegen.generate_tables(6, 0.001)["orders"])


def test_percentile_interpolates():
    assert percentile([4, 1, 3, 2], 50) == 2.5
    assert percentile([1, 2, 3, 4, 5, 6], 80) == 5.0


def test_per_layer_names_match_benchmark_json():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.PER_LAYER
    out = layers.assemble([], {}, {}, {}, cores=4)
    assert list(out) == list(layers.PER_LAYER)


@pytest.fixture(scope="module")
def spark():
    from hadoop_jobanalyzer_spark import get_spark

    session = get_spark(app_name="perfbench-tests", master="local[2]", shuffle_partitions=4)
    session.sparkContext.setLogLevel("ERROR")
    yield session


def test_ground_truth_fold_matches_engine(spark, tmp_path):
    """The generator's independent fold agrees with every report the
    fleet_lake workload checks, on tiny logs with many retries."""
    from hadoop_jobanalyzer_spark import operators as ops
    from hadoop_jobanalyzer_spark.sources import load_history

    import fleet_lake

    truths = loggen.write_fleet(str(tmp_path), 11, 3, TINY)
    assert sum(t.n_wasted for t in truths) > 0
    views = load_history(spark, str(tmp_path))
    rows = {name: getattr(ops, name)(views).collect() for name in layers.REPORTS}
    rows["timeline"] = ops.timeline(views).collect()
    res = Result()
    fleet_lake.check_reports(truths, rows, res)
    assert res.problems == []

    # the chart scale (scale=100) folds the same way
    t = truths[0]
    one = load_history(spark, str(tmp_path / t.file_name))
    mass = fleet_lake._timeline_mass(ops.timeline(one, scale=100).collect())
    assert mass == {t.jobid: t.timeline_mass(100)}


def test_without_the_program_the_command_fails(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "fleet_lake",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""


def test_command_prints_every_end_to_end_metric():
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "job_charts",
         "--seed", "3", "--seconds", "1", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] is True and line["failed"] == 0 and line["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    assert {k: v["unit"] for k, v in line["metrics"].items()} == want
    assert all(v["value"] > 0 for v in line["metrics"].values())
