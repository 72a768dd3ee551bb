"""Timeline operator: hand-computed tiny-log buckets, sweep==explode
cross-check, invariants, and the bucket-coarsening scale guard."""

import os

import pytest
from pyspark.sql import functions as F

from hadoop_jobanalyzer_spark.operators.timeline import (
    SERIES,
    timeline,
    timeline_intervals,
)
from hadoop_jobanalyzer_spark.sources import load_history

TINY = os.path.join(os.path.dirname(__file__), "data", "tiny_log.txt")


def series_sums(df):
    row = df.groupBy().sum(*SERIES).collect()[0]
    return {f"sum({s})": row[f"sum({s})"] for s in SERIES}


def test_intervals_tiny(spark):
    ivs = {
        (r["attempt_id"], r["series"]): (r["t0"], r["t1"])
        for r in timeline_intervals(load_history(spark, TINY)).collect()
    }
    a = "attempt_202001010000_0001_"
    assert ivs == {
        (a + "m_000000_0", "maps"): (2000, 6200),
        (a + "m_000001_1", "maps"): (4100, 7000),
        (a + "m_000001_0", "waste"): (2500, 4000),
        (a + "r_000000_0", "shuffle"): (5000, 8000),
        (a + "r_000000_0", "merge"): (8000, 9000),
        (a + "r_000000_0", "reduce"): (9000, 10000),
    }


@pytest.mark.parametrize("impl", ["sweep", "explode"])
def test_timeline_tiny(spark, impl):
    tl = timeline(load_history(spark, TINY), impl=impl).cache()
    assert tl.count() == 11001  # dense spine 0..range inclusive
    by_t = {r["t"]: r for r in tl.collect()}
    assert tuple(by_t[2000][s] for s in SERIES) == (1, 0, 0, 0, 0)
    assert tuple(by_t[2500][s] for s in SERIES) == (1, 0, 0, 0, 1)
    assert tuple(by_t[4100][s] for s in SERIES) == (2, 0, 0, 0, 0)  # waste ended at 4000
    assert tuple(by_t[6200][s] for s in SERIES) == (2, 1, 0, 0, 0)  # end-inclusive
    assert tuple(by_t[6201][s] for s in SERIES) == (1, 1, 0, 0, 0)
    assert tuple(by_t[8000][s] for s in SERIES) == (0, 1, 1, 0, 0)  # phase overlap
    assert tuple(by_t[10000][s] for s in SERIES) == (0, 0, 0, 1, 0)
    assert tuple(by_t[10001][s] for s in SERIES) == (0, 0, 0, 0, 0)
    sums = series_sums(tl)
    assert sums["sum(maps)"] == 4201 + 2901
    assert sums["sum(waste)"] == 1501
    assert sums["sum(shuffle)"] == 3001
    assert sums["sum(merge)"] == 1001
    assert sums["sum(reduce)"] == 1001
    tl.unpersist()


def test_sweep_matches_explode_fixture(spark, fixture_log1):
    """The two independently-derived physical strategies must agree bucket
    for bucket on a real 7-hour job log."""
    v = load_history(spark, fixture_log1)
    sweep = timeline(v, impl="sweep")
    explode = timeline(v, impl="explode")
    assert sweep.count() == explode.count()
    diff = sweep.exceptAll(explode)
    assert diff.count() == 0


def test_sweep_matches_explode_local_logs(spark, tmp_path, one_job_lake_views):
    """Both strategies agree on every in-repo log at once (several jobs,
    a failed job, a status-less attempt), at two scales, with and without
    coarsening; on the tiny log read back from a lake and pruned to its
    one job (a per-job lookup's input); and on the tiny log with the job
    finishing before its reduce does, so an interval is clamped to end at
    the job's last bucket."""
    v = load_history(spark, os.path.dirname(TINY))
    clamped = tmp_path / "clamped_log.txt"
    with open(TINY) as f:
        clamped.write_text(
            f.read().replace('FINISH_TIME="12000000" JOB_STATUS', 'FINISH_TIME="11000000" JOB_STATUS')
        )
    inputs = ((v, 3), (one_job_lake_views, 1), (load_history(spark, str(clamped)), 1))
    for views, n_files in inputs:
        for scale in (100, 1000):
            for max_buckets in (10_000_000, 37):
                sweep = timeline(views, scale=scale, max_buckets=max_buckets, impl="sweep")
                explode = timeline(views, scale=scale, max_buckets=max_buckets, impl="explode")
                rows = sweep.collect()
                assert rows == explode.collect()
                assert len({r["source_file"] for r in rows}) == n_files
                if max_buckets == 37:
                    # every job's range is coarsened to at most 37 buckets
                    assert len(rows) <= 37 * n_files
                    assert max(r["t"] for r in rows) <= 36


def test_timeline_invariant_sums(spark, fixture_log1):
    """Sum over t of each series == total interval length (end-inclusive) —
    FIXTURES.md §4 invariant."""
    v = load_history(spark, fixture_log1)
    ivs = timeline_intervals(v)
    expected = {
        r["series"]: r["total"]
        for r in ivs.groupBy("series")
        .agg(F.sum(F.col("t1") - F.col("t0") + 1).alias("total"))
        .collect()
    }
    sums = series_sums(timeline(v, impl="sweep"))
    for s in SERIES:
        assert sums[f"sum({s})"] == expected.get(s, 0), s


def test_coarsening_guard(spark, fixture_log1):
    """max_buckets caps the spine; concurrency counts survive coarsening
    (an interval overlapping a wide bucket still counts once)."""
    v = load_history(spark, fixture_log1)
    fine = timeline(v)  # range ~26033 buckets at seconds scale
    coarse = timeline(v, max_buckets=1000).cache()
    n = coarse.count()
    assert n <= 1001
    # max concurrency can only grow (or hold) when buckets widen
    fine_max = fine.groupBy().max(*SERIES).collect()[0]
    coarse_max = coarse.groupBy().max(*SERIES).collect()[0]
    for s in SERIES:
        assert coarse_max[f"max({s})"] >= fine_max[f"max({s})"]
    coarse.unpersist()
