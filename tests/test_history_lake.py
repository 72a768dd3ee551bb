"""Jobid-clustered parquet lake: write, reopen, stats skipping, report parity."""

import glob
import os
import re

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from hadoop_jobanalyzer_spark.operators import job_summary, map_table
from hadoop_jobanalyzer_spark.sources import load_history
from hadoop_jobanalyzer_spark.sources.history_lake import (
    read_history_lake,
    write_history_lake,
)
from hadoop_jobanalyzer_spark.util import formatted_plan

_VIEWS = ("jobs", "tasks", "attempts")
_COALESCE = "spark.sql.adaptive.coalescePartitions.enabled"


def _columns(df):
    """Column names and types, without nested nullability (which differs
    on any parquet round trip)."""
    return [(f.name, f.dataType.simpleString()) for f in df.schema.fields]


def _jobid_ranges(view_dir):
    """(min, max) jobid of each data file, from its parquet footer."""
    ranges = []
    for path in sorted(glob.glob(f"{view_dir}/*.parquet")):
        md = pq.ParquetFile(path).metadata
        stats = [
            rg.column(i).statistics
            for rg in (md.row_group(g) for g in range(md.num_row_groups))
            for i in range(rg.num_columns)
            if rg.column(i).path_in_schema == "jobid"
        ]
        if stats:
            ranges.append((min(s.min for s in stats), max(s.max for s in stats)))
    return ranges


def _write_uncoalesced(spark, views, lake):
    """``write_history_lake`` with AQE coalescing off, so each view is
    written as more than one file; returns the reopened lake."""
    prev = spark.conf.get(_COALESCE)
    spark.conf.set(_COALESCE, "false")
    try:
        write_history_lake(views, lake)
    finally:
        spark.conf.set(_COALESCE, prev)
    return read_history_lake(spark, lake)


def _assert_jobid_clustered(views, reopened, lake, jobid):
    """The lake keeps each view's columns in order, and its files cover
    disjoint jobid ranges, so a per-job query's pushed filter skips every
    file but the job's own by footer statistics."""
    for name in _VIEWS:
        assert _columns(getattr(reopened, name)) == _columns(getattr(views, name)), name
    assert not glob.glob(f"{lake}/*/jobid=*")
    for name in _VIEWS:
        ranges = sorted(_jobid_ranges(f"{lake}/{name}"))
        assert len(ranges) > 1, (name, ranges)
        assert all(a[1] < b[0] for a, b in zip(ranges, ranges[1:])), (name, ranges)
    plan = formatted_plan(reopened.tasks.filter(F.col("jobid") == jobid))
    assert re.search(rf"PushedFilters: \[[^\]]*EqualTo\(jobid,{jobid}\)", plan), plan


def test_lake_roundtrip_and_partition_pruning(spark, fixture_log1, fixture_log2, tmp_path):
    views = load_history(spark, f"{fixture_log1.rsplit('/', 1)[0]}/*")
    lake = str(tmp_path / "lake")
    reopened = _write_uncoalesced(spark, views, lake)
    _assert_jobid_clustered(views, reopened, lake, "job_201010291643_0125")

    # report parity: summary over the lake equals summary over raw logs
    want = {
        r["jobid"]: (r["avg_map_len"], r["num_maps"], r["num_reduces"])
        for r in job_summary(views).collect()
    }
    got = {
        r["jobid"]: (r["avg_map_len"], r["num_maps"], r["num_reduces"])
        for r in job_summary(reopened).collect()
    }
    assert got == want and len(got) == 2
    assert map_table(reopened).count() == 512 + 1024

    # append adds files without clobbering (same data twice -> 2x rows)
    write_history_lake(views, lake, mode="append")
    assert read_history_lake(spark, lake).jobs.count() == 4


def test_lake_of_test_logs_is_jobid_clustered(spark, tmp_path):
    """The layout checks on tests/data, which every checkout has."""
    views = load_history(spark, os.path.join(os.path.dirname(__file__), "data", "*"))
    lake = str(tmp_path / "lake")
    reopened = _write_uncoalesced(spark, views, lake)
    _assert_jobid_clustered(views, reopened, lake, "job_202001010000_0002")


def test_lake_of_log_without_jobs_reopens_empty(spark, tmp_path):
    """A log with no job records still leaves a schema file per view, so
    the lake reopens with zero rows instead of failing schema inference."""
    log = tmp_path / "meta_only.txt"
    log.write_text('Meta VERSION="1" .\n')
    lake = str(tmp_path / "lake")
    write_history_lake(load_history(spark, str(log)), lake)
    reopened = read_history_lake(spark, lake)
    for name in _VIEWS:
        assert getattr(reopened, name).count() == 0, name
