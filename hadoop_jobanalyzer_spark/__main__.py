"""CLI with the reference's ``bin/job_history`` interface.

``python -m hadoop_jobanalyzer_spark [-s | -m | -r | --reduce-bytes | -t]
[-d DELIM] [-i INPUT] [--scale N]``

Flag semantics follow ``/root/reference/bin/job_history:78-191``:

* ``-s`` job summary, ``-m`` map table, ``-r`` reduce table, timeline when
  no mode flag is given (``-t`` makes it explicit — the reference parsed
  ``-t`` but never checked it, SURVEY.md §2.9);
* ``--reduce-bytes`` adds the Python frontend's reduce-bytes report
  (``bin/job_history.py:106-113`` — state the Groovy CLI collected but
  never printed);
* ``-d`` output delimiter (default ", ", multi-char allowed);
* ``-i`` a path, glob, directory, ``http(s)://`` / ``file://`` URL, or
  ``-`` for stdin (URLs and stdin are staged to a temp file, removed once
  the output is written — Spark reads files, not pipes);
* ``--scale`` one timestamp divisor (default 1000 = seconds, where the
  reference hard-coded 1e6 CLI / 1e3 py / 1e2 CGI);
* ``--require-success`` skip non-SUCCESS jobs entirely (the reference's
  ``-s`` bails out on them, bin/job_history:384-386; default computes
  every job per SURVEY.md §2.9).
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile

from hadoop_jobanalyzer_spark.operators import (
    error_summary,
    fleet_summary,
    job_summary,
    map_table,
    reduce_bytes_table,
    reduce_table,
    timeline,
    wasted_summary,
)
from hadoop_jobanalyzer_spark.session import get_spark
from hadoop_jobanalyzer_spark.sinks import delimited_lines
from hadoop_jobanalyzer_spark.sources import load_history
from hadoop_jobanalyzer_spark.sources.job_history import filter_success, stage_url

SUMMARY_COLS = [
    "jobid",
    "jobname",
    "user",
    "job_status",
    "total_time",
    "num_maps",
    "avg_map_len",
    "all_maps_complete",
    "num_reduces",
    "avg_shuffle_len",
    "avg_reduce_len",
]
MAP_COLS = ["taskid", "start_time", "end_time", "elapsed", "num_attempts"]
REDUCE_COLS = [
    "taskid",
    "start_time",
    "maps_complete",
    "shuffle_finish",
    "end_time",
    "elapsed",
    "num_attempts",
]
RBYTES_COLS = ["taskid", "reduce_output_bytes", "shuffle_finish_rel", "reduce_finish_rel"]
TIMELINE_COLS = ["t", "maps", "shuffle", "merge", "reduce", "waste"]
ERRORS_COLS = ["jobid", "task_type", "task_status", "error_class", "n_attempts"]
WASTED_COLS = ["jobid", "n_wasted", "n_wasted_maps", "n_wasted_reduces", "wasted_time"]
FLEET_COLS = [
    "user",
    "n_jobs",
    "total_maps",
    "total_reduces",
    "failed_maps",
    "failed_reduces",
    "avg_job_time",
    "avg_map_len",
    "avg_reduce_len",
]


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="hadoop_jobanalyzer_spark",
        description="Hadoop job-history analyzer (PySpark engine)",
    )
    mode = p.add_mutually_exclusive_group()
    mode.add_argument("-s", action="store_true", help="job summary")
    mode.add_argument("-m", action="store_true", help="per-map-task table")
    mode.add_argument("-r", action="store_true", help="per-reduce-task table")
    mode.add_argument("--reduce-bytes", action="store_true", help="reduce output-bytes table")
    mode.add_argument("--errors", action="store_true", help="failure summary by exception class")
    mode.add_argument("--wasted", action="store_true", help="per-job wasted-attempt report")
    mode.add_argument("--fleet", action="store_true", help="per-user rollup across all input jobs")
    mode.add_argument("-t", action="store_true", help="concurrency timeline (default)")
    mode.add_argument(
        "--query",
        metavar="NAME",
        help="run a registered analytics query against --sf-dir (see --list-queries)",
    )
    mode.add_argument(
        "--sql",
        metavar="SQL",
        help="run an ANSI SQL statement against the star-schema views in --sf-dir",
    )
    mode.add_argument(
        "--list-queries", action="store_true", help="list registered analytics queries"
    )
    mode.add_argument(
        "--explain",
        metavar="NAME",
        help="print a registered query's physical plan + shuffle/scan summary",
    )
    p.add_argument(
        "--sf-dir",
        default=None,
        metavar="DIR",
        help="parquet table dir for --query/--sql (default $SPARK_GRAFT_SF_DIR)",
    )
    p.add_argument("-d", default=", ", metavar="DELIM", help="output delimiter (default ', ')")
    p.add_argument("-i", default="-", metavar="INPUT", help="path/glob/URL or - for stdin")
    p.add_argument("--scale", type=int, default=1000, help="timestamp divisor (default 1000)")
    p.add_argument(
        "--require-success",
        action="store_true",
        help="skip non-SUCCESS jobs (reference -s bail-out, bin/job_history:384-386)",
    )
    p.add_argument("--master", default=None, help="spark master (default local[$SPARK_GRAFT_CPUS])")
    p.add_argument(
        "--png",
        metavar="PATH",
        help="render the report as a chart PNG instead of text: the stacked "
        "concurrency chart with -t (job_history.cgi:344-390), per-task "
        "Gantt with -m/-r (vis/grap/mapgraph.gr, reducegraph.gr)",
    )
    return p


def resolve_input(inp: str) -> str:
    if inp == "-":
        with tempfile.NamedTemporaryFile(
            "w", suffix=".txt", prefix="job_history_stdin_", delete=False
        ) as f:
            f.write(sys.stdin.read())
            return f.name
    if inp.startswith(("http://", "https://", "file://")):
        return stage_url(inp)
    return inp


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    if args.list_queries:
        from hadoop_jobanalyzer_spark.plans.registry import QUERIES

        for name in sorted(QUERIES):
            print(name)
        return 0

    spark = get_spark(app_name="job_history", master=args.master)
    spark.sparkContext.setLogLevel("ERROR")

    if args.query or args.sql or args.explain:
        from hadoop_jobanalyzer_spark.plans.registry import QUERIES
        from hadoop_jobanalyzer_spark.plans.tables import load_tables

        sf_dir = args.sf_dir or os.environ.get(
            "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
        )
        if args.explain:
            if args.explain not in QUERIES:
                print(f"unknown query: {args.explain} (see --list-queries)", file=sys.stderr)
                return 2
            import re

            from hadoop_jobanalyzer_spark.util import formatted_plan

            plan = formatted_plan(QUERIES[args.explain][0](spark, sf_dir))
            print(plan)
            n_ex = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
            pushed = len(re.findall(r"PushedFilters: \[[^\]]", plan))
            flags = [f"exchanges={n_ex}", f"scans_with_pushed_filters={pushed}"]
            if "CartesianProduct" in plan:
                flags.append("CARTESIAN")
            if "BroadcastNestedLoopJoin" in plan:
                flags.append("nested-loop(broadcast)")
            print("summary:", " ".join(flags))
            return 0
        if args.query:
            if args.query not in QUERIES:
                print(f"unknown query: {args.query} (see --list-queries)", file=sys.stderr)
                return 2
            df = QUERIES[args.query][0](spark, sf_dir)
        else:
            load_tables(spark, sf_dir)  # registers the star-schema temp views
            df = spark.sql(args.sql)
        for row in delimited_lines(df, args.d).toLocalIterator():
            print(row["value"])
        return 0

    # --png renders the chart reports only: -s / --reduce-bytes / --errors /
    # --wasted / --fleet select summary frames no Gantt/timeline renderer
    # accepts. Combinations WITHIN the report set (e.g. `-s -m`) never reach
    # here — the flags share one argparse mutually-exclusive group, so
    # argparse exits at parse time (asserted by test_cli).
    if args.png and any((args.s, args.reduce_bytes, args.errors, args.wasted, args.fleet)):
        print("--png applies to -t, -m, or -r reports only", file=sys.stderr)
        return 2

    path = resolve_input(args.i)
    try:
        return _history_report(spark, args, path)
    finally:
        if path != args.i:  # a staged copy of stdin or a URL
            os.unlink(path)


def _history_report(spark, args: argparse.Namespace, path: str) -> int:
    views = load_history(spark, path)
    if args.require_success:
        views = filter_success(views)

    if args.png:
        from hadoop_jobanalyzer_spark.webapp import CHARTS

        report, render = CHARTS["map" if args.m else "reduce" if args.r else "timeline"]
        with open(args.png, "wb") as f:
            f.write(render(report(views, scale=args.scale)))
        print(args.png)
        return 0

    if args.s:
        df, cols = job_summary(views, scale=args.scale), SUMMARY_COLS
    elif args.m:
        df, cols = map_table(views, scale=args.scale), MAP_COLS
    elif args.r:
        df, cols = reduce_table(views, scale=args.scale), REDUCE_COLS
    elif args.reduce_bytes:
        df, cols = reduce_bytes_table(views, scale=args.scale), RBYTES_COLS
    elif args.errors:
        df, cols = error_summary(views), ERRORS_COLS
    elif args.wasted:
        df, cols = wasted_summary(views, scale=args.scale), WASTED_COLS
    elif args.fleet:
        df, cols = fleet_summary(views, scale=args.scale), FLEET_COLS
    else:
        df, cols = timeline(views, scale=args.scale), TIMELINE_COLS

    # toLocalIterator streams partition-by-partition — the driver never
    # holds the whole report (reports can be huge for directory inputs)
    for row in delimited_lines(df.select(*cols), args.d).toLocalIterator():
        print(row["value"])
    return 0


if __name__ == "__main__":
    sys.exit(main())
