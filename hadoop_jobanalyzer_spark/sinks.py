"""Output sinks: delimited text (S6), pretty-print (S8), PNG chart (S7).

Spark-first shapes of the reference's three output paths
(SURVEY.md §2.1):

* S6 delimited rows (``bin/job_history:172-175,428-434`` — configurable
  ``-d`` delimiter, default ", "): ``concat_ws`` projection + distributed
  ``text`` write — the delimiter may be multi-char (CSV writers can't),
  and formatting happens executor-side, so a 10^9-row report never funnels
  through the driver.
* S8 ``printNice`` (``bin/job_history:354-378``): recursive indented
  key=value dump including expanded counters — a driver-side formatter over
  collected rows, with the reference's counter-flatten bug fixed
  (SURVEY.md §2.9: inner regex ran over the whole COUNTERS value).
* S7 stacked-bar timeline PNG (``job_history.cgi:344-390``, JFreeChart
  1200x800, Map=blue Shuffle=green Sort=red Reduce=yellow Waste=black)
  and the per-task Gantt PNGs (``vis/grap/*.gr``): each chart is painted
  into one numpy ``(height, width, 3)`` uint8 canvas by slice assignment
  (a rectangle per Gantt bar segment, a column slice per timeline
  series) and encoded by ``functions.png_codec.encode_png``. The timeline
  collect is O(duration/bucket), never O(rows). ``timeline_png``,
  ``gantt_png``, ``map_gantt_png`` and ``reduce_gantt_png`` return the
  PNG bytes (the webapp answers them directly); each ``render_*_png``
  writes the same bytes to a path and returns the path.
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Mapping
from pathlib import Path
from typing import Any

import numpy as np
from pyspark.sql import DataFrame, functions as F

from hadoop_jobanalyzer_spark.functions.png_codec import encode_png
from hadoop_jobanalyzer_spark.util import materialize_eager

DEFAULT_DELIMITER = ", "  # reference default (bin/job_history:172-175)


def delimited_lines(df: DataFrame, delimiter: str = DEFAULT_DELIMITER) -> DataFrame:
    """Format every row as one delimited string column (executor-side)."""
    cols = [F.coalesce(F.col(c).cast("string"), F.lit("")) for c in df.columns]
    return df.select(F.concat_ws(delimiter, *cols).alias("value"))


def write_delimited(
    df: DataFrame, path: str, delimiter: str = DEFAULT_DELIMITER, header: bool = False
) -> None:
    """Distributed delimited-text write (multi-char delimiters allowed)."""
    lines = delimited_lines(df, delimiter)
    if header:
        head = df.sparkSession.createDataFrame(
            [(delimiter.join(df.columns),)], "value string"
        )
        lines = head.unionByName(lines)
    lines.write.mode("overwrite").text(path)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    max_records_per_file: int | None = None,
    mode: str = "overwrite",
    fmt: str = "parquet",
) -> None:
    """Hive-partitioned parquet write — the layout that turns equality
    predicates on the partition columns into directory pruning at read time
    (zero I/O for excluded partitions; the complement of the z-order
    row-group clustering in operators/zorder.py, which prunes *within*
    files on non-partition columns).

    Rows are repartitioned by the partition columns first so each output
    directory is written by the partitions that own its keys — without
    this, every task writes a file into every directory (the small-files
    explosion: tasks x partitions files). ``max_records_per_file`` caps
    file size for downstream split parallelism.

    ``fmt`` selects the columnar container ("parquet" default, "orc" for
    ORC-standardized warehouses) — both carry the same partition-pruning
    and predicate-pushdown behavior through the same writer path.
    """
    writer = (
        df.repartition(*[F.col(c) for c in partition_cols])
        .write.mode(mode)
        .partitionBy(*partition_cols)
        .format(fmt)
    )
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.save(path)


def merge_parquet(
    spark,
    updates: DataFrame,
    path: str,
    key_cols: list[str],
    partition_col: str,
) -> None:
    """Copy-on-write MERGE (upsert) into a hive-partitioned parquet table:
    rows in ``updates`` replace target rows with the same key; new keys
    append. Only the partitions present in ``updates`` are rewritten —
    untouched partition directories are never read or written, which is
    what bounds a 100 TB table's merge cost by the UPDATE volume, not the
    table size (the Delta/Iceberg copy-on-write strategy, without a table
    format: hive partitions are the commit unit).

    Mechanics: affected partition values are collected (bounded by the
    update batch, a deliberately driver-sized list), the target is read
    with a partition-pruned filter, update keys are anti-joined away, and
    the union is written with dynamic partition overwrite so ONLY those
    directories swap. Idempotent: re-merging the same batch rewrites the
    same partitions to the same content.
    """
    affected = [r[0] for r in updates.select(partition_col).distinct().collect()]
    if not affected:
        return
    existing = spark.read.parquet(path).filter(F.col(partition_col).isin(affected))
    keep = existing.join(
        updates.select(*key_cols).distinct(), key_cols, "left_anti"
    )
    # materialize before writing: Spark (correctly) refuses to overwrite a
    # path that is still being read by the same plan; the checkpoint bounds
    # that read to the affected partitions only
    merged = keep.unionByName(updates.select(*existing.columns)).transform(materialize_eager)
    (
        merged.repartition(F.col(partition_col))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )


def compact_partitions(
    spark,
    path: str,
    partition_col: str,
    max_files_per_partition: int = 1,
    target_records_per_file: int | None = None,
) -> list[str]:
    """Small-file compaction (the lakehouse OPTIMIZE command) for a
    hive-partitioned parquet table: partitions fragmented into more than
    ``max_files_per_partition`` data files are rewritten as ONE file each
    (or more when ``target_records_per_file`` caps file size); healthy
    partitions are never read or written.

    Streaming ingest and frequent merges fragment partitions (every
    micro-batch/task leaves a file); at warehouse scale the resulting
    per-file open/footer cost dominates scans. Compaction cost here is
    bounded by the FRAGMENTED volume, not the table size — the same
    copy-on-write discipline as ``merge_parquet``, with dynamic partition
    overwrite swapping only the rewritten directories. Idempotent:
    a second run finds nothing fragmented. Returns the list of partition
    values rewritten (stringified), for the caller's maintenance log.
    """
    # the Hadoop FileSystem API lists hdfs://, s3a:// and file: paths alike
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(path).getFileSystem(spark._jsc.hadoopConfiguration())
    n_files: Counter[str] = Counter()
    for st in fs.globStatus(hpath(path.rstrip("/") + f"/{partition_col}=*/*")) or []:
        f = st.getPath()
        name = f.getName()
        if name.endswith((".parquet", ".orc")) and not name.startswith(("_", ".")):
            n_files[f.getParent().getName().split("=", 1)[1]] += 1
    frag = sorted(v for v, n in n_files.items() if n > max_files_per_partition)
    if not frag:
        return []
    # read only the fragmented partitions, partition-pruned; values arrive
    # as strings from the directory names — let the reader's partition
    # schema cast via isin on the stringified column
    existing = spark.read.parquet(path).filter(
        F.col(partition_col).cast("string").isin(frag)
    )
    # hash-repartition by the partition column: each fragmented value's
    # rows land in one task -> one output file per directory
    compacted = existing.repartition(F.col(partition_col)).transform(materialize_eager)
    writer = (
        compacted.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
    )
    if target_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", target_records_per_file)
    writer.parquet(path)
    return frag



def write_stats_manifest(
    spark, path: str, stat_cols: list[str], manifest_dir: str | None = None
) -> str:
    """Build a per-file min/max/count statistics manifest for a parquet
    directory — the Delta/Iceberg data-skipping pattern on plain parquet.

    At 100 TB a range predicate should decide which FILES to open from a
    tiny manifest instead of touching every footer (cheap locally, but a
    distributed listing + footer fetch per query at warehouse scale).
    The manifest is computed distributively: one aggregate over the data
    grouped by ``input_file_name()`` — per-file stats collapse map-side,
    so the exchange carries one row per file.

    Returns the manifest directory path (default: ``<path>_manifest``).
    Rebuild after every write; ``read_pruned`` consumes it.
    """
    from pyspark.sql import functions as F

    out = manifest_dir or path.rstrip("/") + "_manifest"
    df = spark.read.parquet(path)
    aggs = [F.count("*").alias("n_rows")]
    for c in stat_cols:
        aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    (
        df.groupBy(F.input_file_name().alias("file"))
        .agg(*aggs)
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(out)
    )
    return out


def read_pruned(
    spark, path: str, col: str, lo, hi, manifest_dir: str | None = None
):
    """Range-read ``[lo, hi]`` on ``col`` opening ONLY files whose
    manifest interval overlaps — file-level skipping from
    ``write_stats_manifest``, with the residual filter still applied (the
    manifest prunes files; the predicate prunes rows within survivors).

    The manifest is a one-file parquet: reading it costs one tiny scan,
    after which the FileScan's input list is already minimal — no
    directory listing of excluded files, no footer fetches. Falls back
    to a plain filtered read when no manifest exists.

    Returns (DataFrame, n_files_selected, n_files_total).
    """
    from pyspark.sql import functions as F

    mdir = manifest_dir or path.rstrip("/") + "_manifest"
    predicate = (F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi))
    # Resolve the manifest through the Hadoop FileSystem API, not
    # os.path.isdir: on the deployment target the warehouse lives on
    # hdfs:///s3a:// (or local paths spelled file:), where a driver-local
    # stat would miss it and silently disable data skipping.
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(mdir)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    # a plain FILE squatting on the manifest path is "no manifest", not a
    # parquet directory to read — fall back like the missing-path case
    # (the old os.path.isdir did; fs.exists alone would proceed and raise)
    if not fs.exists(jpath) or not fs.getFileStatus(jpath).isDirectory():
        df = spark.read.parquet(path).filter(predicate)
        return df, -1, -1
    manifest = spark.read.parquet(mdir).select(
        "file", f"min_{col}", f"max_{col}"
    )
    rows = manifest.collect()  # one row per data file — bounded, tiny

    def overlaps(r) -> bool:
        mn, mx = r[f"min_{col}"], r[f"max_{col}"]
        if mn is None or mx is None:
            # all-NULL stats carry no range information — must keep the
            # file and let the residual filter decide row by row
            return True
        return not (mx < lo or mn > hi)

    keep = [r["file"] for r in rows if overlaps(r)]
    if not keep:
        df = spark.read.parquet(path).filter(predicate).limit(0)
        return df, 0, len(rows)
    df = spark.read.parquet(*keep).filter(predicate)
    return df, len(keep), len(rows)


def format_nice(value: Any, indent: int = 0, key: str | None = None) -> str:
    """Recursive indented key=value dump (the reference's ``printNice``),
    expanding maps, struct Rows, and the parsed counters array."""
    pad = "    " * indent
    label = f"{key} = " if key is not None else ""
    # pyspark Row -> dict
    if hasattr(value, "asDict"):
        value = value.asDict(recursive=False)
    if isinstance(value, Mapping):
        lines = [f"{pad}{label}{{"]
        for k, v in value.items():
            lines.append(format_nice(v, indent + 1, str(k)))
        lines.append(f"{pad}}}")
        return "\n".join(lines)
    if isinstance(value, (list, tuple)):
        lines = [f"{pad}{label}["]
        for v in value:
            lines.append(format_nice(v, indent + 1))
        lines.append(f"{pad}]")
        return "\n".join(lines)
    return f"{pad}{label}{value}"


def print_nice(row: Any) -> None:
    print(format_nice(row))


# --- S7: stacked-bar timeline and Gantt PNGs ---------------------------------

# The reference's fixed legend colors (job_history.cgi:358-380).
TIMELINE_COLORS: dict[str, tuple[int, int, int]] = {
    "maps": (0, 0, 255),
    "shuffle": (0, 160, 0),
    "merge": (220, 0, 0),
    "reduce": (230, 200, 0),
    "waste": (0, 0, 0),
}
_BG = (255, 255, 255)


def _canvas(width: int, height: int) -> np.ndarray:
    return np.full((height, width, 3), _BG, dtype=np.uint8)


def _job_key_cols(df: DataFrame) -> list[str]:
    return [c for c in ("source_file", "jobid") if c in df.columns]


def _assert_single_job_rows(rows, keys: list[str], what: str) -> None:
    """The PNG renderers draw ONE job's chart (the reference CGI serves one
    job per request, job_history.cgi:344-390). A multi-job frame would
    silently interleave and average buckets across jobs — reject it.
    Validated on the rows already collected for rendering, so the guard
    costs no extra Spark action."""
    if keys and len({tuple(r[k] for k in keys) for r in rows}) > 1:
        raise ValueError(
            f"{what} renders a single job but the input has multiple "
            f"({keys}) keys — filter to one job first"
        )


def gantt_png(
    table_df: DataFrame,
    start_col: str = "start_time",
    end_col: str = "end_time",
    width: int = 1200,
    height: int = 800,
    color: tuple[int, int, int] = (0, 0, 255),
    max_rows: int = 4096,
    segments: list[tuple[str, str, tuple[int, int, int]]] | None = None,
) -> bytes:
    """Task Gantt chart PNG over a ``-m``/``-r`` style table — the
    ``vis/grap/mapgraph.gr`` / ``reducegraph.gr`` plots
    (vis/grap/mapgraph.gr:5-10, vis/grap/reducegraph.gr:12-42) without
    the grap/pic toolchain.

    One horizontal bar per task, ranked by taskid when the table has one
    (the ``thisrank`` counter walks ``map.d``/``reduce.d``, which the
    ``-m``/``-r`` reports emit in taskid order), else by (start, end).
    ``segments`` draws multi-phase bars: a list of
    ``(start_col, end_col, rgb)`` painted in order — the reduce chart's
    green shuffle segment then yellow reduce segment. Default is the
    single ``(start_col, end_col, color)`` map-style bar. Each segment is
    one rectangle slice of the canvas.

    The collect is capped at ``max_rows`` tasks so the chart never pulls
    an unbounded table into the driver.
    """
    segs = segments or [(start_col, end_col, color)]
    seg_cols: list[str] = []
    for s, e, _ in segs:
        for c in (s, e):
            if c not in seg_cols:
                seg_cols.append(c)
    first_start, last_end = segs[0][0], segs[-1][1]
    keys = _job_key_cols(table_df)
    order = ["taskid"] if "taskid" in table_df.columns else [first_start, last_end]
    sel = [*keys, *(c for c in order if c not in keys and c not in seg_cols), *seg_cols]
    rows = (
        table_df.select(*sel)
        .filter(F.col(first_start).isNotNull() & F.col(last_end).isNotNull())
        .orderBy(*order)
        .limit(max_rows)
        .collect()
    )
    _assert_single_job_rows(rows, keys, "render_gantt_png")
    if len(rows) == max_rows and keys:
        # truncated collect can hide a later job: fall back to the cheap
        # distinct probe for correctness in the capped case only
        n = table_df.select(*keys).distinct().limit(2).count()
        if n > 1:
            raise ValueError(
                "render_gantt_png renders a single job but the input has "
                f"multiple ({keys}) keys — filter to one job first"
            )
    img = _canvas(width, height)
    if rows:
        t_min = min(r[first_start] for r in rows)
        t_max = max(r[last_end] for r in rows) or (t_min + 1)
        span = max(t_max - t_min, 1)

        def px(t: int) -> int:
            # a segment may start before the axis (a reduce whose shuffle
            # finished before the last map did): clamp into the row
            return min(max(int((t - t_min) / span * (width - 1)), 0), width - 1)

        n = len(rows)
        for i, r in enumerate(rows):
            y0 = i * height // n
            y1 = max(y0 + 1, (i + 1) * height // n)
            for s, e, rgb in segs:
                if r[s] is None or r[e] is None:
                    continue
                x0 = px(r[s])
                x1 = max(x0 + 1, px(r[e]))
                img[y0:y1, x0 : x1 + 1] = rgb
    return encode_png(img)


# reducegraph.gr's phase colors: green = shuffle (start -> shuffle
# finish), yellow = reduce (shuffle finish -> end); mapgraph.gr draws
# the map bar red (vis/grap/reducegraph.gr:29-33, mapgraph.gr variant
# :24-26)
GANTT_MAP_COLOR = (0xFF, 0x22, 0x22)
GANTT_SHUFFLE_COLOR = (0x22, 0xFF, 0x22)
GANTT_REDUCE_COLOR = (0xFF, 0xFF, 0x22)


def map_gantt_png(map_df: DataFrame, **kw) -> bytes:
    """``vis/grap/mapgraph.gr``: one red start->end bar per map task over
    the ``-m`` table (map.d columns 2-3)."""
    return gantt_png(map_df, "start_time", "end_time", color=GANTT_MAP_COLOR, **kw)


def reduce_gantt_png(reduce_df: DataFrame, **kw) -> bytes:
    """``vis/grap/reducegraph.gr:38-46``: per reduce task, a green bar
    from ``max(start, maps_complete)`` to the shuffle finish, then a
    yellow bar to the task end — over the ``-r`` table's 7 columns.

    The clamp (``max($2,$3)``) is computed executor-side so the renderer
    stays a pure painter.
    """
    clamped = reduce_df.withColumn(
        "_sh_start", F.greatest("start_time", "maps_complete")
    )
    return gantt_png(
        clamped,
        segments=[
            ("_sh_start", "shuffle_finish", GANTT_SHUFFLE_COLOR),
            ("shuffle_finish", "end_time", GANTT_REDUCE_COLOR),
        ],
        **kw,
    )


def timeline_png(
    timeline_df: DataFrame,
    width: int = 1200,
    height: int = 800,
    series: tuple[str, ...] = ("maps", "shuffle", "merge", "reduce", "waste"),
) -> bytes:
    """Rasterize a (t, maps, shuffle, merge, reduce, waste) timeline as a
    stacked-bar PNG — the webapp's chart (job_history.cgi:344-390) without
    the JFreeChart dependency.

    Collects the *bucketed* timeline (O(duration/bucket) rows by
    construction — the timeline operator guards spine size), averages
    buckets into pixel columns, and stacks the series bottom-up in the
    reference's colors, one column slice per series.
    """
    keys = _job_key_cols(timeline_df)
    rows = timeline_df.select(*keys, "t", *series).orderBy("t").collect()
    _assert_single_job_rows(rows, keys, "render_timeline_png")
    img = _canvas(width, height)
    if rows:
        n = len(rows)
        values = [[v or 0 for v in r[len(keys) + 1 :]] for r in rows]
        # average the series over the buckets that map to each pixel column
        cols: list[list[float]] = []
        for x in range(width):
            lo = x * n // width
            hi = max(lo + 1, (x + 1) * n // width)
            bucket = values[lo:hi]
            cols.append([sum(v) / len(bucket) for v in zip(*bucket)])
        peak = max((sum(c) for c in cols), default=1.0) or 1.0
        palette = [TIMELINE_COLORS.get(s, (128, 128, 128)) for s in series]
        for x, col in enumerate(cols):
            y = height  # bottom
            for val, color in zip(col, palette):
                h = round(val / peak * height)
                # y drops below 0 once the rounded stack overshoots the
                # top; a negative slice end would count from the bottom
                img[max(0, y - h) : max(0, y), x] = color
                y -= h
    return encode_png(img)


def render_gantt_png(table_df: DataFrame, out_path: str, *args, **kw) -> str:
    """:func:`gantt_png` written to ``out_path``; returns the path."""
    Path(out_path).write_bytes(gantt_png(table_df, *args, **kw))
    return out_path


def render_map_gantt_png(map_df: DataFrame, out_path: str, **kw) -> str:
    """:func:`map_gantt_png` written to ``out_path``; returns the path."""
    Path(out_path).write_bytes(map_gantt_png(map_df, **kw))
    return out_path


def render_reduce_gantt_png(reduce_df: DataFrame, out_path: str, **kw) -> str:
    """:func:`reduce_gantt_png` written to ``out_path``; returns the path."""
    Path(out_path).write_bytes(reduce_gantt_png(reduce_df, **kw))
    return out_path


def render_timeline_png(timeline_df: DataFrame, out_path: str, *args, **kw) -> str:
    """:func:`timeline_png` written to ``out_path``; returns the path."""
    Path(out_path).write_bytes(timeline_png(timeline_df, *args, **kw))
    return out_path
