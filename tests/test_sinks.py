"""Sinks (delimited / pretty-print / PNG chart) and the URL source."""

import glob
import struct
import zlib

import pytest
from pyspark.sql import functions as F

from hadoop_jobanalyzer_spark.operators import map_table, timeline
from hadoop_jobanalyzer_spark.sinks import (
    TIMELINE_COLORS,
    delimited_lines,
    format_nice,
    render_timeline_png,
    write_delimited,
)
from hadoop_jobanalyzer_spark.sources import load_history
from hadoop_jobanalyzer_spark.sources.job_history import stage_url


def test_delimited_lines_multichar_delimiter(spark, fixture_log1):
    v = load_history(spark, fixture_log1)
    mt = map_table(v).select("taskid", "start_time", "end_time", "elapsed", "num_attempts")
    lines = delimited_lines(mt, ", ").collect()
    assert len(lines) == 512
    first = sorted(r["value"] for r in lines)[0]
    # golden row from vis/grap/map.d (space-delimited there; same fields)
    assert first.startswith("task_201010291643_0125_m_000000, 1289542284, 1289551128, 8843, 1")


def test_write_delimited_roundtrip(spark, fixture_log1, tmp_path):
    v = load_history(spark, fixture_log1)
    mt = map_table(v).select("taskid", "elapsed")
    out = str(tmp_path / "out")
    write_delimited(mt, out, delimiter="|", header=True)
    back = spark.read.text(out).collect()
    values = {r["value"] for r in back}
    assert "taskid|elapsed" in values
    assert len(values) == 513  # 512 rows + header


def test_format_nice_nested():
    s = format_nice({"JOBID": "job_1", "COUNTERS": {"FileSystemCounters": {"HDFS_BYTES_WRITTEN": 5}}})
    assert "JOBID = job_1" in s
    assert "HDFS_BYTES_WRITTEN = 5" in s
    # nested counters must be indented deeper than the top-level key
    top = next(line for line in s.splitlines() if "JOBID" in line)
    deep = next(line for line in s.splitlines() if "HDFS_BYTES_WRITTEN" in line)
    assert len(deep) - len(deep.lstrip()) > len(top) - len(top.lstrip())


def _png_dims(path):
    with open(path, "rb") as f:
        data = f.read()
    assert data[:8] == b"\x89PNG\r\n\x1a\n"
    w, h = struct.unpack(">II", data[16:24])
    return w, h, data


def test_render_timeline_png(spark, fixture_log1, tmp_path):
    v = load_history(spark, fixture_log1)
    tl = timeline(v).filter(F.col("jobid") == "job_201010291643_0125")
    out = str(tmp_path / "timeline.png")
    render_timeline_png(tl, out, width=300, height=200)
    w, h, data = _png_dims(out)
    assert (w, h) == (300, 200)
    # decode and check the bottom-left region is the maps color (blue) —
    # maps dominate the start of the job
    raw = zlib.decompress(data[data.index(b"IDAT") + 4 : data.rindex(b"IEND") - 4])
    stride = 1 + 3 * w
    bottom = raw[(h - 1) * stride + 1 : (h - 1) * stride + 1 + 30]
    px = (bottom[0], bottom[1], bottom[2])
    assert px == TIMELINE_COLORS["maps"], px


def test_render_png_rejects_multi_job(spark, fixture_log1, fixture_log2, tmp_path):
    """The renderers draw one job per chart (reference CGI serves one job
    per request); a multi-job frame must be rejected, not interleaved."""
    import pytest

    from hadoop_jobanalyzer_spark.sinks import render_gantt_png

    v = load_history(spark, f"{fixture_log1.rsplit('/', 1)[0]}/*")
    with pytest.raises(ValueError, match="multiple"):
        render_timeline_png(timeline(v), str(tmp_path / "t.png"), width=40, height=30)
    with pytest.raises(ValueError, match="multiple"):
        render_gantt_png(map_table(v), str(tmp_path / "g.png"), width=40, height=30)


def test_stage_url_file_scheme(spark, fixture_log1):
    from pathlib import Path

    staged = stage_url(Path(fixture_log1).as_uri())
    v = load_history(spark, staged)
    assert v.jobs.count() == 1
    assert glob.glob(staged)


def test_stage_url_failed_fetch_leaves_no_staged_file(tmp_path, monkeypatch):
    """A failed fetch neither leaves its staging file behind nor keeps its
    descriptor open (the webapp's url= and the CLI's -i URL go through it)."""
    import os
    import tempfile

    fds = []
    mkstemp = tempfile.mkstemp

    def spy(*args, **kwargs):
        fd, path = mkstemp(*args, **kwargs)
        fds.append(fd)
        return fd, path

    monkeypatch.setattr(tempfile, "mkstemp", spy)
    with pytest.raises(OSError):
        stage_url((tmp_path / "missing.txt").as_uri(), staging_dir=str(tmp_path))
    assert os.listdir(tmp_path) == []
    assert len(fds) == 1
    with pytest.raises(OSError):
        os.fstat(fds[0])


def test_render_gantt_png(spark, fixture_log1, tmp_path):
    from hadoop_jobanalyzer_spark.sinks import render_gantt_png

    v = load_history(spark, fixture_log1)
    out = str(tmp_path / "gantt.png")
    render_gantt_png(map_table(v), out, width=200, height=120)
    w, h, data = _png_dims(out)
    assert (w, h) == (200, 120)
    raw = zlib.decompress(data[data.index(b"IDAT") + 4 : data.rindex(b"IEND") - 4])
    stride = 1 + 3 * w
    # first task starts at the job's start: top-left pixel is a bar
    assert (raw[1], raw[2], raw[3]) == (0, 0, 255)


def test_write_partitioned_prunes_at_read(spark, sf_dir, tmp_path):
    """The hive layout must (a) round-trip values, (b) produce one
    directory per key written only by its owning task (no small-files
    explosion), and (c) turn a partition-column equality filter into
    directory pruning in the scan plan."""
    import contextlib
    import io
    import os

    from hadoop_jobanalyzer_spark.sinks import write_partitioned

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = str(tmp_path / "by_lang")
    write_partitioned(docs, out, ["lang"])

    langs = [r["lang"] for r in docs.select("lang").distinct().collect()]
    dirs = [d for d in os.listdir(out) if d.startswith("lang=")]
    assert sorted(dirs) == sorted(f"lang={v}" for v in langs)
    # repartition-by-key first => one file per directory, not one per task
    for d in dirs:
        files = [f for f in os.listdir(os.path.join(out, d)) if f.endswith(".parquet")]
        assert len(files) == 1, f"{d} has {len(files)} files"

    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    one = back.filter(F.col("lang") == langs[0])
    assert one.count() == docs.filter(F.col("lang") == langs[0]).count()

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        one.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "lang" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0]


def test_merge_parquet_upsert_rewrites_only_affected_partitions(spark, tmp_path):
    """Copy-on-write MERGE: updated keys replaced, new keys appended,
    untouched partition directories byte-identical (their files are never
    rewritten)."""
    import os

    from pyspark.sql import functions as F

    from hadoop_jobanalyzer_spark.sinks import merge_parquet, write_partitioned

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 30), (4, "c", 40)],
        "id long, part string, val long",
    )
    write_partitioned(base, path, ["part"])

    def files_of(part):
        d = os.path.join(path, f"part={part}")
        return {
            f: os.path.getmtime(os.path.join(d, f))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    c_before = files_of("c")

    updates = spark.createDataFrame(
        [(2, "a", 21), (5, "b", 50)], "id long, part string, val long"
    )
    merge_parquet(spark, updates, path, ["id"], "part")

    got = {
        (r["id"], r["part"], r["val"])
        for r in spark.read.parquet(path).collect()
    }
    assert got == {(1, "a", 10), (2, "a", 21), (3, "b", 30), (4, "c", 40), (5, "b", 50)}
    # partition c untouched: same files, same mtimes
    assert files_of("c") == c_before

    # idempotent: re-merging the same batch changes nothing
    merge_parquet(spark, updates, path, ["id"], "part")
    got2 = {
        (r["id"], r["part"], r["val"])
        for r in spark.read.parquet(path).collect()
    }
    assert got2 == got


def test_write_partitioned_orc_roundtrip_and_pruning(spark, tmp_path):
    """ORC output: same partition layout, same round-trip content, and
    an equality predicate on the partition column prunes to one
    directory (PartitionFilters in the ORC scan)."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from hadoop_jobanalyzer_spark.sinks import write_partitioned

    df = spark.createDataFrame(
        [(i, "ab"[i % 2], i * 10) for i in range(20)], "id long, part string, val long"
    )
    path = str(tmp_path / "orc_tbl")
    write_partitioned(df, path, ["part"], fmt="orc")

    back = spark.read.orc(path)
    assert back.count() == 20
    assert {tuple(sorted(r.asDict().items())) for r in back.collect()} == {
        tuple(sorted(r.asDict().items())) for r in df.collect()
    }

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        back.filter(F.col("part") == "a").explain("formatted")
    assert "PartitionFilters: [isnotnull(part" in buf.getvalue()


def test_compact_partitions_rewrites_only_fragmented(spark, sf_dir, tmp_path):
    """OPTIMIZE-style compaction: a partition fragmented into many files
    collapses to one file with identical data; a healthy partition's file
    is untouched (same inode mtime) — compaction cost is bounded by the
    fragmented volume."""
    import os

    from hadoop_jobanalyzer_spark.sinks import compact_partitions

    path = str(tmp_path / "lake")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "etype", F.col("event_type")
    )
    frag = ev.filter("etype = 'view'").repartition(8)
    healthy = ev.filter("etype = 'purchase'").coalesce(1)
    frag.write.partitionBy("etype").parquet(path)
    healthy.write.mode("append").partitionBy("etype").parquet(path)

    def files(part):
        d = os.path.join(path, f"etype={part}")
        return sorted(
            f for f in os.listdir(d) if f.endswith(".parquet") and not f.startswith(("_", "."))
        )

    assert len(files("view")) == 8 and len(files("purchase")) == 1
    before = spark.read.parquet(path).orderBy("event_id").collect()
    healthy_file = files("purchase")[0]
    healthy_mtime = os.path.getmtime(
        os.path.join(path, "etype=purchase", healthy_file)
    )

    rewritten = compact_partitions(spark, path, "etype", max_files_per_partition=1)
    assert rewritten == ["view"]
    assert len(files("view")) == 1
    assert files("purchase") == [healthy_file]
    assert os.path.getmtime(os.path.join(path, "etype=purchase", healthy_file)) == healthy_mtime
    after = spark.read.parquet(path).orderBy("event_id").collect()
    assert after == before
    # idempotent: second run finds nothing fragmented
    assert compact_partitions(spark, path, "etype", max_files_per_partition=1) == []


def test_compact_partitions_lists_through_hadoop_fs(spark, tmp_path):
    """A table addressed by a ``file:`` URI (as hdfs:// or s3a:// tables
    always are) is listed through the Hadoop FileSystem, so its fragmented
    partition is found and rewritten to one file."""
    import os

    from hadoop_jobanalyzer_spark.sinks import compact_partitions

    local = tmp_path / "lake"
    uri = local.as_uri()
    for rows in ([(1, "a"), (2, "a")], [(3, "a")]):
        spark.createDataFrame(rows, "id INT, part STRING").coalesce(1).write.mode(
            "append"
        ).partitionBy("part").parquet(uri)

    def n_files():
        return len([f for f in os.listdir(local / "part=a") if f.endswith(".parquet")])

    assert n_files() == 2
    assert compact_partitions(spark, uri, "part") == ["a"]
    assert n_files() == 1
    assert sorted(r["id"] for r in spark.read.parquet(uri).collect()) == [1, 2, 3]


def test_read_evolved_merges_schemas(spark, tmp_path):
    """Files written before a column existed surface NULLs for it under
    the merged schema; the plain read keeps whichever footer it sampled."""
    from pyspark.sql import Row

    from hadoop_jobanalyzer_spark.sources.history_lake import read_evolved

    path = str(tmp_path / "evolving")
    spark.createDataFrame([Row(id=1, a="x"), Row(id=2, a="y")]).write.parquet(path)
    spark.createDataFrame(
        [Row(id=3, a="z", b=30)]
    ).write.mode("append").parquet(path)

    merged = read_evolved(spark, path)
    assert set(merged.columns) == {"id", "a", "b"}
    rows = {r["id"]: (r["a"], r["b"]) for r in merged.collect()}
    assert rows == {1: ("x", None), 2: ("y", None), 3: ("z", 30)}


def test_stats_manifest_prunes_files(spark, tmp_path):
    """The manifest lets a range read open only overlapping files, and
    the pruned result equals the naive filtered read exactly."""
    from pyspark.sql import functions as F

    from hadoop_jobanalyzer_spark.sinks import read_pruned, write_stats_manifest

    path = str(tmp_path / "facts")
    # 10 files with EXPLICITLY disjoint id ranges. (repartitionByRange
    # derives bounds by sampling, and the sampled split points shift with
    # session history — under some orderings [2000, 2999] straddled three
    # files and the <=2-boundary-files assertion below flaked.)
    df = spark.range(10_000).withColumn("v", F.col("id") % 97)
    for k in range(10):
        df.filter(
            (F.col("id") >= k * 1_000) & (F.col("id") < (k + 1) * 1_000)
        ).coalesce(1).write.mode("append").parquet(path)
    mdir = write_stats_manifest(spark, path, ["id", "v"])

    got, n_sel, n_tot = read_pruned(spark, path, "id", 2_000, 2_999)
    assert n_tot == 10
    assert 1 <= n_sel <= 2  # disjoint ranges: at most 2 boundary files
    naive = spark.read.parquet(path).filter(
        (F.col("id") >= 2_000) & (F.col("id") <= 2_999)
    )
    assert got.count() == naive.count() == 1_000
    assert got.agg(F.sum("v")).first()[0] == naive.agg(F.sum("v")).first()[0]

    # empty-overlap range returns an empty frame but the right schema
    empty, n_sel0, _ = read_pruned(spark, path, "id", 50_000, 60_000)
    assert n_sel0 == 0 and empty.count() == 0
    assert set(empty.columns) == {"id", "v"}

    # manifest row-counts reconcile with the table
    m = spark.read.parquet(mdir)
    assert m.agg(F.sum("n_rows")).first()[0] == 10_000

    # no manifest -> plain filtered read fallback
    got2, n2, t2 = read_pruned(spark, path, "id", 0, 10, manifest_dir=str(tmp_path / "nope"))
    assert (n2, t2) == (-1, -1) and got2.count() == 11


def test_read_pruned_keeps_null_stats_files(spark, tmp_path):
    """A file whose stat column is all-NULL has NULL min/max in the
    manifest — it carries no range information, so pruning must KEEP it
    (the residual filter decides row by row), never drop it or crash on
    a None comparison."""
    from pyspark.sql import functions as F

    from hadoop_jobanalyzer_spark.sinks import read_pruned, write_stats_manifest

    path = str(tmp_path / "facts")
    spark.range(100).withColumn("v", F.col("id").cast("long")).coalesce(1).write.mode(
        "append"
    ).parquet(path)
    # second file: v entirely NULL -> manifest min_v/max_v are NULL
    spark.range(100, 200).withColumn(
        "v", F.lit(None).cast("long")
    ).coalesce(1).write.mode("append").parquet(path)
    write_stats_manifest(spark, path, ["v"])

    got, n_sel, n_tot = read_pruned(spark, path, "v", 0, 1_000)
    assert n_tot == 2
    assert n_sel == 2  # the NULL-stats file must survive pruning
    assert got.count() == 100  # residual filter still drops the NULL rows


def test_read_pruned_resolves_manifest_via_hadoop_fs(spark, tmp_path):
    """The manifest must be found through the Hadoop FileSystem API: a
    `file:` URI is not an os.path directory, but it IS the form paths take
    on the deployment target (hdfs://, s3a://) — a driver-local stat would
    silently disable data skipping there."""
    from pyspark.sql import functions as F

    from hadoop_jobanalyzer_spark.sinks import read_pruned, write_stats_manifest

    path = str(tmp_path / "facts")
    df = spark.range(2_000).withColumn("v", F.col("id") % 7)
    for k in range(2):
        df.filter(
            (F.col("id") >= k * 1_000) & (F.col("id") < (k + 1) * 1_000)
        ).coalesce(1).write.mode("append").parquet(path)
    mdir = write_stats_manifest(spark, path, ["id"])

    got, n_sel, n_tot = read_pruned(
        spark, path, "id", 0, 999, manifest_dir="file:" + mdir
    )
    assert (n_sel, n_tot) == (1, 2)  # skipping ACTIVE through the file: URI
    assert got.count() == 1_000


# --- Gantt renderers vs the reference grap charts ----------------------------


def _decode_scanlines(data: bytes, w: int, h: int) -> list[bytes]:
    raw = zlib.decompress(data[data.index(b"IDAT") + 4 : data.rindex(b"IEND") - 4])
    stride = 1 + 3 * w
    assert len(raw) == stride * h
    return [raw[y * stride + 1 : (y + 1) * stride] for y in range(h)]


def _color_run(line: bytes, w: int, rgb: tuple) -> tuple:
    xs = [x for x in range(w) if tuple(line[3 * x : 3 * x + 3]) == rgb]
    assert xs, f"color {rgb} absent from scanline"
    return xs[0], xs[-1]


def test_render_map_gantt_golden_extents(spark, fixture_log1, tmp_path):
    """Bar extents golden against ``vis/grap/map.d`` (the mapgraph.gr
    input, taskid-ordered): one scanline per task, each bar spanning
    exactly the task's [start, end] mapped onto the time axis."""
    import os

    import pytest

    from hadoop_jobanalyzer_spark.sinks import GANTT_MAP_COLOR, render_map_gantt_png

    map_d = "/root/reference/vis/grap/map.d"
    if not os.path.exists(map_d):
        pytest.skip("reference map.d not available")
    rows = [line.split() for line in open(map_d) if line.strip()]
    starts = [int(r[1]) for r in rows]
    ends = [int(r[2]) for r in rows]
    t_min, span = min(starts), max(ends) - min(starts)
    n = len(rows)  # 512
    W = 600

    v = load_history(spark, fixture_log1)
    out = str(tmp_path / "map_gantt.png")
    render_map_gantt_png(map_table(v), out, width=W, height=n)
    w, h, data = _png_dims(out)
    assert (w, h) == (W, n)
    lines = _decode_scanlines(data, W, n)
    for i in (0, 1, 100, 255, 511):  # spot-check ranks incl. both ends
        x0 = int((starts[i] - t_min) / span * (W - 1))
        x1 = max(x0 + 1, int((ends[i] - t_min) / span * (W - 1)))
        assert _color_run(lines[i], W, GANTT_MAP_COLOR) == (x0, x1), f"rank {i}"


def test_render_reduce_gantt_golden_segments(spark, fixture_log1, tmp_path):
    """Two-phase reduce bars golden against ``vis/grap/reduce.d`` plus the
    job's all-maps-complete instant (reducegraph.gr:38-46: green from
    max(start, maps_complete) to shuffle finish, yellow to task end)."""
    import os

    import pytest

    from hadoop_jobanalyzer_spark.operators import reduce_table
    from hadoop_jobanalyzer_spark.sinks import (
        GANTT_REDUCE_COLOR,
        GANTT_SHUFFLE_COLOR,
        render_reduce_gantt_png,
    )

    reduce_d = "/root/reference/vis/grap/reduce.d"
    if not os.path.exists(reduce_d):
        pytest.skip("reference reduce.d not available")
    rows = [line.split() for line in open(reduce_d) if line.strip()]
    starts = [int(r[1]) for r in rows]
    shuffles = [int(r[2]) for r in rows]
    ends = [int(r[3]) for r in rows]
    maps_complete = 1289563006  # README/golden all-maps-complete, fixture job 1
    sh_starts = [max(s, maps_complete) for s in starts]
    t_min, span = min(sh_starts), max(ends) - min(sh_starts)
    n = len(rows)  # 320
    W = 600

    v = load_history(spark, fixture_log1)
    out = str(tmp_path / "reduce_gantt.png")
    render_reduce_gantt_png(reduce_table(v), out, width=W, height=n)
    w, h, data = _png_dims(out)
    assert (w, h) == (W, n)
    lines = _decode_scanlines(data, W, n)
    for i in (0, 1, 160, 319):
        gx0 = int((sh_starts[i] - t_min) / span * (W - 1))
        yx0 = int((shuffles[i] - t_min) / span * (W - 1))
        yx1 = max(yx0 + 1, int((ends[i] - t_min) / span * (W - 1)))
        y0, y1 = _color_run(lines[i], W, GANTT_REDUCE_COLOR)
        assert (y0, y1) == (yx0, yx1), f"rank {i} yellow extent"
        # yellow is painted after green, so green survives only left of
        # it — a sub-pixel shuffle window is fully overwritten
        if yx0 > gx0:
            g0, _ = _color_run(lines[i], W, GANTT_SHUFFLE_COLOR)
            assert g0 == gx0, f"rank {i} green start"


def test_render_reduce_gantt_shuffle_before_maps_complete(spark, tmp_path):
    """A reduce whose shuffle finished before the job's last map did: its
    bars start left of the axis (which starts at the earliest
    max(start, maps_complete)). It must render without error and paint
    nothing right of the row's own span, instead of wrapping x around
    from the right edge (or raising IndexError once x < -width)."""
    from hadoop_jobanalyzer_spark.sinks import _BG, render_reduce_gantt_png

    W = 100
    reduces = spark.createDataFrame(
        [("r1", 1000, 1000, 1200, 1500), ("r2", 0, 1000, 100, 1100)],
        ["taskid", "start_time", "maps_complete", "shuffle_finish", "end_time"],
    )
    out = str(tmp_path / "reduce_gantt.png")
    render_reduce_gantt_png(reduces, out, width=W, height=2)
    w, h, data = _png_dims(out)
    assert (w, h) == (W, 2)
    r1, r2 = _decode_scanlines(data, W, 2)
    # axis: t_min 1000 (r1's shuffle start), t_max 1500; r2 ends at 1100
    r2_right = int((1100 - 1000) / 500 * (W - 1))
    painted = [x for x in range(W) if tuple(r2[3 * x : 3 * x + 3]) != _BG]
    assert painted and max(painted) <= r2_right
    assert tuple(r1[3 * (W - 1) : 3 * W]) != _BG  # r1 reaches the axis end


def test_timeline_png_stack_overshoot_paints_nothing_above_top(spark):
    """Rounded series heights can stack past the top (here 4 x round(0.75)
    = 4 rows on a 3-row canvas): the running ``y`` goes negative, and the
    overshooting series must paint nothing — a negative slice end would
    wrap around and paint most of the column. Bytes pinned to the
    per-pixel rasterizer this replaced."""
    import hashlib

    from hadoop_jobanalyzer_spark.functions.png_codec import decode_png
    from hadoop_jobanalyzer_spark.sinks import timeline_png

    tl = spark.createDataFrame(
        [(0, 1, 1, 1, 1, 0)],
        "t long, maps long, shuffle long, merge long, reduce long, waste long",
    )
    png = timeline_png(tl, width=1, height=3)
    assert hashlib.sha256(png).hexdigest() == (
        "0b04661e48a262c4faeb822fc53de88f8e9d27673d542f4fd4325576e0b3c447"
    )
    c = TIMELINE_COLORS
    assert decode_png(png).tolist() == [[list(c["merge"])], [list(c["shuffle"])], [list(c["maps"])]]


# SHA-256 of ``webapp.render_chart_png(spark, log=<file text>, chart=...,
# width=..., height=...)`` (default scale 100) for the local logs, recorded
# with the per-pixel list rasterizer the numpy canvas replaced, so any
# change to the chart bytes shows here without the reference fixture logs.
CHART_GOLDENS = {
    ("tiny_log.txt", "timeline", 1200, 800): "56bde14338d2ad28030bf1d9d4da13a1849ee09f7d8b3adb1e2549f991c59acc",
    ("tiny_log.txt", "timeline", 40, 30): "e92dadce41e0f5b98cc5d3a95d97c8eed8386a3ed5b22624c3c39662d445a3f8",
    ("tiny_log.txt", "map", 1200, 800): "e8ab8c9466aca35e53b167e82d31d3944dda7003c382a9854ceb04c29994ced6",
    ("tiny_log.txt", "map", 40, 30): "a54cfedaa045fa2dbd0fa3d01085d35b9a645610023aeee251c2c1e57f8d4560",
    ("tiny_log.txt", "reduce", 1200, 800): "41a1bf3304e2c6859f60be416ef868ca67bedadbe6524aaebed83492afb9d1b0",
    ("tiny_log.txt", "reduce", 40, 30): "d950fddae530175a583352fac233e4f53c14b597a595982a95dba94f85b301d4",
    ("failed_log.txt", "timeline", 1200, 800): "810e72906624b0b3a93b87acf30b6710f7068934b53643b5ed0f406f63e6bf66",
    ("failed_log.txt", "timeline", 40, 30): "6f1b4cc8daeea61322f55e8432008407941feab6431298cd6b719bf32f42e7cc",
    ("failed_log.txt", "map", 1200, 800): "5bcfde9d196dfce8395858c0c93cb0dd78fd5a45d959e129c71de54e28b74e5d",
    ("failed_log.txt", "map", 40, 30): "a6b989c3154f0fe5ff646e4c470fea6fe5360af9747dfaddef6e6c599f76ee3c",
    ("failed_log.txt", "reduce", 1200, 800): "fd5c209d49c9ab00d8b9b7f00e89b069c8e9c6d453aff5b4b8d123743702b390",
    ("failed_log.txt", "reduce", 40, 30): "942f5459e433bdca376e0a7e6dba1a931f8005103373d26ac8c1c6a6244ff523",
    ("no_status_log.txt", "timeline", 1200, 800): "be8cdfe8a1e482176edaa8af528c977b68327ce7ec951ea3e8e944ea6b9cf3d2",
    ("no_status_log.txt", "timeline", 40, 30): "53e25cd9a9d55b3ce4378c2125ed6e2e3776a14fbb94fa00e2772d8f263aff94",
    ("no_status_log.txt", "map", 1200, 800): "e8ab8c9466aca35e53b167e82d31d3944dda7003c382a9854ceb04c29994ced6",
    ("no_status_log.txt", "map", 40, 30): "a54cfedaa045fa2dbd0fa3d01085d35b9a645610023aeee251c2c1e57f8d4560",
    ("no_status_log.txt", "reduce", 1200, 800): "41a1bf3304e2c6859f60be416ef868ca67bedadbe6524aaebed83492afb9d1b0",
    ("no_status_log.txt", "reduce", 40, 30): "d950fddae530175a583352fac233e4f53c14b597a595982a95dba94f85b301d4",
}


@pytest.mark.parametrize(("log", "chart", "width", "height"), sorted(CHART_GOLDENS))
def test_chart_png_matches_golden(spark, log, chart, width, height):
    import hashlib
    import os

    from hadoop_jobanalyzer_spark.webapp import render_chart_png

    with open(os.path.join(os.path.dirname(__file__), "data", log)) as f:
        text = f.read()
    png = render_chart_png(spark, log=text, chart=chart, width=width, height=height)
    assert hashlib.sha256(png).hexdigest() == CHART_GOLDENS[log, chart, width, height]
