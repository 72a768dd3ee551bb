"""Streaming over the analytics events table: windowed/session aggregations
differentially checked against their batch forms, plus watermark late-data
semantics on a hand-built shard sequence."""

import os
import uuid

import pandas as pd
import pytest
from pyspark.sql import functions as F

from hadoop_jobanalyzer_spark.streaming import (
    event_window_counts_stream,
    read_events_stream,
    user_sessions_stream,
)


@pytest.fixture()
def events_dir(tmp_path, sf_dir):
    """The sf events table split into 3 arriving shards."""
    df = pd.read_parquet(f"{sf_dir}/events.parquet")
    d = tmp_path / "events_in"
    d.mkdir()
    n = len(df)
    for i, lo in enumerate(range(0, n, (n + 2) // 3)):
        # pandas defaults to ns-precision INT64, which Spark's streaming
        # parquet reader refuses; the batch tables are us-precision
        df.iloc[lo : lo + (n + 2) // 3].to_parquet(
            d / f"shard{i}.parquet", coerce_timestamps="us", allow_truncated_timestamps=True
        )
    return str(d)


def _space_mtime(shard, i):
    """Push shard ``i``'s mtime ``i`` seconds ahead. The file source orders
    arrivals by mtime in milliseconds, and shards written within one
    millisecond tie and arrive in directory order; tests that need shards
    to arrive in write order space them out."""
    mtime = os.stat(shard).st_mtime + i
    os.utime(shard, (mtime, mtime))


def _run_to_memory(df, name, output_mode, checkpoint=None):
    w = df.writeStream.format("memory").queryName(name).outputMode(output_mode)
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    q = w.trigger(availableNow=True).start()
    q.awaitTermination(300)
    return q


def test_event_window_counts_match_batch(spark, sf_dir, events_dir):
    name = f"ewc_{uuid.uuid4().hex[:8]}"
    stream = read_events_stream(spark, events_dir)
    _run_to_memory(
        event_window_counts_stream(stream, "1 minute"), name, "complete"
    )
    got = {
        (str(r["win_start"]), r["event_type"]): (r["n"], r["total_value"])
        for r in spark.table(name).collect()
    }
    from hadoop_jobanalyzer_spark.plans.tables import load_tables

    batch = (
        load_tables(spark, sf_dir)["events"]
        .groupBy(F.window("ts", "1 minute").alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("v"))
    )
    want = {
        (str(r["win"]["start"]), r["event_type"]): (r["n"], r["v"])
        for r in batch.collect()
    }
    assert got == want and len(got) > 100


def test_user_sessions_stream_matches_batch(spark, sf_dir, events_dir):
    name = f"uss_{uuid.uuid4().hex[:8]}"
    stream = read_events_stream(spark, events_dir)
    _run_to_memory(user_sessions_stream(stream, gap="1 hour"), name, "complete")
    got = {
        (r["user_id"], str(r["session_start"])): r["n_events"]
        for r in spark.table(name).collect()
    }
    from hadoop_jobanalyzer_spark.plans.tables import load_tables

    batch = (
        load_tables(spark, sf_dir)["events"]
        .groupBy(F.session_window("ts", "1 hour").alias("w"), "user_id")
        .agg(F.count("*").alias("n"))
    )
    want = {
        (r["user_id"], str(r["w"]["start"])): r["n"] for r in batch.collect()
    }
    assert got == want and len(got) > 50


def test_late_event_dropped_after_watermark(spark, tmp_path):
    """Append mode + watermark: once the watermark passes a window, a
    late-arriving event for it is dropped, and the finalized row is emitted
    exactly once. Shards are processed oldest-mtime-first one per trigger,
    so the event-time order below is the processing order."""
    d = tmp_path / "late_in"
    d.mkdir()
    base = pd.Timestamp("2026-01-01 00:00:00")

    def shard(i, rows, mtime):
        pdf = pd.DataFrame(
            {
                "event_id": range(i * 10, i * 10 + len(rows)),
                "ts": [base + pd.Timedelta(minutes=m) for m in rows],
                "user_id": [1] * len(rows),
                "event_type": ["view"] * len(rows),
                "value": [1.0] * len(rows),
                "props": ["{}"] * len(rows),
            }
        )
        p = d / f"shard{i}.parquet"
        pdf.to_parquet(p, coerce_timestamps="us", allow_truncated_timestamps=True)
        os.utime(p, (mtime, mtime))

    shard(0, [0, 0, 1], 1_000)       # window 00:00 has 2 events, 00:01 has 1
    shard(1, [200], 2_000)           # advances the watermark to 190min
    shard(2, [210], 3_000)           # next batch flushes+evicts the 0/1min windows
    shard(3, [0], 4_000)             # LATE: 00:00 state is gone -> dropped
    shard(4, [400], 5_000)           # flushes the 200/210min windows

    name = f"late_{uuid.uuid4().hex[:8]}"
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    counts = event_window_counts_stream(stream, "1 minute", watermark_delay="10 minutes")
    _run_to_memory(counts, name, "append", checkpoint=str(tmp_path / "ckpt"))
    got = {
        str(r["win_start"]): r["n"]
        for r in spark.table(name).collect()
    }
    # the late event did NOT bump the 00:00 window, and no duplicate row
    assert got[str(base)] == 2
    assert got[str(base + pd.Timedelta(minutes=1))] == 1
    assert spark.table(name).groupBy("win_start").count().filter("count > 1").count() == 0


def test_running_totals_stream_matches_batch(spark, sf_dir, events_dir, tmp_path):
    """Custom applyInPandasWithState accumulator: after the stream drains,
    the latest snapshot per key equals the batch aggregate exactly (integer
    cents — no float accumulation), and the snapshots are monotone across
    micro-batches (state survived between triggers)."""
    from hadoop_jobanalyzer_spark.streaming import running_totals_stream

    name = f"rt_{uuid.uuid4().hex[:8]}"
    stream = (
        spark.readStream.schema(spark.read.parquet(events_dir).schema)
        .option("maxFilesPerTrigger", 1)  # force >= 3 micro-batches
        .parquet(events_dir)
    )
    _run_to_memory(
        running_totals_stream(stream),
        name,
        "update",
        checkpoint=str(tmp_path / "ckpt_rt"),
    )
    snaps = spark.table(name).collect()
    latest = {}
    for r in snaps:
        k = r["event_type"]
        if k not in latest or r["n_total"] > latest[k]["n_total"]:
            latest[k] = r
    assert len(snaps) > len(latest), "expected snapshots from multiple batches"

    from hadoop_jobanalyzer_spark.plans.tables import load_tables

    batch = (
        load_tables(spark, sf_dir)["events"]
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("s"),
            F.max(F.round(F.col("value") * 100).cast("long")).alias("m"),
        )
    )
    want = {r["event_type"]: (r["n"], r["s"], r["m"]) for r in batch.collect()}
    got = {k: (r["n_total"], r["sum_cents"], r["max_cents"]) for k, r in latest.items()}
    assert got == want


def test_view_purchase_join_stream_matches_batch(spark, sf_dir, events_dir, tmp_path):
    """Stream-stream join with time-range condition: every (view, purchase)
    pair by the same user within the gap must match the batch inner join
    exactly. Long watermark so nothing is dropped across the 3 shards."""
    from hadoop_jobanalyzer_spark.streaming import view_purchase_join_stream

    name = f"vpj_{uuid.uuid4().hex[:8]}"
    stream = read_events_stream(spark, events_dir)
    _run_to_memory(
        view_purchase_join_stream(stream, max_gap="2 days", watermark_delay="400 days"),
        name,
        "append",
        checkpoint=str(tmp_path / "ckpt_vpj"),
    )
    got = {
        (r["view_id"], r["purchase_id"]): r["gap_ms"]
        for r in spark.table(name).collect()
    }

    from hadoop_jobanalyzer_spark.plans.tables import load_tables

    ev = load_tables(spark, sf_dir)["events"].withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    v = ev.filter("event_type = 'view'").select(
        F.col("user_id").alias("vu"), F.col("event_id").alias("vid"), F.col("ts").alias("vts")
    )
    p = ev.filter("event_type = 'purchase'").select(
        F.col("user_id").alias("pu"), F.col("event_id").alias("pid"), F.col("ts").alias("pts")
    )
    batch = v.join(
        p,
        (F.col("vu") == F.col("pu"))
        & (F.col("vts") <= F.col("pts"))
        & (F.col("vts") >= F.col("pts") - F.expr("INTERVAL 2 days")),
    ).select(
        "vid", "pid",
        (F.unix_millis("pts") - F.unix_millis("vts")).cast("long").alias("gap_ms"),
    )
    want = {(r["vid"], r["pid"]): r["gap_ms"] for r in batch.collect()}
    assert got == want and len(got) > 10


def test_stream_partitioned_sink_idempotent(spark, sf_dir, events_dir, tmp_path):
    """foreachBatch hive-partitioned sink: (a) the drained stream's output
    equals the batch table, (b) replaying a batch with the same batch_id
    overwrites its own partitions instead of duplicating rows."""
    from hadoop_jobanalyzer_spark.streaming import (
        idempotent_batch_writer,
        write_stream_partitioned,
    )

    out = str(tmp_path / "out")
    stream = (
        spark.readStream.schema(spark.read.parquet(events_dir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
    )
    q = write_stream_partitioned(
        stream, out, ["event_type"], str(tmp_path / "ckpt_sink")
    )
    q.awaitTermination(300)

    back = spark.read.parquet(out)
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    assert back.count() == batch.count()
    assert back.select("_batch_id").distinct().count() >= 3  # one per shard
    got = {r["event_id"] for r in back.select("event_id").collect()}
    want = {r["event_id"] for r in batch.select("event_id").collect()}
    assert got == want

    # replay batch 0: same data, same id -> same files, no duplication
    first = spark.read.parquet(events_dir).limit(50)
    writer = idempotent_batch_writer(out, ["event_type"])
    before = back.count()
    n_b0 = spark.read.parquet(out).filter(F.col("_batch_id") == 999).count()
    assert n_b0 == 0
    writer(first, 999)
    mid = spark.read.parquet(out).count()
    writer(first, 999)  # the replay
    after = spark.read.parquet(out).count()
    assert mid == before + 50 and after == mid


def test_dedup_events_stream_suppresses_replays(spark, sf_dir, tmp_path):
    from hadoop_jobanalyzer_spark.streaming import dedup_events_stream

    df = pd.read_parquet(f"{sf_dir}/events.parquet").head(200)
    d = tmp_path / "dedup_in"
    d.mkdir()
    kw = dict(coerce_timestamps="us", allow_truncated_timestamps=True)
    df.to_parquet(d / "shard0.parquet", **kw)
    df.head(50).to_parquet(d / "shard1.parquet", **kw)  # replayed batch
    name = f"dd_{uuid.uuid4().hex[:8]}"
    stream = read_events_stream(spark, str(d))
    _run_to_memory(
        dedup_events_stream(stream, "365 days"),
        name,
        "append",
        checkpoint=str(tmp_path / "ckpt"),
    )
    got = [r["event_id"] for r in spark.table(name).collect()]
    assert len(got) == len(set(got)) == 200
    assert set(got) == set(df["event_id"])


def test_hll_register_stream_matches_batch(spark, sf_dir, events_dir):
    """The streaming windowed HLL register table (complete mode over the
    3-shard replay) equals the batch register table computed over the
    same windows — the MAX aggregate is order/batching-insensitive, so
    the sketch is exactly reproducible from a stream."""
    from hadoop_jobanalyzer_spark.streaming import hll_register_stream, read_events_stream

    name = f"hll_{uuid.uuid4().hex[:8]}"
    stream = read_events_stream(spark, events_dir)
    _run_to_memory(hll_register_stream(stream, "1 hour"), name, "complete")
    got = {
        (str(r["win_start"]), r["event_type"], r["register"]): r["max_rho"]
        for r in spark.table(name).collect()
    }

    from hadoop_jobanalyzer_spark.operators.sketches import portable_hash60, HASH_BITS
    from hadoop_jobanalyzer_spark.plans.tables import load_tables

    ev = load_tables(spark, sf_dir)["events"].withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    h = portable_hash60(F.col("user_id"))
    w = F.shiftright(h, 6)
    rho = F.when(w > 0, F.lit(HASH_BITS - 6 + 1) - F.length(F.bin(w))).otherwise(
        F.lit(HASH_BITS - 6 + 1)
    )
    batch = (
        ev.withColumn("register", h % 64)
        .withColumn("rho", rho.cast("int"))
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type", "register")
        .agg(F.max("rho").alias("max_rho"))
        .select(
            F.col("win.start").alias("win_start"), "event_type", "register", "max_rho"
        )
    )
    want = {
        (str(r["win_start"]), r["event_type"], r["register"]): r["max_rho"]
        for r in batch.collect()
    }
    assert got == want and len(got) > 0


def test_kmv_stream_matches_batch_sketch(spark, sf_dir, events_dir):
    """After the 3-shard replay drains, the latest emitted KMV row per
    event type equals the batch sketch over the full table — custom
    bounded state (k longs per key) reproducing the exact k-th order
    statistic."""
    from hadoop_jobanalyzer_spark.operators.sketches import kmv_distinct
    from hadoop_jobanalyzer_spark.streaming import kmv_stream, read_events_stream

    name = f"kmv_{uuid.uuid4().hex[:8]}"
    stream = read_events_stream(spark, events_dir)
    _run_to_memory(kmv_stream(stream, k=8), name, "update")
    rows = spark.table(name).collect()
    latest = {}
    for r in rows:
        if (
            r["event_type"] not in latest
            or r["n_updates"] > latest[r["event_type"]]["n_updates"]
        ):
            latest[r["event_type"]] = r

    batch = {
        r["grp"]: (r["kth_min_hash"], r["est_distinct"])
        for r in kmv_distinct(
            spark.read.parquet(f"{sf_dir}/events.parquet"), "event_type", "user_id", k=8
        ).collect()
    }
    got = {
        t: (r["kth_min_hash"], r["est_distinct"])
        for t, r in latest.items()
        if r["kth_min_hash"] is not None
    }
    assert got == batch and len(got) > 0


def test_upsert_stream_converges_to_latest(spark, tmp_path):
    """Streaming CDC apply: three shards of keyed upserts land as a
    table with one row per key; a replay of the final batch does not
    duplicate or change anything."""
    import pandas as pd

    from hadoop_jobanalyzer_spark.sinks import merge_parquet
    from hadoop_jobanalyzer_spark.streaming.sinks import upsert_batch_writer

    src = tmp_path / "updates_in"
    src.mkdir()
    # shard 0: initial rows; shard 1: update id=1, add id=3; shard 2: update id=3
    shards = [
        [(1, "a", 10), (2, "b", 20)],
        [(1, "a", 11), (3, "b", 30)],
        [(3, "b", 31)],
    ]
    for i, rows in enumerate(shards):
        pd.DataFrame(rows, columns=["id", "part", "val"]).to_parquet(
            src / f"s{i}.parquet"
        )
        _space_mtime(src / f"s{i}.parquet", i)

    out = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    stream = spark.readStream.schema("id long, part string, val long").option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src))
    q = (
        stream.writeStream.foreachBatch(upsert_batch_writer(out, ["id"], "part"))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = {(r["id"], r["part"], r["val"]) for r in spark.read.parquet(out).collect()}
    assert got == {(1, "a", 11), (2, "b", 20), (3, "b", 31)}

    # simulate a replay of the last batch: identical result
    replay = spark.createDataFrame(shards[2], "id long, part string, val long")
    merge_parquet(spark, replay, out, ["id"], "part")
    got2 = {(r["id"], r["part"], r["val"]) for r in spark.read.parquet(out).collect()}
    assert got2 == got


def test_pattern_match_stream_matches_batch(spark, sf_dir, events_dir, tmp_path):
    """Streaming CEP over a 3-shard forced-multi-batch replay finds
    EXACTLY the batch operator's matches — including any match spanning a
    micro-batch boundary (the ring-buffer state carries the tail)."""
    from hadoop_jobanalyzer_spark.operators.cep import pattern_matches
    from hadoop_jobanalyzer_spark.streaming import pattern_match_stream

    steps = ["view", "click", "purchase"]
    within = 172_800_000
    name = f"cep_{uuid.uuid4().hex[:8]}"
    stream = (
        spark.readStream.schema(spark.read.parquet(events_dir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
    )
    q = (
        pattern_match_stream(stream, steps, within)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "cep_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r["user_id"], r["start_event_id"], r["start_ms"])
        for r in spark.table(name).collect()
    }
    want = {
        (r["user_id"], r["start_event_id"], r["start_ms"])
        for r in pattern_matches(
            spark.read.parquet(f"{sf_dir}/events.parquet"), steps, within
        ).collect()
    }
    assert got == want and len(want) > 0


def test_heavy_hitters_stream_space_saving_guarantees(spark, sf_dir, events_dir, tmp_path):
    """Space-saving invariants after the stream drains, against the exact
    batch counts: (1) every counter's sum per shard equals the shard's
    processed total (no increment is lost), (2) estimates only overcount
    and err bounds the overcount, (3) every true heavy hitter
    (count > shard_total/capacity) is tracked, (4) with capacity >= domain
    the sketch degrades to exact counts."""
    from hadoop_jobanalyzer_spark.operators.sampling import hash_bucket
    from hadoop_jobanalyzer_spark.streaming import heavy_hitters_stream

    capacity, shards = 8, 4
    name = f"hh_{uuid.uuid4().hex[:8]}"
    stream = (
        spark.readStream.schema(spark.read.parquet(events_dir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
    )
    _run_to_memory(
        heavy_hitters_stream(stream, "user_id", capacity=capacity, shards=shards),
        name,
        "update",
        checkpoint=str(tmp_path / "ckpt_hh"),
    )
    rows = spark.table(name).collect()
    last_seen = {}
    for r in rows:
        last_seen[r["shard"]] = max(last_seen.get(r["shard"], 0), r["n_seen"])
    latest = [r for r in rows if r["n_seen"] == last_seen[r["shard"]]]

    from hadoop_jobanalyzer_spark.plans.tables import load_tables

    truth_rows = (
        load_tables(spark, sf_dir)["events"]
        .groupBy(
            F.col("user_id").cast("string").alias("k"),
            hash_bucket(F.col("user_id"), shards).alias("shard"),
        )
        .agg(F.count("*").alias("c"))
        .collect()
    )
    truth = {(r["shard"], r["k"]): r["c"] for r in truth_rows}
    shard_totals = {}
    for (shard, _), c in truth.items():
        shard_totals[shard] = shard_totals.get(shard, 0) + c

    est_totals = {}
    tracked = set()
    for r in latest:
        true_c = truth.get((r["shard"], r["key"]), 0)
        assert r["est"] >= true_c, "space-saving must only overcount"
        assert r["est"] - r["err"] <= true_c, "err must bound the overcount"
        est_totals[r["shard"]] = est_totals.get(r["shard"], 0) + r["est"]
        tracked.add((r["shard"], r["key"]))
    assert est_totals == shard_totals, "counter mass must equal processed mass"
    for (shard, k), c in truth.items():
        if c * capacity > shard_totals[shard]:
            assert (shard, k) in tracked, f"missed heavy hitter {k} in shard {shard}"

    # capacity >= domain: exact mode, no error
    name2 = f"hh2_{uuid.uuid4().hex[:8]}"
    stream2 = (
        spark.readStream.schema(spark.read.parquet(events_dir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
    )
    _run_to_memory(
        heavy_hitters_stream(stream2, "user_id", capacity=100000, shards=shards),
        name2,
        "update",
        checkpoint=str(tmp_path / "ckpt_hh2"),
    )
    rows2 = spark.table(name2).collect()
    last2 = {}
    for r in rows2:
        last2[r["shard"]] = max(last2.get(r["shard"], 0), r["n_seen"])
    got = {
        (r["shard"], r["key"]): (r["est"], r["err"])
        for r in rows2
        if r["n_seen"] == last2[r["shard"]]
    }
    assert got == {k: (c, 0) for k, c in truth.items()}


def test_view_purchase_left_outer_stream_emits_unconverted(spark, sf_dir, tmp_path):
    """Left-outer stream-stream join: matched pairs equal the batch inner
    join exactly (shards arrive time-ordered, so the short watermark drops
    nothing), outer rows are disjoint from matched views, and every
    unconverted view whose match window closed before the second-to-last
    batch's watermark MUST have been emitted null-extended."""
    from hadoop_jobanalyzer_spark.streaming import view_purchase_join_stream

    # time-ordered shards: watermark semantics are exact, no late drops
    df = pd.read_parquet(f"{sf_dir}/events.parquet").sort_values("ts")
    d = tmp_path / "sorted_events"
    d.mkdir()
    n = len(df)
    step = (n + 2) // 3
    shard_max = []
    for i, lo in enumerate(range(0, n, step)):
        part = df.iloc[lo : lo + step]
        shard_max.append(part["ts"].max())
        part.to_parquet(
            d / f"shard{i}.parquet",
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )
        _space_mtime(d / f"shard{i}.parquet", i)
    name = f"vplo_{uuid.uuid4().hex[:8]}"
    stream = (
        spark.readStream.schema(spark.read.parquet(str(d)).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    _run_to_memory(
        view_purchase_join_stream(
            stream, max_gap="2 days", watermark_delay="1 minute", how="left_outer"
        ),
        name,
        "append",
        checkpoint=str(tmp_path / "ckpt_vplo"),
    )
    out = spark.table(name).collect()
    matched = {(r["view_id"], r["purchase_id"]): r["gap_ms"] for r in out if r["purchase_id"] is not None}
    outer_views = {r["view_id"] for r in out if r["purchase_id"] is None}
    for r in out:
        if r["purchase_id"] is None:
            assert r["gap_ms"] is None

    from hadoop_jobanalyzer_spark.plans.tables import load_tables

    ev = load_tables(spark, sf_dir)["events"].withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    v = ev.filter("event_type = 'view'").select(
        F.col("user_id").alias("vu"),
        F.col("event_id").alias("vid"),
        F.col("ts").alias("vts"),
    )
    p = ev.filter("event_type = 'purchase'").select(
        F.col("user_id").alias("pu"),
        F.col("event_id").alias("pid"),
        F.col("ts").alias("pts"),
    )
    inner = v.join(
        p,
        (F.col("vu") == F.col("pu"))
        & (F.col("vts") <= F.col("pts"))
        & (F.col("vts") >= F.col("pts") - F.expr("INTERVAL 2 days")),
    ).select(
        "vid",
        "pid",
        (F.unix_millis("pts") - F.unix_millis("vts")).cast("long").alias("gap_ms"),
    )
    want_matched = {(r["vid"], r["pid"]): r["gap_ms"] for r in inner.collect()}
    assert matched == want_matched and len(matched) > 10

    matched_view_ids = {vid for vid, _ in matched}
    assert not (outer_views & matched_view_ids), "outer rows must be unconverted"

    # guarantee horizon: watermark after the 2nd shard, minus delay
    import datetime

    wm2 = shard_max[1].to_pydatetime() - datetime.timedelta(minutes=1)
    horizon = wm2 - datetime.timedelta(days=2)
    unmatched = [
        r
        for r in v.collect()
        if r["vid"] not in matched_view_ids
    ]
    must_emit = {
        r["vid"]
        for r in unmatched
        if r["vts"] + datetime.timedelta(seconds=1) < horizon.replace(tzinfo=r["vts"].tzinfo)
    }
    assert must_emit, "test data should contain closed-window unconverted views"
    assert must_emit <= outer_views, "closed-window unconverted views must emit"
    assert outer_views <= {r["vid"] for r in unmatched}


def test_zscore_anomaly_stream_matches_batch_prefix(spark, sf_dir, events_dir, tmp_path):
    """Online z-score flags from the stream EQUAL the batch prefix-window
    computation (exact integer state, same (ts, event_id) ordering) —
    shards arrive in row order, so feed them as one in-order sequence."""
    from hadoop_jobanalyzer_spark.streaming import zscore_anomaly_stream

    # in-order single-key arrival: sort shards like the batch window does
    df = pd.read_parquet(f"{sf_dir}/events.parquet").sort_values(["ts", "event_id"])
    d = tmp_path / "zs_events"
    d.mkdir()
    n = len(df)
    step = (n + 2) // 3
    for i, lo in enumerate(range(0, n, step)):
        df.iloc[lo : lo + step].to_parquet(
            d / f"shard{i}.parquet",
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )
        _space_mtime(d / f"shard{i}.parquet", i)
    name = f"zs_{uuid.uuid4().hex[:8]}"
    stream = (
        spark.readStream.schema(spark.read.parquet(str(d)).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    _run_to_memory(
        zscore_anomaly_stream(stream),
        name,
        "append",
        checkpoint=str(tmp_path / "ckpt_zs"),
    )
    got = {
        r["event_id"]: (r["n_before"], r["dev_num"], r["var_num"])
        for r in spark.table(name).collect()
    }

    from pyspark.sql.window import Window

    from hadoop_jobanalyzer_spark.plans.tables import load_tables

    ev = load_tables(spark, sf_dir)["events"].select(
        "event_type",
        "event_id",
        "ts",
        F.floor(F.col("value") * 100).cast("long").alias("c"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pref = ev.select(
        "event_id",
        "c",
        F.count("c").over(w).alias("n"),
        F.sum("c").over(w).alias("s"),
        F.sum(F.col("c") * F.col("c")).over(w).alias("q"),
    ).fillna(0, ["s", "q"])
    dev = F.col("c") * F.col("n") - F.col("s")
    var_num = F.col("n") * F.col("q") - F.col("s") * F.col("s")
    batch = pref.filter(
        (F.col("n") >= 30) & (var_num > 0) & (dev * dev * F.col("n") > 9 * var_num)
    ).select("event_id", "n", dev.alias("dev"), var_num.alias("v"))
    want = {r["event_id"]: (r["n"], r["dev"], r["v"]) for r in batch.collect()}
    assert got == want and len(got) > 3


def test_running_totals_survive_restart_from_checkpoint(spark, sf_dir, tmp_path):
    """Exactly-once across stream RESTARTS: drain shard 0, stop, add the
    remaining shards, restart the same query from its checkpoint — the
    final totals equal the batch aggregate (nothing reprocessed, nothing
    lost), even though the query object was rebuilt from scratch."""
    from hadoop_jobanalyzer_spark.streaming import running_totals_stream

    df = pd.read_parquet(f"{sf_dir}/events.parquet")
    d = tmp_path / "restart_events"
    d.mkdir()
    n = len(df)
    step = (n + 2) // 3
    parts = [df.iloc[lo : lo + step] for lo in range(0, n, step)]
    parts[0].to_parquet(
        d / "shard0.parquet", coerce_timestamps="us", allow_truncated_timestamps=True
    )
    ckpt = str(tmp_path / "ckpt_restart")
    out = str(tmp_path / "restart_out")
    schema = spark.read.parquet(str(d)).schema

    def run_once():
        # the memory sink is not fault-tolerant (no checkpoint recovery);
        # foreachBatch appending to parquet is the recoverable shape
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(d))
        )

        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out)

        q = (
            running_totals_stream(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run_once()
    first = {
        r["event_type"]: r["n_total"]
        for r in spark.read.parquet(out).collect()
    }
    assert sum(first.values()) == len(parts[0])

    for i, part in enumerate(parts[1:], start=1):
        part.to_parquet(
            d / f"shard{i}.parquet",
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )
    run_once()
    snaps = spark.read.parquet(out).collect()
    latest = {}
    for r in snaps:
        k = r["event_type"]
        if k not in latest or r["n_total"] > latest[k][0]:
            latest[k] = (r["n_total"], r["sum_cents"], r["max_cents"])

    from hadoop_jobanalyzer_spark.plans.tables import load_tables

    batch = (
        load_tables(spark, sf_dir)["events"]
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("s"),
            F.max(F.round(F.col("value") * 100).cast("long")).alias("m"),
        )
    )
    want = {r["event_type"]: (r["n"], r["s"], r["m"]) for r in batch.collect()}
    assert latest == want


def test_scd2_enrich_stream_matches_batch_lookup(spark, sf_dir, events_dir):
    """Stream-static SCD2 enrichment: every streamed event lands on the
    same dimension interval as the batch point-in-interval join (q174's
    shape) — stream-static joins are stateless, so the 3-shard replay
    must reproduce the batch join row-for-row, including null-extended
    events outside every interval."""
    from hadoop_jobanalyzer_spark.plans.sketch_queries import SKETCH_QUERIES
    from hadoop_jobanalyzer_spark.plans.tables import load_tables
    from hadoop_jobanalyzer_spark.streaming import scd2_enrich_stream

    scd2 = SKETCH_QUERIES["q138_scd2_intervals"][0](spark, sf_dir)
    name = f"scd2e_{uuid.uuid4().hex[:8]}"
    stream = read_events_stream(spark, events_dir).select("event_id", "ts", "user_id")
    _run_to_memory(scd2_enrich_stream(stream, scd2), name, "append")
    got = {
        (r["event_id"], r["state"], str(r["valid_from"]))
        for r in spark.table(name).collect()
    }

    ev = load_tables(spark, sf_dir)["events"].select("event_id", "ts", "user_id")
    dim = scd2.select(
        F.col("user_id").alias("d_user"), "state", "valid_from", "valid_to"
    )
    batch = ev.join(
        dim,
        (ev["user_id"] == dim["d_user"])
        & (ev["ts"] >= dim["valid_from"])
        & (ev["ts"] < dim["valid_to"]),
        "left",
    )
    want = {
        (r["event_id"], r["state"], str(r["valid_from"]))
        for r in batch.collect()
    }
    assert got == want and len(got) > 0
    # q138's intervals partition each tracked user's full timeline, so
    # every event of a tracked user matches exactly one interval; events
    # of untracked users (the dim tracks user_id < 50) pass null-extended
    assert any(s is not None for (_, s, _) in got)


@pytest.mark.slow
def test_stateful_totals_survive_mid_stream_kill(spark, sf_dir, tmp_path):
    """Chaos restart over ``applyInPandasWithState`` with the DEFAULT
    (HDFS-backed) state store: the query is stopped ABRUPTLY mid-stream —
    not an availableNow drain — after some but not all micro-batches, then
    rebuilt from the same checkpoint and drained. Recovery semantics
    pinned: state rolls back to the last committed version, uncommitted
    batches replay, the foreachBatch parquet sink is at-least-once (a
    replayed batch re-appends an IDENTICAL monotone snapshot), and the
    final latest-per-key totals equal the batch aggregate exactly —
    nothing lost, nothing double-counted in state."""
    from hadoop_jobanalyzer_spark.streaming import running_totals_stream

    df = pd.read_parquet(f"{sf_dir}/events.parquet")
    d = tmp_path / "kill_events"
    d.mkdir()
    n = len(df)
    n_shards = 8
    step = (n + n_shards - 1) // n_shards
    for i, lo in enumerate(range(0, n, step)):
        df.iloc[lo : lo + step].to_parquet(
            d / f"shard{i}.parquet",
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )
    ckpt = str(tmp_path / "ckpt_kill")
    out = str(tmp_path / "kill_out")
    schema = spark.read.parquet(str(d)).schema

    def build(trigger_available_now):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(d))
        )
        w = (
            running_totals_stream(stream)
            .writeStream.foreachBatch(
                lambda batch_df, _id: batch_df.write.mode("append").parquet(out)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
        )
        if trigger_available_now:
            w = w.trigger(availableNow=True)
        return w.start()

    # phase 1: free-running query, killed abruptly after >=2 committed
    # micro-batches but before the stream is drained
    import time

    q = build(trigger_available_now=False)
    deadline = time.time() + 120
    while time.time() < deadline:
        p = q.recentProgress
        if len(p) >= 2 and sum(x["numInputRows"] for x in p) > 0:
            break
        time.sleep(0.2)
    assert q.isActive, "stream died before the kill"
    q.stop()  # abrupt: no drain, mid-batch work is abandoned
    q.awaitTermination(60)

    # phase 2: rebuild from the SAME checkpoint, drain everything
    q2 = build(trigger_available_now=True)
    q2.awaitTermination(300)

    latest = {}
    for r in spark.read.parquet(out).collect():
        k = r["event_type"]
        if k not in latest or r["n_total"] > latest[k][0]:
            latest[k] = (r["n_total"], r["sum_cents"], r["max_cents"])

    from hadoop_jobanalyzer_spark.plans.tables import load_tables

    batch = (
        load_tables(spark, sf_dir)["events"]
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("s"),
            F.max(F.round(F.col("value") * 100).cast("long")).alias("m"),
        )
    )
    want = {r["event_type"]: (r["n"], r["s"], r["m"]) for r in batch.collect()}
    assert latest == want


@pytest.mark.slow
def test_stateful_totals_soak_randomized_kills(spark, sf_dir, tmp_path):
    """Soak variant of the mid-stream kill test: ~20 forced micro-batches
    (20 input shards, maxFilesPerTrigger=1) interrupted by THREE abrupt
    kills at seeded-random points, then a final drain from the same
    checkpoint. One kill pins the recovery semantics; repeated kills at
    different offsets exercise the state-store edge cases a single-kill
    test can't reach — rollback over an already-rolled-back version,
    replay of a batch whose sink output already exists, and resume with
    zero new committed batches between kills. The invariant is unchanged:
    latest-per-key totals equal the batch aggregate exactly — nothing
    lost, nothing double-counted across any number of restarts."""
    import random
    import time

    from hadoop_jobanalyzer_spark.streaming import running_totals_stream

    df = pd.read_parquet(f"{sf_dir}/events.parquet")
    d = tmp_path / "soak_events"
    d.mkdir()
    n = len(df)
    n_shards = 20
    step = (n + n_shards - 1) // n_shards
    for i, lo in enumerate(range(0, n, step)):
        df.iloc[lo : lo + step].to_parquet(
            d / f"shard{i:02d}.parquet",
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )
    ckpt = str(tmp_path / "ckpt_soak")
    out = str(tmp_path / "soak_out")
    schema = spark.read.parquet(str(d)).schema

    def build(trigger_available_now):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(d))
        )
        w = (
            running_totals_stream(stream)
            .writeStream.foreachBatch(
                lambda batch_df, _id: batch_df.write.mode("append").parquet(out)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
        )
        if trigger_available_now:
            w = w.trigger(availableNow=True)
        return w.start()

    # seeded, not wall-clock random: the kill offsets vary across the three
    # phases but the test is reproducible
    rng = random.Random(0xC0FFEE)
    for phase in range(3):
        want_batches = rng.randint(1, 4)
        q = build(trigger_available_now=False)
        deadline = time.time() + 120
        while time.time() < deadline:
            p = q.recentProgress
            if len(p) >= want_batches:
                break
            time.sleep(0.1 + rng.random() * 0.3)  # jitter the kill point
        assert q.isActive or q.exception() is None, f"phase {phase} died: {q.exception()}"
        q.stop()  # abrupt: no drain, mid-batch work is abandoned
        q.awaitTermination(60)

    # final phase: drain everything from the same checkpoint
    qf = build(trigger_available_now=True)
    qf.awaitTermination(300)

    latest = {}
    for r in spark.read.parquet(out).collect():
        k = r["event_type"]
        if k not in latest or r["n_total"] > latest[k][0]:
            latest[k] = (r["n_total"], r["sum_cents"], r["max_cents"])

    from hadoop_jobanalyzer_spark.plans.tables import load_tables

    batch = (
        load_tables(spark, sf_dir)["events"]
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("s"),
            F.max(F.round(F.col("value") * 100).cast("long")).alias("m"),
        )
    )
    want = {r["event_type"]: (r["n"], r["s"], r["m"]) for r in batch.collect()}
    assert latest == want


@pytest.mark.slow
def test_stream_stream_join_survives_mid_stream_kill(spark, sf_dir, tmp_path):
    """Abrupt-kill recovery for the SYMMETRIC-HASH-JOIN state store — a
    different state backend path than the applyInPandasWithState kill
    tests: the view/purchase stream-stream join is stopped mid-stream
    after >=2 committed batches, rebuilt from the same checkpoint, and
    drained. Both sides' buffered state must roll back to the last
    committed version and uncommitted batches replay, so after deduping
    the at-least-once sink the matched pairs equal the batch inner join
    exactly — no pair lost with a view in pre-kill state and its purchase
    post-restart, none double-counted."""
    import time

    from hadoop_jobanalyzer_spark.streaming import view_purchase_join_stream

    # time-ordered shards: the short watermark then drops nothing
    df = pd.read_parquet(f"{sf_dir}/events.parquet").sort_values("ts")
    d = tmp_path / "ssj_events"
    d.mkdir()
    n = len(df)
    n_shards = 10
    step = (n + n_shards - 1) // n_shards
    for i, lo in enumerate(range(0, n, step)):
        df.iloc[lo : lo + step].to_parquet(
            d / f"shard{i:02d}.parquet",
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )
    ckpt = str(tmp_path / "ckpt_ssj")
    out = str(tmp_path / "ssj_out")
    schema = spark.read.parquet(str(d)).schema

    def build(trigger_available_now):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(d))
        )
        w = (
            view_purchase_join_stream(
                stream, max_gap="2 days", watermark_delay="1 minute", how="inner"
            )
            .writeStream.foreachBatch(
                lambda batch_df, _id: batch_df.write.mode("append").parquet(out)
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
        )
        if trigger_available_now:
            w = w.trigger(availableNow=True)
        return w.start()

    q = build(trigger_available_now=False)
    deadline = time.time() + 120
    while time.time() < deadline:
        p = q.recentProgress
        if len(p) >= 2:
            break
        time.sleep(0.2)
    assert q.isActive, f"stream died before the kill: {q.exception()}"
    q.stop()  # abrupt: join state beyond the last commit is abandoned
    q.awaitTermination(60)

    from pyspark.errors.exceptions.captured import StreamingQueryException

    # a restart that dies at STARTUP is just another abrupt kill (the
    # long-lived test JVM's ContextCleaner can race the rebuilt join's
    # broadcast registration — "non-existent accumulator"); recovering
    # from the SAME checkpoint again is exactly the contract under test,
    # so retry the restart like any production runner would
    for attempt in range(3):
        q2 = build(trigger_available_now=True)
        try:
            q2.awaitTermination(300)
            break
        except StreamingQueryException as exc:
            # retry ONLY the known ContextCleaner/broadcast-registration
            # race — any other failure (e.g. a real checkpoint-recovery
            # regression) must surface immediately, not be absorbed by
            # the retry loop
            if attempt == 2 or "accumulator" not in str(exc).lower():
                raise

    # at-least-once sink: a replayed batch re-appends identical pairs
    got = {
        (r["view_id"], r["purchase_id"]): r["gap_ms"]
        for r in spark.read.parquet(out).collect()
    }

    from hadoop_jobanalyzer_spark.plans.tables import load_tables

    ev = load_tables(spark, sf_dir)["events"].withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    v = ev.filter("event_type = 'view'").select(
        F.col("user_id").alias("vu"), F.col("event_id").alias("vid"), F.col("ts").alias("vts")
    )
    p = ev.filter("event_type = 'purchase'").select(
        F.col("user_id").alias("pu"), F.col("event_id").alias("pid"), F.col("ts").alias("pts")
    )
    inner = v.join(
        p,
        (F.col("vu") == F.col("pu"))
        & (F.col("vts") <= F.col("pts"))
        & (F.col("vts") >= F.col("pts") - F.expr("INTERVAL 2 days")),
    ).select(
        "vid", "pid",
        (F.unix_millis("pts") - F.unix_millis("vts")).cast("long").alias("gap_ms"),
    )
    want = {(r["vid"], r["pid"]): r["gap_ms"] for r in inner.collect()}
    assert got == want and len(got) > 10
