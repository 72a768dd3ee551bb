"""Bucketed-table tests: the join of two same-key bucketed tables must plan
without a shuffle (the write-time bucketing replaces it)."""

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from hadoop_jobanalyzer_spark.sources.bucketed import read_table, write_bucketed


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture
def no_broadcast(spark):
    """Force the sort-merge path so the Exchange assertion is meaningful
    (tiny test tables would otherwise broadcast)."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_bucketed_join_has_no_exchange(spark, tmp_path, no_broadcast):
    orders = spark.range(1000).select(
        F.col("id").alias("o_key"), (F.col("id") % 7).alias("o_val")
    )
    items = spark.range(3000).select(
        (F.col("id") % 1000).alias("l_key"), (F.col("id") % 13).alias("l_qty")
    )
    write_bucketed(orders, "t_orders_b", ["o_key"], 8, sort_cols=["o_key"],
                   path=str(tmp_path / "orders"))
    write_bucketed(items, "t_items_b", ["l_key"], 8, sort_cols=["l_key"],
                   path=str(tmp_path / "items"))
    try:
        joined = read_table(spark, "t_orders_b").join(
            read_table(spark, "t_items_b"),
            F.col("o_key") == F.col("l_key"),
        )
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"
        assert joined.count() == 3000
    finally:
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_items_b")


def test_bucketed_groupby_has_no_exchange(spark, tmp_path, no_broadcast):
    df = spark.range(1000).select((F.col("id") % 100).alias("k"), F.col("id").alias("v"))
    write_bucketed(df, "t_grp_b", ["k"], 4, path=str(tmp_path / "grp"))
    try:
        agg = read_table(spark, "t_grp_b").groupBy("k").agg(F.sum("v").alias("s"))
        plan = _plan(agg)
        assert "Exchange" not in plan, f"bucketed groupBy still shuffles:\n{plan}"
        assert agg.count() == 100
    finally:
        spark.sql("DROP TABLE IF EXISTS t_grp_b")


def test_copurchase_edges_bucketed_roundtrip_and_census(spark, tmp_path, no_broadcast):
    """The durable form of the co-purchase session cache: the bucketed
    catalog table holds exactly the canonical edge set, adjacency-shaped
    work over it (groupBy / self-join on src) plans with NO Exchange on
    the bucketed side, and triangle_stats(canonical=True) reproduces the
    session-cache census bit for bit while skipping the canonize shuffle."""
    from hadoop_jobanalyzer_spark.operators.graph import triangle_stats
    from hadoop_jobanalyzer_spark.plans.sketch_queries import (
        _copurchase_edges,
        copurchase_edges_from_table,
        write_copurchase_edges_bucketed,
    )
    from hadoop_jobanalyzer_spark.plans.tables import release_session_caches

    sf = "/root/testdata/sf0.001"
    write_copurchase_edges_bucketed(
        spark, sf, name="t_copurch_b", n_buckets=4, path=str(tmp_path / "edges")
    )
    try:
        tbl = copurchase_edges_from_table(spark, "t_copurch_b")

        # content == the session cache's edge set
        release_session_caches(spark)
        want = sorted(map(tuple, _copurchase_edges(spark, sf).collect()))
        got = sorted(map(tuple, tbl.collect()))
        assert got == want and len(got) > 0

        # adjacency build over the bucketed table: write-time bucketing
        # replaced the groupBy shuffle
        adj = tbl.groupBy("src").agg(F.sort_array(F.collect_list("dst")).alias("nb"))
        plan = _plan(adj)
        assert "Exchange" not in plan, f"bucketed adjacency still shuffles:\n{plan}"

        # self-join on src (wedge enumeration shape): no Exchange either side
        joined = tbl.join(
            tbl.select(F.col("src"), F.col("dst").alias("dst2")), "src"
        )
        plan = _plan(joined)
        assert "Exchange" not in plan, f"bucketed self-join still shuffles:\n{plan}"

        # census parity: canonical path over storage == session-cache path
        want_row = triangle_stats(_copurchase_edges(spark, sf)).collect()[0]
        got_row = triangle_stats(tbl, canonical=True).collect()[0]
        assert got_row == want_row
        release_session_caches(spark)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_copurch_b")


def test_triangle_stats_canonical_skips_canonize(spark):
    """canonical=True must (a) equal the default path on already-canonical
    input and (b) drop the canonize distinct from the plan."""
    from hadoop_jobanalyzer_spark.operators.graph import triangle_stats

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)], ["src", "dst"]
    )
    d = triangle_stats(edges).collect()[0]
    c = triangle_stats(edges, canonical=True).collect()[0]
    assert d == c == (5, 8, 2)
    # the default path canonizes through a distinct (HashAggregate pair +
    # Exchange) before anything else; canonical input skips straight to
    # the degree aggregate
    assert "deduplicate" not in _plan(triangle_stats(edges, canonical=True)).lower()


def test_cobucketed_corpus_layout_label_join(spark, tmp_path, no_broadcast):
    """The co-bucketed corpus layout: documents and dedup-cluster labels
    both bucketed by doc_id (same count) — the doc-grain enrichment join
    every downstream pipeline runs plans with NO Exchange on either side,
    and the stored labels equal the session cache's CC labels exactly."""
    from hadoop_jobanalyzer_spark.plans.pipeline_queries import (
        corpus_dedup,
        write_dedup_clusters_bucketed,
        write_documents_bucketed,
    )
    from hadoop_jobanalyzer_spark.plans.tables import release_session_caches

    sf = "/root/testdata/sf0.001"
    release_session_caches(spark)
    write_dedup_clusters_bucketed(
        spark, sf, name="t_clusters_b", n_buckets=4, path=str(tmp_path / "cl")
    )
    write_documents_bucketed(
        spark, sf, name="t_docs_b", n_buckets=4, path=str(tmp_path / "docs")
    )
    try:
        labels = read_table(spark, "t_clusters_b")
        docs = read_table(spark, "t_docs_b")

        # stored labels == the session cache's labels
        _, cc = corpus_dedup(spark, sf)
        want = sorted(map(tuple, cc.select("id", "component").collect()))
        got = sorted(map(tuple, labels.collect()))
        assert got == want and len(got) > 0

        # the doc-grain enrichment join: no Exchange on either side
        joined = docs.join(labels, "doc_id").select("doc_id", "lang", "component")
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, f"co-bucketed label join still shuffles:\n{plan}"
        assert joined.count() == docs.count()

        # keeper selection over the layout: groupBy(component) reshuffles
        # (different key — expected), but the scan side arrives pruned
        keepers = labels.groupBy("component").agg(F.min("doc_id").alias("keeper"))
        assert keepers.count() == len({c for _, c in got})
        release_session_caches(spark)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_clusters_b")
        spark.sql("DROP TABLE IF EXISTS t_docs_b")


def test_compact_bucketed_table_collapses_append_fragmentation(
    spark, tmp_path, no_broadcast
):
    """Three appends fragment each bucket across files; compaction must
    collapse to one file per non-empty bucket, preserve content and the
    bucket spec (the groupBy still plans with no Exchange afterwards),
    and leave the row count unchanged for the manifest gate."""
    from hadoop_jobanalyzer_spark.sources.bucketed import (
        compact_bucketed_table,
        data_file_count,
        table_bucket_spec,
    )

    base = spark.range(400).select(
        F.col("id").alias("k"), (F.col("id") % 17).alias("v")
    )
    write_bucketed(base, "t_compact_b", ["k"], 4, sort_cols=["k"],
                   path=str(tmp_path / "compact"))
    for lo in (400, 800, 1200):
        write_bucketed(
            spark.range(lo, lo + 400).select(
                F.col("id").alias("k"), (F.col("id") % 17).alias("v")
            ),
            "t_compact_b", ["k"], 4, sort_cols=["k"], mode="append",
        )
    try:
        assert data_file_count(spark, "t_compact_b") > 4  # fragmented
        want = sorted(map(tuple, spark.table("t_compact_b").collect()))

        stats = compact_bucketed_table(spark, "t_compact_b")
        assert stats["files_before"] > 4
        assert stats["files_after"] <= 4  # one file per non-empty bucket
        assert sorted(map(tuple, spark.table("t_compact_b").collect())) == want

        n_buckets, bucket_cols, sort_cols, _ = table_bucket_spec(spark, "t_compact_b")
        assert (n_buckets, bucket_cols, sort_cols) == (4, ["k"], ["k"])
        agg = spark.table("t_compact_b").groupBy("k").count()
        plan = _plan(agg)
        assert "Exchange" not in plan, f"compaction lost the bucket spec:\n{plan}"
    finally:
        spark.sql("DROP TABLE IF EXISTS t_compact_b")


def test_compact_bucketed_table_rejects_unbucketed(spark, tmp_path):
    spark.range(10).write.mode("overwrite").option(
        "path", str(tmp_path / "plain")
    ).saveAsTable("t_plain_nb")
    try:
        from hadoop_jobanalyzer_spark.sources.bucketed import compact_bucketed_table

        import pytest as _pytest

        with _pytest.raises(ValueError, match="not a bucketed table"):
            compact_bucketed_table(spark, "t_plain_nb")
    finally:
        spark.sql("DROP TABLE IF EXISTS t_plain_nb")
