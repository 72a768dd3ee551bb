"""Corpus snapshot publish/read: the durable, co-located form of the two
session caches (see plans/snapshot.py docstring). Publishing must run the
expensive builds once and leave storage every later session can consume
with zero build cost; reading must refuse a partial publish."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from hadoop_jobanalyzer_spark.plans.snapshot import (
    MANIFEST_NAME,
    publish_corpus_snapshot,
    read_corpus_snapshot,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture
def snapshot(spark, tmp_path):
    from hadoop_jobanalyzer_spark.plans.tables import release_session_caches

    release_session_caches(spark)
    root = str(tmp_path / "snap")
    manifest = publish_corpus_snapshot(spark, SF_DIR, root, n_buckets=4, prefix="t7")
    yield root, manifest
    for name in manifest["tables"]:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_publish_writes_manifest_and_tables(spark, snapshot):
    root, manifest = snapshot
    assert os.path.exists(os.path.join(root, MANIFEST_NAME))
    assert set(manifest["tables"]) == {
        "t7_documents", "t7_dedup_clusters", "t7_copurchase_edges",
        "t7_minhash_sigs", "t7_minhash_bands", "t7_embeddings",
    }
    # the banded store is the sigs table exploded: bands rows per doc
    # (minus docs with null signatures), and its manifest entry records
    # the banding config appends must reproduce
    bands_spec = manifest["tables"]["t7_minhash_bands"]
    assert bands_spec["bucket_by"] == "bkey"
    n_sig = spark.table("t7_minhash_sigs").na.drop().count()
    assert bands_spec["rows"] == n_sig * bands_spec["bands"]
    # doc-grain tables share the bucket spec (the co-location contract)
    docs_spec = manifest["tables"]["t7_documents"]
    cl_spec = manifest["tables"]["t7_dedup_clusters"]
    assert (docs_spec["bucket_by"], docs_spec["n_buckets"]) == ("doc_id", 4)
    assert (cl_spec["bucket_by"], cl_spec["n_buckets"]) == ("doc_id", 4)
    # one cluster label per document, all documents present
    assert manifest["tables"]["t7_dedup_clusters"]["rows"] == docs_spec["rows"]
    assert docs_spec["rows"] == spark.read.parquet(f"{SF_DIR}/documents.parquet").count()


def test_read_snapshot_serves_consumers(spark, snapshot):
    root, manifest = snapshot
    t = read_corpus_snapshot(spark, root, prefix="t7")
    assert set(t) == {
        "documents", "dedup_clusters", "copurchase_edges", "minhash_sigs",
        "minhash_bands", "embeddings",
    }

    # doc<->embedding join is co-located despite the differing key names:
    # bucket assignment hashes the value, and vec_id shares doc_id's domain
    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = (
            t["documents"]
            .join(t["embeddings"], F.col("doc_id") == F.col("vec_id"))
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "SortMergeJoin" in plan and "Exchange" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)

    # keeper selection over the snapshot == over the session cache
    from hadoop_jobanalyzer_spark.plans.pipeline_queries import corpus_dedup

    _, cc = corpus_dedup(spark, SF_DIR)
    want = sorted(
        map(tuple, cc.groupBy("component").agg(F.min("id").alias("k")).collect())
    )
    got = sorted(
        map(
            tuple,
            t["dedup_clusters"].groupBy("component").agg(F.min("doc_id").alias("k")).collect(),
        )
    )
    assert got == want

    # triangle census from snapshot edges == from the session cache
    from hadoop_jobanalyzer_spark.operators.graph import triangle_stats
    from hadoop_jobanalyzer_spark.plans.sketch_queries import _copurchase_edges

    assert (
        triangle_stats(t["copurchase_edges"], canonical=True).collect()
        == triangle_stats(_copurchase_edges(spark, SF_DIR)).collect()
    )


def test_read_refuses_partial_publish(spark, snapshot):
    root, manifest = snapshot
    path = os.path.join(root, MANIFEST_NAME)
    bad = json.load(open(path))
    bad["tables"]["t7_documents"]["rows"] += 1
    json.dump(bad, open(path, "w"))
    with pytest.raises(ValueError, match="partial or superseded"):
        read_corpus_snapshot(spark, root, prefix="t7")


def test_incremental_ingest_flow(spark, snapshot):
    """The ingest-time dedup regime end-to-end: a new batch (exact copies
    of 20 corpus docs under fresh ids) computes signatures for ITSELF
    only, band-joins the snapshot's stored signature table, and every
    copy must surface as a candidate pair with its source doc sharing all
    bands. Appending the batch updates documents + signatures (bucket
    spec preserved) and the manifest, and the NEXT batch sees the
    appended docs as 'old'."""
    from hadoop_jobanalyzer_spark.plans.pipeline_queries import _BANDS
    from hadoop_jobanalyzer_spark.plans.snapshot import (
        append_batch_to_snapshot,
        incremental_dedup_candidates,
        read_corpus_snapshot,
    )

    root, manifest = snapshot
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n_docs = docs.count()
    assert manifest["tables"]["t7_minhash_sigs"]["rows"] == n_docs

    base = docs.orderBy("doc_id").limit(20).collect()
    offset = 10_000_000
    batch = spark.createDataFrame(
        [r.asDict() | {"doc_id": r["doc_id"] + offset} for r in base],
        schema=docs.schema,
    )

    pairs, new_sigs = incremental_dedup_candidates(spark, batch, prefix="t7")
    got = {(r["id_a"], r["id_b"]): r["n_shared_bands"] for r in pairs.collect()}
    for r in base:
        key = (r["doc_id"], r["doc_id"] + offset)
        assert got.get(key) == _BANDS, f"exact copy {key} not fully banded: {got.get(key)}"

    # the pre-banded bkey store path (what incremental_dedup_candidates
    # just used) must compute exactly the wide-store path's candidates
    from hadoop_jobanalyzer_spark.operators.dedup import (
        lsh_candidate_pairs_incremental,
    )
    from hadoop_jobanalyzer_spark.plans.pipeline_queries import _N_HASHES

    wide_pairs, _ = lsh_candidate_pairs_incremental(
        batch, "doc_id", "text", spark.table("t7_minhash_sigs"),
        n_hashes=_N_HASHES, bands=_BANDS,
    )
    assert sorted(map(tuple, wide_pairs.collect())) == sorted(
        (k[0], k[1], v) for k, v in got.items()
    )

    # and the touched-bucket pushdown actually prunes the store scan
    # under the operator's pinned regime (autoBucketedScan off for the
    # eager store read — the planner otherwise drops the bucketed scan
    # for this shape and bucket-file pruning with it): an isin on the
    # single bucket column selects a strict subset of bucket files and
    # reaches the parquet reader as a pushed filter
    sample_keys = [
        r["bkey"] for r in spark.table("t7_minhash_bands").limit(2).collect()
    ]
    conf_key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    prior = spark.conf.get(conf_key)
    spark.conf.set(conf_key, "false")
    try:
        scan_plan = (
            spark.table("t7_minhash_bands")
            .filter(F.col("bkey").isin(sample_keys))
            ._jdf.queryExecution().executedPlan().toString()
        )
    finally:
        spark.conf.set(conf_key, prior)
    assert "SelectedBucketsCount" in scan_plan, scan_plan
    n_sel = int(
        scan_plan.split("SelectedBucketsCount: ")[1].split(" out of")[0]
    )
    assert n_sel < manifest["tables"]["t7_minhash_bands"]["n_buckets"]
    assert "bkey" in scan_plan.split("PushedFilters: ")[1].split("]")[0]

    m2 = append_batch_to_snapshot(spark, root, batch, new_sigs, prefix="t7")
    assert m2["tables"]["t7_documents"]["rows"] == n_docs + 20
    assert m2["tables"]["t7_minhash_sigs"]["rows"] == n_docs + 20
    # the refreshed manifest still gates reads
    t = read_corpus_snapshot(spark, root, prefix="t7")
    assert t["documents"].count() == n_docs + 20

    # a second batch copying one APPENDED doc must pair against it
    batch2 = spark.createDataFrame(
        [base[0].asDict() | {"doc_id": base[0]["doc_id"] + 2 * offset}],
        schema=docs.schema,
    )
    pairs2, _ = incremental_dedup_candidates(spark, batch2, prefix="t7")
    got2 = {(r["id_a"], r["id_b"]) for r in pairs2.collect()}
    assert (base[0]["doc_id"] + offset, base[0]["doc_id"] + 2 * offset) in got2


def test_versioned_snapshot_lifecycle(spark, tmp_path):
    """Versioned publishes: atomic pointer commit, reader isolation from
    writers, copy-compaction into a new version, orphan handling, vacuum
    retention. One lifecycle walk because each publish pays the full
    dedup + edge build."""
    from hadoop_jobanalyzer_spark.plans.tables import release_session_caches
    from hadoop_jobanalyzer_spark.plans.snapshot import (
        append_batch_to_snapshot,
        compact_snapshot_to_new_version,
        incremental_dedup_candidates,
        latest_version,
        list_versions,
        publish_snapshot_version,
        read_corpus_snapshot,
        read_latest_snapshot,
        vacuum_snapshot_versions,
        version_dir,
    )
    from hadoop_jobanalyzer_spark.sources.bucketed import data_file_count

    release_session_caches(spark)
    root = str(tmp_path / "vsnap")
    try:
        m1 = publish_snapshot_version(spark, SF_DIR, root, n_buckets=4, prefix="t9")
        assert m1["version"] == 1
        assert latest_version(root) == 1
        t1 = read_latest_snapshot(spark, root, prefix="t9")
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        n_docs = docs.count()
        assert t1["documents"].count() == n_docs

        # fragment v1 with an appended batch, then copy-compact: the old
        # version must stay intact until the pointer flips
        rows = docs.orderBy("doc_id").limit(5).collect()
        batch = spark.createDataFrame(
            [r.asDict() | {"doc_id": r["doc_id"] + 70_000_000} for r in rows],
            schema=docs.schema,
        )
        _, sigs = incremental_dedup_candidates(spark, batch, prefix="t9_v1")
        append_batch_to_snapshot(spark, version_dir(root, 1), batch, sigs, prefix="t9_v1")

        m2 = compact_snapshot_to_new_version(spark, root, prefix="t9")
        assert m2["version"] == 2 and m2["compacted_from"] == 1
        assert latest_version(root) == 2
        assert data_file_count(spark, "t9_v2_documents") <= 4
        t2 = read_latest_snapshot(spark, root, prefix="t9")
        assert t2["documents"].count() == n_docs + 5
        # time-travel: v1 is still complete and gate-green
        t_old = read_corpus_snapshot(spark, version_dir(root, 1), prefix="t9_v1")
        assert t_old["documents"].count() == n_docs + 5  # append predated compaction
        # ... and addressable by version number through the gated API
        from hadoop_jobanalyzer_spark.plans.snapshot import (
            read_snapshot_version,
            rollback_snapshot_to_version,
        )

        assert (
            read_snapshot_version(spark, root, 1, prefix="t9")["documents"].count()
            == n_docs + 5
        )
        # rollback: pointer back to v1, storage untouched, roll-forward works
        assert rollback_snapshot_to_version(root, 1) == 1
        assert latest_version(root) == 1
        assert read_latest_snapshot(spark, root, prefix="t9")["documents"].count() == n_docs + 5
        assert rollback_snapshot_to_version(root, 2) == 2
        assert latest_version(root) == 2
        with pytest.raises(ValueError, match="not a committed"):
            rollback_snapshot_to_version(root, 99)
        # the compacted edge table kept its sort spec and the co-located plan
        from hadoop_jobanalyzer_spark.sources.bucketed import table_bucket_spec

        nb, bcols, scols, _ = table_bucket_spec(spark, "t9_v2_copurchase_edges")
        assert (nb, bcols, scols) == (4, ["src"], ["src", "dst"])
        # co-location survives copy-compaction: with broadcast disabled the
        # doc-grain join must plan as a zero-Exchange sort-merge join
        prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = (
                spark.table("t9_v2_documents")
                .join(spark.table("t9_v2_dedup_clusters"), "doc_id")
                ._jdf.queryExecution().executedPlan().toString()
            )
            assert "SortMergeJoin" in plan and "Exchange" not in plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)

        # a crashed publish = orphan dir without manifest: invisible to
        # readers, version number burned, untouched by vacuum if newer
        # than the pointer
        os.makedirs(version_dir(root, 3))
        open(os.path.join(version_dir(root, 3), "part-garbage"), "w").write("x")
        assert latest_version(root) == 2
        assert read_latest_snapshot(spark, root, prefix="t9")["documents"].count() == n_docs + 5

        m4 = publish_snapshot_version(spark, SF_DIR, root, n_buckets=4, prefix="t9")
        assert m4["version"] == 4  # orphan burned v3
        assert latest_version(root) == 4

        # in-flight orphan NEWER than the pointer must survive vacuum
        os.makedirs(version_dir(root, 5))
        res = vacuum_snapshot_versions(spark, root, keep=1, prefix="t9")
        assert res["removed"] == [1, 2, 3] and res["kept"] == [4]
        assert list_versions(root) == [4, 5]
        for v in (1, 2, 3):
            assert not os.path.exists(version_dir(root, v))
        assert not any(
            t.name.startswith(("t9_v1_", "t9_v2_")) for t in spark.catalog.listTables()
        )
        assert read_latest_snapshot(spark, root, prefix="t9")["documents"].count() == n_docs
    finally:
        for t in spark.catalog.listTables():
            if t.name.startswith("t9_"):
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")


def test_compact_snapshot_after_appends(spark, snapshot):
    """Batch appends fragment the doc-grain tables; compact_snapshot must
    collapse every manifest table to one file per non-empty bucket,
    keep the manifest row-count gate green, and preserve the co-located
    join (keeper selection unchanged, still bucketed)."""
    from hadoop_jobanalyzer_spark.plans.snapshot import (
        append_batch_to_snapshot,
        compact_snapshot,
        incremental_dedup_candidates,
    )
    from hadoop_jobanalyzer_spark.sources.bucketed import data_file_count

    root, manifest = snapshot
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    offset = 40_000_000
    for b in range(2):  # two appended batches -> fragmented buckets
        rows = docs.orderBy("doc_id").limit(5).collect()
        batch = spark.createDataFrame(
            [r.asDict() | {"doc_id": r["doc_id"] + offset * (b + 1)} for r in rows],
            schema=docs.schema,
        )
        _, sigs = incremental_dedup_candidates(spark, batch, prefix="t7")
        append_batch_to_snapshot(spark, root, batch, sigs, prefix="t7")

    frag = data_file_count(spark, "t7_documents")
    assert frag > 4  # base write (4 buckets) + 2 appends

    stats = compact_snapshot(spark, root, prefix="t7")
    assert set(stats) == set(manifest["tables"])
    assert stats["t7_documents"]["files_after"] <= 4
    assert stats["t7_minhash_sigs"]["files_after"] <= 4
    # the count gate still passes end-to-end (manifest unchanged by compaction)
    t = read_corpus_snapshot(spark, root, prefix="t7")
    assert t["documents"].count() == docs.count() + 10


def test_snapshot_diff_between_versions(spark, tmp_path):
    """snapshot_diff classifies per-doc changes between two committed
    versions and plans as a zero-Exchange co-located join. Hand-built
    minimal versions (documents tables only are touched)."""
    from hadoop_jobanalyzer_spark.plans.snapshot import (
        _commit_pointer,
        snapshot_diff,
        snapshot_diff_summary,
        version_dir,
    )
    from hadoop_jobanalyzer_spark.sources.bucketed import write_bucketed

    root = str(tmp_path / "dsnap")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n_docs = docs.count()
    # v2: drop one doc, change one doc's text, add one doc
    removed_id, changed_id = [r["doc_id"] for r in docs.orderBy("doc_id").limit(2).collect()]
    v2 = (
        docs.filter(F.col("doc_id") != removed_id)
        .withColumn(
            "text",
            F.when(F.col("doc_id") == changed_id, F.concat(F.col("text"), F.lit(" edited")))
            .otherwise(F.col("text")),
        )
    )
    add = docs.orderBy("doc_id").limit(1).withColumn("doc_id", F.lit(99_000_000).cast("long"))
    v2 = v2.unionByName(add)
    try:
        for v, df in ((1, docs), (2, v2)):
            os.makedirs(version_dir(root, v))
            write_bucketed(
                df, f"td_v{v}_documents", ["doc_id"], 4, sort_cols=["doc_id"],
                path=os.path.join(version_dir(root, v), "documents"),
            )
        _commit_pointer(root, 2)

        assert snapshot_diff_summary(spark, root, 1, 2, prefix="td") == {
            "added": 1, "removed": 1, "changed": 1, "unchanged": n_docs - 2,
        }
        got = {
            r["doc_id"]: r["status"]
            for r in snapshot_diff(spark, root, 1, 2, prefix="td")
            .filter("status <> 'unchanged'").collect()
        }
        assert got == {removed_id: "removed", changed_id: "changed", 99_000_000: "added"}

        # the diff is its own inverse: swapping versions swaps
        # added<->removed and fixes changed/unchanged
        rev = snapshot_diff_summary(spark, root, 2, 1, prefix="td")
        fwd = snapshot_diff_summary(spark, root, 1, 2, prefix="td")
        assert rev == {
            "added": fwd["removed"], "removed": fwd["added"],
            "changed": fwd["changed"], "unchanged": fwd["unchanged"],
        }
        # diff against self: everything unchanged
        assert snapshot_diff_summary(spark, root, 2, 2, prefix="td") == {
            "added": 0, "removed": 0, "changed": 0, "unchanged": n_docs,
        }

        # co-located: full-outer SMJ with no Exchange on either side
        prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = (
                snapshot_diff(spark, root, 1, 2, prefix="td")
                ._jdf.queryExecution().executedPlan().toString()
            )
            assert "SortMergeJoin" in plan and "Exchange" not in plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
    finally:
        for v in (1, 2):
            spark.sql(f"DROP TABLE IF EXISTS td_v{v}_documents")


def test_full_lakehouse_loop(spark, tmp_path):
    """The whole storage lifecycle in one walk, crossing every layer
    boundary: versioned publish -> streaming ingest against the latest
    version -> delta fold-in -> copy-compaction to a new version ->
    cross-version diff -> vacuum. Pins the cross-layer contracts the
    per-layer tests can't: the folded-in ingest docs survive compaction
    into the next version, the diff certifies compaction as
    content-preserving, and the vacuumed store still serves reads."""
    from hadoop_jobanalyzer_spark.plans.tables import release_session_caches
    from hadoop_jobanalyzer_spark.plans.snapshot import (
        compact_snapshot_to_new_version,
        publish_snapshot_version,
        read_latest_snapshot,
        snapshot_diff_summary,
        vacuum_snapshot_versions,
        version_dir,
    )
    from hadoop_jobanalyzer_spark.streaming.corpus_ingest import (
        compact_ingest_delta,
        start_corpus_ingest_latest,
    )

    release_session_caches(spark)
    root = str(tmp_path / "lh")
    try:
        publish_snapshot_version(spark, SF_DIR, root, n_buckets=4, prefix="lh")
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        n_docs = docs.count()

        # one arrival batch: two fresh docs + one exact copy of a base doc
        src = docs.orderBy("doc_id").limit(1).collect()[0]
        batch = spark.createDataFrame(
            [
                src.asDict() | {"doc_id": 91_000_000},
                src.asDict()
                | {"doc_id": 92_000_000,
                   "text": " ".join(f"loopdoc{j}" for j in range(12))},
                src.asDict()
                | {"doc_id": 93_000_000,
                   "text": " ".join(f"loopalt{j}" for j in range(12))},
            ],
            schema=docs.schema,
        )
        arrivals = str(tmp_path / "arrivals")
        batch.coalesce(1).write.mode("append").parquet(arrivals)
        q = start_corpus_ingest_latest(
            spark, arrivals, root, str(tmp_path / "ckpt"), prefix="lh"
        )
        q.awaitTermination(300)
        dec = spark.read.parquet(
            os.path.join(version_dir(root, 1), "ingest_delta", "decisions")
        )
        assert dec.count() == 3 and dec.filter("kept").count() == 2

        # fold the delta into v1's bucketed tables, then copy-compact to v2
        m = compact_ingest_delta(spark, version_dir(root, 1), prefix="lh_v1")
        assert m["tables"]["lh_v1_documents"]["rows"] == n_docs + 2
        compact_snapshot_to_new_version(spark, root, prefix="lh")

        # the diff certifies compaction preserved content exactly
        assert snapshot_diff_summary(spark, root, 1, 2, prefix="lh") == {
            "added": 0, "removed": 0, "changed": 0, "unchanged": n_docs + 2,
        }

        res = vacuum_snapshot_versions(spark, root, keep=1, prefix="lh")
        assert res == {"removed": [1], "kept": [2]}
        t = read_latest_snapshot(spark, root, prefix="lh")
        assert t["documents"].count() == n_docs + 2
        assert t["documents"].filter("doc_id = 92000000").count() == 1
        assert t["minhash_sigs"].count() == n_docs + 2
        # the banded projection stayed in lockstep through ingest fold-in,
        # copy-compaction, and vacuum
        from hadoop_jobanalyzer_spark.plans.pipeline_queries import _BANDS

        assert (
            t["minhash_bands"].count()
            == t["minhash_sigs"].na.drop().count() * _BANDS
        )
    finally:
        for t in spark.catalog.listTables():
            if t.name.startswith("lh_"):
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")
