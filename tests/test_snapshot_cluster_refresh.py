"""Incremental dedup-label maintenance: after ingest fold-ins, the
refreshed ``{prefix}_dedup_clusters`` table must equal a full ground-truth
recompute (near_dup_pairs + connected_components over the ENTIRE corpus
with the standard config) — the incremental path may never drift from
what a from-scratch publish would produce."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hadoop_jobanalyzer_spark.operators.dedup import near_dup_pairs
from hadoop_jobanalyzer_spark.operators.graph import connected_components
from hadoop_jobanalyzer_spark.plans.pipeline_queries import _BANDS, _N_HASHES
from hadoop_jobanalyzer_spark.plans.snapshot import (
    append_batch_to_snapshot,
    incremental_dedup_candidates,
    publish_corpus_snapshot,
    refresh_dedup_clusters_incremental,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture
def snapshot(spark, tmp_path):
    from hadoop_jobanalyzer_spark.plans.tables import release_session_caches

    release_session_caches(spark)
    root = str(tmp_path / "snap")
    manifest = publish_corpus_snapshot(spark, SF_DIR, root, n_buckets=4, prefix="t11")
    yield root, manifest
    for name in manifest["tables"]:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def _ground_truth_labels(spark):
    """Full from-scratch dedup labeling of the CURRENT documents table."""
    docs = spark.table("t11_documents")
    pairs = near_dup_pairs(
        docs, "doc_id", "text",
        n_hashes=_N_HASHES, bands=_BANDS, ngram=3, threshold=0.2,
    )
    return connected_components(
        pairs.select("id_a", "id_b"), src="id_a", dst="id_b",
        nodes=docs.select(F.col("doc_id").alias("id")), id_col="id",
    )


def _table_labels(spark):
    return sorted(
        (r["doc_id"], r["component"])
        for r in spark.table("t11_dedup_clusters").collect()
    )


def test_refresh_matches_full_recompute(spark, snapshot):
    root, manifest = snapshot
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    rows = docs.orderBy("doc_id").limit(6).collect()
    offset = 10_000_000
    # batch: two exact copies of corpus docs (join into their components),
    # one doc concatenating two corpus docs' texts (a potential component
    # BRIDGE), one new-x-new duplicate pair, one isolated fresh doc
    batch_rows = [
        rows[0].asDict() | {"doc_id": rows[0]["doc_id"] + offset},
        rows[1].asDict() | {"doc_id": rows[1]["doc_id"] + offset},
        rows[2].asDict()
        | {
            "doc_id": rows[2]["doc_id"] + offset,
            "text": rows[2]["text"] + " " + rows[3]["text"],
        },
        rows[4].asDict() | {"doc_id": 2 * offset + 1, "text": "alpha beta gamma delta " * 8},
        rows[4].asDict() | {"doc_id": 2 * offset + 2, "text": "alpha beta gamma delta " * 8},
        rows[5].asDict() | {"doc_id": 2 * offset + 3, "text": "zeta eta theta iota " * 8},
    ]
    batch = spark.createDataFrame(batch_rows, schema=docs.schema)

    _, new_sigs = incremental_dedup_candidates(spark, batch, prefix="t11")
    append_batch_to_snapshot(spark, root, batch, new_sigs, prefix="t11")

    stats = refresh_dedup_clusters_incremental(spark, root, prefix="t11")
    assert stats["new_docs"] == len(batch_rows)
    assert stats["rows"] == docs.count() + len(batch_rows)

    want = sorted(tuple(r) for r in _ground_truth_labels(spark).collect())
    assert _table_labels(spark) == want

    # the exact copies must share their sources' components
    got = dict(_table_labels(spark))
    for i in (0, 1):
        assert got[rows[i]["doc_id"] + offset] == got[rows[i]["doc_id"]]
    # the new-x-new duplicate pair clusters under the smaller new id
    assert got[2 * offset + 1] == got[2 * offset + 2] == 2 * offset + 1
    # the isolated fresh doc is a singleton
    assert got[2 * offset + 3] == 2 * offset + 3


def test_refresh_is_idempotent_and_self_healing(spark, snapshot):
    root, manifest = snapshot
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n_docs = docs.count()

    # heal path: an append with NO immediate refresh leaves labels stale;
    # a later standalone refresh derives the unlabeled batch from the
    # tables themselves
    base = docs.orderBy("doc_id").limit(3).collect()
    batch = spark.createDataFrame(
        [r.asDict() | {"doc_id": r["doc_id"] + 20_000_000} for r in base],
        schema=docs.schema,
    )
    _, new_sigs = incremental_dedup_candidates(spark, batch, prefix="t11")
    append_batch_to_snapshot(spark, root, batch, new_sigs, prefix="t11")
    assert spark.table("t11_dedup_clusters").count() == n_docs  # stale

    stats = refresh_dedup_clusters_incremental(spark, root, prefix="t11")
    assert stats["new_docs"] == 3
    assert stats["rows"] == n_docs + 3

    want = sorted(tuple(r) for r in _ground_truth_labels(spark).collect())
    assert _table_labels(spark) == want

    # idempotent: a second refresh is a no-op
    again = refresh_dedup_clusters_incremental(spark, root, prefix="t11")
    assert again["new_docs"] == 0 and again["rows"] == n_docs + 3
    assert _table_labels(spark) == want
