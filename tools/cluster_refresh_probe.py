#!/usr/bin/env python
"""Measured probe for incremental dedup-label maintenance: refresh cost
for a FIXED batch against corpus stores a decade apart, next to the full
publish each refresh avoids.

The claim under test (plans/snapshot.refresh_dedup_clusters_incremental):
per batch the refresh is O(batch) — signatures for the missing docs only,
an incremental band join, candidate-only verification, and CC restricted
to touched components — so its wall time should be roughly FLAT across
corpus sizes while the full publish it replaces grows with the corpus.
The one O(corpus) term is the narrow (doc_id, component) rewrite.

Prints one JSON line per sf dir:
  {"sf_dir", "docs", "batch", "t_publish_s", "t_refresh_s"}

Run SOLO like bench.py (a concurrent Spark session contaminates timings).

Usage:
    python tools/cluster_refresh_probe.py [--sf-dirs sf0.01,sf0.1] [--batch 500]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--sf-dirs", default="/root/testdata/sf0.01,/root/testdata/sf0.1"
    )
    ap.add_argument("--batch", type=int, default=500)
    ap.add_argument("--n-buckets", type=int, default=64)
    args = ap.parse_args()

    import bench

    spark = bench.session()
    spark.sparkContext.setLogLevel("ERROR")

    from pyspark.sql import functions as F

    from hadoop_jobanalyzer_spark.plans.tables import release_session_caches
    from hadoop_jobanalyzer_spark.plans.snapshot import (
        append_batch_to_snapshot,
        incremental_dedup_candidates,
        publish_corpus_snapshot,
        refresh_dedup_clusters_incremental,
    )

    for i, sf_dir in enumerate(args.sf_dirs.split(",")):
        prefix = f"crp{i}"
        release_session_caches(spark)
        root = os.path.join(tempfile.mkdtemp(prefix="hja_crprobe_"), "snap")
        t0 = time.perf_counter()
        publish_corpus_snapshot(
            spark, sf_dir, root, n_buckets=args.n_buckets, prefix=prefix
        )
        t_publish = time.perf_counter() - t0

        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        n_docs = docs.count()
        # fixed-size batch: half near-dup copies of corpus docs, half fresh
        # (distinct per-row text so the fresh half neither self-pairs nor
        # band-joins the store — the realistic keep-side of an ingest)
        half = args.batch // 2
        base = docs.orderBy("doc_id").limit(half).collect()
        offset = 1_000_000_000
        rows = [r.asDict() | {"doc_id": r["doc_id"] + offset} for r in base]
        rows += [
            base[0].asDict()
            | {
                "doc_id": 2 * offset + k,
                "text": f"fresh probe document {k} " + " ".join(
                    f"w{k}x{j}" for j in range(40)
                ),
            }
            for k in range(args.batch - half)
        ]
        batch = spark.createDataFrame(rows, schema=docs.schema)
        _, new_sigs = incremental_dedup_candidates(spark, batch, prefix=prefix)
        append_batch_to_snapshot(spark, root, batch, new_sigs, prefix=prefix)

        t0 = time.perf_counter()
        stats = refresh_dedup_clusters_incremental(spark, root, prefix=prefix)
        t_refresh = time.perf_counter() - t0
        assert stats["new_docs"] == args.batch, stats

        print(
            json.dumps(
                {
                    "sf_dir": sf_dir,
                    "docs": n_docs,
                    "batch": args.batch,
                    "t_publish_s": round(t_publish, 2),
                    "t_refresh_s": round(t_refresh, 2),
                    "refresh_stats": stats,
                }
            ),
            flush=True,
        )
        for t in spark.catalog.listTables():
            if t.name.startswith(prefix):
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
