#!/usr/bin/env python
"""Measured probe for the versioned snapshot layer: wall time of one full
lifecycle — publish a new version, copy-compact it into the next version,
vacuum the superseded one — at a given sf dir.

The claims under test (plans/snapshot.py):
  - publish is the once-per-snapshot batch job (full LSH + verify + CC +
    edge build) every downstream pipeline amortizes;
  - copy-compaction's write volume equals the in-place rewrite it
    replaces — atomicity costs one pointer rename, not a second pass;
  - vacuum is filesystem + catalog work only, independent of data size.

Prints one JSON line: {"sf_dir", "docs", "t_publish_s", "t_compact_s",
"t_vacuum_s"}. Run SOLO like bench.py; needs a 24g heap above sf0.1
(same GC-locker note as tools/scale10.py).

Usage:
    python tools/snapshot_probe.py [--sf-dir /root/testdata/sf0.1]
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
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--n-buckets", type=int, default=64)
    args = ap.parse_args()

    os.environ.setdefault("SPARK_DRIVER_MEM", "24g")
    import bench

    spark = bench.session()
    spark.sparkContext.setLogLevel("ERROR")

    from hadoop_jobanalyzer_spark.plans.snapshot import (
        compact_snapshot_to_new_version,
        publish_snapshot_version,
        read_latest_snapshot,
        vacuum_snapshot_versions,
    )

    root = os.path.join(tempfile.mkdtemp(prefix="hja_snapprobe_"), "snap")
    t0 = time.perf_counter()
    publish_snapshot_version(
        spark, args.sf_dir, root, n_buckets=args.n_buckets, prefix="sp"
    )
    t1 = time.perf_counter()
    compact_snapshot_to_new_version(spark, root, prefix="sp")
    t2 = time.perf_counter()
    vacuum_snapshot_versions(spark, root, keep=1, prefix="sp")
    t3 = time.perf_counter()
    docs = read_latest_snapshot(spark, root, prefix="sp")["documents"].count()

    print(json.dumps({
        "sf_dir": args.sf_dir,
        "docs": docs,
        "t_publish_s": round(t1 - t0, 1),
        "t_compact_s": round(t2 - t1, 1),
        "t_vacuum_s": round(t3 - t2, 1),
    }))
    for t in spark.catalog.listTables():
        if t.name.startswith("sp_"):
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
