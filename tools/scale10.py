#!/usr/bin/env python
"""Measured scale probe: wall-time slope sf0.1 -> x10 for the slowest
registered queries.

The plan audit argues the shapes are right at 100x; this tool MEASURES
the claim one decade up. It synthesizes a x10 dataset from sf0.1 by
disjoint-copy scaling — the uniform-growth model TPC-H itself uses
(every key space grows with the data; join fan-outs and duplicate rates
stay constant):

- fact/dim keys are remapped per copy (key + copy * span), so each copy
  is a disjoint key universe: the co-purchase graph becomes 10 disjoint
  copies (degree distribution preserved) instead of a 10x-denser graph
  on the same parts, which would be a different workload, not a bigger
  one;
- document text gets a per-copy word suffix, so shingle/chunk/simhash
  statistics are preserved WITHIN a copy and never collide across
  copies — naive duplication would plant 10-way exact-dup cliques and
  grow candidate pairs 45x (quadratic in copies, again a different
  workload);
- events keep their timestamps (volume density grows, the horizon
  doesn't — the streaming-replay model) with event/user ids remapped;
- nation/region stay fixed (TPC-H dimensions do not scale).

Usage:
    python tools/scale10.py [--factor 10] [--runs 2] [--out DIR]

Prints one JSON line per query: {"query", "t_base", "t_scaled",
"slope"}; exits non-zero if any slope exceeds --max-slope (default 12 —
linear plus overhead headroom). Writing the table into SCALE.md is the
caller's job (round notes quote it).

Run SOLO like bench.py — concurrent Spark sessions contaminate timings.
Heap: the x10 run needs more than bench's 8g default (GC-locker stalls
evict blocks at 8g) — this tool defaults SPARK_DRIVER_MEM to 24g.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

SRC = "/root/testdata/sf0.1"
# the 10 most expensive queries per BENCH.json / VERDICT r5 plan audit
PROBE_QUERIES = [
    "q215_training_mix_manifest",
    "q123_setsim_prefix_join",
    "q120_copurchase_triangles",
    "q124_cdc_chunk_dedup",
    "q131_part_pagerank",
    "q75_simhash_near_dups",
    "q197_lpa_communities",
    "q81_boilerplate_fraction",
    "q223_watermark_planner",
    "q169_dedup_candidate_audit",
]

# per-table (id columns to remap) — spans are far above any sf0.1 key
_REMAP: dict[str, list[str]] = {
    "documents": ["doc_id"],
    "events": ["event_id", "user_id"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
    "customer": ["c_custkey"],
    "embeddings": ["vec_id"],
}
_SPAN = 100_000_000  # > any sf0.1 key; keeps copies disjoint


def build_scaled(spark, src: str, out: str, factor: int) -> None:
    """Write the disjoint-copy x`factor` dataset under `out`."""
    os.makedirs(out, exist_ok=True)
    for t in ["nation", "region"]:
        shutil.copy(os.path.join(src, f"{t}.parquet"), os.path.join(out, f"{t}.parquet"))
    for t, keys in _REMAP.items():
        base = spark.read.parquet(os.path.join(src, f"{t}.parquet"))
        copies = []
        for c in range(factor):
            df = base
            for k in keys:
                df = df.withColumn(k, (F.col(k) + F.lit(c * _SPAN)).cast("long"))
            if t == "documents" and c > 0:
                # disjoint vocabulary per copy: same in-copy statistics,
                # zero cross-copy shingle/chunk/band collisions
                df = df.withColumn(
                    "text", F.regexp_replace("text", r"(\S+)", rf"$1c{c}")
                ).withColumn("n_chars", F.length("text"))
            copies.append(df)
        scaled = copies[0]
        for df in copies[1:]:
            scaled = scaled.unionByName(df)
        # ~factor output files: the scan parallelism a real corpus has
        scaled.repartition(max(factor, 4)).write.mode("overwrite").parquet(
            os.path.join(out, f"{t}.parquet")
        )


# Per-query slope bounds where the MEASURED algorithmic floor exceeds the
# default regression tripwire. q120's census is wedge-linear (SCALE.md:
# 13.8M -> 1.38G wedges at x100, wall AT ~100 x t_base — the linear
# floor), and the r10 exchange reduction cut its t_base ~1.5x, which
# mechanically RAISES the slope ratio of the unchanged wedge work: the
# honest x10 expectation is ~10x wedges + overhead. On top of that the
# slope divides two noisy walls — measured r10, same code 90 min apart
# on a steal-heavy host: 58.8/4.58=12.8 vs 68.8/3.40=20.3, with the
# 3-4 s t_base contributing most of the spread. Queries listed here get
# one EXTRA best-of run on the base side (the noisy denominator), which
# is why the bound is 24 rather than the 30 the r10 two-run spread
# forced — still far below the ~100 a census gone quadratic measures.
PER_QUERY_MAX_SLOPE = {"q120_copurchase_triangles": 24.0}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--max-slope", type=float, default=12.0)
    ap.add_argument("--out", default="/tmp/hja_scale10")
    ap.add_argument("--src", default=SRC)
    ap.add_argument(
        "--all", action="store_true",
        help="sweep EVERY registered query (1 run per dir) instead of "
        "best-of-N on the 10 slowest — catches super-linear queries "
        "hiding below the expensive tier",
    )
    ap.add_argument(
        "names", nargs="*", metavar="PREFIX",
        help="probe only queries matching these name prefixes "
        "(targeted re-measure after a plan change)",
    )
    args = ap.parse_args()

    # x10 needs 24g (GC-locker block evictions at 8g — SCALE.md); the
    # x100 sweep's cumulative regime wants more headroom still (r10:
    # a mid-sweep shuffle-write OOM at 24g that never reproduced solo)
    os.environ.setdefault(
        "SPARK_DRIVER_MEM", "40g" if args.factor >= 100 else "24g"
    )
    import bench  # session config identical to the bench harness (heap aside)

    spark = bench.session()
    spark.sparkContext.setLogLevel("ERROR")

    marker = os.path.join(args.out, f"_built_f{args.factor}")
    if not os.path.exists(marker):
        t0 = time.time()
        build_scaled(spark, args.src, args.out, args.factor)
        open(marker, "w").write("ok\n")
        print(f"built x{args.factor} dataset at {args.out} in {time.time()-t0:.0f}s",
              file=sys.stderr)

    from hadoop_jobanalyzer_spark.plans import registry

    qs = registry.queries()

    def release_caches() -> None:
        """Evict the two persisted session caches (corpus_dedup pairs,
        co-purchase edges) so every (query, dir) measurement starts
        cache-neutral: without this, caches for BOTH dirs accumulate
        across the sweep (eviction pressure skews later slopes) and
        cached-family queries measure whatever an earlier query happened
        to build — the ordering dependence release_session_caches'
        docstring warns about (ADVICE r6). Within one measurement,
        best-of-N still reads warm on runs 2+ — the steady-state regime
        for the cached families, per SCALE.md methodology."""
        from hadoop_jobanalyzer_spark.plans.tables import release_session_caches

        release_session_caches(spark)
        # Prior measurements' localCheckpoint blocks release only when the
        # ContextCleaner sees their frames GC'd — at x100, letting them
        # linger stacked enough storage pressure to OOM a later query's
        # shuffle write (r10: q197 died mid-sweep twice, GC-locker
        # warning first, but ran CLEAN solo at 210 s best-of-2). Force
        # the release between measurements: drop Python refs, then ask
        # the JVM to collect so the cleaner queue drains NOW.
        import gc

        gc.collect()
        spark.sparkContext._jvm.System.gc()

    def best_of(fn, sf_dir: str, name: str = "?", runs: int | None = None) -> float:
        release_caches()
        ts = []
        runs = runs if runs is not None else args.runs
        for i in range(max(runs, 1)):
            # progress to stderr BEFORE each run: when a measurement
            # kills the JVM (x100 OOM), the log must say which query did
            # it (r10 lesson — two crashed sweeps were unattributable)
            print(f"[scale10] {name} run {i + 1}/{runs} @ {sf_dir}",
                  file=sys.stderr, flush=True)
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            ts.append(time.perf_counter() - t0)
        return min(ts)

    # JIT/footer warm-up on both dirs
    qs[PROBE_QUERIES[0]](spark, args.src).write.format("noop").mode("overwrite").save()
    qs[PROBE_QUERIES[0]](spark, args.out).write.format("noop").mode("overwrite").save()

    if args.all:
        names = list(qs)
        args.runs = 1
    elif args.names:
        names = [n for n in qs if n.startswith(tuple(args.names))]
        if not names:
            print(f"no queries match {args.names}", file=sys.stderr)
            return 2
    else:
        names = PROBE_QUERIES

    bad = []
    for name in names:
        fn = qs[name]
        # slope-bounded queries take an extra base run: the small t_base
        # denominator dominates the ratio noise (r10 measurement)
        base_runs = args.runs + (1 if name in PER_QUERY_MAX_SLOPE else 0)
        t_base = best_of(fn, args.src, name, runs=base_runs)
        t_scaled = best_of(fn, args.out, name)
        slope = t_scaled / t_base if t_base > 0 else float("inf")
        print(json.dumps({
            "query": name,
            "t_base": round(t_base, 2),
            "t_scaled": round(t_scaled, 2),
            "slope": round(slope, 1),
        }), flush=True)
        if slope > PER_QUERY_MAX_SLOPE.get(name, args.max_slope):
            bad.append((name, slope))
    spark.stop()
    if bad:
        print(f"SUPER-LINEAR: {bad}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
