"""Full-registry oracle sweep: run every registered query on Spark AND its
DuckDB oracle at the given sf dir (default sf0.01 — the driver's
correctness scale) and report per-query row/schema/value agreement.

This is the round-close gate: the driver records only ~50 queries per
round, but this sweep checks ALL of them against the CURRENT environment,
catching drift (Spark/DuckDB upgrades, testdata regeneration) that the
per-round cap would surface rounds later.

Usage:
    python tools/oracle_sweep.py [sf_dir] [name_prefix...]

Exit code 0 iff every query matches. One line per query; summary last.
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, ".")


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    prefixes = tuple(sys.argv[2:])

    from hadoop_jobanalyzer_spark.plans import registry
    from hadoop_jobanalyzer_spark.session import get_spark
    from tests.oracle_utils import compare, duck_connect

    # local-mode executors share the driver JVM, and get_spark() sets no
    # driver.memory — Spark's 1g default carried the sf0.01 gate for nine
    # rounds but OOM'd the sf0.1 graph family mid-sweep (r10: q197 died
    # after five accumulated measurements, clean in a fresh session).
    # Mirror bench.py's env contract.
    import os

    spark = get_spark(
        extra_conf={
            "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "8g")
        }
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_connect(sf_dir)

    # Sweep exactly the driver's surface: oracle_sql() applies the BIGINT
    # retype wrapper; the raw QUERIES SQL is NOT what the driver runs.
    oracles = registry.oracle_sql()
    names = [
        n for n in sorted(registry.QUERIES) if not prefixes or n.startswith(prefixes)
    ]
    def release_between_queries() -> None:
        """Cache/GC hygiene between measurements (the scale10 discipline):
        prior queries' localCheckpoint blocks release only when their
        frames are GC'd — left to chance, the accumulation OOM'd the
        sf0.1 graph family (r10)."""
        import gc

        from hadoop_jobanalyzer_spark.plans.tables import release_session_caches

        release_session_caches(spark)
        gc.collect()
        spark.sparkContext._jvm.System.gc()

    failed: list[str] = []
    t_all = time.time()
    for name in names:
        release_between_queries()
        fn, _ = registry.QUERIES[name]
        sql = oracles.get(name)
        t0 = time.time()
        if sql is None:  # non-SQL-expressible: rows-only check, like the driver
            df = fn(spark, sf_dir)
            print(f"{name}: rows-only ({df.count()} rows)", flush=True)
            continue
        try:
            problems = compare(fn(spark, sf_dir), con, sql)
        except Exception as exc:  # noqa: BLE001 — report and continue
            problems = [f"exception: {exc!r}"[:300]]
        status = "ok" if not problems else f"FAIL {problems[:3]}"
        print(f"{name}: {status} ({time.time() - t0:.1f}s)", flush=True)
        if problems:
            failed.append(name)
    print(
        f"swept {len(names)} queries at {sf_dir} in {time.time() - t_all:.0f}s; "
        f"{len(names) - len(failed)} ok, {len(failed)} failed"
        + (f": {failed}" if failed else ""),
        flush=True,
    )
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
