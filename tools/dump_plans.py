"""Dump `.explain("formatted")` output per registered query to files.

Produces the plan evidence the optimization rounds commit under
plans/rNN/: one `<query><suffix>.txt` per query, containing the
top-level formatted physical plan and — when the running engine version
supports `util.PLAN_CAPTURE` — every interior plan captured from
materialize()/session-cache sites during the query's construction
(those execute inside a checkpoint and are invisible to the top-level
explain; see tools/plan_audit.py).

Usage:
    python tools/dump_plans.py OUT_DIR [--suffix _after] [--sf DIR] [names...]

With no names, dumps every registered query. Designed to run from a git
worktree of an older commit too (for `_before` plans): it only relies on
the registry, the session factory and `util.formatted_plan`, and degrades
gracefully when PLAN_CAPTURE does not exist there.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("out_dir")
    ap.add_argument("--suffix", default="")
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import hadoop_jobanalyzer_spark.util as _util
    from hadoop_jobanalyzer_spark.plans.registry import QUERIES
    from hadoop_jobanalyzer_spark.session import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(args.out_dir, exist_ok=True)

    names = args.names or sorted(QUERIES)
    has_capture = hasattr(_util, "PLAN_CAPTURE")
    for name in names:
        fn, _ = QUERIES[name]
        spark.catalog.clearCache()
        interior: list = []
        if has_capture:
            _util.PLAN_CAPTURE = interior
        try:
            plan = _util.formatted_plan(fn(spark, args.sf))
        except Exception as exc:  # keep going; record the failure
            with open(os.path.join(args.out_dir, f"{name}{args.suffix}.txt"), "w") as fh:
                fh.write(f"EXPLAIN FAILED: {exc!r}\n")
            print(f"{name}: FAILED {exc!r}", file=sys.stderr, flush=True)
            continue
        finally:
            if has_capture:
                _util.PLAN_CAPTURE = None
        parts = [f"== {name} — top-level physical plan (sf={args.sf}) ==\n", plan]
        for i, p in enumerate(interior):
            parts.append(
                f"\n== interior plan {i + 1}/{len(interior)} "
                "(captured at a materialize()/session-cache site during "
                "construction; executes inside a checkpoint, invisible to "
                "the top-level explain) ==\n"
            )
            parts.append(p if isinstance(p, str) else str(p))
        with open(os.path.join(args.out_dir, f"{name}{args.suffix}.txt"), "w") as fh:
            fh.write("".join(parts))
        print(f"{name}: ok ({len(interior)} interior)", file=sys.stderr, flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
