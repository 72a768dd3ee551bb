"""The round-close gate: run every check the driver/judge will run, in the
order the round workflow requires, and exit non-zero on ANY miss.

Two consecutive rounds shipped a "green" close state the driver falsified
within the hour (r3: q90 float-floor; r4: the HUGEINT oracle types) — in
both cases a check existed that would have caught it, it just wasn't run
(or wasn't run against the final HEAD). This script removes the judgment
call: it is the ONLY sanctioned way to declare a round closed.

Stages (each solo — never two Spark sessions at once):
  1. hugeint scan  — plan-only oracle output-type sweep (seconds)
  2. oracle sweep  — all queries vs DuckDB at sf0.01 (~4 min)
  3. pytest        — full suite (~20 min)
  4. bench         — runs bench.py at $SPARK_GRAFT_SF_DIR (sf0.1) and
                     writes BENCH_LAST.json; the committed BENCH.json
                     anchor is rewritten only with
                     SPARK_GRAFT_WRITE_BENCH=1, which this gate does
                     not set
  5. scale slopes  — x10 wall-time slope on the 10 slowest (bound 12x);
                     the regression tripwire for a plan change that goes
                     quadratic. Runs only when the x10 dataset is already
                     built (run tools/scale10.py once per machine to
                     build it); skipped with a warning otherwise.
  6. plan audit    — rewrites PLAN_AUDIT.md; fails on a dirty diff so a
                     plan-shape regression must be committed consciously

Usage:
    python tools/round_close.py [--fast]     # --fast skips bench + pytest + slopes
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

SCALE10_MARKER = "/tmp/hja_scale10/_built_f10"

STAGES: list[tuple[str, list[str], bool]] = [
    # (name, argv, fast_mode_included)
    ("hugeint-scan", [sys.executable, "tools/hugeint_scan.py"], True),
    ("oracle-sweep", [sys.executable, "tools/oracle_sweep.py", "/root/testdata/sf0.01"], True),
    ("pytest", [sys.executable, "-m", "pytest", "tests/", "-q"], False),
    ("bench", [sys.executable, "bench.py"], False),
    ("scale-slopes", [sys.executable, "tools/scale10.py"], False),
    ("plan-audit", [sys.executable, "tools/plan_audit.py"], True),
]


def main() -> int:
    fast = "--fast" in sys.argv[1:]
    failures: list[str] = []
    for name, argv, in_fast in STAGES:
        if fast and not in_fast:
            print(f"== {name}: SKIPPED (--fast)", flush=True)
            continue
        if name == "scale-slopes" and not os.path.exists(SCALE10_MARKER):
            print(
                f"== {name}: SKIPPED (no x10 dataset at {SCALE10_MARKER} — "
                "run tools/scale10.py once to build it)",
                flush=True,
            )
            continue
        print(f"== {name}: {' '.join(argv)}", flush=True)
        t0 = time.time()
        env = dict(os.environ)
        if name == "pytest":
            # the gate runs the FULL suite including the @slow soak/kill
            # tier that the default run skips to fit automated windows
            env["HJA_SLOW_TESTS"] = "1"
        rc = subprocess.run(argv, env=env).returncode
        print(f"== {name}: {'OK' if rc == 0 else f'FAIL rc={rc}'} ({time.time() - t0:.0f}s)", flush=True)
        if rc != 0:
            failures.append(name)
    # a PLAN_AUDIT.md diff after the audit means the committed artifact no
    # longer reflects HEAD's plans — regenerate and review before closing
    # diff against HEAD, not the index: a regenerated audit that was staged
    # but not committed must still fail the gate (ADVICE r5)
    dirty = subprocess.run(
        ["git", "diff", "--quiet", "HEAD", "--", "PLAN_AUDIT.md"]
    ).returncode
    if dirty:
        print("== plan-audit: PLAN_AUDIT.md diverges from HEAD — commit the regenerated audit", flush=True)
        failures.append("plan-audit-diff")
    print(f"round_close: {'CLEAN' if not failures else 'FAILED ' + str(failures)}", flush=True)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
