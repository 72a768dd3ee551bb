"""Benchmark entry point.

    python3 perfbench/run.py --workload fleet_lake --seed 1 --seconds 12 --trace 0

Run from the root of a checkout of the repository: it drives the
``hadoop_jobanalyzer_spark`` package found there, through its public entry
points only, on a ``get_spark(master="local[<cores>]")`` session.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
measured phase on a session with Spark's event log on, with spans around
every call into the program, and prints the per-layer metrics plus the
tracing overhead against earlier untraced runs. The last line
of standard output is one JSON object: ``correct``, ``attempted``,
``failed``, ``metrics``. A full record (both metric sets, extras and any
problems) is written to ``.perfbench/results/`` in the checkout.

Exit codes: 0 with a result line; 2 when the program or the benchmark's
description is missing from the working directory.
"""

from __future__ import annotations

import argparse
import dataclasses
import glob
import importlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("fleet_lake", "job_charts", "query_suite")


def _fail(message: str) -> int:
    print(f"perfbench: {message}", file=sys.stderr)
    return 2


def _isolate(work: str) -> None:
    """Keep Spark's, the JVM's and Python's scratch files in ``work``, and
    run the program at its defaults whatever the caller's environment."""
    for knob in ("SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_INIT_PARTITIONS"):
        os.environ.pop(knob, None)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["TZ"] = "UTC"
    time.tzset()


def _stop_jvm() -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - any failure to exit escalates to a kill
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _traced(ctx, wl, untraced: dict, work: str) -> tuple[dict, "object"]:
    """Repeat the measured phase with spans and the event log on; return
    (per-layer metrics, the traced Result)."""
    import harness
    import layers
    import spans

    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir)
    conf = dict(spans.EVENT_LOG_CONF, **{"spark.eventLog.dir": "file://" + log_dir})
    ctx.tracer = spans.Tracer()
    # time a get_spark on a running JVM, as setup_s's median cycle is,
    # whether or not an untraced measurement launched the JVM already
    harness.get_session(ctx, conf).stop()
    t0 = time.perf_counter()
    spark = harness.get_session(ctx, conf)
    get_spark_s = time.perf_counter() - t0
    ctx.tracer.attach(spark)
    wl.prepare(spark)
    wl.warm_up(spark)
    traced = harness.Result()
    extra = wl.measure(spark, traced)
    probe = wl.probe(spark)
    wl.close()
    spark.stop()
    stats = spans.span_stats(spans.read_events(log_dir), ctx.tracer.spans)
    traced.detail["spans"] = [
        dict(dataclasses.asdict(s), spark=dataclasses.asdict(stats[s.id]))
        for s in ctx.tracer.spans
    ]

    def overhead(metric: str) -> float:
        return (traced.metrics[metric] / untraced[metric] - 1) * 100

    extra.update(
        {
            "session.get_spark_s": get_spark_s,
            "trace.overhead_batch_pct": overhead("batch_s"),
            "trace.overhead_op_p50_pct": overhead("op_p50_ms"),
        }
    )
    return layers.assemble(ctx.tracer.spans, stats, probe, extra, ctx.cores), traced


def _untraced_baseline(results: str, workload: str, seed: int) -> dict | None:
    """End-to-end metrics of earlier untraced runs of ``workload`` in this
    checkout: that seed's run if there is one, else the median over seeds."""
    records = []
    for path in glob.glob(os.path.join(results, f"{workload}-seed*-trace0.json")):
        with open(path) as f:
            records.append(json.load(f))
    records = [r for r in records if r["correct"]]
    pick = [r for r in records if r["seed"] == seed] or records
    if not pick:
        return None
    return {
        m: statistics.median(r["end_to_end"][m] for r in pick) for m in ("batch_s", "op_p50_ms")
    }


def run(args, work: str, results: str) -> dict:
    """One run. Untraced: set up, measure, report end-to-end metrics.
    Traced: the tracing overhead is taken against earlier untraced runs in
    this checkout; only when there are none does the run first make the
    untraced measurement itself."""
    import harness

    ctx = harness.Context(
        seed=args.seed, seconds=args.seconds, work=work, cores=len(os.sched_getaffinity(0))
    )
    clock = time.perf_counter()
    phases: dict = {}

    def lap(name: str) -> None:
        nonlocal clock
        now = time.perf_counter()
        phases[name] = now - clock
        clock = now

    wl = importlib.import_module(args.workload).Workload(ctx)
    lap("inputs")
    res = harness.Result()
    record: dict = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                    "phase_s": phases}
    baseline = _untraced_baseline(results, args.workload, args.seed) if args.trace else None
    try:
        if baseline is None:
            spark, cycles, warm_up_s = harness.set_up(ctx, wl)
            phases["setup_cycles"] = cycles
            lap("setup")
            wl.measure(spark, res)
            lap("measure")
            res.metrics["setup_s"] = statistics.median(cycles) + warm_up_s
            rss = harness.peak_rss_mb()
            res.metrics["peak_rss_mb"] = sum(rss.values())
            res.detail["peak_rss_mb"] = rss
            record["end_to_end"] = baseline = dict(res.metrics)
            record["detail"] = res.detail
            wl.close()
            spark.stop()
        if args.trace:
            record["per_layer"], traced = _traced(ctx, wl, baseline, work)
            lap("traced")
            record["traced_end_to_end"] = dict(traced.metrics)
            record["traced_detail"] = traced.detail
            res.attempted += traced.attempted
            res.failed += traced.failed
            res.problems += traced.problems
    finally:
        wl.close()
        _stop_jvm()
    record.update(
        attempted=res.attempted, failed=res.failed, problems=res.problems, correct=res.correct
    )
    return record


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="perfbench: the repository benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "hadoop_jobanalyzer_spark", "__init__.py")):
        return _fail(f"no hadoop_jobanalyzer_spark package under {root}")
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except (OSError, ValueError) as exc:
        return _fail(f"cannot read BENCHMARK.json: {exc}")
    sys.path[:0] = [BENCH_DIR, root]

    results = os.path.join(root, ".perfbench", "results")
    os.makedirs(results, exist_ok=True)
    work = os.path.join(root, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _isolate(work)
    try:
        record = run(args, work, results)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(results, name), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    for problem in record["problems"]:
        print(f"perfbench: {problem}", file=sys.stderr)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = record["per_layer"] if args.trace else record["end_to_end"]
    metrics = {m["name"]: {"value": source[m["name"]], "unit": m["unit"]} for m in wanted}
    print(
        json.dumps(
            {
                "correct": record["correct"],
                "attempted": record["attempted"],
                "failed": record["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
