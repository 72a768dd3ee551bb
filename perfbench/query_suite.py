"""``query_suite``: passes over a pinned slice of ``plans.registry``.

The slice is a registry-sorted stride sample, pinned below so a later
registry change cannot silently change what is timed. Each query is built
by its registry function and collected; the collected rows are then
checked against the query's DuckDB oracle, outside the timed calls.
Collecting instead of forcing with a ``noop`` write means no query runs
twice (once timed, once to check). Set-up runs ``load_tables`` on every
session, then once both session caches (``corpus_dedup`` and
``_copurchase_edges``, which pinned queries consume) and one warm-up
query that is not in the slice.

A run makes passes until ``--seconds`` have gone by, at least one; at the
sizes here one pass outlasts 10 s. End-to-end: ``batch_s`` is the median
pass; ``op_p50_ms`` / ``op_p80_ms`` are percentiles of the per-query times
(build + execution) over all passes.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
import os
import statistics
import time
from dataclasses import dataclass

import duckdb

from hadoop_jobanalyzer_spark.plans import registry
from hadoop_jobanalyzer_spark.plans.pipeline_queries import corpus_dedup
from hadoop_jobanalyzer_spark.plans.sketch_queries import _copurchase_edges

from harness import Context, Result, noop, percentile
from tablegen import TABLES, write_tables

SF = 0.005
# sorted(registry.QUERIES)[15::16] of the 241-query registry: 15 queries,
# among them q120 (co-purchase edges cache) and q34 (dedup cache)
PINNED = (
    "q106_interarrival_histogram",
    "q120_copurchase_triangles",
    "q135_split_leakage",
    "q14_top_orders",
    "q164_weighted_median_value",
    "q179_forecast_revenue_delta",
    "q193_late_priority_split",
    "q208_funnel_order_integrity",
    "q222_dedup_threshold_sweep",
    "q237_source_novelty",
    "q34_dedup_pipeline",
    "q50_fuzzy_prefix_pairs",
    "q66_minhash_estimate",
    "q82_bounded_source_sample",
    "q98_label_centroid_distances",
)
WARM_UP = "q01_pricing_summary"


@dataclass
class Inputs:
    tables: str
    n_bytes: int


def make_inputs(ctx: Context) -> Inputs:
    tables = ctx.path("tables")
    return Inputs(tables, write_tables(tables, ctx.seed, SF))


def _phases_ms(df, since_ms: float) -> dict[str, float]:
    """Catalyst's own planning-phase timings for a frame (forces planning).

    A phase counts only if it started at or after ``since_ms`` (epoch ms):
    a frame a builder reuses from a session cache was analysed, and maybe
    planned, when the cache was built, and its tracker still reports that.
    """
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        found = phases.get(phase)
        summary = found.get() if found.isDefined() else None
        fresh = summary is not None and summary.startTimeMs() >= since_ms
        out[phase] = float(summary.durationMs()) if fresh else 0.0
    return out


def _canon(v) -> str:
    """Engine-neutral text for one value, so Spark and DuckDB rows hash alike."""
    if v is None:
        return "~"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v.is_integer() and abs(v) < 2**53:
            return str(int(v))
        return f"{v:.9g}"
    if isinstance(v, (datetime.datetime, datetime.date, datetime.time)):
        return v.isoformat()
    if isinstance(v, dict):
        return "{" + ",".join(sorted(f"{_canon(k)}:{_canon(x)}" for k, x in v.items())) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if hasattr(v, "asDict"):  # a Spark struct
        return _canon(list(v))
    return str(v)


def rows_digest(columns: list[str], rows) -> tuple[int, int]:
    """(row count, order-insensitive hash): columns sorted by name, each row
    hashed, hashes summed modulo 2**64 so duplicate rows still count."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    acc = 0
    n = 0
    for row in rows:
        text = "|".join(_canon(row[i]) for i in order)
        acc += int.from_bytes(hashlib.blake2b(text.encode(), digest_size=8).digest(), "big")
        n += 1
    return n, acc % 2**64


def check(inp: Inputs, outputs: dict[str, tuple[int, int]], res: Result) -> None:
    """Row count and row hash of every pinned query against its DuckDB
    oracle; rows only where the registry has no oracle."""
    oracles = registry.oracle_sql()
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        for t in TABLES:
            path = os.path.join(inp.tables, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        for name, ours in outputs.items():
            sql = oracles.get(name)
            if sql is None:
                res.check(ours[0] > 0, f"{name}: no rows")
                continue
            cur = con.execute(sql)
            theirs = rows_digest([d[0] for d in cur.description], cur.fetchall())
            res.check(ours == theirs, f"{name}: spark {ours} != oracle {theirs}")
    finally:
        con.close()


class Workload:
    def __init__(self, ctx: Context) -> None:
        self.ctx, self.inp = ctx, make_inputs(ctx)

    def prepare(self, spark) -> None:
        """The tables on the new session."""
        with self.ctx.tracer.span("tables.load"):
            registry.load_tables(spark, self.inp.tables)

    def warm_up(self, spark) -> None:
        """Both session caches, then one query that is not in the slice."""
        tr, tables = self.ctx.tracer, self.inp.tables
        with tr.span("plans.cache_build"):
            pairs, _ = corpus_dedup(spark, tables)
            noop(pairs)
            noop(_copurchase_edges(spark, tables))
        with tr.span("setup.warm_up"):
            noop(registry.QUERIES[WARM_UP][0](spark, tables))

    def measure(self, spark, res: Result) -> dict[str, float]:
        """Timed passes until ``--seconds`` have gone by (at least one; at
        the sizes here one pass outlasts the default 10 s), then the oracle
        checks of the last pass outside the timed calls; returns the summed
        planning-phase ms when traced."""
        deadline = time.perf_counter() + self.ctx.seconds
        passes: list[list[float]] = []
        phases = dict.fromkeys(("analysis", "optimization", "planning"), 0.0)
        with self.ctx.tracer.span("measure"):
            while not passes or time.perf_counter() < deadline:
                times, outputs = self._pass(spark, res, phases)
                passes.append(times)
        check(self.inp, outputs, res)
        all_times = [t for ts in passes for t in ts]
        res.metrics.update(
            batch_s=statistics.median(sum(ts) for ts in passes),
            op_p50_ms=percentile(all_times, 50) * 1000,
            op_p80_ms=percentile(all_times, 80) * 1000,
        )
        res.detail["pass_s"] = [sum(ts) for ts in passes]
        return {f"plans.{k}_ms": v for k, v in phases.items()}

    def _pass(self, spark, res: Result, phases: dict[str, float]):
        """One pass over the pinned slice: (per-query seconds, digest by
        query); adds the planning phases it paid to ``phases`` when traced."""
        tr, inp = self.ctx.tracer, self.inp
        times, outputs, per_query = [], {}, {}
        for name in PINNED:
            res.attempted += 1
            with tr.span(f"query.{name}", op=tr.new_op()):
                t, since_ms = time.perf_counter(), time.time() * 1000 - 1
                try:
                    with tr.span("plans.build"):
                        df = registry.QUERIES[name][0](spark, inp.tables)
                    if tr.active:
                        per_query[name] = _phases_ms(df, since_ms)
                        for k, v in per_query[name].items():
                            phases[k] += v
                    with tr.span("plans.exec"):
                        rows = df.collect()
                except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
                    res.failed += 1
                    res.problems.append(f"{name}: {type(exc).__name__}: {exc}")
                    continue
                times.append(time.perf_counter() - t)
            per_query.setdefault(name, {})["s"] = times[-1]
            outputs[name] = rows_digest(df.columns, rows)
        res.detail["queries"] = per_query
        return times, outputs

    def probe(self, spark) -> dict[str, float]:
        return {}

    def close(self) -> None:
        pass
