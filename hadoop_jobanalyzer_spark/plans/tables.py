"""Parquet table loading for the synthetic star schema (TESTDATA.md)."""

from __future__ import annotations

import os
import weakref
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession, functions as F

# Columns written as parquet TIMESTAMP(NANOS) — Spark refuses them unless
# read as raw longs (spark.sql.legacy.parquet.nanosAsLong); we rebuild a
# proper TimestampType (micros, same as DuckDB) losslessly via integer div.
NANO_TS_COLUMNS = {"ts", "l_shipdate", "o_orderdate"}

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


# The plans layer's one session cache. Keyed on the live session object
# (weakly — a stopped, collected session must not pin its plans, and id()
# reuse after GC must not serve another session's DataFrames), then on
# (kind, sf_dir). Each entry is (value, the frames its build persisted).
_Entry = tuple[Any, list[DataFrame]]
_SESSION_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict[tuple[str, str], _Entry]]" = (
    weakref.WeakKeyDictionary()
)


def session_cached(
    spark: SparkSession,
    kind: str,
    sf_dir: str,
    build: Callable[[], _Entry],
) -> Any:
    """The value ``build()`` returns for (kind, sf_dir), built once per
    session. ``build`` returns (value, frames it ``.persist()``-ed), so
    :func:`release_session_caches` can unpersist them."""
    per_session = _SESSION_CACHE.setdefault(spark, {})
    if (kind, sf_dir) not in per_session:
        per_session[(kind, sf_dir)] = build()
    return per_session[(kind, sf_dir)][0]


def release_session_caches(spark: SparkSession, sf_dir: str | None = None) -> int:
    """Evict the session's persisted cache entries (the corpus dedup
    subtree, the co-purchase edges), for one ``sf_dir`` or all of them:
    unpersist the frames each entry persisted and drop the entry. The
    cache is deliberately unbounded across dirs, so a driver that visits
    many corpus snapshots in one session calls this between snapshots;
    the next consumer rebuilds. Entries that persisted nothing (the
    ``load_tables`` scans) hold no storage and stay: dropping them would
    only re-read every table's footer on the next query. Returns the
    number of entries released (0 when there is nothing to release).

    Bench note: the FIRST consumer of a persisted entry pays its build,
    so per-query timings of the families sharing one are
    ordering-dependent by design; release between queries to measure
    cold."""
    per_session = _SESSION_CACHE.get(spark, {})
    keys = [
        key
        for key, (_, persisted) in per_session.items()
        if persisted and sf_dir in (None, key[1])
    ]
    for key in keys:
        for df in per_session.pop(key)[1]:
            df.unpersist()
    return len(keys)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Read every table and register it as a temp view.

    Parquet scans keep predicate pushdown / column pruning available to every
    query built on top (verified via .explain PushedFilters/ReadSchema).
    DataFrames are immutable plans, so the dict is cached per
    (session, dir) — schema reads happen once, not once per query. The temp
    views are (re)registered on every call in case a different sf_dir
    registered them since (the driver runs two SFs in one session).
    """
    tables = session_cached(
        spark, "tables", sf_dir, lambda: (_read_tables(spark, sf_dir), [])
    )
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables


def _read_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        for col, dtype in df.dtypes:
            if col in NANO_TS_COLUMNS and dtype == "bigint":
                df = df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
        out[name] = df
    return out
