"""Full-registry analysis smoke: every registered query must ANALYZE against
the current parquet files.

This pins the environment-drift class that broke q52 in round 2 (a Spark /
parquet-writer upgrade changed the events ``ts`` column to TIMESTAMP_NTZ and
``F.unix_millis`` rejected it at plan time, without any code change).
Building the DataFrame + forcing ``df.schema`` runs the full analyzer but no
jobs, so the sweep is cheap enough to run on every commit.
"""

import pytest

from hadoop_jobanalyzer_spark.plans.registry import QUERIES


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_analyzes(spark, sf_dir, name):
    fn, _ = QUERIES[name]
    df = fn(spark, sf_dir)
    assert len(df.schema.fields) > 0, f"{name} produced an empty schema"


def test_registry_modules_complete_and_disjoint():
    """Every ``*_queries`` module under plans/ is in the registry's module
    tuple and contributes at least one query, no query name comes from two
    modules, and ``queries()`` keeps the registry's own order."""
    import os

    from hadoop_jobanalyzer_spark.plans import registry

    plans_dir = os.path.dirname(registry.__file__)
    on_disk = {f[:-3] for f in os.listdir(plans_dir) if f.endswith("_queries.py")}
    modules = [m.__name__.rsplit(".", 1)[1] for m in registry.QUERY_MODULES]
    assert sorted(modules) == sorted(on_disk)
    tables = [getattr(m, n.upper()) for m, n in zip(registry.QUERY_MODULES, modules)]
    assert all(tables), "a query module contributes no query"
    assert sum(map(len, tables)) == len(QUERIES), "a query name is registered twice"
    assert list(registry.queries()) == list(QUERIES)


def test_registry_rejects_duplicate_names():
    import types

    from hadoop_jobanalyzer_spark.plans import registry

    a = types.ModuleType("pkg.a_queries")
    a.A_QUERIES = {"q1": (None, None)}
    b = types.ModuleType("pkg.b_queries")
    b.B_QUERIES = {"q1": (None, None)}
    with pytest.raises(ValueError, match="q1 registered twice"):
        registry._merge((a, b))


def test_registry_orders_unverified_first():
    """The driver records only the first 50 entries of
    ``__spark_entry__.queries()`` per round; the ordering must put
    never-verified / red queries before stale greens so the union of
    rounds converges and old greens rotate through re-checks."""
    import __spark_entry__ as entry

    order = list(entry.queries())
    assert sorted(order) == sorted(QUERIES)
    greens, reds = entry._verification_history()

    def bucket(n):
        return 0 if n in reds else (1 if n not in greens else 2)

    buckets = [bucket(n) for n in order]
    assert buckets == sorted(buckets), "reds, then never-verified, then greens"
    green_rounds = [greens[n] for n in order if n in greens]
    assert green_rounds == sorted(green_rounds), "greens must be stalest-first"
    # recompute the expected 50-row driver window independently from the
    # artifacts (by numeric query id within each bucket, stalest greens
    # first) and require the registry's order to match it exactly — this is
    # NOT implied by the bucket/staleness sort above, which says nothing
    # about ordering *within* a bucket or round.
    def num(n):
        digits = "".join(ch for ch in n[1:] if ch.isdigit() or ch == "_").split("_")[0]
        return int(digits) if digits.isdigit() else 10**9

    expected = sorted(
        order, key=lambda n: (bucket(n), greens.get(n, 0), num(n), n)
    )
    assert order[:50] == expected[:50], "driver window diverges from artifacts"


def test_no_driver_hostile_oracle_types(duck):
    """Plan-only sweep over every registered oracle: no output column may be
    HUGEINT/UHUGEINT (DuckDB silently widens SUM over INTEGER/BIGINT to
    int128, which does not round-trip as int64 through pandas — the driver's
    representation-sensitive value hash then mismatches Spark's BIGINT even
    when values are bit-identical; round-4 verdict: 27 reds + 31 latent).
    `con.sql(...).types` compiles the plan without executing it, so the full
    registry scans in seconds."""
    from tests.oracle_utils import oracle_type_problems

    import __spark_entry__ as entry

    problems = {
        name: hits
        for name, sql in entry.oracle_sql().items()
        if (hits := oracle_type_problems(duck, sql))
    }
    assert not problems, f"HUGEINT leaks: {problems}"


def test_oracle_type_scan_catches_hugeint(duck):
    """Negative control: the scan must flag a bare SUM over BIGINT (which
    DuckDB widens to HUGEINT) — otherwise the registry-wide sweep above is
    vacuous."""
    from tests.oracle_utils import oracle_type_problems

    hits = oracle_type_problems(duck, "SELECT SUM(o_custkey) AS s FROM orders")
    assert hits and "HUGEINT" in hits[0]
    assert not oracle_type_problems(
        duck, "SELECT CAST(SUM(o_custkey) AS BIGINT) AS s FROM orders"
    )
