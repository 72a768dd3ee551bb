"""util.materialize dispatch + session-cache eviction hooks.

materialize is the engine's one per-operator materialization primitive
(ADVICE r5, medium): durability must follow the SESSION's checkpoint
configuration — reliable checkpoint() when a checkpoint dir is set (the
cluster deployment contract, where localCheckpoint blocks would be
unrecoverable on executor loss), localCheckpoint() otherwise. The two
deliberate .persist() session caches (corpus_dedup, co-purchase edges)
each need an eviction hook so a long-lived session visiting many corpus
dirs doesn't accumulate caches (ADVICE r5, low).
"""

from __future__ import annotations

import pytest

from hadoop_jobanalyzer_spark.util import materialize, materialize_eager

SF_DIR = "/root/testdata/sf0.001"


class _FakeDF:
    """Records which checkpoint flavor materialize picked, and whether the
    reliable path persist-wrapped the checkpoint (the double-compute
    guard: an unpersisted reliable checkpoint re-runs the lineage in the
    checkpoint-write job)."""

    def __init__(self, checkpoint_dir, cached=False):
        self.called = None
        self.events = []
        sc = self

        class _Level:
            useMemory = cached
            useDisk = cached

        self.storageLevel = _Level()
        class _SS:
            sparkContext = sc

        self.sparkSession = _SS()
        self._dir = checkpoint_dir

    def getCheckpointDir(self):
        return self._dir

    def persist(self):
        self.events.append("persist")
        return self

    def unpersist(self):
        self.events.append("unpersist")
        return self

    def checkpoint(self, eager):
        self.called = ("checkpoint", eager)
        self.events.append("checkpoint")
        return self

    def localCheckpoint(self, eager):
        self.called = ("localCheckpoint", eager)
        self.events.append("localCheckpoint")
        return self


def test_materialize_dispatches_on_session_checkpoint_dir():
    df = _FakeDF(checkpoint_dir=None)
    materialize(df)
    assert df.called == ("localCheckpoint", False)
    assert df.events == ["localCheckpoint"]

    # the reliable path is always eager and persist-wrapped so the
    # checkpoint-write job reads cached blocks instead of re-running the
    # lineage (ADVICE r6, medium)
    df = _FakeDF(checkpoint_dir="hdfs:///checkpoints")
    materialize(df)
    assert df.called == ("checkpoint", True)
    assert df.events == ["persist", "checkpoint", "unpersist"]

    df = _FakeDF(checkpoint_dir="hdfs:///checkpoints")
    materialize_eager(df)
    assert df.called == ("checkpoint", True)
    assert df.events == ["persist", "checkpoint", "unpersist"]

    # a frame the CALLER already persisted must not be unpersisted out
    # from under them — the existing cache already de-duplicates the two
    # checkpoint jobs
    df = _FakeDF(checkpoint_dir="hdfs:///checkpoints", cached=True)
    materialize(df)
    assert df.called == ("checkpoint", True)
    assert df.events == ["checkpoint"]


def test_materialize_default_is_local_and_truncates_lineage(spark):
    """No checkpoint dir on the test session -> localCheckpoint path:
    the child plan prints as an ExistingRDD scan (lineage cut — what the
    plan-quality shuffle budgets rely on) and nothing registers in the
    CacheManager (the r4 leak class)."""
    assert spark.sparkContext.getCheckpointDir() is None
    spark.catalog.clearCache()
    df = materialize(spark.range(10).selectExpr("id", "id * 2 AS y"))
    assert df.count() == 10
    assert "LogicalRDD" in df._jdf.queryExecution().optimizedPlan().toString()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_materialize_reliable_checkpoint_when_dir_set(spark, tmp_path):
    """With a checkpoint dir configured, materialize writes a RELIABLE
    checkpoint (survives executor loss); the dir is restored to unset so
    the rest of the suite keeps the single-node default."""
    sc = spark.sparkContext
    jsc_sc = sc._jsc.sc()
    try:
        ckpt = tmp_path / "ckpt"
        sc.setCheckpointDir(str(ckpt))
        df = materialize(spark.range(5).selectExpr("id"), eager=True)
        assert df.count() == 5
        # reliable checkpoints are FILES under the configured dir — the
        # durability localCheckpoint's executor-local blocks don't have
        checkpoint_files = [p for p in ckpt.rglob("*") if p.is_file()]
        assert checkpoint_files, "no reliable checkpoint data written"
    finally:
        # Scala: var checkpointDir: Option[String] — reset to None
        getattr(jsc_sc, "checkpointDir_$eq")(sc._jvm.scala.Option.empty())
        assert sc.getCheckpointDir() is None


def test_materialize_reliable_checkpoint_evaluates_once(spark, tmp_path):
    """Regression for the double-compute hazard (ADVICE r6, medium): an
    unwrapped reliable checkpoint runs the subtree twice — once for the
    action, once in ReliableRDDCheckpointData's checkpoint-write job — so
    a 100-row subtree processes 200 rows and downstream consumers read a
    SECOND, independent evaluation. The persist wrap must hold it to one
    evaluation (the write job reads cached blocks)."""
    from pyspark.sql.functions import udf
    from pyspark.sql.types import LongType

    sc = spark.sparkContext
    jsc_sc = sc._jsc.sc()
    acc = sc.accumulator(0)

    @udf(LongType())
    def tick(x):
        acc.add(1)
        return x

    try:
        sc.setCheckpointDir(str(tmp_path / "ckpt"))
        spark.catalog.clearCache()
        out = materialize(spark.range(100).select(tick("id").alias("id")))
        assert out.count() == 100
        assert acc.value == 100, f"subtree evaluated {acc.value / 100:.0f}x"
        # and the wrap released its cache entry (no r4-class leak)
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    finally:
        getattr(jsc_sc, "checkpointDir_$eq")(sc._jvm.scala.Option.empty())
        assert sc.getCheckpointDir() is None


@pytest.mark.usefixtures("sf_dir")
def test_release_corpus_dedup_unpersists(spark):
    from hadoop_jobanalyzer_spark.plans.pipeline_queries import corpus_dedup
    from hadoop_jobanalyzer_spark.plans.tables import release_session_caches

    release_session_caches(spark)  # reset whatever earlier tests built
    spark.catalog.clearCache()
    pairs, _ = corpus_dedup(spark, SF_DIR)
    pairs.count()
    assert not spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert release_session_caches(spark, SF_DIR) == 1
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert release_session_caches(spark, SF_DIR) == 0  # idempotent
    # rebuild after eviction serves a fresh, correct cache
    pairs2, _ = corpus_dedup(spark, SF_DIR)
    assert pairs2.count() == pairs.count()


@pytest.mark.usefixtures("sf_dir")
def test_release_copurchase_edges_unpersists(spark):
    from hadoop_jobanalyzer_spark.plans.sketch_queries import _copurchase_edges
    from hadoop_jobanalyzer_spark.plans.tables import release_session_caches

    release_session_caches(spark)
    spark.catalog.clearCache()
    e = _copurchase_edges(spark, SF_DIR)
    n = e.count()
    assert not spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert release_session_caches(spark) == 1
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert _copurchase_edges(spark, SF_DIR).count() == n


@pytest.mark.usefixtures("sf_dir")
def test_release_session_caches_unpersists(spark):
    """One release call evicts both persisted session caches (the corpus
    dedup pairs and the co-purchase edges), is a no-op when repeated, and
    a rebuild afterwards serves the same rows."""
    from hadoop_jobanalyzer_spark.plans.pipeline_queries import corpus_dedup
    from hadoop_jobanalyzer_spark.plans.sketch_queries import _copurchase_edges
    from hadoop_jobanalyzer_spark.plans.tables import release_session_caches

    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    release_session_caches(spark)  # reset whatever earlier tests built
    spark.catalog.clearCache()
    n_pairs = corpus_dedup(spark, SF_DIR)[0].count()
    n_edges = _copurchase_edges(spark, SF_DIR).count()
    assert not cache_manager.isEmpty()
    assert release_session_caches(spark, SF_DIR) == 2
    assert cache_manager.isEmpty()
    assert release_session_caches(spark, SF_DIR) == 0
    assert release_session_caches(spark) == 0
    assert corpus_dedup(spark, SF_DIR)[0].count() == n_pairs
    assert _copurchase_edges(spark, SF_DIR).count() == n_edges
