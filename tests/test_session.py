"""Engine session factory (``session.get_spark``)."""

from hadoop_jobanalyzer_spark import get_spark

INIT_PARTITIONS = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"


def test_init_partitions_env_read_per_call(spark, monkeypatch):
    """SPARK_GRAFT_INIT_PARTITIONS is resolved when get_spark() is called,
    not when the module is imported, so setting it later still applies."""
    before = spark.conf.get(INIT_PARTITIONS, None)
    # reuse the test session as configured: same shuffle partitions
    shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    try:
        monkeypatch.setenv("SPARK_GRAFT_INIT_PARTITIONS", "17")
        assert get_spark(shuffle_partitions=shuffle) is spark
        assert spark.conf.get(INIT_PARTITIONS) == "17"

        spark.conf.unset(INIT_PARTITIONS)
        monkeypatch.delenv("SPARK_GRAFT_INIT_PARTITIONS")
        get_spark(shuffle_partitions=shuffle)
        assert spark.conf.get(INIT_PARTITIONS, None) is None
    finally:
        if before is None:
            spark.conf.unset(INIT_PARTITIONS)
        else:
            spark.conf.set(INIT_PARTITIONS, before)
