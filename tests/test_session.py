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


def test_get_spark_keeps_a_live_session_conf(spark, monkeypatch):
    """A get_spark() call that passes no shuffle_partitions (the CLI's and
    the webapp's) returns the live session without resetting its
    shuffle partitions or its engine conf to the defaults."""
    key, tz = "spark.sql.shuffle.partitions", "spark.sql.session.timeZone"
    before, tz_before = spark.conf.get(key), spark.conf.get(tz)
    try:
        monkeypatch.delenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", raising=False)
        spark.conf.set(key, "4")
        spark.conf.set(tz, "America/New_York")
        assert get_spark(app_name="job_history") is spark
        assert spark.conf.get(key) == "4"
        assert spark.conf.get(tz) == "America/New_York"
        # what the caller does pass still applies
        get_spark(shuffle_partitions=6, extra_conf={tz: "UTC"})
        assert spark.conf.get(key) == "6"
        assert spark.conf.get(tz) == "UTC"
    finally:
        spark.conf.set(key, before)
        spark.conf.set(tz, tz_before)
