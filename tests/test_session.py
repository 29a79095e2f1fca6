"""Engine session knobs are read when get_spark() builds the session, not
when the session module is imported."""

from __future__ import annotations

from hadoop_jobanalyzer_spark.session import INIT_PARTITIONS_CONF, get_spark


def _rebuild(spark):
    # getOrCreate hands back the running session with the builder's
    # modifiable SQL settings applied — the same path a fresh build takes
    return get_spark(
        app_name=spark.sparkContext.appName,
        master=spark.sparkContext.master,
        shuffle_partitions=int(spark.conf.get("spark.sql.shuffle.partitions")),
    )


def test_init_partitions_set_after_import_takes_effect(spark, monkeypatch):
    before = spark.conf.get(INIT_PARTITIONS_CONF, None)
    monkeypatch.setenv("SPARK_GRAFT_INIT_PARTITIONS", "7")
    try:
        assert _rebuild(spark).conf.get(INIT_PARTITIONS_CONF) == "7"
    finally:
        if before is None:
            spark.conf.unset(INIT_PARTITIONS_CONF)
        else:
            spark.conf.set(INIT_PARTITIONS_CONF, before)


def test_init_partitions_unset_leaves_conf_alone(spark, monkeypatch):
    before = spark.conf.get(INIT_PARTITIONS_CONF, None)
    monkeypatch.delenv("SPARK_GRAFT_INIT_PARTITIONS", raising=False)
    assert _rebuild(spark).conf.get(INIT_PARTITIONS_CONF, None) == before
