"""Session configuration the engine depends on: the generated-class cache
bound and the runtime confs applied to sessions built outside get_spark."""

from __future__ import annotations

from flink_1_8_sourcecode_spark.session import CHECKPOINT_MANAGER, CHECKPOINT_MANAGER_CONF


def _compiles(spark) -> int:
    """Janino compiles so far in this JVM (one per generated-class cache miss)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _compile_shape(spark, i: int) -> None:
    """Generate and compile one whole-stage class on the driver; the
    multiplier is inlined into the source, so each ``i`` is its own class.
    ``execute()`` builds the RDD without running a job."""
    df = spark.range(8).selectExpr(f"id * {i} + 7 AS x")
    df._jdf.queryExecution().executedPlan().execute()


def test_generated_code_survives_a_working_set_above_100_classes(spark):
    """A class compiled before 150 others is still cached afterwards: the
    cache is sized for the engine's working set (Spark's default keeps
    100 and recompiles it)."""
    _compile_shape(spark, 0)
    before = _compiles(spark)
    for i in range(1, 151):
        _compile_shape(spark, i)
    assert _compiles(spark) > before  # the 150 shapes really compiled
    again = _compiles(spark)
    _compile_shape(spark, 0)
    assert _compiles(spark) == again


def test_entry_path_applies_the_checkpoint_manager(spark):
    """The driver hands __spark_entry__ a session it built itself; every
    entry call puts the fork-free checkpoint manager back on it."""
    import __spark_entry__

    saved = spark.conf.get(CHECKPOINT_MANAGER_CONF, None)
    try:
        spark.conf.unset(CHECKPOINT_MANAGER_CONF)
        assert spark.conf.get(CHECKPOINT_MANAGER_CONF, None) != CHECKPOINT_MANAGER
        __spark_entry__.entry(spark)
        assert spark.conf.get(CHECKPOINT_MANAGER_CONF) == CHECKPOINT_MANAGER
    finally:
        if saved is None:
            spark.conf.unset(CHECKPOINT_MANAGER_CONF)
        else:
            spark.conf.set(CHECKPOINT_MANAGER_CONF, saved)
