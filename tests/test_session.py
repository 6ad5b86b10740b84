"""Session configuration the engine depends on: the generated-class cache
bound, the filter-literal extension, Spark's stateful correctness check,
and the runtime confs applied to sessions built outside get_spark."""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import subprocess
import sys
import textwrap

import pytest

from flink_1_8_sourcecode_spark import session
from flink_1_8_sourcecode_spark.session import CHECKPOINT_MANAGER, CHECKPOINT_MANAGER_CONF

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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


def test_stateful_correctness_check_stays_on(spark):
    """Spark rejects streaming plans whose stateful operators could emit
    wrong results (e.g. an aggregation over a non-append stateful output);
    the engine's session keeps that check enabled."""
    conf = "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
    assert spark.conf.get(conf) == "true"


# Row ``id`` of the filter table: i = id, d = 2024-01-01 + id days,
# t = epoch + id hours, x = id / 4.
_FILTER_ROWS = 400
_D0, _T0 = dt.date(2024, 1, 1), dt.datetime(1970, 1, 1)


def _filter_table(spark, path: str) -> None:
    spark.range(_FILTER_ROWS).selectExpr(
        "CAST(id AS INT) AS i",
        "date_add(DATE'2024-01-01', CAST(id AS INT)) AS d",
        "timestamp_seconds(id * 3600) AS t",
        "id / 4.0D AS x",
    ).write.parquet(path)


def _filter_sql(path: str, lo: int, d: dt.date, t: dt.datetime, x: float) -> str:
    return (
        f"SELECT i FROM parquet.`{path}` WHERE i > {lo} AND d < DATE'{d}' "
        f"AND t >= TIMESTAMP'{t}' AND x < {x!r}D"
    )


def _filter_expected(lo, d, t, x) -> list[int]:
    return [
        i for i in range(_FILTER_ROWS)
        if i > lo and _D0 + dt.timedelta(days=i) < d
        and _T0 + dt.timedelta(hours=i) >= t and i / 4.0 < x
    ]


_PARAMS = [
    (3, dt.date(2024, 9, 1), dt.datetime(1970, 1, 2), 80.5),
    (17, dt.date(2024, 6, 15), dt.datetime(1970, 1, 3, 6), 60.25),
    (40, dt.date(2024, 11, 30), dt.datetime(1970, 1, 1, 12), 99.75),
]


def test_new_filter_literals_reuse_the_generated_class(spark, tmp_path):
    """Re-running a filter with new int, date, timestamp and double
    literals compiles nothing: the literals reach the generated code
    through its references array, not its source.  The results are the
    rows the filter selects, computed here in Python.  The rewrite is
    physical and runs after planning, so the parquet scan is still handed
    the plain literals to push down."""
    path = str(tmp_path / "filter_table")
    _filter_table(spark, path)
    spark.sql(_filter_sql(path, *_PARAMS[0])).collect()  # compiles the shape
    for lo, d, t, x in _PARAMS[1:]:
        df = spark.sql(_filter_sql(path, lo, d, t, x))
        before = _compiles(spark)
        got = sorted(r.i for r in df.collect())
        assert _compiles(spark) == before
        assert got == _filter_expected(lo, d, t, x)
        assert got  # the parameters select rows
        scan = df._jdf.queryExecution().executedPlan().collectLeaves().head()
        pushed = scan.metadata().get("PushedFilters").get()  # unabbreviated
        for f in (f"GreaterThan(i,{lo})", f"LessThan(d,{d})", f"LessThan(x,{x})"):
            assert f in pushed


def test_new_filter_literals_reuse_classes_across_adaptive_stages(spark, tmp_path):
    """The same holds for filters inside adaptive query stages (an
    aggregation with a shuffle), where the rewrite runs once per stage."""
    path = str(tmp_path / "filter_table")
    _filter_table(spark, path)

    def grouped(params):
        sql = _filter_sql(path, *params).replace("SELECT i ", "SELECT i % 3 AS g, count(*) AS n ")
        return {r.g: r.n for r in spark.sql(sql + " GROUP BY i % 3").collect()}

    grouped(_PARAMS[0])
    for params in _PARAMS[1:]:
        before = _compiles(spark)
        got = grouped(params)
        assert _compiles(spark) == before
        want: dict[int, int] = {}
        for i in _filter_expected(*params):
            want[i % 3] = want.get(i % 3, 0) + 1
        assert got == want


def test_missing_javac_fails_the_extension_build(tmp_path, monkeypatch):
    """Without a JDK the extension cannot be built and get_spark says so."""
    jvm = tmp_path / "jvm"
    jvm.mkdir()
    shutil.copy(os.path.join(session._JVM_DIR, "LiteralParams.java"), jvm)
    monkeypatch.setattr(session, "_JVM_DIR", str(jvm))
    monkeypatch.setattr(session.shutil, "which", lambda name: None)
    with pytest.raises(RuntimeError, match="javac"):
        session.literal_params_jar()


_RESTART_SCRIPT = textwrap.dedent(
    """
    import json, sys
    from flink_1_8_sourcecode_spark.session import get_spark

    extra = {
        "spark.driver.extraClassPath": sys.argv[1],
        "spark.sql.extensions": "org.example.CallerExtension",
    }
    get_spark(app_name="literal-params-cold", extra_conf=extra).stop()
    spark = get_spark(app_name="literal-params-warm", extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    count = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME

    def matches(bucket):
        return len(spark.range(70).filter(f"id % 7 = {bucket}").collect())

    rows = [matches(1)]  # compiles the shape
    before = count().getCount()
    rows.append(matches(2))
    conf = spark.sparkContext.getConf()
    print(json.dumps({
        "compiles": count().getCount() - before,
        "rows": rows,
        "classpath": conf.get("spark.driver.extraClassPath"),
        "extensions": conf.get("spark.sql.extensions"),
    }))
    spark.stop()
    """
)


def test_extension_survives_a_warm_restart_and_composes_with_caller_confs(tmp_path):
    """The benchmark's warm set-up stops the session and calls get_spark
    again in the same JVM: the extension is still loaded there.  A caller's
    own ``spark.driver.extraClassPath`` and ``spark.sql.extensions`` are
    kept, with the extension appended.  Runs in its own JVM so the suite's
    session stays up."""
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(p for p in (REPO, os.environ.get("PYTHONPATH")) if p),
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    done = subprocess.run(
        [sys.executable, "-c", _RESTART_SCRIPT, str(tmp_path)],
        cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=600,
    )
    assert done.returncode == 0, done.stderr[-4000:]
    out = json.loads(done.stdout.strip().splitlines()[-1])
    assert out["rows"] == [10, 10]
    assert out["compiles"] == 0
    assert out["classpath"] == f"{tmp_path}{os.pathsep}{session.literal_params_jar()}"
    assert out["extensions"] == f"org.example.CallerExtension,{session.LITERAL_PARAMS}"
