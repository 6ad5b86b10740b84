"""Temporal table function + as-of join semantics tests
(TemporalRowtimeJoin.scala:63; table.scala:188)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from flink_1_8_sourcecode_spark.operators.joins import (
    asof_join,
    create_temporal_table_function,
    temporal_join,
)


@pytest.fixture(scope="module")
def rates(spark):
    # currency rate history: the canonical temporal-join example
    base = dt.datetime(2024, 1, 1)
    rows = [
        ("EUR", base + dt.timedelta(hours=0), 1.10),
        ("EUR", base + dt.timedelta(hours=2), 1.20),
        ("EUR", base + dt.timedelta(hours=4), 1.30),
        ("GBP", base + dt.timedelta(hours=1), 1.50),
    ]
    return spark.createDataFrame(rows, "ccy string, rate_ts timestamp, rate double")


@pytest.fixture(scope="module")
def payments(spark):
    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, "EUR", base + dt.timedelta(hours=1), 100.0),   # sees 1.10
        (2, "EUR", base + dt.timedelta(hours=2), 100.0),   # exact match -> 1.20
        (3, "EUR", base + dt.timedelta(hours=5), 100.0),   # sees 1.30
        (4, "GBP", base + dt.timedelta(hours=0, minutes=30), 100.0),  # before any rate
        (5, "GBP", base + dt.timedelta(hours=3), 100.0),   # sees 1.50
    ]
    return spark.createDataFrame(rows, "pid int, ccy string, pay_ts timestamp, amount double")


def test_temporal_join_versions(spark, rates, payments):
    ttf = create_temporal_table_function(rates, "rate_ts", "ccy")
    out = temporal_join(payments, ttf, "pay_ts", right_cols=["rate"]).toPandas()
    got = dict(zip(out.pid, out.rate))
    assert got[1] == 1.10
    assert got[2] == 1.20  # exact-timestamp version visible (<= semantics)
    assert got[3] == 1.30
    assert got[5] == 1.50
    import math

    assert math.isnan(got[4]) or got[4] is None  # no version valid yet


def test_asof_strict_inequality(spark, rates, payments):
    out = asof_join(
        payments,
        rates,
        on="ccy",
        left_time="pay_ts",
        right_time="rate_ts",
        right_cols=["rate"],
        allow_exact_match=False,
    ).toPandas()
    got = dict(zip(out.pid, out.rate))
    assert got[2] == 1.10  # strict < excludes the 2h version


def test_asof_no_version_tearing_and_null_survives(spark):
    """The latest right version is emitted atomically: a NULL field in it
    must NOT be backfilled from an older version, and all payload columns
    must come from the same right row."""
    from flink_1_8_sourcecode_spark.operators.joins import asof_join

    left = spark.createDataFrame([(1, 100)], "k int, t int")
    right = spark.createDataFrame(
        [(1, 10, "old_a", "old_b"), (1, 50, None, "new_b")],
        "k int, rt int, a string, b string",
    )
    out = asof_join(left, right, on="k", left_time="t", right_time="rt").collect()[0]
    # v@50 is the match: a is legitimately NULL there, b is 'new_b'
    assert out.a is None
    assert out.b == "new_b"


def test_sql_lateral_table_temporal_join(spark, rates, payments):
    """Flink 1.8's temporal-table-function SQL form routed through
    Engine.sql: FROM payments p, LATERAL TABLE (rates(p.pay_ts)) r —
    INNER semantics (pid=4 has no valid rate version and must vanish,
    the empty-correlate behavior), payload from the version valid at
    each probe time."""
    from flink_1_8_sourcecode_spark.engine import Engine

    eng = Engine(spark)
    eng.register("payments", payments)
    ttf = create_temporal_table_function(rates, "rate_ts", "ccy")
    eng.register_temporal_table_function("rates", ttf)
    out = eng.sql(
        """
        SELECT p.pid, p.amount * r.rate AS converted
        FROM payments p, LATERAL TABLE (rates(p.pay_ts)) r
        """
    ).toPandas()
    got = dict(zip(out.pid, out.converted))
    assert got == pytest.approx({1: 110.0, 2: 120.0, 3: 130.0, 5: 150.0})
    assert 4 not in got  # no version before the first GBP rate -> inner drop
    # splice views are parse-time scaffolding, dropped after resolution
    assert not [v.name for v in spark.catalog.listTables()
                if v.name.startswith("__tt_")]


def test_sql_lateral_table_rejections(spark, rates, payments):
    from flink_1_8_sourcecode_spark.engine import Engine

    eng = Engine(spark)
    eng.register("payments", payments)
    with pytest.raises(NotImplementedError, match="not a registered"):
        eng.sql("SELECT 1 FROM payments p, LATERAL TABLE (nope(p.pay_ts)) r")
    ttf = create_temporal_table_function(rates, "rate_ts", "ccy")
    eng.register_temporal_table_function("rates", ttf)
    with pytest.raises(NotImplementedError, match="cannot parse"):
        eng.sql("SELECT 1 FROM LATERAL TABLE (rates(x.t)) r")


def test_temporal_join_stream_equals_batch_asof(spark):
    """TemporalRowtimeJoin.scala:63 parity: the streaming event-time
    temporal join's stabilized finals must equal the batch as-of join
    on the same replayed events — including LEFT semantics with an
    integer version payload (null-padding must not NaN-drift it)."""
    from flink_1_8_sourcecode_spark.catalog import table as cat_table
    from flink_1_8_sourcecode_spark.operators.joins import temporal_join_stream
    from flink_1_8_sourcecode_spark.queries.streaming_windows import (
        _replayed_stream,
        _run_to_table,
    )

    sf_dir = "/root/testdata/sf0.001"
    stream = _replayed_stream(spark, sf_dir, "tjs_test_")
    probe_s = stream.filter(F.col("event_type").isin("click", "noop")).select(
        "user_id", F.col("event_id").alias("click_id"), "ts"
    )
    ver_s = stream.filter(F.col("event_type").isin("purchase", "noop")).select(
        "user_id",
        F.col("ts").alias("vts"),
        F.col("value").alias("purch_value"),
        F.col("event_id").alias("purch_id"),
    )
    out = temporal_join_stream(
        probe_s, ver_s, on="user_id", probe_time="ts", version_time="vts",
        right_cols=["purch_value", "purch_id"], how="left",
        watermark_delay="10 minutes",
    )
    name = _run_to_table(out, "q_tjs_test", state_partitions=4)
    streamed = (
        spark.table(name)
        .filter(F.col("user_id") >= 0)
        .select("user_id", "click_id", "ts", "purch_value", "purch_id")
        .toPandas()
    )

    ev = cat_table(spark, sf_dir, "events")
    probe_b = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), "ts"
    )
    ver_b = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("vts"),
        F.col("value").alias("purch_value"),
        F.col("event_id").alias("purch_id"),
    )
    batch = (
        asof_join(
            probe_b, ver_b, on="user_id", left_time="ts", right_time="vts",
            right_cols=["purch_value", "purch_id"],
        )
        .select("user_id", "click_id", "ts", "purch_value", "purch_id")
        .toPandas()
    )

    key = ["user_id", "click_id"]
    s = streamed.sort_values(key).reset_index(drop=True)
    b = batch.sort_values(key).reset_index(drop=True)
    assert len(s) == len(b) > 0
    for c in ["user_id", "click_id", "ts", "purch_value", "purch_id"]:
        sa, ba = s[c], b[c]
        assert sa.isna().equals(ba.isna()), c
        mask = ~sa.isna()
        assert (sa[mask] == ba[mask]).all(), c
    # at least one probe must be unmatched for the null-padding path
    assert s["purch_id"].isna().any()


def test_temporal_join_stream_version_ttl(spark):
    """version_ttl_seconds: a retained version older than watermark-ttl
    clears (idle-state retention); a probe arriving later finds no
    version.  Without the TTL the same probe matches."""
    import tempfile

    import pandas as pd

    from flink_1_8_sourcecode_spark.operators.joins import temporal_join_stream
    from flink_1_8_sourcecode_spark.queries.streaming_windows import _run_to_table

    base = dt.datetime(2024, 1, 1)

    def t(s):
        return base + dt.timedelta(seconds=s)

    schema = "k long, side string, ts timestamp, payload double"
    chunks = [
        [(1, "v", t(0), 7.0), (999, "w", t(1), 0.0)],
        [(999, "w", t(3000), 0.0)],
        [(1, "p", t(5000), 0.0)],
        [(999, "w", t(10**6), 0.0)],
    ]

    def run(ttl):
        d = tempfile.mkdtemp(prefix="tjs_ttl_")
        for i, rows in enumerate(chunks):
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(f"{d}/{i:02d}")
        s = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(d + "/*")
        )
        probe = s.filter(F.col("side").isin("p", "w")).select(
            "k", F.col("ts").alias("pts")
        )
        ver = s.filter(F.col("side").isin("v", "w")).select(
            "k", F.col("ts").alias("vts"), F.col("payload")
        )
        out = temporal_join_stream(
            probe, ver, on="k", probe_time="pts", version_time="vts",
            right_cols=["payload"], how="inner",
            watermark_delay="0 seconds",
            version_ttl_seconds=ttl,
        )
        name = _run_to_table(out, "q_tjs_ttl", state_partitions=1)
        return spark.table(name).filter(F.col("k") == 1).toPandas()

    with_ttl = run(1000.0)
    assert len(with_ttl) == 0  # version expired before the probe emitted
    without = run(None)
    assert len(without) == 1 and without.iloc[0].payload == 7.0


def test_temporal_join_static_history_limit_guard(spark):
    """A streaming probe against an over-limit static history must
    refuse and point at the streaming path (bounded-side contract)."""
    import tempfile

    from flink_1_8_sourcecode_spark.operators.joins import (
        create_temporal_table_function,
        temporal_join,
    )

    hist = spark.createDataFrame(
        [(i % 3, dt.datetime(2024, 1, 1, 0, 0, i), float(i)) for i in range(50)],
        "k long, vt timestamp, payload double",
    )
    d = tempfile.mkdtemp(prefix="tj_guard_")
    hist.write.mode("overwrite").parquet(d)
    probe = spark.readStream.schema(hist.schema).parquet(d).select(
        "k", F.col("vt").alias("pt")
    )
    ttf = create_temporal_table_function(hist, "vt", "k")
    with pytest.raises(ValueError, match="static_history_limit"):
        temporal_join(probe, ttf, probe_time="pt", how="inner",
                      static_history_limit=10)


def test_temporal_join_batch_probe_streaming_history_raises(spark):
    """Review regression: a batch probe against a streaming history
    must refuse loudly instead of unioning batch with stream."""
    import tempfile

    from flink_1_8_sourcecode_spark.operators.joins import (
        create_temporal_table_function,
        temporal_join,
    )

    hist_b = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), 1.0)], "k long, vt timestamp, payload double"
    )
    d = tempfile.mkdtemp(prefix="tj_bps_")
    hist_b.write.mode("overwrite").parquet(d)
    hist_s = spark.readStream.schema(hist_b.schema).parquet(d)
    probe = hist_b.select("k", F.col("vt").alias("pt"))
    ttf = create_temporal_table_function(hist_s, "vt", "k")
    with pytest.raises(NotImplementedError, match="STREAMING version"):
        temporal_join(probe, ttf, probe_time="pt")


class TestChangelogAndSnapshot:
    def test_apply_changelog_semantics(self, spark):
        from flink_1_8_sourcecode_spark.operators.joins import apply_changelog

        base = spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
        )
        ch = spark.createDataFrame(
            [
                ("U", 1, 1, "a2"),   # update key 1
                ("U", 2, 1, "a3"),   # later update wins
                ("D", 1, 2, "b_x"),  # delete key 2
                ("U", 1, 2, "b2"),   # same version as delete: delete wins
                ("I", 1, 9, "new"),  # brand-new key
            ],
            "op string, version long, k long, v string",
        )
        got = {r["k"]: r["v"] for r in
               apply_changelog(base, ch, ["k"], "version").collect()}
        assert got == {1: "a3", 3: "c", 9: "new"}

    def test_snapshot_as_of_tiebreak(self, spark):
        from flink_1_8_sourcecode_spark.operators.joins import snapshot_as_of

        h = spark.createDataFrame(
            [
                (1, "2024-01-01 00:00:00", 10, "v1"),
                (1, "2024-01-02 00:00:00", 11, "v2"),
                (1, "2024-01-02 00:00:00", 12, "v2b"),  # equal ts: higher id wins
                (1, "2024-01-09 00:00:00", 13, "future"),
                (2, "2024-01-08 00:00:00", 14, "late"),  # after as_of: absent
            ],
            "k long, ts string, ver long, v string",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        got = {r["k"]: r["v"] for r in
               snapshot_as_of(h, ["k"], "ts", "2024-01-05 00:00:00",
                              tiebreak=["ver"]).collect()}
        assert got == {1: "v2b"}
