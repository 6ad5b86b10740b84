"""Continuous (non-windowed) streaming aggregation — the retraction-mode
group agg of the reference (DataStreamGroupAggregate.scala /
GroupAggProcessFunction.scala:39): final update-mode state must equal the
batch aggregate.  Also covers keyed rolling min/max (KeyedStream.java:730-986)
and a ProcessFunction-style running sum via the keyed_process wrapper.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from flink_1_8_sourcecode_spark.catalog import table
from flink_1_8_sourcecode_spark.streaming import sources, stateful
from tests.conftest import SF_SMALL, assert_frames_match


def _final_state(spark, q_builder, name: str, keys: list[str]) -> pd.DataFrame:
    query = q_builder.queryName(name).outputMode("update").start()
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    got = spark.table(name).toPandas()
    return got.drop_duplicates(subset=keys, keep="last")


def test_continuous_group_agg_equals_batch(spark, tmp_path):
    chunks = str(tmp_path / "chunks")
    sources.write_event_chunks(spark, SF_SMALL, chunks, n_chunks=5)
    stream = sources.read_event_stream(spark, chunks)
    agg = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("value").alias("total"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    )
    got = _final_state(spark, agg.writeStream.format("memory"), "t_cont_agg", ["event_type"])
    expected = (
        table(spark, SF_SMALL, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("value").alias("total"),
            F.min("value").alias("vmin"),
            F.max("value").alias("vmax"),
        )
        .toPandas()
    )
    assert_frames_match(got, expected, name="continuous_group_agg")


def test_keyed_rolling_max_by(spark, tmp_path):
    chunks = str(tmp_path / "chunks2")
    sources.write_event_chunks(spark, SF_SMALL, chunks, n_chunks=4)
    stream = sources.read_event_stream(spark, chunks)
    agg = stream.groupBy("user_id").agg(
        F.max_by("event_id", "value").alias("biggest_event"),
        F.max("value").alias("vmax"),
    )
    got = _final_state(spark, agg.writeStream.format("memory"), "t_maxby", ["user_id"])
    expected = (
        table(spark, SF_SMALL, "events")
        .groupBy("user_id")
        .agg(
            F.max_by("event_id", "value").alias("biggest_event"),
            F.max("value").alias("vmax"),
        )
        .toPandas()
    )
    assert_frames_match(got, expected, name="keyed_rolling_max_by")


def test_event_time_running_agg_equals_batch_over(spark, tmp_path):
    """Streaming unbounded OVER == batch Window: per-event running sums
    must agree for every event that stabilized behind the watermark
    (a far-future sentinel flushes everything)."""
    import datetime as dt

    from pyspark.sql import Window

    chunks = str(tmp_path / "chunks_over")
    sources.write_event_chunks(spark, SF_SMALL, chunks, n_chunks=5)
    ev = table(spark, SF_SMALL, "events")
    max_ts = ev.agg(F.max("ts")).first()[0]
    sentinel = spark.createDataFrame(
        [(10**9, max_ts + dt.timedelta(days=30), -1, "noop", 0.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    sentinel.write.mode("append").parquet(chunks + "/__chunk=zz_sentinel")

    stream = sources.read_event_stream(spark, chunks)
    out = stateful.event_time_running_agg(
        stream, key="user_id", time_col="ts", value_col="value",
        watermark_delay="30 minutes", tiebreak="event_id",
    )
    q = out.writeStream.format("memory").queryName("t_run_over").outputMode("append").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.table("t_run_over").toPandas()
    got = got[got.user_id >= 0][["user_id", "event_id", "running_sum", "running_cnt"]]

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    expected = ev.select(
        "user_id",
        "event_id",
        F.sum("value").over(w).alias("running_sum"),
        F.count(F.lit(1)).over(w).alias("running_cnt"),
    ).toPandas()
    assert len(got) == len(expected)
    assert_frames_match(got, expected, name="event_time_running_agg")


def test_keyed_process_running_sum(spark, tmp_path):
    """ProcessFunction-grade API: per-key running sum emitted per batch."""
    from pyspark.sql.streaming.state import GroupState

    chunks = str(tmp_path / "chunks3")
    sources.write_event_chunks(spark, SF_SMALL, chunks, n_chunks=4)
    stream = sources.read_event_stream(spark, chunks).select("user_id", "value")

    def running_sum(key, batches, state: GroupState):
        total = state.get[0] if state.exists else 0.0
        n = 0
        for pdf in batches:
            total += float(pdf["value"].sum())
            n += len(pdf)
        state.update((total,))
        yield pd.DataFrame({"user_id": [key[0]], "running_total": [total], "batch_rows": [n]})

    out = stateful.keyed_process(
        stream,
        ["user_id"],
        running_sum,
        output_schema="user_id long, running_total double, batch_rows int",
        state_schema="total double",
    )
    got = _final_state(spark, out.writeStream.format("memory"), "t_proc", ["user_id"])
    expected = (
        table(spark, SF_SMALL, "events")
        .groupBy("user_id")
        .agg(F.sum("value").alias("running_total"))
        .toPandas()
    )
    merged = got.merge(expected, on="user_id", suffixes=("_got", "_exp"))
    assert len(merged) == len(expected)
    assert (abs(merged.running_total_got - merged.running_total_exp) < 1e-6).all()


def _sentineled_chunks(spark, tmp_path, name, n_chunks=4):
    import datetime as dt

    chunks = str(tmp_path / name)
    sources.write_event_chunks(spark, SF_SMALL, chunks, n_chunks=n_chunks)
    ev = table(spark, SF_SMALL, "events")
    max_ts = ev.agg(F.max("ts")).first()[0]
    sentinel = spark.createDataFrame(
        [(10**9, max_ts + dt.timedelta(days=30), -1, "noop", 0.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    sentinel.write.mode("append").parquet(chunks + "/__chunk=zz_sentinel")
    return chunks, ev


def test_event_time_bounded_rows_over_equals_batch(spark, tmp_path):
    """Streaming bounded ROWS OVER (RowTimeBoundedRowsOver.scala:44) ==
    batch Window.rowsBetween(-n, 0): per-event frame sums/counts agree
    for every event behind the watermark."""
    from pyspark.sql import Window

    chunks, ev = _sentineled_chunks(spark, tmp_path, "chunks_brows")
    stream = sources.read_event_stream(spark, chunks)
    out = stateful.event_time_bounded_agg(
        stream, key="user_id", time_col="ts", value_col="value",
        watermark_delay="30 minutes", preceding_rows=2, tiebreak="event_id",
    )
    q = out.writeStream.format("memory").queryName("t_brows").outputMode("append").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.table("t_brows").toPandas()
    got = got[got.user_id >= 0][["user_id", "event_id", "w_sum", "w_cnt"]]

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    expected = ev.select(
        "user_id", "event_id",
        F.sum("value").over(w).alias("w_sum"),
        F.count(F.lit(1)).over(w).alias("w_cnt"),
    ).toPandas()
    assert len(got) == len(expected)
    assert_frames_match(got, expected, name="bounded_rows_over")


def test_event_time_bounded_range_over_equals_batch(spark, tmp_path):
    """Streaming bounded RANGE OVER (RowTimeBoundedRangeOver.scala) ==
    batch Window.rangeBetween over epoch seconds (peer-inclusive)."""
    from pyspark.sql import Window

    RANGE_S = 6 * 3600
    chunks, ev = _sentineled_chunks(spark, tmp_path, "chunks_brange")
    stream = sources.read_event_stream(spark, chunks)
    out = stateful.event_time_bounded_agg(
        stream, key="user_id", time_col="ts", value_col="value",
        watermark_delay="30 minutes", preceding_seconds=float(RANGE_S),
        tiebreak="event_id",
    )
    q = out.writeStream.format("memory").queryName("t_brange").outputMode("append").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.table("t_brange").toPandas()
    got = got[got.user_id >= 0][["user_id", "event_id", "w_sum", "w_cnt"]]

    w = (
        Window.partitionBy("user_id")
        # events.ts is TIMESTAMP_NTZ: route via LTZ for the epoch cast
        .orderBy(F.col("ts").cast("timestamp_ltz").cast("long"))
        .rangeBetween(-RANGE_S, 0)
    )
    expected = ev.select(
        "user_id", "event_id",
        F.sum("value").over(w).alias("w_sum"),
        F.count(F.lit(1)).over(w).alias("w_cnt"),
    ).toPandas()
    assert len(got) == len(expected)
    assert_frames_match(got, expected, name="bounded_range_over")


def test_streaming_rate_limit_equals_batch(spark, tmp_path):
    """Online rate limit == batch rate_limit on the same replayed data:
    the admitted set is identical (backfill reproducibility)."""
    from flink_1_8_sourcecode_spark.operators.sampling import rate_limit
    from flink_1_8_sourcecode_spark.streaming.stateful import (
        streaming_rate_limit,
    )

    chunks, ev = _sentineled_chunks(spark, tmp_path, "chunks_rl")
    stream = sources.read_event_stream(spark, chunks)
    out = streaming_rate_limit(
        stream, key="user_id", time_col="ts", id_col="event_id",
        k=2, window_seconds=86400, watermark_delay="30 minutes",
    )
    q = out.writeStream.format("memory").queryName("t_srl").outputMode("append").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.table("t_srl").filter("user_id >= 0").select(
        "user_id", "event_id", "window_start"
    ).toPandas()

    want = rate_limit(
        ev, key_col="user_id", time_col="ts", id_col="event_id",
        k=2, window_seconds=86400,
    ).select("user_id", "event_id", "window_start").toPandas()
    key = ["user_id", "event_id"]
    got_s = got.sort_values(key).reset_index(drop=True)
    want_s = want.sort_values(key).reset_index(drop=True)
    assert len(got_s) == len(want_s)
    assert (got_s[key + ["window_start"]].to_numpy()
            == want_s[key + ["window_start"]].to_numpy()).all()


def test_interval_seconds_parser():
    assert stateful._interval_seconds("30 minutes") == 1800.0
    assert stateful._interval_seconds("1 day") == 86400.0
    assert stateful._interval_seconds("500 milliseconds") == 0.5
    assert stateful._interval_seconds("2 weeks") == 2 * 604800.0
    # the short spellings Pattern.within takes
    assert stateful._interval_seconds("5 s") == 5.0
    assert stateful._interval_seconds("3 sec") == 3.0
    assert stateful._interval_seconds("2 m") == 120.0
    assert stateful._interval_seconds("4 min") == 240.0
    assert stateful._interval_seconds("1 h") == 3600.0
    assert stateful._interval_seconds("2 d") == 172800.0
    from flink_1_8_sourcecode_spark.cep.pattern import Pattern

    assert Pattern.begin("a").within("90 sec").within_seconds == 90.0
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unparseable"):
        stateful._interval_seconds("3 fortnights")
    with _pytest.raises(ValueError, match="unparseable"):
        stateful._interval_seconds("5 ms")


def test_bounded_rows_idle_state_retention(spark, tmp_path):
    """State-size regression for the ROWS-frame idle-key TTL
    (ProcessFunctionWithCleanupState parity): with a finite
    idle_retention_seconds a long keyed stream's state store SHRINKS
    once keys go idle; with retention=None the departed keys stay.
    Asserted on the state store's own numRowsTotal metric, not the
    output."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)

    def write_chunks(d):
        # chunk 0: keys 0..9 (3 rows each, minutes apart) + key 100
        rows0 = [
            (k * 10 + i, base + dt.timedelta(minutes=k * 3 + i), k, "e", 1.0, "{}")
            for k in range(10)
            for i in range(3)
        ] + [(1000, base + dt.timedelta(hours=1), 100, "e", 1.0, "{}")]
        spark.createDataFrame(rows0, sources.EVENTS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(d + "/__chunk=0")
        # chunks 1..5: ONLY key 100, marching 2 days per chunk — the
        # watermark advances while keys 0..9 idle
        for j in range(1, 6):
            spark.createDataFrame(
                [(1000 + j, base + dt.timedelta(days=2 * j), 100, "e", 1.0, "{}")],
                sources.EVENTS_SCHEMA,
            ).coalesce(1).write.mode("append").parquet(d + f"/__chunk={j}")

    def run(retention, name):
        d = str(tmp_path / name)
        write_chunks(d)
        stream = sources.read_event_stream(spark, d)
        out = stateful.event_time_bounded_agg(
            stream, key="user_id", time_col="ts", value_col="value",
            watermark_delay="1 hour", preceding_rows=2, tiebreak="event_id",
            idle_retention_seconds=retention,
        )
        q = (
            out.writeStream.format("memory").queryName(name)
            .outputMode("append").start()
        )
        try:
            q.processAllAvailable()
            state_rows = [
                p["stateOperators"][0]["numRowsTotal"]
                for p in q.recentProgress
                if p.get("stateOperators")
            ]
        finally:
            q.stop()
        return state_rows

    # 3-day TTL: keys 0..9 (last active day 0) are dropped once the
    # watermark passes day 3 — the store ends at exactly the one
    # still-active key
    ttl_rows = run(3 * 86400.0, "t_idle_ttl")
    assert max(ttl_rows) == 11, ttl_rows  # all keys were live at peak
    assert ttl_rows[-1] == 1, ttl_rows

    # retention=None (reference default): departed keys retained
    keep_rows = run(None, "t_idle_keep")
    assert keep_rows[-1] == 11, keep_rows
