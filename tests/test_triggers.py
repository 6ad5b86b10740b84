"""Early-firing window triggers (CountTrigger.java /
ContinuousEventTimeTrigger.java parity): early partial emissions must
appear, and the final firings must equal the batch tumbling aggregate.
"""

from __future__ import annotations

import datetime as dt

import pandas as pd
from pyspark.sql import functions as F

from flink_1_8_sourcecode_spark.catalog import table
from flink_1_8_sourcecode_spark.streaming import sources
from flink_1_8_sourcecode_spark.streaming.arrow_state import key_group
from flink_1_8_sourcecode_spark.streaming.triggers import triggered_tumble_agg
from tests.conftest import SF_SMALL, assert_frames_match

WINDOW_S = 7 * 86400.0  # weekly: sf0.001 is sparse, early firings need multi-event windows
EVENTS_DDL = (
    "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
)


def _drain(spark, out, name):
    """Run a bounded stream into a memory table; return its rows and the
    most state rows the stateful operator held after any micro-batch."""
    q = out.writeStream.format("memory").queryName(name).outputMode("append").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    state_rows = max(
        (op["numRowsTotal"] for p in q.recentProgress for op in p["stateOperators"]),
        default=0,
    )
    return spark.table(name).toPandas(), state_rows


def _key_groups_of_users(spark):
    """(distinct users incl. the -1 sentinel, distinct key groups they hash to)."""
    users = table(spark, SF_SMALL, "events").select("user_id").union(
        spark.createDataFrame([(-1,)], "user_id long")
    ).distinct()
    return users.count(), users.select(key_group("user_id")).distinct().count()


def _run(spark, tmp_path, sub, trigger, purging=False):
    """(real-key output rows, most state rows held) of a triggered run."""
    chunks = str(tmp_path / sub)
    sources.write_event_chunks(spark, SF_SMALL, chunks, n_chunks=5)
    ev = table(spark, SF_SMALL, "events")
    max_ts = ev.agg(F.max("ts")).first()[0]
    sentinel = spark.createDataFrame(
        [(10**9, max_ts + dt.timedelta(days=30), -1, "noop", 0.0, "{}")], EVENTS_DDL
    )
    sentinel.write.mode("append").parquet(chunks + "/__chunk=zz_sentinel")
    stream = sources.read_event_stream(spark, chunks)
    out = triggered_tumble_agg(
        stream, key="user_id", time_col="ts", value_col="value",
        window_seconds=WINDOW_S, trigger=trigger, purging=purging,
        watermark_delay="0 seconds",
    )
    got, state_rows = _drain(spark, out, f"t_trig_{sub}")
    return got[got.user_id >= 0], state_rows


def _batch_expected(spark):
    ev = table(spark, SF_SMALL, "events")
    return (
        ev.groupBy("user_id", F.window("ts", "7 days").alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("total"))
        .select("user_id", F.col("w.start").alias("w_start"), "cnt", "total")
        .toPandas()
    )


def test_count_trigger_early_firings_and_final(spark, tmp_path):
    got, _ = _run(spark, tmp_path, "count_trig", trigger=("count", 5))
    early, final = got[~got.is_final], got[got.is_final]
    assert len(early) > 0  # CountTrigger fired before window close
    # every early firing reports a multiple-of-5 element count (FIRE, no purge)
    assert (early.cnt % 5 == 0).all()
    assert_frames_match(
        final[["user_id", "w_start", "cnt", "total"]].reset_index(drop=True),
        _batch_expected(spark),
        name="count_trigger_final",
    )


def test_continuous_event_time_trigger(spark, tmp_path):
    got, _ = _run(spark, tmp_path, "cont_trig", trigger=("continuous", 86400.0))
    early, final = got[~got.is_final], got[got.is_final]
    assert len(early) > 0  # fired at daily boundaries inside weekly windows
    assert_frames_match(
        final[["user_id", "w_start", "cnt", "total"]].reset_index(drop=True),
        _batch_expected(spark),
        name="continuous_trigger_final",
    )


def test_count_evictor_keeps_last_n(spark, tmp_path):
    """CountEvictor.java parity: the window aggregate sees only the last
    n elements in event-time order; finals checked against a batch
    row_number-from-end computation."""
    from pyspark.sql import Window

    from flink_1_8_sourcecode_spark.streaming.evictors import evicted_tumble_agg

    chunks = str(tmp_path / "evict_chunks")
    sources.write_event_chunks(spark, SF_SMALL, chunks, n_chunks=4)
    ev = table(spark, SF_SMALL, "events")
    max_ts = ev.agg(F.max("ts")).first()[0]
    sentinel = spark.createDataFrame(
        [(10**9, max_ts + dt.timedelta(days=30), -1, "noop", 0.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    sentinel.write.mode("append").parquet(chunks + "/__chunk=zz_sentinel")
    stream = sources.read_event_stream(spark, chunks)
    out = evicted_tumble_agg(
        stream, key="user_id", time_col="ts", value_col="value",
        window_seconds=WINDOW_S, evictor=("count", 3),
    )
    q = out.writeStream.format("memory").queryName("t_evict").outputMode("append").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.table("t_evict").toPandas()
    got = got[got.user_id >= 0].reset_index(drop=True)
    assert (got.cnt <= 3).all()

    w = Window.partitionBy("user_id", F.window("ts", "7 days")).orderBy(F.col("ts").desc())
    expected = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .groupBy("user_id", F.window("ts", "7 days").alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("total"))
        .select("user_id", F.col("w.start").alias("w_start"), "cnt", "total")
        .toPandas()
    )
    assert_frames_match(got[["user_id", "w_start", "cnt", "total"]], expected,
                        name="count_evictor")


def test_time_evictor_keeps_recent_span(spark, tmp_path):
    """TimeEvictor.java parity: only elements within the span of the
    window's max timestamp survive."""
    from pyspark.sql import Window

    from flink_1_8_sourcecode_spark.streaming.evictors import evicted_tumble_agg

    chunks = str(tmp_path / "tevict_chunks")
    sources.write_event_chunks(spark, SF_SMALL, chunks, n_chunks=3)
    ev = table(spark, SF_SMALL, "events")
    max_ts = ev.agg(F.max("ts")).first()[0]
    sentinel = spark.createDataFrame(
        [(10**9, max_ts + dt.timedelta(days=30), -1, "noop", 0.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    sentinel.write.mode("append").parquet(chunks + "/__chunk=zz_sentinel")
    stream = sources.read_event_stream(spark, chunks)
    span = 2 * 86400.0  # keep the last 2 days of each weekly window
    out = evicted_tumble_agg(
        stream, key="user_id", time_col="ts", value_col="value",
        window_seconds=WINDOW_S, evictor=("time", span),
    )
    q = out.writeStream.format("memory").queryName("t_tevict").outputMode("append").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.table("t_tevict").toPandas()
    got = got[got.user_id >= 0].reset_index(drop=True)

    w = Window.partitionBy("user_id", F.window("ts", "7 days"))
    expected = (
        ev.withColumn("__mx", F.max(F.col("ts").cast("timestamp").cast("double")).over(w))
        .filter(F.col("ts").cast("timestamp").cast("double") > F.col("__mx") - span)
        .groupBy("user_id", F.window("ts", "7 days").alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("total"))
        .select("user_id", F.col("w.start").alias("w_start"), "cnt", "total")
        .toPandas()
    )
    assert_frames_match(got[["user_id", "w_start", "cnt", "total"]], expected,
                        name="time_evictor")


def test_delta_trigger_early_firings_and_final(spark, tmp_path):
    """DeltaTrigger.java parity: FIRE when |value - last_fired| exceeds
    the threshold (comparison point updates on each fire); finals must
    still equal the batch aggregate."""
    got, _ = _run(spark, tmp_path, "delta_trig", trigger=("delta", 50.0))
    early, final = got[~got.is_final], got[got.is_final]
    assert len(early) > 0  # value jumps past 50 occur in every chunk
    assert_frames_match(
        final[["user_id", "w_start", "cnt", "total"]].reset_index(drop=True),
        _batch_expected(spark),
        name="delta_trigger_final",
    )


def test_delta_evictor_keeps_near_last(spark, tmp_path):
    """DeltaEvictor.java parity on a hand-built window: elements with
    delta(e, last) >= threshold are evicted before the aggregate."""
    import pandas as pd

    from flink_1_8_sourcecode_spark.streaming.evictors import evicted_tumble_agg

    rows = [
        # one user, one daily window: values 10, 90, 45, 50 -> last = 50,
        # threshold 30 evicts 90 (delta 40) and keeps 10? no: |10-50|=40
        # evicted too; survivors = 45, 50
        (1, dt.datetime(2024, 1, 1, 0, 0, 0), 7, "e", 10.0, "{}"),
        (2, dt.datetime(2024, 1, 1, 6, 0, 0), 7, "e", 90.0, "{}"),
        (3, dt.datetime(2024, 1, 1, 12, 0, 0), 7, "e", 45.0, "{}"),
        (4, dt.datetime(2024, 1, 1, 18, 0, 0), 7, "e", 50.0, "{}"),
        # sentinel advances the watermark past the window
        (9, dt.datetime(2024, 3, 1), -1, "noop", 0.0, "{}"),
    ]
    chunks = str(tmp_path / "devict_chunks")
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    for i, r in enumerate(rows):
        spark.createDataFrame([r], schema).write.mode("append").parquet(
            f"{chunks}/__chunk={i}"
        )
    stream = sources.read_event_stream(spark, chunks)
    out = evicted_tumble_agg(
        stream, key="user_id", time_col="ts", value_col="value",
        window_seconds=86400.0, evictor=("delta", 30.0),
    )
    q = out.writeStream.format("memory").queryName("t_devict").outputMode("append").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.table("t_devict").toPandas()
    got = got[got.user_id >= 0].reset_index(drop=True)
    assert len(got) == 1
    assert int(got.cnt.iloc[0]) == 2  # 45 and 50 survive
    assert float(got.total.iloc[0]) == 95.0
    assert pd.Timestamp(got.w_start.iloc[0]) == pd.Timestamp("2024-01-01")


def test_count_trigger_bucketed_key_groups_same_result(spark, tmp_path):
    """State is sharded into Flink-style key groups
    (KeyGroupRangeAssignment.java): the operator never holds more state
    rows than the users' key groups, fewer than the users themselves,
    and the result equals the batch aggregate — early-fire invariants
    and finals alike."""
    got, state_rows = _run(spark, tmp_path, "kg_trig", trigger=("count", 5))
    n_users, n_groups = _key_groups_of_users(spark)
    assert 0 < state_rows <= n_groups < n_users
    early, final = got[~got.is_final], got[got.is_final]
    assert len(early) > 0
    assert (early.cnt % 5 == 0).all()
    assert_frames_match(
        final[["user_id", "w_start", "cnt", "total"]].reset_index(drop=True),
        _batch_expected(spark),
        name="count_trigger_bucketed_final",
    )


def test_string_key_matches_batch_aggregate(spark, tmp_path):
    """Key-group state keeps the key in its own Spark type: a string key
    streams through the trigger and its finals equal the batch tumbling
    aggregate on the same string key."""
    chunks = str(tmp_path / "str_key")
    sources.write_event_chunks(spark, SF_SMALL, chunks, n_chunks=4)
    ev = table(spark, SF_SMALL, "events")
    max_ts = ev.agg(F.max("ts")).first()[0]
    spark.createDataFrame(
        [(10**9, max_ts + dt.timedelta(days=30), -1, "noop", 0.0, "{}")], EVENTS_DDL
    ).write.mode("append").parquet(chunks + "/__chunk=zz_sentinel")
    as_str = F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("uid")
    stream = sources.read_event_stream(spark, chunks).select(as_str, "ts", "value")
    out = triggered_tumble_agg(
        stream, key="uid", time_col="ts", value_col="value",
        window_seconds=WINDOW_S, trigger=("count", 5),
    )
    got, _ = _drain(spark, out, "t_trig_str_key")
    final = got[got.is_final & (got.uid != "u-1")]
    expected = (
        ev.groupBy(as_str, F.window("ts", "7 days").alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("total"))
        .select("uid", F.col("w.start").alias("w_start"), "cnt", "total")
        .toPandas()
    )
    assert final.uid.map(type).eq(str).all()
    assert_frames_match(
        final[["uid", "w_start", "cnt", "total"]].reset_index(drop=True),
        expected,
        name="string_key_trigger_final",
    )


def test_long_keys_beyond_float_precision_stay_distinct(spark, tmp_path):
    """Keys 2**53 and 2**53 + 1 round to the same float64, so key-group
    state that carried keys as floats merged them into one.  Both the
    trigger and the evictor must return them distinct and exact."""
    import pandas as pd

    from flink_1_8_sourcecode_spark.streaming.evictors import evicted_tumble_agg

    k1, k2 = 2**53, 2**53 + 1
    rows = [
        (1, dt.datetime(2024, 1, 1, 1), k1, "e", 1.0, "{}"),
        (2, dt.datetime(2024, 1, 1, 2), k2, "e", 10.0, "{}"),
        (3, dt.datetime(2024, 1, 1, 3), k1, "e", 2.0, "{}"),
        # sentinel advances the watermark past the window
        (9, dt.datetime(2024, 3, 1), -1, "noop", 0.0, "{}"),
    ]
    chunks = str(tmp_path / "big_keys")
    for i, r in enumerate(rows):
        spark.createDataFrame([r], EVENTS_DDL).write.mode("append").parquet(
            f"{chunks}/__chunk={i}"
        )
    day = pd.Timestamp("2024-01-01")
    expected = {(k1, day, 2, 3.0), (k2, day, 1, 10.0)}
    runs = {
        "trigger": lambda s: triggered_tumble_agg(
            s, key="user_id", time_col="ts", value_col="value",
            window_seconds=86400.0, trigger=("count", 100),
        ),
        "evictor": lambda s: evicted_tumble_agg(
            s, key="user_id", time_col="ts", value_col="value",
            window_seconds=86400.0, evictor=("count", 100),
        ),
    }
    for kind, build in runs.items():
        got, _ = _drain(spark, build(sources.read_event_stream(spark, chunks)),
                        f"t_big_keys_{kind}")
        got = got[got.user_id >= 0]
        assert {
            (int(u), pd.Timestamp(w), int(c), float(t))
            for u, w, c, t in zip(got.user_id, got.w_start, got.cnt, got.total)
        } == expected, (kind, got)


def test_purging_count_trigger_emits_deltas(spark, tmp_path):
    """PurgingTrigger(CountTrigger) parity: each early firing reports
    only the delta since the last firing; summed early deltas + the
    final residue equal the full batch window total."""
    got, _ = _run(spark, tmp_path, "purge_trig", trigger=("count", 5), purging=True)
    early = got[~got.is_final]
    assert len(early) > 0
    assert (early.cnt == 5).all()  # each FIRE_AND_PURGE covers exactly 5 rows
    per_window = got.groupby(["user_id", "w_start"]).agg(
        cnt=("cnt", "sum"), total=("total", "sum")
    ).reset_index()
    assert_frames_match(per_window, _batch_expected(spark), name="purging_trigger")


def test_scan_group_matches_per_row_reference():
    """The vectorized firing math (_scan_group) must be element-for-
    element equal to the reference's per-row onElement loop
    (CountTrigger.java / DeltaTrigger.java semantics), including
    purging resets and state carried across micro-batches."""
    import math
    import random

    import numpy as np

    from flink_1_8_sourcecode_spark.streaming.triggers import _scan_group

    def ref_scan(kind, param, purging, delta_fn, acc, wvals):
        # transcription of the per-row loop this repo shipped before the
        # vectorization (itself oracle-validated)
        emits = []
        for v in wvals:
            v = float(v)
            acc[0] += 1
            acc[1] += v
            if kind == "count":
                acc[2] += 1
                if acc[2] >= param:
                    emits.append((acc[0], acc[1]))
                    if purging:
                        acc[0], acc[1] = 0, 0.0
                    acc[2] = 0
            elif kind == "delta":
                if acc[2] is None or acc[2] != acc[2]:  # empty ValueState
                    acc[2] = v
                elif delta_fn(acc[2], v) > param:
                    emits.append((acc[0], acc[1]))
                    if purging:
                        acc[0], acc[1] = 0, 0.0
                    acc[2] = v
        return emits

    rng = random.Random(42)
    dfn = lambda last, cur: abs(cur - last)  # noqa: E731
    for trial in range(200):
        kind = rng.choice(["count", "delta"])
        param = rng.randint(1, 5) if kind == "count" else rng.uniform(0.5, 3.0)
        purging = rng.random() < 0.5
        n = rng.randint(0, 40)
        vals = [round(rng.uniform(-5, 5), 3) for _ in range(n)]
        # random micro-batch boundaries
        cuts = sorted(rng.sample(range(n + 1), rng.randint(0, min(4, n)))) if n else []
        batches, prev = [], 0
        for c in cuts + [n]:
            batches.append(vals[prev:c])
            prev = c

        acc_v = [0, 0.0, 0.0 if kind == "count" else float("nan")]
        acc_r = [0, 0.0, 0 if kind == "count" else None]
        got, exp = [], []
        for b in batches:
            fires, cnts, tots = _scan_group(
                kind, param, purging, dfn, acc_v, np.asarray(b, dtype=float)
            )
            got.extend(zip(cnts.tolist(), tots.tolist()))
            exp.extend(ref_scan(kind, param, purging, dfn, acc_r, b))

        ctx = (trial, kind, param, purging, vals, cuts)
        assert len(got) == len(exp), ctx
        for (gc, gt), (ec, et) in zip(got, exp):
            assert int(gc) == int(ec) and math.isclose(gt, et, abs_tol=1e-9), ctx
        assert acc_v[0] == acc_r[0], ctx
        assert math.isclose(acc_v[1], acc_r[1], abs_tol=1e-9), ctx
        cv, cr = acc_v[2], acc_r[2]
        if kind == "count":
            assert int(cv) == int(cr), ctx
        else:
            both_unset = (cv != cv) and (cr is None or cr != cr)
            assert both_unset or math.isclose(cv, cr, abs_tol=1e-9), ctx


def test_evictor_bucketed_key_groups_same_result(spark, tmp_path):
    """evicted_tumble_agg keeps its element buffers per key group: never
    more state rows than the users' key groups, fewer than the users,
    and the count-evictor windows equal the batch last-n reference."""
    from pyspark.sql import Window

    from flink_1_8_sourcecode_spark.streaming.evictors import evicted_tumble_agg

    chunks = str(tmp_path / "kg_evict")
    sources.write_event_chunks(spark, SF_SMALL, chunks, n_chunks=3)
    ev = table(spark, SF_SMALL, "events")
    max_ts = ev.agg(F.max("ts")).first()[0]
    sentinel = spark.createDataFrame(
        [(10**9, max_ts + dt.timedelta(days=30), -1, "noop", 0.0, "{}")], EVENTS_DDL
    )
    sentinel.write.mode("append").parquet(chunks + "/__chunk=zz_sentinel")

    stream = sources.read_event_stream(spark, chunks)
    out = evicted_tumble_agg(
        stream, key="user_id", time_col="ts", value_col="value",
        window_seconds=WINDOW_S, evictor=("count", 3),
    )
    got, state_rows = _drain(spark, out, "t_kg_evict")
    got = got[got.user_id >= 0].reset_index(drop=True)
    n_users, n_groups = _key_groups_of_users(spark)
    assert 0 < state_rows <= n_groups < n_users

    w = Window.partitionBy("user_id", F.window("ts", "7 days")).orderBy(F.col("ts").desc())
    expected = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .groupBy("user_id", F.window("ts", "7 days").alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("total"))
        .select("user_id", F.col("w.start").alias("w_start"), "cnt", "total")
        .toPandas()
    )
    assert_frames_match(got[["user_id", "w_start", "cnt", "total"]], expected,
                        name="evictor_key_groups")
