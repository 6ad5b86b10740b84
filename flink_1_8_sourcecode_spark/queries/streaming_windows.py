"""Streaming-window queries with full DuckDB oracles.

DeltaTrigger / DeltaEvictor (flink-streaming-java/.../windowing/
triggers/DeltaTrigger.java, evictors/DeltaEvictor.java) run through the
real Structured Streaming path: the events table is replayed as chunked
micro-batches, the stateful window operator fires per the trigger /
evicts per the evictor, and the FINAL rows land in a memory sink.  The
returned DataFrame is that sink's content — trigger finals must equal
the batch tumbling aggregate, and delta-evictor finals must equal the
batch aggregate over the surviving elements, both SQL-expressible.
"""

from __future__ import annotations

import datetime as dt
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_1_8_sourcecode_spark.catalog import table
from flink_1_8_sourcecode_spark.queries import register
from flink_1_8_sourcecode_spark.streaming import sources

_WINDOW_S = 86400.0  # daily tumble
_TRIGGER_DELTA = 75.0
_EVICTOR_DELTA = 100.0


# replay-chunk layout per sf_dir, written once per process: the chunked
# parquet replay is INPUT FIXTURE, not operator work — every stream
# query re-reads it from a fresh file source (new checkpoint lists the
# directory from scratch), exactly like the batch queries re-reading
# the pre-existing testdata parquet.  Rewriting ~1.2 s of identical
# chunks per bench sample would charge fixture prep to the operator.
_CHUNK_CACHE: dict[str, str] = {}


def _replayed_stream(spark: SparkSession, sf_dir: str, prefix: str) -> DataFrame:
    """events replayed as 4 time-ordered chunks + a far-future sentinel
    row (user_id = -1) that closes every window by advancing the global
    watermark — the bounded-input end-of-stream convention."""
    import os

    chunks = _CHUNK_CACHE.get(sf_dir)
    if chunks is None or not os.path.isdir(chunks):
        chunks = tempfile.mkdtemp(prefix=prefix)
        sources.write_event_chunks(spark, sf_dir, chunks, n_chunks=4)
        max_ts = table(spark, sf_dir, "events").agg(F.max("ts")).first()[0]
        sentinel = spark.createDataFrame(
            [(10**9, max_ts + dt.timedelta(days=30), -1, "noop", 0.0, "{}")],
            sources.EVENTS_SCHEMA,
        )
        sentinel.write.mode("append").parquet(chunks + "/__chunk=zz_sentinel")
        _CHUNK_CACHE[sf_dir] = chunks
    return sources.read_event_stream(spark, chunks)


def _run_to_table(
    out: DataFrame,
    prefix: str,
    state_partitions: int | None = None,
    output_mode: str = "append",
) -> str:
    """Run a bounded streaming query to a memory sink.

    ``state_partitions`` sizes the stateful shuffle for the query — the
    analogue of Flink's per-operator parallelism (``setParallelism``):
    the state-partition count is fixed at stream start from
    ``spark.sql.shuffle.partitions`` and should match key cardinality ×
    state volume, not the session's batch default.  At 100 TB you raise
    it (hundreds-thousands); at bench scale (~1.5k keys, accumulators
    only) a handful of partitions avoids paying per-partition state-store
    commit + Python-worker round-trip overhead 32× per micro-batch.
    """
    import shutil

    name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    spark = out.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    # throwaway checkpoint: the bounded replay has no post-stop consumer
    # (sources.py: temp_checkpoint_dir)
    ckpt = sources.temp_checkpoint_dir(prefix)
    try:
        q = (
            out.writeStream.format("memory").queryName(name)
            .option("checkpointLocation", ckpt)
            .outputMode(output_mode).start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        shutil.rmtree(ckpt, ignore_errors=True)
    return name


@register(
    "window_delta_trigger",
    oracle="""
    SELECT user_id, time_bucket(INTERVAL '1 day', ts::TIMESTAMP) AS w_start,
           count(*) AS cnt, sum(value) AS total
    FROM events GROUP BY 1, 2
    """,
    doc="DeltaTrigger.java parity through the streaming path: daily "
    f"windows fire early when |value - last_fired_value| > {_TRIGGER_DELTA}; "
    "the FINAL firings (checked here) must equal the batch tumbling "
    "aggregate regardless of early fires.",
)
def window_delta_trigger(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_8_sourcecode_spark.streaming.triggers import triggered_tumble_agg

    stream = _replayed_stream(spark, sf_dir, "delta_trig_")
    out = triggered_tumble_agg(
        stream, key="user_id", time_col="ts", value_col="value",
        window_seconds=_WINDOW_S, trigger=("delta", _TRIGGER_DELTA),
    )
    name = _run_to_table(out, "q_delta_trigger", state_partitions=4)
    return (
        spark.table(name)
        .filter((F.col("user_id") >= 0) & F.col("is_final"))
        .select("user_id", "w_start", "cnt", "total")
    )


@register(
    "window_delta_evictor",
    oracle=f"""
    WITH b AS (
      SELECT user_id, value, ts::TIMESTAMP AS ts,
             time_bucket(INTERVAL '1 day', ts::TIMESTAMP) AS w_start
      FROM events
    ), lv AS (
      SELECT *, last_value(value) OVER (
               PARTITION BY user_id, w_start ORDER BY ts, value
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
             ) AS last_v
      FROM b
    )
    SELECT user_id, w_start, count(*) AS cnt, sum(value) AS total
    FROM lv WHERE abs(value - last_v) < {_EVICTOR_DELTA}
    GROUP BY 1, 2
    """,
    doc="DeltaEvictor.java parity through the streaming path: at firing, "
    f"elements with |value - last_element_value| >= {_EVICTOR_DELTA} are "
    "evicted before the window function (doEvictAfter=false); the oracle "
    "replays the same rule with a last_value window.",
)
def window_delta_evictor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_8_sourcecode_spark.streaming.evictors import evicted_tumble_agg

    stream = _replayed_stream(spark, sf_dir, "delta_evict_")
    out = evicted_tumble_agg(
        stream, key="user_id", time_col="ts", value_col="value",
        window_seconds=_WINDOW_S, evictor=("delta", _EVICTOR_DELTA),
    )
    name = _run_to_table(out, "q_delta_evictor", state_partitions=4)
    return (
        spark.table(name)
        .filter(F.col("user_id") >= 0)
        .select("user_id", "w_start", "cnt", "total")
    )


@register(
    "stream_dedup_within_watermark",
    oracle="""
    SELECT DISTINCT user_id, event_type FROM events
    """,
    doc="Streaming dedup-by-key (the reference's first-row-per-key "
    "GroupAggProcessFunction pattern on a STREAM): events replayed as "
    "micro-batches through dropDuplicatesWithinWatermark on (user_id, "
    "event_type) — state for a key expires once the watermark passes "
    "its event time plus the delay, bounding dedup state exactly like "
    "Flink's idle-state retention.  The emitted key set must equal "
    "batch DISTINCT.",
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _replayed_stream(spark, sf_dir, "dedup_wm_")
    out = (
        stream.withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    name = _run_to_table(out, "q_dedup_wm", state_partitions=4)
    return spark.table(name).filter(F.col("user_id") >= 0).distinct()


@register(
    "join_temporal_stream",
    oracle="""
    WITH probe AS (
      SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'
    ),
    ver AS (
      SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
    ),
    j AS (
      SELECT p.user_id, p.event_id, CAST(p.ts AS TIMESTAMP) AS click_ts,
             v.value AS purch_value,
             row_number() OVER (PARTITION BY p.user_id, p.event_id
                                ORDER BY v.ts DESC, v.value DESC) AS rn
      FROM probe p JOIN ver v
        ON v.user_id = p.user_id AND v.ts <= p.ts
    )
    SELECT user_id, event_id AS click_id, click_ts, purch_value
    FROM j WHERE rn = 1
    """,
    doc="STREAMING event-time temporal join (TemporalRowtimeJoin."
    "scala:63): clicks (probe) and purchases (version history) replayed "
    "as two streams from the same chunked source; each click emits, once "
    "the watermark passes its event time, joined with the latest "
    "purchase value at-or-before it (inner semantics — clicks with no "
    "prior purchase drop).  Finals must equal the batch as-of answer, "
    "which is the oracle's windowed backward scan.",
)
def join_temporal_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_8_sourcecode_spark.operators.joins import temporal_join_stream

    stream = _replayed_stream(spark, sf_dir, "tjoin_")
    probe = stream.filter(F.col("event_type").isin("click", "noop")).select(
        "user_id", F.col("event_id").alias("click_id"), "ts"
    )
    ver = stream.filter(F.col("event_type").isin("purchase", "noop")).select(
        "user_id", F.col("ts").alias("vts"), F.col("value").alias("purch_value")
    )
    out = temporal_join_stream(
        probe, ver, on="user_id", probe_time="ts", version_time="vts",
        right_cols=["purch_value"], how="inner",
        watermark_delay="10 minutes",
    )
    name = _run_to_table(out, "q_tjoin", state_partitions=4)
    return (
        spark.table(name)
        .filter(F.col("user_id") >= 0)
        .select(
            "user_id", "click_id", F.col("ts").alias("click_ts"), "purch_value"
        )
    )


@register(
    "over_stream_bounded_rows",
    oracle="""
    SELECT user_id, event_id, sum(value) OVER w AS w_sum,
           count(*) OVER w AS w_cnt
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
    doc="Streaming bounded ROWS OVER (RowTimeBoundedRowsOver.scala:44) "
    "through the replayed micro-batch path: per-event 3-row frame "
    "sum/count per user, finalized behind the watermark "
    "(streaming/stateful.py:event_time_bounded_agg).  The oracle is "
    "the batch ROWS window.",
)
def over_stream_bounded_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_8_sourcecode_spark.streaming import stateful

    stream = _replayed_stream(spark, sf_dir, "brows_")
    out = stateful.event_time_bounded_agg(
        stream, key="user_id", time_col="ts", value_col="value",
        watermark_delay="30 minutes", preceding_rows=2, tiebreak="event_id",
    )
    name = _run_to_table(out, "q_brows", state_partitions=4)
    return (
        spark.table(name)
        .filter(F.col("user_id") >= 0)
        .select("user_id", "event_id", "w_sum", "w_cnt")
    )


@register(
    "over_stream_bounded_range",
    oracle="""
    SELECT user_id, event_id, sum(value) OVER w AS w_sum,
           count(*) OVER w AS w_cnt
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 6 HOUR PRECEDING AND CURRENT ROW)
    """,
    doc="Streaming bounded RANGE OVER (RowTimeBoundedRangeOver.scala) "
    "through the replayed micro-batch path: per-event 6-hour "
    "event-time frame per user, peer-inclusive at the current "
    "timestamp (SQL RANGE semantics), finalized behind the watermark "
    "(streaming/stateful.py:event_time_bounded_agg).",
)
def over_stream_bounded_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_8_sourcecode_spark.streaming import stateful

    stream = _replayed_stream(spark, sf_dir, "brange_")
    out = stateful.event_time_bounded_agg(
        stream, key="user_id", time_col="ts", value_col="value",
        watermark_delay="30 minutes", preceding_seconds=6 * 3600.0,
        tiebreak="event_id",
    )
    name = _run_to_table(out, "q_brange", state_partitions=4)
    return (
        spark.table(name)
        .filter(F.col("user_id") >= 0)
        .select("user_id", "event_id", "w_sum", "w_cnt")
    )


@register(
    "datastream_api_tumble",
    oracle="""
    SELECT user_id,
           time_bucket(INTERVAL '1 day', ts::TIMESTAMP) AS w_start,
           count(*) AS cnt, round(sum(value), 4) AS total
    FROM events GROUP BY 1, 2
    """,
    doc="Daily per-user tumble THROUGH the fluent DataStream facade "
    "(datastream_api.py: StreamExecutionEnvironment.add_source -> "
    "assign_timestamps_and_watermarks -> key_by -> time_window -> "
    "aggregate; DataStream.java:285 keyBy, KeyedStream.java:390 "
    "timeWindow), run over the replayed micro-batch stream and "
    "finalized by the far-future sentinel.  The facade lowers to the "
    "same watermark+window aggregate as the native form.",
)
def datastream_api_tumble(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_8_sourcecode_spark.datastream_api import (
        StreamExecutionEnvironment,
    )

    env = StreamExecutionEnvironment.get_execution_environment(spark)
    stream = env.add_source(_replayed_stream(spark, sf_dir, "dsapi_"))
    out = (
        stream.assign_timestamps_and_watermarks("ts", "30 minutes")
        .key_by("user_id")
        .time_window("ts", "1 day")
        .aggregate(
            cnt=F.count(F.lit(1)), total=F.round(F.sum("value"), 4)
        )
    )
    name = _run_to_table(out.df, "q_dsapi", state_partitions=4)
    return (
        spark.table(name)
        .filter(F.col("user_id") >= 0)
        .select("user_id", "w_start", "cnt", "total")
    )


@register(
    "datastream_api_interval_join",
    oracle="""
    SELECT s.event_id AS signup_id, p.event_id AS purchase_id, s.user_id
    FROM events s JOIN events p
      ON s.user_id = p.user_id
     AND s.event_type = 'signup' AND p.event_type = 'purchase'
     AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 30 MINUTE
    """,
    doc="Stream-stream interval join THROUGH the fluent DataStream "
    "facade (KeyedStream.intervalJoin :414 -> between(0s, 30min); "
    "IntervalJoined lowers to operators/joins.py:interval_join): "
    "purchases within 30 minutes after a signup by the same user, run "
    "over the replayed micro-batch stream.  Both sides watermarked, so "
    "Spark's stream-stream join state is range-pruned — the same "
    "state-eviction contract as the reference's interval-join buffers.  "
    "Inner-join emission is watermark-independent (append mode), so "
    "the result equals the batch twin (= this oracle).",
)
def datastream_api_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_8_sourcecode_spark.datastream_api import DataStream

    src = _replayed_stream(spark, sf_dir, "dsij_")
    s = (
        DataStream(src)
        .filter(F.col("event_type") == "signup")
        .map(
            F.col("event_id").alias("signup_id"),
            F.col("user_id"),
            F.col("ts").alias("s_ts"),
        )
        .assign_timestamps_and_watermarks("s_ts", "1 hour")
        .key_by("user_id")
    )
    p = (
        DataStream(src)
        .filter(F.col("event_type") == "purchase")
        .map(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("u2"),
            F.col("ts").alias("p_ts"),
        )
        .assign_timestamps_and_watermarks("p_ts", "1 hour")
        .key_by("u2")
    )
    joined = s.interval_join(p, "s_ts", "p_ts").between("0 seconds", "30 minutes")
    name = _run_to_table(
        joined.map("signup_id", "purchase_id", F.col("user_id")).df,
        "q_dsij", state_partitions=4,
    )
    return spark.table(name).filter(F.col("user_id") >= 0)


@register(
    "datastream_api_window_join",
    oracle="""
    SELECT s.event_id AS signup_id, p.event_id AS view_id, s.user_id
    FROM events s JOIN events p
      ON s.user_id = p.user_id
     AND s.event_type = 'signup' AND p.event_type = 'view'
     AND time_bucket(INTERVAL '1 hour', s.ts::TIMESTAMP)
         = time_bucket(INTERVAL '1 hour', p.ts::TIMESTAMP)
    """,
    doc="Windowed stream-stream join THROUGH the fluent DataStream "
    "facade (DataStream.join :427 / JoinedStreams.java:128: same key, "
    "same 1-hour tumbling window): signups joined to views of the same "
    "user in the same bucket over the replayed stream.  Both sides "
    "watermarked at the window size, so bucket state evicts after one "
    "window of lateness — the reference's window-state eviction.",
)
def datastream_api_window_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_8_sourcecode_spark.datastream_api import DataStream

    src = _replayed_stream(spark, sf_dir, "dswj_")
    s = DataStream(src).filter(F.col("event_type") == "signup").map(
        F.col("event_id").alias("signup_id"),
        F.col("user_id").alias("u"),
        F.col("ts").alias("s_ts"),
    )
    p = DataStream(src).filter(F.col("event_type") == "view").map(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("u2"),
        F.col("ts").alias("p_ts"),
    )
    joined = (
        s.join(p).where("u").equal_to("u2")
        .window("s_ts", "p_ts", "1 hour")
        .map("signup_id", "view_id", F.col("u").alias("user_id"))
    )
    name = _run_to_table(joined.df, "q_dswj", state_partitions=4)
    return spark.table(name).filter(F.col("user_id") >= 0)


_COGROUP_ORACLE = """
    WITH s AS (
      SELECT user_id, time_bucket(INTERVAL '1 day', ts::TIMESTAMP) AS w,
             count(*) AS sc
      FROM events WHERE event_type = 'signup' GROUP BY 1, 2
    ), v AS (
      SELECT user_id, time_bucket(INTERVAL '1 day', ts::TIMESTAMP) AS w,
             count(*) AS vc
      FROM events WHERE event_type = 'view' GROUP BY 1, 2
    )
    SELECT COALESCE(s.user_id, v.user_id) AS user_id,
           COALESCE(s.w, v.w) AS w_start,
           COALESCE(sc, 0) AS signup_cnt,
           COALESCE(vc, 0) AS view_cnt
    FROM s FULL OUTER JOIN v ON s.user_id = v.user_id AND s.w = v.w
    """


@register(
    "datastream_api_cogroup",
    oracle=_COGROUP_ORACLE,
    doc="Windowed stream-stream coGroup THROUGH the fluent DataStream "
    "facade (DataStream.coGroup :457 / CoGroupedStreams.java:75): "
    "signups and views of the same user in the same daily bucket, the "
    "CoGroupFunction emitting one row per (user, day) group INCLUDING "
    "one-sided groups — the semantics a join cannot express.  Lowering: "
    "per-side watermark-finalized collect_list window buffers, full "
    "outer stream-stream join on (key, window), mapInPandas applies "
    "the function exactly once per group across micro-batches.  The "
    "far-future sentinel (user_id = -1) rides through both side "
    "filters to advance both watermarks, then is dropped from the "
    "result — the bounded-input end-of-stream convention.",
)
def datastream_api_cogroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_8_sourcecode_spark.datastream_api import DataStream

    src = _replayed_stream(spark, sf_dir, "dscg_")
    keep = F.col("user_id") < 0  # sentinel rides along to advance watermarks
    s = DataStream(src).filter((F.col("event_type") == "signup") | keep).map(
        F.col("user_id").alias("u"), F.col("ts").alias("s_ts")
    )
    v = DataStream(src).filter((F.col("event_type") == "view") | keep).map(
        F.col("user_id").alias("u2"), F.col("ts").alias("p_ts")
    )

    def cogroup_fn(l_pdf, r_pdf):
        import pandas as pd

        ts = l_pdf["s_ts"].iloc[0] if len(l_pdf) else r_pdf["p_ts"].iloc[0]
        uid = int(l_pdf["u"].iloc[0]) if len(l_pdf) else int(r_pdf["u2"].iloc[0])
        return pd.DataFrame(
            {
                "user_id": [uid],
                "w_start": [pd.Timestamp(ts).floor("D")],
                "signup_cnt": [len(l_pdf)],
                "view_cnt": [len(r_pdf)],
            }
        )

    out = (
        s.co_group(v)
        .where("u")
        .equal_to("u2")
        .window("s_ts", "p_ts", "1 day")
        .apply(
            cogroup_fn,
            "user_id long, w_start timestamp, signup_cnt long, view_cnt long",
            # r17 (VERDICT item 7): cogroup_fn reads its inputs only via
            # len() and column access, so it opts into the pandas
            # contract's columns-only fast path — same function body,
            # same results, no per-group DataFrame construction
            columns_only=True,
        )
    )
    name = _run_to_table(out.df, "q_dscg", state_partitions=4)
    return spark.table(name).filter(F.col("user_id") >= 0)


@register(
    "datastream_api_cogroup_arrow",
    oracle=_COGROUP_ORACLE,
    doc="The SAME windowed stream-stream coGroup under the opt-in "
    "ARROW-NATIVE CoGroupFunction contract "
    "(datastream_api.py:WindowedCoGroup.apply(contract='arrow')): the "
    "user function receives the two sides as zero-copy pyarrow.Table "
    "slices and returns a pyarrow.Table — no Arrow->pandas "
    "materialization per micro-batch and no per-group pandas "
    "machinery.  Same oracle as datastream_api_cogroup; the bench "
    "secondary set carries both so the contract's speedup is a "
    "recorded number, not a claim.",
)
def datastream_api_cogroup_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_8_sourcecode_spark.datastream_api import DataStream

    src = _replayed_stream(spark, sf_dir, "dscga_")
    keep = F.col("user_id") < 0
    s = DataStream(src).filter((F.col("event_type") == "signup") | keep).map(
        F.col("user_id").alias("u"), F.col("ts").alias("s_ts")
    )
    v = DataStream(src).filter((F.col("event_type") == "view") | keep).map(
        F.col("user_id").alias("u2"), F.col("ts").alias("p_ts")
    )

    import pyarrow as pa

    out_sch = pa.schema([
        ("user_id", pa.int64()), ("w_start", pa.timestamp("us")),
        ("signup_cnt", pa.int64()), ("view_cnt", pa.int64()),
    ])
    i64, tus = pa.int64(), pa.timestamp("us")

    def cogroup_fn(lt, rt):
        # Arrow-contract fast path: schema prebuilt (no per-group
        # inference), day floor via datetime.replace (no pandas)
        if len(lt):
            ts = lt.column("s_ts")[0].as_py()
            uid = lt.column("u")[0].as_py()
        else:
            ts = rt.column("p_ts")[0].as_py()
            uid = rt.column("u2")[0].as_py()
        w = ts.replace(hour=0, minute=0, second=0, microsecond=0)
        return pa.Table.from_arrays(
            [pa.array([uid], i64), pa.array([w], tus),
             pa.array([len(lt)], i64), pa.array([len(rt)], i64)],
            schema=out_sch,
        )

    out = (
        s.co_group(v)
        .where("u")
        .equal_to("u2")
        .window("s_ts", "p_ts", "1 day")
        .apply(
            cogroup_fn,
            "user_id long, w_start timestamp, signup_cnt long, view_cnt long",
            contract="arrow",
        )
    )
    name = _run_to_table(out.df, "q_dscga", state_partitions=4)
    return spark.table(name).filter(F.col("user_id") >= 0)


@register(
    "streaming_kmv_distinct",
    oracle="""
    WITH h AS (
      SELECT DISTINCT event_type,
             ((strpos('0123456789abcdef', md5(user_id::VARCHAR)[1]) - 1) * 16777216
            + (strpos('0123456789abcdef', md5(user_id::VARCHAR)[2]) - 1) * 1048576
            + (strpos('0123456789abcdef', md5(user_id::VARCHAR)[3]) - 1) * 65536
            + (strpos('0123456789abcdef', md5(user_id::VARCHAR)[4]) - 1) * 4096
            + (strpos('0123456789abcdef', md5(user_id::VARCHAR)[5]) - 1) * 256
            + (strpos('0123456789abcdef', md5(user_id::VARCHAR)[6]) - 1) * 16
            + (strpos('0123456789abcdef', md5(user_id::VARCHAR)[7]) - 1)) AS hv
      FROM events
    ), r AS (
      SELECT event_type, hv,
             row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn,
             count(*) OVER (PARTITION BY event_type) AS nd
      FROM h
    )
    SELECT event_type,
           count(*)::INT AS kmv_size,
           round(CASE WHEN max(nd) < 64 THEN max(nd)::DOUBLE
                      ELSE 63.0 * 268435456.0 / max(hv) END, 6) AS est_distinct
    FROM r WHERE rn <= 64
    GROUP BY event_type
    """,
    doc="ONLINE distinct-user estimate: the KMV k-minimum set folded "
    "per micro-batch with O(k) state per group "
    "(streaming/stateful.py:streaming_kmv_sketch); the final snapshot "
    "equals the batch sketch bit-for-bit in any arrival order "
    "(k-min sets are mergeable summaries), so the oracle is the BATCH "
    "sketch SQL — the stream==batch property is the whole check.  "
    "State never grows with the user-id key space, unlike a streaming "
    "COUNT(DISTINCT).",
)
def streaming_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_8_sourcecode_spark.streaming.stateful import streaming_kmv_sketch

    src = _replayed_stream(spark, sf_dir, "scg_kmv_").filter(F.col("user_id") >= 0)
    out = streaming_kmv_sketch(src, "event_type", "user_id", k=64)
    name = _run_to_table(out, "q_kmv", state_partitions=4, output_mode="update")
    return (
        spark.table(name)
        .groupBy("event_type")
        .agg(F.max_by(F.struct("kmv_size", "est_distinct"), "n_seen").alias("__f"))
        .select("event_type", F.col("__f.kmv_size").alias("kmv_size"),
                F.col("__f.est_distinct").alias("est_distinct"))
    )


@register(
    "streaming_cms_frequency",
    oracle="""
    WITH ds AS (SELECT unnest([0, 1]) AS d),
    h AS (
      SELECT d,
             ((strpos('0123456789abcdef', md5(user_id::VARCHAR || '#' || d::VARCHAR)[1]) - 1) * 16777216
            + (strpos('0123456789abcdef', md5(user_id::VARCHAR || '#' || d::VARCHAR)[2]) - 1) * 1048576
            + (strpos('0123456789abcdef', md5(user_id::VARCHAR || '#' || d::VARCHAR)[3]) - 1) * 65536
            + (strpos('0123456789abcdef', md5(user_id::VARCHAR || '#' || d::VARCHAR)[4]) - 1) * 4096
            + (strpos('0123456789abcdef', md5(user_id::VARCHAR || '#' || d::VARCHAR)[5]) - 1) * 256
            + (strpos('0123456789abcdef', md5(user_id::VARCHAR || '#' || d::VARCHAR)[6]) - 1) * 16
            + (strpos('0123456789abcdef', md5(user_id::VARCHAR || '#' || d::VARCHAR)[7]) - 1)) % 512 AS bucket
      FROM events, ds
    ), counters AS (
      SELECT d, bucket, count(*) AS cnt FROM h GROUP BY 1, 2
    ), probes AS (SELECT unnest([1, 7, 42, 987654321]) AS item),
    ph AS (
      SELECT item, d,
             ((strpos('0123456789abcdef', md5(item::VARCHAR || '#' || d::VARCHAR)[1]) - 1) * 16777216
            + (strpos('0123456789abcdef', md5(item::VARCHAR || '#' || d::VARCHAR)[2]) - 1) * 1048576
            + (strpos('0123456789abcdef', md5(item::VARCHAR || '#' || d::VARCHAR)[3]) - 1) * 65536
            + (strpos('0123456789abcdef', md5(item::VARCHAR || '#' || d::VARCHAR)[4]) - 1) * 4096
            + (strpos('0123456789abcdef', md5(item::VARCHAR || '#' || d::VARCHAR)[5]) - 1) * 256
            + (strpos('0123456789abcdef', md5(item::VARCHAR || '#' || d::VARCHAR)[6]) - 1) * 16
            + (strpos('0123456789abcdef', md5(item::VARCHAR || '#' || d::VARCHAR)[7]) - 1)) % 512 AS bucket
      FROM probes, ds
    )
    SELECT item, min(coalesce(cnt, 0))::BIGINT AS est_count
    FROM ph LEFT JOIN counters USING (d, bucket)
    GROUP BY item
    """,
    doc="ONLINE Count-Min: the counter table builds as a NATIVE "
    "streaming aggregation over the replayed event stream — state is "
    "exactly the depth x width counter grid (bounded regardless of "
    "the user-id key space), each micro-batch emits updated counters "
    "(update mode), and the final snapshot equals the batch sketch "
    "(counts are monotone, so max-per-cell of the update stream IS "
    "the final count).  Probing then reuses the batch cms_query "
    "broadcast join.  The oracle rebuilds the whole sketch in SQL.",
)
def streaming_cms_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_8_sourcecode_spark.operators.sketches import (
        _cms_bucket,
        cms_query,
    )

    width, depth = 512, 2
    src = _replayed_stream(spark, sf_dir, "scg_cms_").filter(F.col("user_id") >= 0)
    item = F.col("user_id").cast("string")
    rows = src.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        _cms_bucket(item, d, width).alias("bucket"),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("__e")
    ).select(F.col("__e.d").alias("d"), F.col("__e.bucket").alias("bucket"))
    counters_stream = rows.groupBy("d", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    name = _run_to_table(counters_stream, "q_cms", state_partitions=4,
                         output_mode="update")
    counters = (
        spark.table(name).groupBy("d", "bucket").agg(F.max("cnt").alias("cnt"))
    )
    probes = spark.createDataFrame(
        [(1,), (7,), (42,), (987654321,)], "item long"
    )
    return cms_query(counters, probes, "item", width=width, depth=depth)


_BOTTOMK_ORACLE = """
    WITH r AS (
      SELECT event_type, event_id,
             row_number() OVER (
               PARTITION BY event_type
               ORDER BY md5(event_id::VARCHAR), event_id) AS rn
      FROM events WHERE user_id >= 0
    )
    SELECT event_type, event_id FROM r WHERE rn <= 8
    """


@register(
    "sample_uniform_bottomk",
    oracle=_BOTTOMK_ORACLE,
    doc="Deterministic uniform k-sample per group "
    "(operators/sampling.py:uniform_sample_bottomk): bottom-k by "
    "salted md5(id) — the mergeable-summary formulation of reservoir "
    "sampling (partition bottom-k sets merge to the global answer, a "
    "classic random reservoir cannot).  Map-only hash key + the "
    "two-pass distributed rank; same ids win on every engine/run.",
)
def sample_uniform_bottomk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_8_sourcecode_spark.operators.sampling import (
        uniform_sample_bottomk,
    )

    ev = table(spark, sf_dir, "events").filter(F.col("user_id") >= 0)
    return uniform_sample_bottomk(ev, "event_type", "event_id", k=8).select(
        "event_type", "event_id"
    )


@register(
    "streaming_uniform_sample",
    oracle=_BOTTOMK_ORACLE,
    doc="ONLINE uniform k-sample per group "
    "(streaming/stateful.py:streaming_uniform_sample): each "
    "micro-batch folds (md5(id), id) pairs into the per-group "
    "bottom-k set — O(k) state, never the key space — and the final "
    "snapshot equals the BATCH sample exactly in any arrival order "
    "(bottom-k is a mergeable summary).  The oracle is the batch "
    "sample's SQL: stream == batch is the whole check.",
)
def streaming_uniform_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_8_sourcecode_spark.streaming.stateful import (
        streaming_uniform_sample,
    )

    src = _replayed_stream(spark, sf_dir, "scg_usmp_").filter(
        F.col("user_id") >= 0
    )
    out = streaming_uniform_sample(src, "event_type", "event_id", k=8)
    name = _run_to_table(out, "q_usmp", state_partitions=4,
                         output_mode="update")
    final = (
        spark.table(name)
        .groupBy("event_type")
        .agg(F.max_by("sample_ids", "n_seen").alias("sample_ids"))
    )
    return final.select(
        "event_type", F.explode("sample_ids").alias("event_id")
    )


_PSI_EDGES = [0.5, 1.0, 2.0, 5.0, 10.0]

_PSI_ORACLE = """
    WITH rh AS (
      SELECT len(list_filter([0.5, 1.0, 2.0, 5.0, 10.0],
                             e -> value >= e))::INT AS bucket,
             count(*) AS n
      FROM events WHERE event_type = 'view' AND value IS NOT NULL
      GROUP BY 1
    ), lh AS (
      SELECT len(list_filter([0.5, 1.0, 2.0, 5.0, 10.0],
                             e -> value >= e))::INT AS bucket,
             count(*) AS n
      FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
      GROUP BY 1
    ), spine AS (SELECT unnest(range(6))::INT AS bucket),
    rt AS (SELECT sum(n) AS t FROM rh), lt AS (SELECT sum(n) AS t FROM lh)
    SELECT s.bucket,
           coalesce(rh.n, 0)::BIGINT AS n_ref,
           coalesce(lh.n, 0)::BIGINT AS n_live,
           round(((coalesce(lh.n, 0) + 0.5) / (lt.t + 3.0)
                - (coalesce(rh.n, 0) + 0.5) / (rt.t + 3.0))
               * ln(((coalesce(lh.n, 0) + 0.5) / (lt.t + 3.0))
                  / ((coalesce(rh.n, 0) + 0.5) / (rt.t + 3.0))),
                 8) AS psi_contrib
    FROM spine s
    LEFT JOIN rh ON rh.bucket = s.bucket
    LEFT JOIN lh ON lh.bucket = s.bucket
    CROSS JOIN rt CROSS JOIN lt
    """


@register(
    "pipeline_psi_drift",
    oracle=_PSI_ORACLE,
    doc="Population Stability Index drift detection "
    "(operators/pipeline.py:psi_drift): per-bucket "
    "(p_live - p_ref) * ln(p_live / p_ref) with deterministic Laplace "
    "smoothing, between the view-event and purchase-event value "
    "distributions.  Two map-side-combined histogram exchanges "
    "(<= n_buckets rows each), broadcast-only afterwards — the "
    "is-my-ingest-distribution-still-the-training-one gate at any "
    "corpus size.",
)
def pipeline_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_8_sourcecode_spark.operators.pipeline import psi_drift

    ev = table(spark, sf_dir, "events")
    return psi_drift(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "purchase"),
        "value",
        _PSI_EDGES,
    )


@register(
    "streaming_psi_drift",
    oracle=_PSI_ORACLE,
    doc="ONLINE PSI drift gate: the live histogram builds as a NATIVE "
    "streaming aggregation over the replayed purchase stream — state "
    "is exactly the n_buckets counter rows (bounded regardless of "
    "stream length), counts are monotone so max-per-bucket of the "
    "update stream IS the final histogram — then the same broadcast "
    "PSI math joins it against the frozen reference histogram.  "
    "Oracle = the batch PSI SQL: stream == batch.",
)
def streaming_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_8_sourcecode_spark.operators.pipeline import (
        bucketize,
        histogram,
        psi_from_histograms,
    )

    ev = table(spark, sf_dir, "events")
    ref_hist = histogram(
        ev.filter(F.col("event_type") == "view"), "value", _PSI_EDGES
    )
    src = _replayed_stream(spark, sf_dir, "scg_psi_").filter(
        (F.col("event_type") == "purchase") & F.col("user_id").__ge__(0)
    )
    live_stream = (
        src.select(bucketize(F.col("value"), _PSI_EDGES).alias("bucket"))
        .filter(F.col("bucket").isNotNull())
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    name = _run_to_table(live_stream, "q_psi", state_partitions=4,
                         output_mode="update")
    live_hist = spark.table(name).groupBy("bucket").agg(
        F.max("cnt").alias("cnt")
    )
    return psi_from_histograms(ref_hist, live_hist, len(_PSI_EDGES) + 1)


@register(
    "streaming_approx_quantiles",
    oracle="""
    WITH s AS (
      SELECT event_type, event_id, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY md5(event_id::VARCHAR), event_id)
               AS srn
      FROM events WHERE user_id >= 0
    ), samp AS (
      SELECT event_type, event_id, value FROM s WHERE srn <= 64
    ), r AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM samp
    ), qs AS (
      SELECT * FROM (VALUES (0.1, 1, 10), (0.5, 1, 2), (0.9, 9, 10))
        t(q, num, den)
    )
    SELECT r.event_type, qs.q AS q, r.value AS value
    FROM r JOIN qs
      ON r.rn = greatest(1, (qs.num * r.n + qs.den - 1) // qs.den)
    """,
    doc="ONLINE approximate quantiles: the bottom-k uniform sample "
    "builds incrementally over the replayed stream with O(k) state "
    "per group (streaming/stateful.py:streaming_uniform_sample), "
    "converging to the exact same k rows as the batch sampler in any "
    "arrival order — then the sampled ids join back their values and "
    "the exact ceil-rank quantiles of the sample are the estimate "
    "(operators/sketches.py:approx_group_quantiles' streaming face).  "
    "The oracle re-derives the identical answer from the batch table: "
    "stream == batch, bit-for-bit, which no error-bound quantile "
    "sketch can promise.",
)
def streaming_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_8_sourcecode_spark.operators.sketches import (
        exact_group_quantiles,
    )
    from flink_1_8_sourcecode_spark.streaming.stateful import (
        streaming_uniform_sample,
    )

    src = _replayed_stream(spark, sf_dir, "scg_aq_").filter(
        F.col("user_id") >= 0
    )
    out = streaming_uniform_sample(src, "event_type", "event_id", k=64)
    name = _run_to_table(out, "q_aq", state_partitions=4,
                         output_mode="update")
    final = (
        spark.table(name)
        .groupBy("event_type")
        .agg(F.max_by("sample_ids", "n_seen").alias("sample_ids"))
        .select("event_type", F.explode("sample_ids").alias("event_id"))
    )
    ev = table(spark, sf_dir, "events").select("event_id", "value")
    samp = final.join(ev, "event_id")
    return exact_group_quantiles(samp, "event_type", "value", [0.1, 0.5, 0.9])


@register(
    "datastream_api_async_enrich",
    oracle="""
    SELECT event_type,
           count(*)::BIGINT AS n,
           round(sum(value * (CASE event_type
                 WHEN 'click' THEN 2 WHEN 'view' THEN 3
                 WHEN 'signup' THEN 5 WHEN 'purchase' THEN 7
                 ELSE 1 END) + length(event_type)), 4) AS enriched_sum
    FROM events WHERE user_id % 20 = 0
    GROUP BY event_type
    """,
    doc="Async I/O enrichment (AsyncDataStream.java:102 unorderedWait, "
    "AsyncFunction.asyncInvoke): every record issues an ASYNC lookup "
    "(here a coroutine over a weight table — the stand-in for an RPC/"
    "external KV hit) with capacity-bounded in-flight concurrency "
    "inside mapInPandas, one asyncio loop per Arrow batch per "
    "partition (datastream_api.py:AsyncDataStream).  Deterministic "
    "enrichment arithmetic so DuckDB re-derives the identical rows "
    "with a CASE lookup.",
)
def datastream_api_async_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_8_sourcecode_spark.datastream_api import (
        AsyncDataStream,
        DataStream,
    )

    weights = {"click": 2, "view": 3, "signup": 5, "purchase": 7}

    async def lookup(row):
        import asyncio

        await asyncio.sleep(0)  # a real impl awaits the I/O here
        w = weights.get(row["event_type"], 1)
        return {
            "event_type": row["event_type"],
            "enriched": row["value"] * w + len(row["event_type"]),
        }

    src = DataStream(
        table(spark, sf_dir, "events")
        .filter(F.col("user_id") % 20 == 0)
        .select("event_type", "value")
    )
    out = AsyncDataStream.unordered_wait(
        src, lookup, "event_type string, enriched double",
        timeout_s=30.0, capacity=64,
    )
    return out.df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("enriched"), 4).alias("enriched_sum"),
    )


@register(
    "stream_upsert_sink_fold",
    oracle="""
    SELECT event_type, (user_id % 50)::BIGINT AS user_bin,
           count(*)::BIGINT AS cnt, round(sum(value), 4) AS total
    FROM events WHERE user_id >= 0
    GROUP BY event_type, user_id % 50
    """,
    doc="UpsertStreamTableSink (flink-table/.../sinks/"
    "UpsertStreamTableSink.scala setKeyFields/emitDataStream; "
    "streaming/sinks.py upsert_sink + parquet_upsert_merger): an "
    "update-mode streaming aggregate upserts its per-trigger deltas "
    "into a keyed external table via foreachBatch MERGE — the table "
    "is hash-bucketed parquet and each batch rewrites only the "
    "buckets containing its keys (dynamic partition overwrite, "
    "O(updates) per trigger).  The final table state must equal the "
    "batch aggregate — last-write-wins upsert end-to-end.",
)
def stream_upsert_sink_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_8_sourcecode_spark.streaming.sinks import (
        parquet_upsert_merger,
        read_upsert_table,
        upsert_sink,
    )

    base = tempfile.mkdtemp(prefix="upsert_q_")
    src = _replayed_stream(spark, sf_dir, "upsert_").filter(
        F.col("user_id") >= 0
    )
    agg = src.groupBy(
        "event_type", (F.col("user_id") % 50).alias("user_bin")
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("value"), 4).alias("total"),
    )
    q = upsert_sink(
        agg,
        parquet_upsert_merger(["event_type", "user_bin"], base + "/tbl"),
        checkpoint=base + "/ckpt",
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return read_upsert_table(spark, base + "/tbl")


@register(
    "stream_to_retract_fold",
    oracle="""
    SELECT event_type, count(*)::BIGINT AS cnt,
           round(sum(value), 4) AS total
    FROM events GROUP BY event_type
    """,
    doc="toRetractStream (StreamTableEnvironment.scala:247; "
    "streaming/retract.py): a continuously-updating group aggregate "
    "over the replayed stream is materialized as an (add, row) "
    "CHANGELOG — each key update emits (false, old) + (true, new) via "
    "foreachBatch, with the previous snapshot maintained as a "
    "key-bounded parquet join (all DataFrame jobs, no driver key "
    "loops).  The returned frame is the changelog FOLDED back to "
    "current state (read_changelog_state), which must equal the batch "
    "aggregate — the add/retract invariant end-to-end.",
)
def stream_to_retract_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_8_sourcecode_spark.streaming.retract import (
        read_changelog_state,
        to_retract_stream,
    )

    base = tempfile.mkdtemp(prefix="retract_q_")
    src = _replayed_stream(spark, sf_dir, "retract_").filter(
        F.col("user_id") >= 0
    )
    agg = src.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("value"), 4).alias("total"),
    )
    q = to_retract_stream(
        agg, ["event_type"], base + "/log", base + "/ckpt"
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return read_changelog_state(spark, base + "/log", ["event_type"])
