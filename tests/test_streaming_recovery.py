"""Checkpoint recovery (exactly-once) + late-data side channel + hop
window streaming tests."""

from __future__ import annotations

import datetime as dt
import shutil

import pandas as pd
import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from flink_1_8_sourcecode_spark.catalog import table
from flink_1_8_sourcecode_spark.streaming import side_outputs, sinks, sources, windows
from tests.conftest import SF_SMALL, assert_frames_match


def test_file_sink_exactly_once_across_restart(spark, tmp_path):
    """StreamingFileSink parity (StreamingFileSink.java:95): stop the
    query mid-stream, restart from the checkpoint, and the sink holds
    every input row exactly once."""
    src_dir = str(tmp_path / "src")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    ev = table(spark, SF_SMALL, "events").orderBy("ts").limit(600)
    # first half of the input
    ev.limit(300).coalesce(1).write.mode("overwrite").parquet(src_dir)

    def start():
        stream = (
            spark.readStream.schema(sources.EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
            .select("event_id", "user_id", "value")
        )
        return sinks.file_sink(stream, out_dir, ckpt).start()

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # second half arrives while the query is DOWN; restart resumes from
    # the checkpoint without reprocessing the first half
    ev.subtract(ev.limit(300)).coalesce(1).write.mode("append").parquet(src_dir)
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = spark.read.parquet(out_dir)
    assert got.count() == 600
    assert got.select("event_id").distinct().count() == 600  # exactly once


def test_late_data_side_channel(spark, tmp_path):
    """allowedLateness/sideOutputLateData emulation: rows arriving behind
    the tracked watermark land in the late channel, everything else in
    the main channel, with no loss."""
    src_dir = str(tmp_path / "late_src")
    base = dt.datetime(2024, 1, 1)
    on_time = [(i, base + dt.timedelta(minutes=i), 1.0) for i in range(30)]
    late = [(100 + i, base + dt.timedelta(minutes=i), 1.0) for i in range(3)]  # very old
    schema = "event_id long, ts timestamp, value double"
    spark.createDataFrame(on_time, schema).coalesce(1).write.mode("overwrite").parquet(
        src_dir + "/f=1"
    )
    spark.createDataFrame(late, schema).coalesce(1).write.mode("overwrite").parquet(
        src_dir + "/f=2"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src_dir)
    )
    got_main, got_late = [], []
    q = side_outputs.late_data_side_channel(
        stream,
        "ts",
        "10 minutes",
        main_fn=lambda df, _b: got_main.extend(r.event_id for r in df.collect()),
        late_fn=lambda df, _b: got_late.extend(r.event_id for r in df.collect()),
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert sorted(got_main + got_late) == sorted([e for e, _, _ in on_time + late])
    # the 3 ancient rows arriving after the watermark advanced are late
    assert set(got_late) == {100, 101, 102}


def test_stream_hop_equals_batch(spark, tmp_path):
    chunks = str(tmp_path / "hop_chunks")
    sources.write_event_chunks(spark, SF_SMALL, chunks, n_chunks=4)
    stream = sources.read_event_stream(spark, chunks)
    aggs = {"cnt": F.count(F.lit(1))}
    out = windows.hop(stream, "ts", "1 hour", "30 minutes", [], aggs, watermark="30 minutes")
    q = out.writeStream.format("memory").queryName("t_hop").outputMode("update").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = (
        spark.table("t_hop")
        .toPandas()
        .drop_duplicates(subset=["w_start", "w_end"], keep="last")
    )
    expected = windows.hop(
        table(spark, SF_SMALL, "events"), "ts", "1 hour", "30 minutes", [], aggs
    ).toPandas()
    assert_frames_match(got, expected, name="stream_hop")


def test_streaming_cep_state_recovers_across_restart(spark, tmp_path):
    """Stateful CEP (applyInPandasWithState buffer + cursors) across a
    checkpointed restart: the stream stops mid-input with OPEN partial
    matches in state, more data arrives while it is down, and the
    restarted query completes those matches from recovered state —
    final output equals the batch matcher on the full input."""
    from flink_1_8_sourcecode_spark.cep import Pattern, match_pattern
    from flink_1_8_sourcecode_spark.cep.streaming import match_pattern_stream

    src_dir = str(tmp_path / "cep_src")
    ckpt = str(tmp_path / "cep_ckpt")
    base = dt.datetime(2024, 1, 1)
    # per user: signup at t, purchase 5 min later — the purchase of the
    # LAST users arrives only in the second file, so their partials must
    # survive the restart inside recovered state
    rows1, rows2 = [], []
    for u in range(40):
        s_ts = base + dt.timedelta(minutes=u)
        p_ts = s_ts + dt.timedelta(minutes=5)
        rows1.append((2 * u, s_ts, u, "signup", 0.0, "{}"))
        (rows1 if u < 20 else rows2).append((2 * u + 1, p_ts, u, "purchase", 0.0, "{}"))
    # far-future sentinel closes every window at the very end
    rows2.append((10**9, base + dt.timedelta(days=30), -1, "noop", 0.0, "{}"))
    schema = sources.EVENTS_SCHEMA
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("overwrite").parquet(
        src_dir + "/f=1"
    )

    pat = (
        Pattern.begin("s").where(lambda e: e["event_type"] == "signup")
        .followed_by("p").where(lambda e: e["event_type"] == "purchase")
        .within("30 minutes")
    )

    out_dir = str(tmp_path / "cep_out")

    def start():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(src_dir)
        )
        out = match_pattern_stream(
            stream, pat, key="user_id", time_col="ts",
            select_cols=["event_id"], watermark_delay="45 minutes",
            tiebreak="event_id",
        )
        return (
            out.writeStream.format("parquet").option("path", out_dir)
            .outputMode("append").option("checkpointLocation", ckpt).start()
        )

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(
        src_dir + "/f=2"
    )
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = spark.read.parquet(out_dir).toPandas()
    got = got[got.user_id >= 0]

    batch_input = spark.createDataFrame(rows1 + rows2, schema).filter(
        F.col("user_id") >= 0
    )
    want = match_pattern(
        batch_input, pat, key="user_id", time_col="ts",
        select_cols=["event_id"], tiebreak="event_id",
    ).toPandas()

    def norm(pdf):
        return sorted(
            (int(u), tuple(g.sort_values("seq").event_id))
            for (u, _m), g in pdf.groupby(["user_id", "match_id"])
        )

    assert len(got) > 0
    assert norm(got) == norm(want)


def test_temporal_join_stream_state_survives_restart(spark, tmp_path):
    """TemporalRowtimeJoin state recovery: a version buffered BEFORE a
    stop must still serve a probe that arrives AFTER the restart — the
    pruned version chain lives in checkpointed state."""
    from flink_1_8_sourcecode_spark.operators.joins import temporal_join_stream

    src = str(tmp_path / "tj_src")
    out = str(tmp_path / "tj_out")
    ckpt = str(tmp_path / "tj_ckpt")
    base = dt.datetime(2024, 1, 1)

    def t(s):
        return base + dt.timedelta(seconds=s)

    schema = "k long, side string, ts timestamp, payload double"

    def write(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/{name}")

    write("00", [(1, "v", t(0), 7.0), (999, "w", t(1), 0.0)])
    write("01", [(999, "w", t(100), 0.0)])

    def start():
        s = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*")
        )
        probe = s.filter(F.col("side").isin("p", "w")).select(
            "k", F.col("ts").alias("pts")
        )
        ver = s.filter(F.col("side").isin("v", "w")).select(
            "k", F.col("ts").alias("vts"), F.col("payload")
        )
        j = temporal_join_stream(
            probe, ver, on="k", probe_time="pts", version_time="vts",
            right_cols=["payload"], how="inner",
            watermark_delay="0 seconds",
        )
        return (
            j.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # probe + sentinel arrive while the query is DOWN
    write("02", [(1, "p", t(5000), 0.0)])
    write("03", [(999, "w", t(10**6), 0.0)])
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = spark.read.parquet(out).filter(F.col("k") == 1).toPandas()
    assert len(got) == 1 and got.iloc[0].payload == 7.0


def test_session_uses_fork_free_checkpoint_manager(spark, tmp_path):
    """Checkpoint files go through the FileSystem-based manager: its
    renames and creates need no `readlink`/`chmod` child process per
    file, unlike the FileContext-based default without libhadoop."""
    jvm = spark._jvm
    hconf = spark._jsparkSession.sessionState().newHadoopConf()
    path = jvm.org.apache.hadoop.fs.Path(str(tmp_path))
    mgr = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        path, hconf
    )
    assert mgr.getClass().getName() == (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    )


def test_corrupt_offsets_fail_the_restart(spark, tmp_path):
    """Checkpoint integrity under the FileSystem-based manager: offsets,
    commits and state deltas keep their Hadoop `.crc` siblings, and a
    restart over an offsets file with one flipped byte fails instead of
    resuming from the corrupt offsets (the FileContext-based manager
    resumed from such a file and re-ran an already committed batch)."""
    src_dir = str(tmp_path / "src")
    ckpt = tmp_path / "ckpt"
    base = dt.datetime(2024, 1, 1)
    schema = "k long, ts timestamp, v double"
    for f in range(2):
        rows = [(i % 5, base + dt.timedelta(seconds=10 * f + i), 1.0) for i in range(10)]
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(f"{src_dir}/f={f}")

    def start():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(src_dir)
        )
        return (
            stream.groupBy("k").agg(F.sum("v").alias("s"))
            .writeStream.format("memory").queryName("t_crc")
            .outputMode("complete")
            .option("checkpointLocation", str(ckpt))
            .start()
        )

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    offsets = sorted(int(p.name) for p in (ckpt / "offsets").iterdir() if p.name.isdigit())
    commits = sorted(int(p.name) for p in (ckpt / "commits").iterdir() if p.name.isdigit())
    assert offsets == commits == [0, 1]
    assert (ckpt / "offsets" / ".1.crc").is_file()
    assert (ckpt / "commits" / ".1.crc").is_file()
    deltas = list((ckpt / "state").rglob("*.delta"))
    assert deltas
    assert all((d.parent / f".{d.name}.crc").is_file() for d in deltas)

    latest = ckpt / "offsets" / "1"
    data = bytearray(latest.read_bytes())
    pos = data.rindex(b"}") - 1  # inside the source offset, same length
    data[pos] ^= 0x01
    latest.write_bytes(bytes(data))

    with pytest.raises(StreamingQueryException, match="(?i)checksum"):
        q = start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()


def test_late_side_channel_replay_routes_as_first_run(spark, tmp_path):
    """A micro-batch that Spark re-runs after a crash before its commit
    routes exactly as it did the first time: the replay must not see the
    watermark that the batch itself advanced."""
    src_dir = tmp_path / "src"
    ckpt = tmp_path / "ckpt"
    base = dt.datetime(2024, 1, 1)
    schema = "event_id long, ts timestamp, value double"
    for f, minutes in enumerate([range(0, 30), range(30, 60)]):
        rows = [(m, base + dt.timedelta(minutes=m), 1.0) for m in minutes]
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(f"{src_dir}/f={f}")

    def run(routes):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(str(src_dir))
        )

        def record(channel):
            return lambda df, b: routes.append(
                (b, channel, sorted(r.event_id for r in df.collect()))
            )

        q = side_outputs.late_data_side_channel(
            stream, "ts", "10 minutes", main_fn=record("main"),
            late_fn=record("late"), checkpoint=str(ckpt),
        ).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    first: list = []
    run(first)
    assert [b for b, _c, _ids in first] == [0, 0, 1, 1]
    # crash between routing batch 1 and writing its commit
    (ckpt / "commits" / "1").unlink()
    (ckpt / "commits" / ".1.crc").unlink()
    replay: list = []
    run(replay)
    assert replay == [r for r in first if r[0] == 1]
    assert replay == [(1, "late", []), (1, "main", list(range(30, 60)))]


def test_corrupt_late_watermark_fails_the_restart(spark, tmp_path):
    """A watermark file that cannot be read fails the restart instead of
    silently starting cold (late rows would route to main once)."""
    ckpt = tmp_path / "ckpt"
    ckpt.mkdir()
    (ckpt / "_late_wm.json").write_text("{not json")
    (tmp_path / "src").mkdir()
    stream = spark.readStream.schema("ts timestamp").parquet(str(tmp_path / "src"))
    with pytest.raises(ValueError, match="_late_wm.json"):
        side_outputs.late_data_side_channel(
            stream, "ts", "10 minutes", main_fn=lambda df, b: None,
            late_fn=lambda df, b: None, checkpoint=str(ckpt),
        )


# Restart matrix: each operator's output, stopped after the first
# chunks and restarted from its checkpoint, equals one uninterrupted run.
_RESTART_SCHEMA = "k long, side string, ts timestamp, v double"
_RESTART_T0 = dt.datetime(2024, 1, 1)


def _restart_chunks():
    """Four small chunks over three keys, then a far-future sentinel
    whose watermark closes every window and flushes every idle key."""
    def t(minutes):
        return _RESTART_T0 + dt.timedelta(minutes=minutes)

    chunks = []
    for c in range(4):
        chunks.append([
            (k, "l" if (i + k) % 2 else "r", t(25 * c + 7 * i + k), float(10 * c + i + k))
            for k in range(3) for i in range(3)
        ])
    chunks.append([(99, "l", t(60 * 24 * 30), 0.0), (99, "r", t(60 * 24 * 30), 0.0)])
    return chunks


def _restart_operator(name):
    from flink_1_8_sourcecode_spark.operators.joins import unbounded_stream_join
    from flink_1_8_sourcecode_spark.streaming.evictors import evicted_tumble_agg
    from flink_1_8_sourcecode_spark.streaming.stateful import count_window_agg
    from flink_1_8_sourcecode_spark.streaming.triggers import triggered_tumble_agg

    if name == "trigger":
        return lambda s: triggered_tumble_agg(
            s, key="k", time_col="ts", value_col="v", window_seconds=3600.0,
            trigger=("count", 2), watermark_delay="30 minutes",
        )
    if name == "evictor":
        return lambda s: evicted_tumble_agg(
            s, key="k", time_col="ts", value_col="v", window_seconds=3600.0,
            evictor=("count", 2), watermark_delay="30 minutes",
        )
    if name == "count_window":
        return lambda s: count_window_agg(s, key="k", value_col="v", window_size=2)
    if name == "dedup":
        return lambda s: windows.streaming_dedup(s, ["k", "side"], "ts", "30 minutes")

    def side(s, tag):
        return s.filter(F.col("side") == tag).select(
            "k", F.col("ts").alias(f"{tag}ts"), F.col("v").alias(f"{tag}v")
        )

    return lambda s: unbounded_stream_join(
        side(s, "l"), side(s, "r"),
        on="k", how="full", left_time="lts", right_time="rts",
        watermark_delay="30 minutes", idle_state_ttl_seconds=1800.0,
    )


@pytest.mark.parametrize(
    "operator", ["trigger", "evictor", "outer_join", "count_window", "dedup"]
)
def test_stateful_operator_restart_equals_uninterrupted_run(spark, tmp_path, operator):
    import os

    chunks = _restart_chunks()
    build = _restart_operator(operator)

    def run(tag, stop_after):
        src, out, ckpt = (str(tmp_path / f"{tag}_{p}") for p in ("src", "out", "ckpt"))

        def write(i):
            d = f"{src}/c={i:02d}"
            spark.createDataFrame(chunks[i], _RESTART_SCHEMA).coalesce(1).write.parquet(d)
            # the file source orders files by modification time
            for dp, _dn, fns in os.walk(d):
                for fn in fns:
                    os.utime(os.path.join(dp, fn), (1e9 + 10 * i, 1e9 + 10 * i))

        def drain():
            stream = (
                spark.readStream.schema(_RESTART_SCHEMA)
                .option("maxFilesPerTrigger", 1)
                .option("recursiveFileLookup", "true")
                .parquet(src)
            )
            q = (
                build(stream).writeStream.format("parquet").option("path", out)
                .option("checkpointLocation", ckpt).outputMode("append").start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()

        for i in range(stop_after):
            write(i)
        drain()
        if stop_after < len(chunks):
            for i in range(stop_after, len(chunks)):
                write(i)
            drain()
        got = spark.read.parquet(out).toPandas()
        got = got[got.k != 99].astype(str)
        return sorted(map(tuple, got[sorted(got.columns)].itertuples(index=False)))

    straight = run("straight", len(chunks))
    assert straight
    assert run("restart", 2) == straight
