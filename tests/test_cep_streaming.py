"""Streaming CEP vs batch CEP equivalence (CepOperator parity).

Replays the events table as micro-batches; a far-future sentinel row (in
its own key group) pushes the final watermark past every real event, so
every match stabilizes and the streamed result must equal the batch
matcher's output exactly.
"""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest
from pyspark.sql import functions as F

from flink_1_8_sourcecode_spark.catalog import table
from flink_1_8_sourcecode_spark.cep import Pattern, match_pattern
from flink_1_8_sourcecode_spark.cep.streaming import match_pattern_stream
from flink_1_8_sourcecode_spark.streaming import sources
from tests.conftest import SF_SMALL

PATTERN = (
    Pattern.begin("signup")
    .where(lambda e: e["event_type"] == "signup")
    .followed_by("purchase")
    .where(lambda e: e["event_type"] == "purchase")
    .within("30 minutes")
)


@pytest.fixture(scope="module")
def chunk_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("cep_chunks"))
    sources.write_event_chunks(spark, SF_SMALL, d, n_chunks=6)
    # sentinel: advances the global watermark past all real events
    ev = table(spark, SF_SMALL, "events")
    max_ts = ev.agg(F.max("ts")).first()[0]
    sentinel = spark.createDataFrame(
        [(10**9, max_ts + dt.timedelta(days=30), -1, "noop", 0.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    sentinel.write.mode("append").parquet(d + "/__chunk=zzz_sentinel")
    return d


def _norm(pdf: pd.DataFrame) -> set:
    """Matches as a set of (user, ((stage, event_id), ...)) ignoring ids."""
    out = set()
    for (_u, _m), grp in pdf.groupby(["user_id", "match_id"]):
        g = grp.sort_values("seq")
        out.add((_u, tuple(zip(g.stage, g.event_id))))
    return out


def test_stream_cep_equals_batch(spark, chunk_dir):
    stream = sources.read_event_stream(spark, chunk_dir).filter(
        F.col("event_type").isin("signup", "purchase", "noop")
    )
    out = match_pattern_stream(
        stream,
        PATTERN,
        key="user_id",
        time_col="ts",
        select_cols=["event_id"],
        watermark_delay="10 minutes",
        tiebreak="event_id",
    )
    q = out.writeStream.format("memory").queryName("t_cep_stream").outputMode("append").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.table("t_cep_stream").toPandas()
    got = got[got.user_id >= 0]  # drop sentinel group

    batch = match_pattern(
        table(spark, SF_SMALL, "events").filter(
            F.col("event_type").isin("signup", "purchase")
        ),
        PATTERN,
        key="user_id",
        time_col="ts",
        select_cols=["event_id"],
        tiebreak="event_id",
    ).toPandas()

    assert len(got) > 0
    assert _norm(got) == _norm(batch)


def test_stream_cep_requires_within(spark, chunk_dir):
    stream = sources.read_event_stream(spark, chunk_dir)
    p = Pattern.begin("a").where(lambda e: True)
    with pytest.raises(ValueError, match="within"):
        match_pattern_stream(stream, p, "user_id", "ts", ["event_id"], "10 minutes")


def test_stream_cep_skip_to_first_across_batches(spark, tmp_path):
    """AfterMatchSkipStrategy SKIP_TO_FIRST interacts with the streaming
    stable-start cutoff: matches that resume at a previous match's
    middle stage must survive micro-batch boundaries and equal the batch
    matcher exactly."""
    p = (
        Pattern.begin("a")
        .where(lambda e: e["event_type"] == "error")
        .followed_by("b")
        .where(lambda e: e["event_type"] == "error")
        .followed_by("c")
        .where(lambda e: e["event_type"] == "error")
        .within("2 hours")
        .with_skip("skip_to_first", stage="b")
    )
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (i, base + dt.timedelta(minutes=10 * i), 7, "error", float(i), "{}")
        for i in range(8)
    ]
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    d = str(tmp_path / "skipfirst_chunks")
    # two events per chunk: every overlapping (a b c) triple spans a
    # micro-batch boundary.  coalesce(1) keeps one file per chunk so the
    # file source replays them in event-time order — a chunk split over
    # part files can arrive behind the 0-second watermark, which is
    # legitimate late-data loss, not what this test pins.
    for ci in range(4):
        spark.createDataFrame(rows[2 * ci : 2 * ci + 2], schema).coalesce(1).write.mode(
            "append"
        ).parquet(f"{d}/__chunk={ci}")
    sentinel = spark.createDataFrame(
        [(10**9, base + dt.timedelta(days=30), -1, "noop", 0.0, "{}")], schema
    )
    sentinel.coalesce(1).write.mode("append").parquet(d + "/__chunk=zz_sentinel")

    stream = sources.read_event_stream(spark, d)
    out = match_pattern_stream(
        stream, p, key="user_id", time_col="ts", select_cols=["event_id"],
        watermark_delay="0 seconds", tiebreak="event_id",
    )
    q = out.writeStream.format("memory").queryName("t_cep_skipfirst").outputMode("append").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.table("t_cep_skipfirst").toPandas()
    got = got[got.user_id >= 0]

    batch = match_pattern(
        spark.createDataFrame(rows, schema), p,
        key="user_id", time_col="ts", select_cols=["event_id"], tiebreak="event_id",
    ).toPandas()

    assert len(got) > 0
    assert _norm(got) == _norm(batch)


def test_stream_cep_bucketed_key_groups_same_result(spark, chunk_dir):
    """The NFA state is sharded into Flink-style key groups: never more
    state rows than the users' key groups, fewer than the users, and
    the match sets and per-key id grouping equal the batch matcher's."""
    from flink_1_8_sourcecode_spark.streaming.arrow_state import key_group

    stream = sources.read_event_stream(spark, chunk_dir).filter(
        F.col("event_type").isin("signup", "purchase", "noop")
    )
    out = match_pattern_stream(
        stream, PATTERN, key="user_id", time_col="ts",
        select_cols=["event_id"], watermark_delay="10 minutes",
        tiebreak="event_id",
    )
    q = out.writeStream.format("memory").queryName("t_cep_kg").outputMode("append").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.table("t_cep_kg").toPandas()
    got = got[got.user_id >= 0]

    users = spark.read.parquet(chunk_dir).select("user_id").distinct()
    n_users = users.count()
    n_groups = users.select(key_group("user_id")).distinct().count()
    state_rows = max(
        op["numRowsTotal"] for p in q.recentProgress for op in p["stateOperators"]
    )
    assert 0 < state_rows <= n_groups < n_users

    batch = match_pattern(
        table(spark, SF_SMALL, "events").filter(
            F.col("event_type").isin("signup", "purchase")
        ),
        PATTERN, key="user_id", time_col="ts",
        select_cols=["event_id"], tiebreak="event_id",
    ).toPandas()
    assert len(got) > 0
    assert _norm(got) == _norm(batch)


def test_stream_cep_timeout_channel_equals_batch(spark, chunk_dir):
    """PatternStream.select(timeoutTag, ...) on a stream: signups with no
    purchase inside `within` emit their prefix with timed_out=true once
    the window has fully passed the watermark — and the two channels
    together must equal the batch emit_timeouts output."""
    stream = sources.read_event_stream(spark, chunk_dir).filter(
        F.col("event_type").isin("signup", "purchase", "noop")
    )
    out = match_pattern_stream(
        stream, PATTERN, key="user_id", time_col="ts",
        select_cols=["event_id"], watermark_delay="10 minutes",
        tiebreak="event_id", emit_timeouts=True,
    )
    q = out.writeStream.format("memory").queryName("t_cep_to").outputMode("append").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.table("t_cep_to").toPandas()
    got = got[got.user_id >= 0]

    batch = match_pattern(
        table(spark, SF_SMALL, "events").filter(
            F.col("event_type").isin("signup", "purchase")
        ),
        PATTERN, key="user_id", time_col="ts",
        select_cols=["event_id"], tiebreak="event_id", emit_timeouts=True,
    ).toPandas()

    def norm_t(pdf):
        out = set()
        for (_u, _m), grp in pdf.groupby(["user_id", "match_id"]):
            g = grp.sort_values("seq")
            out.add((_u, bool(g.timed_out.iloc[0]),
                     tuple(zip(g.stage, g.event_id))))
        return out

    assert (got.timed_out).any() and (~got.timed_out).any()  # both channels
    assert norm_t(got) == norm_t(batch)


MR_CLAUSE = """
SELECT user_id, signup_id, purchase_id
FROM (SELECT user_id, event_id, ts, event_type FROM {src}
      WHERE event_type IN ('signup', 'purchase', 'noop')) MATCH_RECOGNIZE (
  PARTITION BY user_id
  ORDER BY ts, event_id
  MEASURES S.event_id AS signup_id, P.event_id AS purchase_id
  ONE ROW PER MATCH
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN (S P) WITHIN INTERVAL '1' DAY
  DEFINE S AS S.event_type = 'signup',
         P AS P.event_type = 'purchase'
)
"""


def test_streaming_match_recognize_sql_equals_batch(spark, chunk_dir):
    """Engine.sql MATCH_RECOGNIZE routed over a STREAMING view: the
    reference's MR is natively a DataStream operator (DataStreamMatch);
    here the same SQL statement runs the streaming CEP matcher and the
    stabilized append output must equal the batch answer exactly."""
    from flink_1_8_sourcecode_spark.engine import Engine

    eng = Engine(spark)
    stream = sources.read_event_stream(spark, chunk_dir)
    assert stream.isStreaming
    eng.register("ev_stream", stream)
    out = eng.sql(MR_CLAUSE.format(src="ev_stream"))
    assert out.isStreaming
    q = (
        out.writeStream.format("memory").queryName("t_mr_stream")
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.table("t_mr_stream").toPandas()
    got = got[got.user_id >= 0]

    eng.register("ev_batch", table(spark, SF_SMALL, "events"))
    want = eng.sql(MR_CLAUSE.format(src="ev_batch")).toPandas()

    key = lambda pdf: sorted(zip(pdf.user_id, pdf.signup_id, pdf.purchase_id))  # noqa: E731
    assert len(got) > 0
    assert key(got) == key(want)


MR_UNIVERSAL_CLAUSE = """
SELECT user_id, first_id, last_id, n_ids, total_v
FROM (SELECT user_id, event_id, ts, event_type, value FROM {src}
      WHERE event_type IN ('signup', 'purchase', 'noop')) MATCH_RECOGNIZE (
  PARTITION BY user_id
  ORDER BY ts, event_id
  MEASURES FIRST(event_id) AS first_id, LAST(event_id) AS last_id,
           COUNT(event_id) AS n_ids, SUM(value) AS total_v
  ONE ROW PER MATCH
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN (S P) WITHIN INTERVAL '1' DAY
  DEFINE S AS S.event_type = 'signup',
         P AS P.event_type = 'purchase'
)
"""


def test_streaming_mr_universal_measures_equals_batch(spark, chunk_dir):
    """Symbol-less (universal) measures — FIRST(id)/LAST(id)/COUNT(col)/
    SUM(col) over ALL rows of the match — through the STREAMING
    reduce_match path (regression: symbol=None used to filter the match
    rows to empty and silently emit NULL/0)."""
    from flink_1_8_sourcecode_spark.engine import Engine

    eng = Engine(spark)
    stream = sources.read_event_stream(spark, chunk_dir)
    eng.register("ev_stream_u", stream)
    out = eng.sql(MR_UNIVERSAL_CLAUSE.format(src="ev_stream_u"))
    q = (
        out.writeStream.format("memory").queryName("t_mr_stream_u")
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.table("t_mr_stream_u").toPandas()
    got = got[got.user_id >= 0]

    eng.register("ev_batch_u", table(spark, SF_SMALL, "events"))
    want = eng.sql(MR_UNIVERSAL_CLAUSE.format(src="ev_batch_u")).toPandas()

    key = lambda pdf: sorted(  # noqa: E731
        (r.user_id, r.first_id, r.last_id, r.n_ids, round(r.total_v, 6))
        for r in pdf.itertuples()
    )
    assert len(got) > 0
    assert got.total_v.notna().all() and (got.n_ids > 0).all()
    assert key(got) == key(want)


def test_streaming_mr_global_pattern_drops_synthetic_partition(spark, chunk_dir):
    """MATCH_RECOGNIZE without PARTITION BY on a STREAM: the synthetic
    __mr_part key must not leak into the output schema (the batch
    branches already drop it), and finals equal the batch answer."""
    from flink_1_8_sourcecode_spark.cep.match_recognize import match_recognize

    clause = """
      ORDER BY ts, event_id
      MEASURES S.event_id AS signup_id, P.event_id AS purchase_id
      ONE ROW PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (S P) WITHIN INTERVAL '1' DAY
      DEFINE S AS S.event_type = 'signup',
             P AS P.event_type = 'purchase'
    """
    stream = sources.read_event_stream(spark, chunk_dir)
    out = match_recognize(stream, clause)
    assert out.isStreaming
    assert "__mr_part" not in out.columns
    q = (
        out.writeStream.format("memory").queryName("t_mr_stream_g")
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.table("t_mr_stream_g").toPandas()

    batch = match_recognize(table(spark, SF_SMALL, "events"), clause).toPandas()
    assert "__mr_part" not in batch.columns
    key = lambda pdf: sorted(zip(pdf.signup_id, pdf.purchase_id))  # noqa: E731
    assert len(got) > 0
    assert key(got) == key(batch)


def test_streaming_match_recognize_requires_within(spark, chunk_dir):
    from flink_1_8_sourcecode_spark.engine import Engine

    eng = Engine(spark)
    eng.register("ev_stream2", sources.read_event_stream(spark, chunk_dir))
    unbounded = MR_CLAUSE.replace("PATTERN (S P) WITHIN INTERVAL '1' DAY", "PATTERN (S P)")
    with pytest.raises(ValueError, match="WITHIN"):
        eng.sql(unbounded.format(src="ev_stream2"))


def test_stream_cep_group_pattern_equals_batch(spark, chunk_dir):
    """GROUP patterns through the STREAMING matcher (it runs the same
    NFA): (signup purchase){1,2} relaxed, stream finals == batch."""
    grp = (
        Pattern.begin("S")
        .where(lambda e: e["event_type"] == "signup")
        .next("P")
        .where(lambda e: e["event_type"] == "purchase")
    )
    pat = Pattern.begin(grp).times(1, 2).within("2 hours")
    stream = sources.read_event_stream(spark, chunk_dir).filter(
        F.col("event_type").isin("signup", "purchase", "noop")
    )
    out = match_pattern_stream(
        stream, pat, key="user_id", time_col="ts", select_cols=["event_id"],
        watermark_delay="10 minutes", tiebreak="event_id",
    )
    q = (
        out.writeStream.format("memory").queryName("t_cep_grp_stream")
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.table("t_cep_grp_stream").toPandas()
    got = got[got.user_id >= 0]

    batch = match_pattern(
        table(spark, SF_SMALL, "events").filter(
            F.col("event_type").isin("signup", "purchase")
        ),
        pat, key="user_id", time_col="ts", select_cols=["event_id"],
        tiebreak="event_id",
    ).toPandas()
    assert len(got) > 0
    assert _norm(got) == _norm(batch)
