"""Outer unbounded (non-window) stream-stream joins — final-state parity
with the reference's retraction-mode NonWindowFullJoin /
NonWindowLeftRightJoin: after the stream drains, the append-mode output
must equal the batch outer join on the same data.
"""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest

from flink_1_8_sourcecode_spark.operators.joins import unbounded_stream_join

L_SCHEMA = "k long, lts timestamp, lv double"
R_SCHEMA = "k long, rts timestamp, rv double"

# key 1: matched (2 left x 2 right cross pairs); key 2: left only;
# key 3: right only; key 4: one-to-one across different chunks
_T0 = dt.datetime(2024, 1, 1)


def _t(minutes: int) -> dt.datetime:
    return _T0 + dt.timedelta(minutes=minutes)


LEFT_ROWS = [
    (1, _t(0), 10.0),
    (1, _t(5), 11.0),
    (2, _t(1), 20.0),
    (4, _t(2), 40.0),
]
RIGHT_ROWS = [
    (1, _t(3), 101.0),
    (1, _t(9), 102.0),
    (3, _t(4), 300.0),
    (4, _t(30), 400.0),  # matches key 4's left from a later chunk
]
SENT_L = (999, _t(60 * 24 * 30), 0.0)
SENT_R = (998, _t(60 * 24 * 30), 0.0)


def _write_chunks(spark, base: str, rows, schema: str, sentinel) -> str:
    import os
    import time

    half = len(rows) // 2
    now = time.time()
    for i, chunk in enumerate([rows[:half], rows[half:], [sentinel]]):
        d = f"{base}/__chunk={i}"
        spark.createDataFrame(chunk, schema).write.mode("append").parquet(d)
        # the file source orders files by modification time; back-to-back
        # writes can tie, letting the sentinel overtake a data chunk —
        # space mtimes explicitly so replay order is deterministic
        for dp, _dn, fns in os.walk(d):
            for fn in fns:
                os.utime(os.path.join(dp, fn), (now + 10 * i, now + 10 * i))
    return base


@pytest.mark.parametrize("how", ["full", "left", "right"])
def test_outer_unbounded_finals_equal_batch(spark, tmp_path, how):
    lbase = _write_chunks(spark, str(tmp_path / f"l_{how}"), LEFT_ROWS, L_SCHEMA, SENT_L)
    rbase = _write_chunks(spark, str(tmp_path / f"r_{how}"), RIGHT_ROWS, R_SCHEMA, SENT_R)
    # sentinels must flow through (pre-filtering them would starve the
    # watermark); their keys are filtered from the OUTPUT below
    ls = spark.readStream.schema(L_SCHEMA).option("maxFilesPerTrigger", 1) \
        .option("recursiveFileLookup", "true").parquet(lbase)
    rs = spark.readStream.schema(R_SCHEMA).option("maxFilesPerTrigger", 1) \
        .option("recursiveFileLookup", "true").parquet(rbase)

    out = unbounded_stream_join(
        ls, rs, on="k", how=how, left_time="lts", right_time="rts",
        # delay > the 30-min data span so chunk interleaving never makes
        # a row late; ttl well under the sentinel's +30d watermark push
        watermark_delay="2 hours",
        idle_state_ttl_seconds=3600.0,
    )
    name = f"t_unb_{how}"
    q = out.writeStream.format("memory").queryName(name).outputMode("append").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.table(name).toPandas()
    got = got[got.k < 900].reset_index(drop=True)

    lb = spark.createDataFrame(LEFT_ROWS, L_SCHEMA)
    rb = spark.createDataFrame(RIGHT_ROWS, R_SCHEMA)
    expected = lb.join(rb, "k", how).select("k", "lts", "lv", "rts", "rv").toPandas()

    def canon(df):
        df = df[["k", "lts", "lv", "rts", "rv"]].copy()
        for c in df.columns:
            df[c] = df[c].astype(str)
        return sorted(map(tuple, df.itertuples(index=False, name=None)))

    assert canon(got) == canon(expected), f"{how}: finals != batch outer join"


def test_outer_unbounded_late_match_no_premature_pad(spark, tmp_path):
    """A match that arrives TWO micro-batches after its partner must still
    pair (no premature null-pad).  Regression for the epoch-0 timer: the
    first batch's watermark is 0, and a timer armed off it alone fires as
    soon as the watermark first advances — padding key 10 before its match
    (chunk 3 on the right) has arrived, then double-emitting the pair.
    """
    left_rows = [
        [(10, _t(0), 1.0)],            # chunk 0: the early left row
        [(11, _t(5), 2.0)],            # chunk 1: filler advances the stream
        [(11, _t(10), 3.0)],           # chunk 2: more filler
        [(11, _t(12), 3.5)],           # chunks 3-4: buffer triggers so a
        [(11, _t(14), 3.6)],           # +-2-trigger listing skew between
        [SENT_L],                      # the two file sources cannot land
    ]                                  # the sentinel before the match
    right_rows = [
        [(12, _t(1), 9.0)],            # chunk 0: filler
        [(12, _t(6), 8.0)],            # chunk 1: filler
        [(12, _t(11), 7.0)],           # chunk 2: filler
        [(10, _t(20), 100.0)],         # chunk 3: the LATE match
        [(12, _t(21), 6.0)],           # chunk 4: buffer
        [SENT_R],                      # chunk 5: sentinel pushes watermark
    ]

    import os
    import time

    def write(base, chunks, schema):
        now = time.time()
        for i, chunk in enumerate(chunks):
            d = f"{base}/__chunk={i}"
            spark.createDataFrame(chunk, schema).write.mode("append").parquet(d)
            for dp, _dn, fns in os.walk(d):
                for fn in fns:
                    os.utime(os.path.join(dp, fn), (now + 10 * i, now + 10 * i))
        return base

    lbase = write(str(tmp_path / "l_late"), left_rows, L_SCHEMA)
    rbase = write(str(tmp_path / "r_late"), right_rows, R_SCHEMA)
    ls = spark.readStream.schema(L_SCHEMA).option("maxFilesPerTrigger", 1) \
        .option("recursiveFileLookup", "true").parquet(lbase)
    rs = spark.readStream.schema(R_SCHEMA).option("maxFilesPerTrigger", 1) \
        .option("recursiveFileLookup", "true").parquet(rbase)
    out = unbounded_stream_join(
        ls, rs, on="k", how="full", left_time="lts", right_time="rts",
        watermark_delay="2 hours", idle_state_ttl_seconds=3600.0,
    )
    q = out.writeStream.format("memory").queryName("t_unb_late").outputMode("append").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.table("t_unb_late").toPandas()
    got = got[got.k < 900].reset_index(drop=True)

    flat_l = [r for c in left_rows for r in c if r[0] < 900]
    flat_r = [r for c in right_rows for r in c if r[0] < 900]
    lb = spark.createDataFrame(flat_l, L_SCHEMA)
    rb = spark.createDataFrame(flat_r, R_SCHEMA)
    expected = lb.join(rb, "k", "full").select("k", "lts", "lv", "rts", "rv").toPandas()

    def canon(df):
        df = df[["k", "lts", "lv", "rts", "rv"]].copy()
        for c in df.columns:
            df[c] = df[c].astype(str)
        return sorted(map(tuple, df.itertuples(index=False, name=None)))

    assert canon(got) == canon(expected), "late match padded or double-emitted"


def test_outer_unbounded_requires_time_columns(spark):
    ls = spark.readStream.format("rate").load()
    with pytest.raises(ValueError, match="event-time"):
        unbounded_stream_join(ls, ls, on="value", how="full")


def _one_key_group(spark):
    """a-values for the key tuples (a1,x) (a1,y) (a2,x) (a3,z) (a4,q), all
    hashed into ONE key group, so a single invocation serves them all."""
    from pyspark.sql import functions as F

    from flink_1_8_sourcecode_spark.streaming.arrow_state import key_group

    cand = spark.range(1, 20000).select(F.col("id").alias("a")).crossJoin(
        spark.createDataFrame([(b,) for b in "xyzq"], "b string")
    ).select("a", "b", key_group("a", "b").alias("g"))
    g0 = cand.filter((F.col("a") == 1) & (F.col("b") == "x")).first()["g"]
    same = cand.filter(F.col("g") == g0).toPandas()
    by_b = {b: sorted(same.a[same.b == b]) for b in "xyzq"}
    a1 = min(set(by_b["x"]) & set(by_b["y"]))
    a2 = next(a for a in by_b["x"] if a != a1)
    return a1, a2, by_b["z"][0], by_b["q"][0]


def test_outer_unbounded_multi_key_and_small_buckets(spark, tmp_path):
    """Composite join keys through the key-grouped state path, with the
    key tuples chosen so all of them share one key group invocation —
    the keyed merges must still pair and pad per key."""
    l_schema = "a long, b string, lts timestamp, lv double"
    r_schema = "a long, b string, rts timestamp, rv double"
    a1, a2, a3, a4 = _one_key_group(spark)
    lrows = [
        (a1, "x", _t(0), 10.0),
        (a1, "y", _t(1), 11.0),   # left-only (b differs)
        (a2, "x", _t(2), 20.0),
        (a3, "z", _t(3), 30.0),   # left-only key
    ]
    rrows = [
        (a1, "x", _t(4), 100.0),
        (a2, "x", _t(5), 200.0),
        (a2, "x", _t(6), 201.0),
        (a4, "q", _t(7), 900.0),  # right-only key
    ]
    sent_l = (999, "s", _t(60 * 24 * 30), 0.0)
    sent_r = (998, "s", _t(60 * 24 * 30), 0.0)
    lbase = _write_chunks(spark, str(tmp_path / "ml"), lrows, l_schema, sent_l)
    rbase = _write_chunks(spark, str(tmp_path / "mr"), rrows, r_schema, sent_r)
    ls = spark.readStream.schema(l_schema).option("maxFilesPerTrigger", 1) \
        .option("recursiveFileLookup", "true").parquet(lbase)
    rs = spark.readStream.schema(r_schema).option("maxFilesPerTrigger", 1) \
        .option("recursiveFileLookup", "true").parquet(rbase)

    out = unbounded_stream_join(
        ls, rs, on=["a", "b"], how="full", left_time="lts", right_time="rts",
        watermark_delay="2 hours", idle_state_ttl_seconds=3600.0,
    )
    q = out.writeStream.format("memory").queryName("t_unb_mk").outputMode("append").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.table("t_unb_mk").toPandas()
    got = got[got.b != "s"].reset_index(drop=True)

    lb = spark.createDataFrame(lrows, l_schema)
    rb = spark.createDataFrame(rrows, r_schema)
    expected = lb.join(rb, ["a", "b"], "full").select(
        "a", "b", "lts", "lv", "rts", "rv"
    ).toPandas()

    def canon(df):
        df = df[["a", "b", "lts", "lv", "rts", "rv"]].copy()
        for c in df.columns:
            df[c] = df[c].astype(str)
        return sorted(map(tuple, df.itertuples(index=False, name=None)))

    assert canon(got) == canon(expected)
