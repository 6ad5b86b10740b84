"""Side outputs, two-input operators, broadcast state, async I/O —
the §2.13 control-flow operators Spark doesn't name directly.

Reference parity:
- OutputTag side outputs (flink-core/.../util/OutputTag.java;
  ProcessFunction.java:70) -> tagged filter fan-out (``split``) or a
  single-pass multi-write per micro-batch (``foreach_batch_fanout``).
- connect + CoProcessFunction (DataStream.java:254; CoProcessFunction.java)
  -> union of tagged, schema-aligned streams into one keyed stateful op
  (``connect_tagged``).
- Broadcast state pattern (DataStream.java:427,
  KeyedBroadcastProcessFunction) -> per-micro-batch broadcast join
  against a re-evaluated snapshot (``broadcast_state_join``).
- Async I/O (AsyncDataStream.java:102,147) -> concurrent requests inside
  an Arrow batch (``async_map`` — unordered-wait semantics).
"""

from __future__ import annotations

import datetime as dt
import json
import os
from collections.abc import Callable, Iterator
from concurrent.futures import ThreadPoolExecutor

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def split(df: DataFrame, outputs: dict[str, Column]) -> dict[str, DataFrame]:
    """OutputTag fan-out as filtered views. Tags need not be disjoint
    (Flink allows multi-tag emission). Works on batch and streaming
    frames; each sink re-reads the source unless fanned out via
    ``foreach_batch_fanout``."""
    return {tag: df.filter(cond) for tag, cond in outputs.items()}


def foreach_batch_fanout(
    df: DataFrame,
    routes: dict[str, tuple[Column, str]],
    fmt: str = "parquet",
    checkpoint: str | None = None,
):
    """Single-pass multi-sink: per micro-batch, persist once and write
    every tagged subset — the scalable form of side outputs (one source
    scan per batch, N writes)."""

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        batch.persist()
        try:
            for _tag, (cond, path) in routes.items():
                batch.filter(cond).write.format(fmt).mode("append").save(path)
        finally:
            batch.unpersist()

    w = df.writeStream.foreachBatch(write_batch)
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    return w


def connect_tagged(
    left: DataFrame,
    right: DataFrame,
    key: str,
    payload_cols: dict[str, tuple[str | None, str | None]],
) -> DataFrame:
    """connect(): merge two inputs into one keyed stream with an
    ``__input`` tag (1/2) and a unified schema; feed the result to
    stateful.keyed_process for CoProcessFunction semantics.

    payload_cols maps output column -> (left source col | None,
    right source col | None); missing sides are NULL-padded.
    """

    def side(df: DataFrame, tag: int, idx: int) -> DataFrame:
        cols = [F.col(key), F.lit(tag).alias("__input")]
        for out, pair in payload_cols.items():
            lc, rc = pair
            ttype = (
                left.schema[lc] if lc is not None else right.schema[rc]
            ).dataType.simpleString()
            src = pair[idx]
            expr = df[src] if src is not None else F.lit(None)
            cols.append(expr.cast(ttype).alias(out))
        return df.select(*cols)

    return side(left, 1, 0).unionByName(side(right, 2, 1))


def broadcast_state_join(
    stream: DataFrame,
    snapshot_fn: Callable[[], DataFrame],
    on: str | list[str],
    how: str = "left",
    checkpoint: str | None = None,
    sink_fn: Callable[[DataFrame, int], None] | None = None,
):
    """Broadcast state pattern: each micro-batch joins against a FRESH
    snapshot of a slowly-changing side (re-evaluated and re-broadcast per
    batch — the Spark idiom for Flink's broadcast state)."""

    def process(batch: DataFrame, batch_id: int) -> None:
        joined = batch.join(F.broadcast(snapshot_fn()), on, how)
        if sink_fn is not None:
            sink_fn(joined, batch_id)

    w = stream.writeStream.foreachBatch(process)
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    return w


class _CutoffLog:
    """The routing cutoff of a foreachBatch side channel, kept beside the
    checkpoint as ``{"batch_id", "cutoff", "wm"}``: the last routed
    batch, the cutoff it routed against, and the watermark it advanced
    to (the next batch's cutoff).

    Spark re-runs the last batch if it crashed before writing that
    batch's commit.  The replay routes against the stored ``cutoff``, not
    the watermark the batch advanced itself, so every row goes to the
    channel it went to the first time.  Without a checkpoint the log
    lives in memory only.  A file that cannot be read fails the restart.
    """

    def __init__(self, checkpoint: str | None, name: str):
        self.path = os.path.join(checkpoint, name) if checkpoint else None
        self.batch_id = self.used = self.wm = None
        if self.path and os.path.exists(self.path):
            try:
                with open(self.path) as f:
                    rec = json.load(f)
                self.batch_id = rec.get("batch_id")
                self.used, self.wm = (
                    None if v is None else dt.datetime.fromisoformat(v)
                    for v in (rec.get("cutoff"), rec["wm"])
                )
            except (OSError, ValueError, KeyError, TypeError, AttributeError) as exc:
                raise ValueError(
                    f"cannot restore the side-channel watermark from {self.path}: {exc}"
                ) from exc

    def cutoff(self, batch_id: int) -> dt.datetime | None:
        """The cutoff batch ``batch_id`` routes against (None: all on time)."""
        return self.used if batch_id == self.batch_id else self.wm

    def advance(self, batch_id: int, cutoff, wm) -> None:
        """Record that ``batch_id`` routed against ``cutoff`` and saw the
        watermark candidate ``wm``; the watermark never moves back."""
        if wm is None or (cutoff is not None and wm <= cutoff):
            wm = cutoff
        self.batch_id, self.used, self.wm = batch_id, cutoff, wm
        if self.path is None:
            return
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "batch_id": batch_id,
                    "cutoff": None if cutoff is None else cutoff.isoformat(),
                    "wm": None if wm is None else wm.isoformat(),
                },
                f,
            )
        os.replace(tmp, self.path)


def _split_at(df: DataFrame, time_col: str, cutoff) -> tuple[DataFrame, DataFrame]:
    """(rows behind ``cutoff``, rows at or after it); all on time if None."""
    if cutoff is None:
        return df.limit(0), df
    t = F.col(time_col)
    return df.filter(t < F.lit(cutoff)), df.filter(t >= F.lit(cutoff))


def late_data_side_channel(
    df: DataFrame,
    time_col: str,
    delay,
    main_fn: Callable[[DataFrame, int], None],
    late_fn: Callable[[DataFrame, int], None],
    checkpoint: str | None = None,
):
    """allowedLateness + sideOutputLateData emulation
    (WindowedStream.allowedLateness:158 / sideOutputLateData:177).

    Structured Streaming silently drops rows behind the watermark inside
    stateful ops; this collector tracks the watermark equivalent
    (max event time seen - delay) across micro-batches in the foreachBatch
    closure and routes would-be-late rows to ``late_fn`` while on-time
    rows go to ``main_fn``.  The caller applies its windowed aggregation
    inside ``main_fn`` (per-batch) or downstream of the main sink.

    The high-watermark is persisted beside the checkpoint location
    (``<checkpoint>/_late_wm.json``, see ``_CutoffLog``) so a query
    restarted from its checkpoint resumes with the prior watermark
    instead of silently routing genuinely-late rows to ``main_fn``, and
    a replayed batch routes as it did the first time.  Without a
    checkpoint the watermark is in-memory only (documented restart
    limitation; requires a driver-visible filesystem path).  ``delay``
    is seconds or an "N unit" string.
    """
    from flink_1_8_sourcecode_spark.streaming.stateful import _interval_seconds

    lag = dt.timedelta(
        seconds=_interval_seconds(delay) if isinstance(delay, str) else float(delay)
    )
    log = _CutoffLog(checkpoint, "_late_wm.json")

    def route(batch: DataFrame, batch_id: int) -> None:
        batch.persist()
        try:
            cutoff = log.cutoff(batch_id)
            late, on_time = _split_at(batch, time_col, cutoff)
            late_fn(late, batch_id)
            main_fn(on_time, batch_id)
            mx = batch.agg(F.max(time_col)).first()[0]
            log.advance(batch_id, cutoff, None if mx is None else mx - lag)
        finally:
            batch.unpersist()

    w = df.writeStream.foreachBatch(route)
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    return w


def async_map(
    df: DataFrame,
    fn: Callable[[dict], dict],
    output_schema: str,
    concurrency: int = 16,
) -> DataFrame:
    """AsyncDataStream.unorderedWait analogue: apply a (blocking) per-row
    callable with ``concurrency`` in-flight requests per Arrow batch.
    Row order within a batch is preserved in the output (results are
    gathered positionally), matching orderedWait; throughput matches
    unorderedWait because requests overlap."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        with ThreadPoolExecutor(max_workers=concurrency) as pool:
            for pdf in batches:
                rows = pdf.to_dict("records")
                results = list(pool.map(fn, rows))
                yield pd.DataFrame(results)

    return df.mapInPandas(run, output_schema)


def punctuated_watermark_channel(
    df: DataFrame,
    time_col: str,
    marker_pred,
    marker_wm_col,
    main_fn: Callable[[DataFrame, int], None],
    late_fn: Callable[[DataFrame, int], None],
    checkpoint: str | None = None,
):
    """Punctuated watermarks (AssignerWithPunctuatedWatermarks,
    DataStream.java:926): the watermark advances ONLY when designated
    marker rows appear in the stream — ``marker_pred`` (Column) selects
    them, ``marker_wm_col`` (Column) reads the watermark they carry.

    Structured Streaming's withWatermark is strictly bounded-delay, so
    the punctuated contract runs in the foreachBatch collector exactly
    like late_data_side_channel: marker rows advance the high-watermark
    (persisted beside the checkpoint), data rows behind it route to
    ``late_fn``, the rest to ``main_fn``.  Markers are not forwarded.
    """
    log = _CutoffLog(checkpoint, "_punct_wm.json")

    def route(batch: DataFrame, batch_id: int) -> None:
        batch.persist()
        try:
            cutoff = log.cutoff(batch_id)
            late, on_time = _split_at(batch.filter(~marker_pred), time_col, cutoff)
            late_fn(late, batch_id)
            main_fn(on_time, batch_id)
            mx = batch.filter(marker_pred).agg(F.max(marker_wm_col)).first()[0]
            log.advance(batch_id, cutoff, mx)
        finally:
            batch.unpersist()

    w = df.writeStream.foreachBatch(route)
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    return w
