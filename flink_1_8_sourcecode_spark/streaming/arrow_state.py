"""Keyed state for the hand-written stateful operators: one protocol.

The reference keeps operator state in typed state backends
(flink-runtime/.../state/heap/HeapKeyedStateBackend.java) behind one
keyed-state and timer interface.  Here ``run`` is that interface: it
makes the only ``applyInPandasWithState`` call of the Arrow-state
operators and speaks Spark's ``GroupState`` protocol for all of them.
An operator is a pure per-group ``step``; its state is a few named
pandas frames, each stored as one ``binary`` state column holding an
Arrow IPC stream whose rows carry the user key in its own Spark type
(vectorized, type-faithful, no pickle).

Keys hash into a fixed number of key groups
(flink-runtime/.../state/KeyGroupRangeAssignment.java) for the operators
that shard on ``key_group(keys)``: one invocation per key group per
micro-batch serves every key of the group, which amortizes the
per-invocation JVM<->Python protocol cost (at high key cardinality the
dominant cost, not the arithmetic).  ``KEY_GROUPS`` is a constant, not
a setting: it is part of the checkpoint layout (a key's state lives in
the group its hash selects), so a query must restart with the same
count it started with, just as Flink pins maxParallelism through
savepoints.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.group import GroupedData
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# Measured over 16/32/64 on the registry's streaming trigger, evictor,
# temporal-join and CEP queries (sf0.01, 4 cores): 16 was the smallest count
# no slower than the per-operator counts it replaced.  It also bounds the
# stateful stage's useful parallelism: at most 16 tasks hold state.
KEY_GROUPS = 16


def key_group(*keys: str) -> Column:
    """The key group of a row: ``xxhash64(keys) mod KEY_GROUPS``."""
    return F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(KEY_GROUPS))


def run(
    grouped: GroupedData,
    step: Callable,
    out_schema: str,
    state: tuple[tuple[str, list[str]], ...],
) -> DataFrame:
    """Drive ``step`` over every group of ``grouped`` in append mode with
    event-time timers.

    ``state`` names the group's frames and their columns.  Per
    invocation the frames are decoded (empty when the group has no
    state), the group's input batches are concatenated into one frame,
    and ``step(key, frames, batch, wm_ms, timed_out)`` returns the new
    frames, the rows to emit (or None) and an event-time timer (or
    None).  When every returned frame is empty the group's state is
    removed; otherwise the frames are stored and the timer is armed at
    ``max(timer_ms, wm_ms + 1)``, so a group that stops receiving data is
    still invoked once the watermark passes its next deadline.
    """
    names = [name for name, _cols in state]
    # private attribute, but the only way to know the input columns when
    # a timer fires with no input batch
    in_cols = grouped._df.columns

    def fn(key, batches: Iterator[pd.DataFrame], gs: GroupState):
        blobs = gs.get if gs.exists else [b""] * len(state)
        frames = {name: de(bytes(b), cols) for (name, cols), b in zip(state, blobs)}
        wm_ms = gs.getCurrentWatermarkMs()
        frames, out, timer_ms = step(
            key, frames, concat(list(batches), in_cols), wm_ms, gs.hasTimedOut
        )
        if all(not len(frames[name]) for name in names):
            if gs.exists:
                gs.remove()
        else:
            gs.update(tuple(ser(frames[name]) for name in names))
            if timer_ms is not None:
                gs.setTimeoutTimestamp(max(int(timer_ms), wm_ms + 1))
        if out is not None and len(out):
            yield out

    return grouped.applyInPandasWithState(
        fn,
        out_schema,
        ", ".join(f"{name} binary" for name in names),
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )


def epoch_us(times: pd.Series) -> np.ndarray:
    """Event times as int64 microseconds since the epoch."""
    return times.astype("datetime64[us]").astype("int64").to_numpy()


def release(
    pend: pd.DataFrame, time_col: str, order: list[str], wm_ms: int
) -> tuple[pd.DataFrame, pd.DataFrame, int | None]:
    """Watermark release of a pending buffer: stable-sort it by ``order``
    and split it into ``(ready, keep, timer_ms)`` — rows at or behind the
    watermark, rows still pending, and a timer at the earliest pending
    row (None when nothing is pending)."""
    if not len(pend):
        return pend, pend, None
    pend = pend.sort_values(order, kind="stable", ignore_index=True)
    t = epoch_us(pend[time_col])
    ready = t <= wm_ms * 1000
    timer_ms = None if ready.all() else int(t[~ready].min() / 1e3) + 1
    return pend[ready], pend[~ready], timer_ms


def ser(pdf: pd.DataFrame) -> bytes:
    """Encode a pandas DataFrame as an Arrow IPC stream (b'' if empty)."""
    if not len(pdf):
        return b""
    tbl = pa.Table.from_pandas(pdf, preserve_index=False)
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, tbl.schema) as w:
        w.write_table(tbl)
    return sink.getvalue().to_pybytes()


def de(buf: bytes, cols: list[str]) -> pd.DataFrame:
    """Decode an Arrow IPC stream; empty buffer -> empty frame with cols."""
    if not buf:
        return pd.DataFrame(columns=cols)
    return pa.ipc.open_stream(pa.BufferReader(buf)).read_all().to_pandas()


def concat(parts: list[pd.DataFrame], cols: list[str]) -> pd.DataFrame:
    """Concatenate non-empty frames (empty frame with cols if none)."""
    parts = [p for p in parts if len(p)]
    if not parts:
        return pd.DataFrame(columns=cols)
    return pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
