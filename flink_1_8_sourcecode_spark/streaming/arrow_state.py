"""Keyed state layout for the hand-written applyInPandasWithState operators.

The reference keeps operator state in typed state backends
(flink-runtime/.../state/heap/HeapKeyedStateBackend.java) and never runs
one state task per user key: keys hash into a fixed number of key groups
(flink-runtime/.../state/KeyGroupRangeAssignment.java) and each task owns
a key-group range.  The operators built on this module do the same: the
stateful shuffle is on ``key_group(keys)``, one invocation per key group
per micro-batch serves every key of the group, and the group's state is
one or more ``binary`` state columns, each holding an Arrow IPC stream of
a small pandas DataFrame whose rows carry the user key in its own Spark
type.  Arrow keeps the encode / decode vectorized and type-faithful (no
pickle, no Python object churn).

``KEY_GROUPS`` is a constant, not a setting: it is part of the checkpoint
layout (a key's state lives in the group its hash selects), so a query
must restart with the same count it started with, just as Flink pins
maxParallelism through savepoints.
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F

# Measured over 16/32/64 on the registry's streaming trigger, evictor,
# temporal-join and CEP queries (sf0.01, 4 cores): 16 was the smallest count
# no slower than the per-operator counts it replaced.  It also bounds the
# stateful stage's useful parallelism: at most 16 tasks hold state.
KEY_GROUPS = 16


def key_group(*keys: str) -> Column:
    """The key group of a row: ``xxhash64(keys) mod KEY_GROUPS``."""
    return F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(KEY_GROUPS))


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
