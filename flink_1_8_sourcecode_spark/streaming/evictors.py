"""Window evictors — CountEvictor / TimeEvictor / DeltaEvictor parity
(flink-streaming-java/.../windowing/evictors/CountEvictor.java,
TimeEvictor.java, DeltaEvictor.java): remove elements from a window's
buffer before the window function applies.

Spark's windowed aggregation never exposes the element buffer, so
evicted windows run in the stateful layer: per (key, open window) the
state holds the SURVIVING element buffer only — count/time evictors are
suffix-keepers, so eviction is applied eagerly on every micro-batch and
state stays bounded at ``n`` elements (count evictor) or one time-span
(time evictor), never the full window.  The window function (sum/count
here) applies to the survivors when the global watermark closes the
window — evict-before-apply, the reference default (``doEvictAfter=false``).

Scale notes: ``evicted_tumble_agg`` is a per-key-group step driven by
``arrow_state.run``; eviction is vectorized numpy — a lexsort per
group-batch plus boolean masks, no per-element Python.  The
user-supplied ``delta_fn`` is tried on whole numpy arrays first and
falls back to per-element calls only if it is not vectorizable.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from flink_1_8_sourcecode_spark.streaming import arrow_state


def evicted_tumble_agg(
    df: DataFrame,
    key: str,
    time_col: str,
    value_col: str,
    window_seconds: float,
    evictor: tuple[str, float],
    watermark_delay: str = "0 seconds",
    delta_fn=None,
) -> DataFrame:
    """Tumbling event-time windows whose buffer passes through an
    evictor before aggregating:

    - ``("count", n)`` — CountEvictor.java: keep only the LAST n
      elements (in event-time order) of each window;
    - ``("time", span)`` — TimeEvictor.java: keep elements with
      ``ts > max_ts_in_window - span``;
    - ``("delta", threshold)`` — DeltaEvictor.java: evict every element
      whose ``delta_fn(element, last_element) >= threshold``, where
      ``last_element`` is the window's final element.

    Count/time evictors are suffix-keepers, so eviction applies eagerly
    on every arrival and state stays bounded.  The delta evictor is
    relative to the LAST element — which isn't known until the window
    closes — so its windows buffer every element, exactly like the
    reference's EvictingWindowOperator (which keeps the full element
    list for ANY evictor); eviction then runs once at firing time
    (evict-before-apply, doEvictAfter=false).

    Output: ``(key, w_start, cnt, total)`` over the surviving elements,
    one row per window at watermark passage.
    """
    kind, param = evictor
    if kind not in ("count", "time", "delta"):
        raise ValueError(f"unknown evictor {kind!r}")
    if delta_fn is None:
        delta_fn = lambda e, last: abs(e - last)  # noqa: E731
    key_field = df.schema[key]
    key_name, key_ddl = key_field.name, key_field.dataType.simpleString()
    out_schema = f"{key_name} {key_ddl}, w_start timestamp, cnt long, total double"
    buf_cols = ["k", "ws", "t", "v"]

    def delta_keep_mask(varr: np.ndarray, last_v: float) -> np.ndarray:
        """Survivors under the delta rule (delta < threshold); vectorized
        call first, per-element fallback for non-vectorizable user fns."""
        try:
            r = np.asarray(delta_fn(varr, last_v))
            if r.shape == varr.shape:
                return r < param
        except Exception:
            pass
        return np.array([delta_fn(float(x), last_v) < param for x in varr], dtype=bool)

    def step(_kg, frames, batch, wm_ms, _timed_out):
        # the element buffer is a frame of (key, ws, t, v); the numpy work
        # below runs on a float (n, 4) matrix whose first column is the
        # key's dense code into ``uniq``
        wm = wm_ms / 1000.0
        t = arrow_state.epoch_us(batch[time_col]) / 1e6
        v = batch[value_col].astype(float).to_numpy()
        ws = t - np.mod(t, window_seconds)
        live = ws + window_seconds > wm  # behind-watermark: window already fired
        arrived = pd.DataFrame({
            "k": batch[key_name].to_numpy()[live],
            "ws": ws[live], "t": t[live], "v": v[live],
        })
        frame = arrow_state.concat([frames["buf"], arrived], buf_cols)
        codes, uniq = pd.factorize(frame["k"], use_na_sentinel=False)
        buf = np.column_stack(
            [codes] + [frame[c].to_numpy(dtype=np.float64) for c in buf_cols[1:]]
        )

        def group_bounds(keys2: np.ndarray):
            """Start/end indices of each (u, ws) run (buf sorted)."""
            change = np.concatenate(
                ([True], (keys2[1:, 0] != keys2[:-1, 0]) | (keys2[1:, 1] != keys2[:-1, 1]))
            )
            starts = np.flatnonzero(change)
            ends = np.concatenate((starts[1:], [len(keys2)]))
            return starts, ends

        if len(buf):
            # key-major, event-time order (value tiebreak) within each
            # window — the order the reference's TimestampedValue buffer
            # is consumed in
            buf = buf[np.lexsort((buf[:, 3], buf[:, 2], buf[:, 1], buf[:, 0]))]
            if kind != "delta":
                # eager suffix-keeping eviction keeps state bounded; delta
                # buffers everything until firing (needs the last element)
                starts, ends = group_bounds(buf[:, :2])
                grp_end = np.repeat(ends, ends - starts)
                if kind == "count":
                    # keep the last n per window
                    keep = grp_end - np.arange(len(buf)) <= int(param)
                else:
                    # keep one span behind each window's max timestamp
                    keep = buf[:, 2] > buf[grp_end - 1, 2] - param
                buf = buf[keep]

        out_rows: list[tuple] = []
        if len(buf):
            closing = buf[:, 1] + window_seconds <= wm
            fired, buf = buf[closing], buf[~closing]
            if len(fired):
                starts, ends = group_bounds(fired[:, :2])
                for s, e in zip(starts, ends):
                    varr = fired[s:e, 3]
                    if kind == "delta":
                        varr = varr[delta_keep_mask(varr, float(varr[-1]))]
                    out_rows.append(
                        (uniq[int(fired[s, 0])], float(fired[s, 1]), len(varr), float(varr.sum()))
                    )

        out = None
        if out_rows:
            u_arr, ws_arr, cnt_arr, tot_arr = zip(*out_rows)
            out = pd.DataFrame(
                {
                    key_name: list(u_arr),
                    "w_start": pd.to_datetime(np.array(ws_arr), unit="s"),
                    "cnt": np.array(cnt_arr, dtype="int64"),
                    "total": np.array(tot_arr, dtype="float64"),
                }
            )
        # a group with no open window drops its state, so state stays
        # bounded by ACTIVE keys, not all keys ever seen
        kept = pd.DataFrame({
            "k": uniq.take(buf[:, 0].astype(np.int64)),
            "ws": buf[:, 1], "t": buf[:, 2], "v": buf[:, 3],
        })
        timer_ms = int((buf[:, 1].min() + window_seconds) * 1000) if len(buf) else None
        return {"buf": kept}, out, timer_ms

    grouped = (
        df.withWatermark(time_col, watermark_delay)
        .withColumn("__kg", arrow_state.key_group(key))
        .groupBy("__kg")
    )
    return arrow_state.run(grouped, step, out_schema, state=(("buf", buf_cols),))
