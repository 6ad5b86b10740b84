"""Window triggers — early-firing emulation of the reference's trigger
surface (flink-streaming-java/.../windowing/triggers/CountTrigger.java,
ContinuousEventTimeTrigger.java, DeltaTrigger.java, PurgingTrigger.java).

Structured Streaming's windowed aggregation fires once per micro-batch
with no user trigger hook, so custom triggers run in the stateful layer
(``arrow_state.run``): per key, open tumbling windows live in state;
trigger conditions emit EARLY partial rows (is_final=false); the global
watermark passing a window's end emits the final row (is_final=true)
and purges — the classic assign -> state -> trigger -> emit loop of
WindowOperator.java:294.  Event-time timeouts flush windows of keys
that receive no further data, exactly like Flink's event-time timers.

Scale notes:

- **State.** ``triggered_tumble_agg`` is a per-key-group step driven by
  ``arrow_state.run``; its state is one frame of (key, w_start, cnt,
  total, cursor) open-window accumulators, never buffered rows.
- **Vectorization.** Per-batch work is numpy: count-trigger firings
  fall out of modular arithmetic on cumulative counts,
  continuous-trigger firings out of boundary crossings, and emitted
  snapshots out of cumulative sums.  Only the delta trigger walks
  elements (its comparison point is data-dependent on the previous
  firing, sequential by definition — DeltaTrigger.java's
  onElement/ValueState<T> loop), and that walk is a float-only scan
  over numpy arrays with firing indices collected for vectorized
  emission.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from flink_1_8_sourcecode_spark.streaming import arrow_state


def _delta_fire_scan(delta_fn, param, cursor, wvals, chunk=512):
    """DeltaTrigger scan: firing indices + final comparison point.

    The comparison point is data-dependent on the previous firing
    (sequential by definition — DeltaTrigger.java's onElement/
    ValueState<T> loop), but BETWEEN firings the scan is a pure
    "first index where delta_fn(c, v) > param" search, so it runs in
    vectorized chunks: one ``delta_fn(c, chunk_array)`` call prunes up
    to ``chunk`` candidates at a time (same vectorized-try convention as
    evictors.delta_keep_mask), falling back to per-element calls for
    non-vectorizable user functions.  Cost: O(m + fires*chunk) element
    evaluations, all inside numpy for a vectorizable delta_fn.
    """
    fires: list[int] = []
    c = cursor
    m = len(wvals)
    i = 0
    if c != c:  # NaN: DeltaTrigger's empty ValueState seeds, no fire
        if m == 0:
            return fires, c
        c = float(wvals[0])
        i = 1
    vectorizable = True  # probe on first chunk; remember the verdict
    first_probe = True
    while i < m:
        j = min(i + chunk, m)
        seg = wvals[i:j]
        d = None
        if vectorizable:
            try:
                r = np.asarray(delta_fn(c, seg))
                if r.shape == seg.shape:
                    d = r
                elif first_probe:
                    vectorizable = False
            except Exception:
                if first_probe:
                    vectorizable = False
            first_probe = False
        if d is None:
            d = np.array([delta_fn(c, float(x)) for x in seg])
        hits = d > param
        if hits.any():
            k = int(np.argmax(hits))
            fires.append(i + k)
            c = float(seg[k])
            i += k + 1
        else:
            i = j
    return fires, c


def _scan_group(kind, param, purging, delta_fn, acc, wvals):
    """One (key, window) group of one micro-batch: detect early firings
    and advance the accumulator.

    ``acc`` is the window's ``[cnt, total, cursor]`` state (mutated in
    place; cursor pre-initialized by the caller on window creation).
    Returns ``(fires, cnts, tots)`` — the 0-based firing indices within
    the sorted batch slice and the snapshot (cnt, total) emitted at each
    firing.  Pure function of its inputs, unit-tested against a per-row
    reference implementation in ``tests/test_triggers.py``.
    """
    cnt0, total0, cursor = acc
    m = len(wvals)
    if m == 0:
        empty = np.empty(0, dtype=np.int64)
        return empty, empty, np.empty(0)
    csum = np.cumsum(wvals)

    if kind == "count":
        # fires at elements where the since-fire counter hits param:
        # (cursor + i + 1) % param == 0 — pure modular arithmetic, no scan
        fires = np.flatnonzero(np.mod(cursor + np.arange(1, m + 1), param) == 0)
        acc[2] = float((cursor + m) % param)
    elif kind == "delta":
        fires_l, c = _delta_fire_scan(delta_fn, param, cursor, wvals)
        fires = np.asarray(fires_l, dtype=np.int64)
        acc[2] = c
    else:
        fires = np.empty(0, dtype=np.int64)  # continuous fires on watermark

    if len(fires):
        # early-firing snapshots, all fires of the group at once
        if purging:
            cnts = np.diff(np.concatenate(([-1], fires)))
            cnts[0] = cnt0 + fires[0] + 1
            tots = np.diff(np.concatenate(([0.0], csum[fires])))
            tots[0] = total0 + csum[fires[0]]
        else:
            cnts = cnt0 + fires + 1
            tots = total0 + csum[fires]
    else:
        cnts = tots = np.empty(0)

    if purging and len(fires):
        last = int(fires[-1])
        acc[0] = m - 1 - last
        acc[1] = float(csum[-1] - csum[last])
    else:
        acc[0] = cnt0 + m
        acc[1] = total0 + float(csum[-1])
    return fires, cnts, tots


def triggered_tumble_agg(
    df: DataFrame,
    key: str,
    time_col: str,
    value_col: str,
    window_seconds: float,
    trigger: tuple[str, float],
    watermark_delay: str = "0 seconds",
    purging: bool = False,
    delta_fn=None,
) -> DataFrame:
    """Tumbling event-time sum/count windows with an early-firing trigger.

    ``trigger``:
    - ``("count", n)`` — CountTrigger.java: FIRE every n elements of a
      window (counted from the last firing).
    - ``("continuous", interval)`` — ContinuousEventTimeTrigger.java:
      FIRE whenever the watermark passes the next epoch-aligned
      ``interval`` boundary inside the window.
    - ``("delta", threshold)`` — DeltaTrigger.java: the window state
      keeps the element that last fired (seeded with the first
      element); FIRE when ``delta_fn(last, current) > threshold``, then
      the current element becomes the new comparison point — exactly
      the reference's onElement/ValueState<T> loop.

    ``purging=True`` wraps the trigger PurgingTrigger-style: early
    firings reset the accumulator (FIRE_AND_PURGE), so each firing
    reports only the delta since the previous one.  The final firing at
    watermark passage always purges the window.

    Output: ``(key, w_start timestamp, cnt, total, is_final)``; rows
    behind the watermark for an already-purged window are dropped
    (Flink default without allowed lateness).
    """
    kind, param = trigger
    if kind not in ("count", "continuous", "delta"):
        raise ValueError(f"unknown trigger {kind!r}")
    if delta_fn is None:
        # the reference ships DeltaFunction as user code; the default
        # mirrors its euclidean example on the aggregated value column
        delta_fn = lambda last, cur: abs(cur - last)  # noqa: E731
    key_field = df.schema[key]
    key_name, key_ddl = key_field.name, key_field.dataType.simpleString()
    out_schema = (
        f"{key_name} {key_ddl}, w_start timestamp, cnt long, total double, is_final boolean"
    )
    st_cols = ["k", "w", "cnt", "total", "cursor"]

    def step(_kg, frames, batch, wm_ms, _timed_out):
        # wins: (key, ws) -> [cnt, total, cursor]; cursor NaN = DeltaTrigger's
        # empty ValueState.  State is one row per open (key, window).
        st = frames["buf"]
        wins: dict[tuple, list] = {
            (u, w): [c, t, cu]
            for u, w, c, t, cu in zip(*(st[col].tolist() for col in st_cols))
        }
        wm = wm_ms / 1000.0  # global event-time watermark
        out_u: list = []
        out_ws: list[float] = []
        out_cnt: list[int] = []
        out_total: list[float] = []
        out_final: list[bool] = []

        def emit(u, ws: float, cnt: int, total: float, final: bool) -> None:
            out_u.append(u)
            out_ws.append(ws)
            out_cnt.append(int(cnt))
            out_total.append(float(total))
            out_final.append(final)

        ts = arrow_state.epoch_us(batch[time_col]) / 1e6
        if len(ts):
            vals = batch[value_col].astype(float).to_numpy()
            # keys as dense codes for the numpy work, values by code
            us, uniq = pd.factorize(batch[key_name], use_na_sentinel=False)
            kvals = uniq.tolist()
            ws_all = ts - np.mod(ts, window_seconds)
            live = ws_all + window_seconds > wm  # behind-watermark rows dropped
            ts, vals, us, ws_all = ts[live], vals[live], us[live], ws_all[live]
        if len(ts):
            # key-major, then event-time order (value tiebreak); within a
            # key, ts order makes (key, window) runs contiguous
            order = np.lexsort((vals, ts, us))
            ts, vals, us, ws_all = ts[order], vals[order], us[order], ws_all[order]
            change = np.concatenate(
                ([True], (us[1:] != us[:-1]) | (ws_all[1:] != ws_all[:-1]))
            )
            starts = np.flatnonzero(change)
            ends = np.concatenate((starts[1:], [len(us)]))

            for s, e in zip(starts, ends):
                u, w = kvals[us[s]], float(ws_all[s])
                wvals = vals[s:e]
                acc = wins.get((u, w))
                if acc is None:
                    if kind == "count":
                        cursor = 0.0  # elements since last fire
                    elif kind == "continuous":
                        t0 = ts[s]  # next epoch-aligned boundary
                        cursor = t0 - (t0 % param) + param
                    else:
                        cursor = np.nan  # DeltaTrigger's empty ValueState
                    acc = wins[(u, w)] = [0, 0.0, cursor]
                fires, cnts, tots = _scan_group(
                    kind, param, purging, delta_fn, acc, wvals
                )
                n = len(fires)
                if n:
                    out_u.extend([u] * n)
                    out_ws.extend([w] * n)
                    out_cnt.extend(int(c) for c in cnts)
                    out_total.extend(float(t) for t in tots)
                    out_final.extend([False] * n)

        for u, w in list(wins):
            acc = wins[(u, w)]
            if kind == "continuous":
                # fire at every passed epoch-aligned boundary in the window
                while acc[2] <= wm and acc[2] < w + window_seconds:
                    emit(u, w, acc[0], acc[1], final=False)
                    if purging:
                        acc[0], acc[1] = 0, 0.0
                    acc[2] += param
            if w + window_seconds <= wm:
                emit(u, w, acc[0], acc[1], final=True)
                del wins[(u, w)]

        # event-time timer at the earliest pending deadline (next window
        # end or continuous boundary), like Flink's registerEventTimeTimer;
        # a group with no open window drops its state, so state stays
        # bounded by ACTIVE keys, not all keys ever seen
        deadlines = [w + window_seconds for (_u, w) in wins]
        if kind == "continuous":
            deadlines += [a[2] for a in wins.values()]
        timer_ms = int(min(deadlines) * 1000) if deadlines else None
        st_new = pd.DataFrame(
            [(u, w, *a) for (u, w), a in wins.items()], columns=st_cols
        )
        out = None
        if out_ws:
            out = pd.DataFrame(
                {
                    key_name: out_u,
                    "w_start": pd.to_datetime(np.array(out_ws), unit="s"),
                    "cnt": np.array(out_cnt, dtype="int64"),
                    "total": np.array(out_total, dtype="float64"),
                    "is_final": np.array(out_final, dtype="bool"),
                }
            )
        return {"buf": st_new}, out, timer_ms

    grouped = (
        df.withWatermark(time_col, watermark_delay)
        .withColumn("__kg", arrow_state.key_group(key))
        .groupBy("__kg")
    )
    return arrow_state.run(grouped, step, out_schema, state=(("buf", st_cols),))
