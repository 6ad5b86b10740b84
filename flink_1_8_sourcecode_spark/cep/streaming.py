"""Streaming CEP: the NFA matcher inside applyInPandasWithState.

Reference parity: Flink's CepOperator runs the NFA over keyed state,
emitting matches as the event-time watermark passes them
(flink-libraries/flink-cep/.../nfa/NFA.java:85; operator
AbstractKeyedCEPPatternOperator).  Our engine buffers each key's rows in
GroupState and, per micro-batch, runs the same batch matcher over the
buffer — but only for *stable* starts, i.e. rows whose full pattern
window (``within``) has passed the current watermark, so late/out-of-
order arrivals inside the watermark delay cannot invalidate an emitted
match.

Boundedness: the pattern MUST carry ``within`` (same requirement keeps
Flink's shared buffer bounded).  After each batch the buffer is trimmed
to rows at or after the resume point:
- resume >= first unstable start (everything earlier was scanned);
- under skip_past_last, also past the last emitted match's end (those
  rows are consumed by definition of the skip strategy).

State = an Arrow-IPC row buffer plus per-key (next match id, resume
timestamp) cursors — O(rows within the watermark+within horizon), the
same bound as Flink's NFA state.  The buffer is typed columnar (no
pickle), kept sorted with one stable pandas sort per batch, and resume
trims are searchsorted on the time column; rows materialize as dicts
only for the NFA scan itself (the matcher is per-row by nature — it IS
the NFA).  The stateful shuffle rides on Flink-style key groups
(``arrow_state.key_group``) and one invocation serves all of a group's
keys.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from flink_1_8_sourcecode_spark.cep.matcher import _find_matches
from flink_1_8_sourcecode_spark.cep.pattern import Pattern
from flink_1_8_sourcecode_spark.streaming import arrow_state


def match_pattern_stream(
    stream: DataFrame,
    pattern: Pattern,
    key: str,
    time_col: str,
    select_cols: list[str],
    watermark_delay: str,
    tiebreak: str | None = None,
    emit_timeouts: bool = False,
    match_reducer=None,
    reduced_schema: str | None = None,
) -> DataFrame:
    """Streaming PatternStream.select: same output shape as the batch
    ``match_pattern`` ((key, match_id, stage, seq, select_cols)), emitted
    in append mode as matches stabilize behind the watermark.

    ``emit_timeouts=True`` is PatternStream.select(timeoutTag, ...) on a
    STREAM: the output gains a ``timed_out`` boolean, and a partial
    match whose ``within`` window has fully passed the watermark (so no
    in-delay arrival can ever complete it) emits its longest bound
    stage-prefix with ``timed_out=true`` — the stable-start cutoff makes
    the timeout decision final by construction.

    Keys are sharded into Flink-style key groups
    (``arrow_state.key_group``, KeyGroupRangeAssignment.java): one
    invocation per group per micro-batch runs the NFA for all of the
    group's keys, amortizing the per-invocation JVM<->Python protocol
    cost.

    ``match_reducer`` folds each completed match into ONE output row
    before it leaves Python (streaming MATCH_RECOGNIZE's ONE ROW PER
    MATCH shape): called as ``match_reducer(key_value, match_rows)``
    where ``match_rows`` is the match's full buffered rows in seq order,
    each augmented with ``__stage``; must return a dict matching
    ``reduced_schema`` (a DDL string that then becomes the output
    schema).  All rows of a match live in one invocation by
    construction, so the fold is stateless and needs no downstream
    streaming aggregation.  Mutually exclusive with ``emit_timeouts``
    (a reduced row can't carry a per-event timeout channel)."""
    pattern = pattern.validate()
    if match_reducer is not None and emit_timeouts:
        raise ValueError("match_reducer and emit_timeouts are mutually exclusive")
    if (match_reducer is None) != (reduced_schema is None):
        raise ValueError("match_reducer and reduced_schema go together")
    if pattern.within_seconds is None:
        raise ValueError(
            "streaming CEP requires Pattern.within(...) — unbounded patterns "
            "would keep unbounded state (same constraint as Flink's CEP)"
        )
    within = pattern.within_seconds
    skip_past = pattern.skip_strategy == "skip_past_last"
    src = stream.withWatermark(time_col, watermark_delay)

    key_t = src.schema[key].dataType.simpleString()
    sel_schema = ", ".join(
        f"{c} {src.schema[c].dataType.simpleString()}" for c in select_cols
    )
    timeout_schema = ", timed_out boolean" if emit_timeouts else ""
    if match_reducer is not None:
        out_schema = reduced_schema
        # field-name extraction must respect nesting: decimal(10,2) /
        # struct<...> / map<...> DDL contains commas of their own
        out_cols = []
        depth, cur = 0, []
        for ch in reduced_schema + ",":
            if ch in "(<":
                depth += 1
            elif ch in ")>":
                depth -= 1
            if ch == "," and depth == 0:
                out_cols.append("".join(cur).strip().split()[0])
                cur = []
            else:
                cur.append(ch)
    else:
        out_schema = (
            f"{key} {key_t}, match_id long, stage string, seq int"
            f"{timeout_schema}, {sel_schema}"
        )
        out_cols = [key, "match_id", "stage", "seq"] + (
            ["timed_out"] if emit_timeouts else []
        ) + list(select_cols)

    # the full input row must survive buffering: DEFINE/where predicates
    # may reference any column, not just the selected ones
    buf_cols = ["__t", *stream.columns]

    meta_cols = [key, "__next_id", "__resume"]

    def fn(_kg, batches: Iterator[pd.DataFrame], state: GroupState):
        # buf = typed row frame with a __t seconds column, kept sorted by
        # (key, __t, tiebreak); per-key (next_id, resume) cursors live in
        # an Arrow meta frame — state rides as Arrow IPC, never pickle
        if state.exists:
            buf_blob, meta_blob = state.get
            parts = [arrow_state.de(bytes(buf_blob), buf_cols)]
            meta = arrow_state.de(bytes(meta_blob), meta_cols)
        else:
            parts, meta = [], pd.DataFrame(columns=meta_cols)
        for pdf in batches:
            p = pdf[buf_cols[1:]].copy()
            p.insert(
                0, "__t",
                pdf[time_col].astype("datetime64[us]").astype("int64").to_numpy() / 1e6,
            )
            parts.append(p)
        buf = arrow_state.concat(parts, buf_cols)

        wm_ms = state.getCurrentWatermarkMs()
        stable_limit = wm_ms / 1000.0 - within

        # per-key cursors: next_id survives a drained buffer so match ids
        # never recycle within a key (the batch matcher's id contract)
        cursors = {
            k: [int(n), float(r)]
            for k, n, r in zip(meta[key], meta["__next_id"], meta["__resume"])
        }
        out_rows = []
        kept: list[pd.DataFrame] = []
        if len(buf):
            # state part first + stable sort == the incremental stable
            # merge (equal keys keep earlier-batch order)
            tb = [tiebreak] if isinstance(tiebreak, str) else list(tiebreak or [])
            buf = buf.sort_values(
                [key, "__t", *tb], kind="stable", ignore_index=True,
            )
            for kval, grp in buf.groupby(key, sort=False):
                cur = cursors.setdefault(kval, [0, float("-inf")])
                next_id, resume = cur
                tarr = grp["__t"].to_numpy()
                grp = grp.iloc[np.searchsorted(tarr, resume, side="left"):]
                if not len(grp):
                    continue
                times = grp["__t"].tolist()
                rows = grp.drop(columns="__t").to_dict("records")

                last_end = float("-inf")
                first_unstable = next((t for t in times if t > stable_limit), None)
                found = _find_matches(
                    rows, times, pattern,
                    max_start_time=stable_limit, emit_timeouts=emit_timeouts,
                )
                for item in found:
                    m, is_timeout = item if emit_timeouts else (item, False)
                    if match_reducer is not None:
                        out_rows.append(
                            match_reducer(
                                kval,
                                [
                                    {**rows[ridx], "__stage": stage_name}
                                    for stage_name, ridx in m
                                ],
                            )
                        )
                    else:
                        for seq, (stage_name, ridx) in enumerate(m):
                            rec = {
                                key: kval,
                                "match_id": next_id,
                                "stage": stage_name,
                                "seq": seq,
                            }
                            if emit_timeouts:
                                rec["timed_out"] = is_timeout
                            for c in select_cols:
                                rec[c] = rows[ridx][c]
                            out_rows.append(rec)
                    next_id += 1
                    if m and not is_timeout:
                        # completed matches drive skip_past trimming;
                        # timeout prefixes consume nothing
                        last_end = max(last_end, max(times[idx] for _, idx in m))

                new_resume = first_unstable if first_unstable is not None else (
                    times[-1] + 1e-6 if times else resume
                )
                if skip_past and last_end > float("-inf"):
                    new_resume = max(new_resume, last_end + 1e-6)
                resume = max(resume, new_resume)
                grp = grp.iloc[
                    np.searchsorted(grp["__t"].to_numpy(), resume, side="left"):
                ]
                if len(grp):
                    kept.append(grp)
                cur[0], cur[1] = next_id, resume

        buf = arrow_state.concat(kept, buf_cols)
        meta = pd.DataFrame(
            {
                key: list(cursors),
                "__next_id": [c[0] for c in cursors.values()],
                "__resume": [c[1] for c in cursors.values()],
            },
            columns=meta_cols,
        )
        state.update((
            arrow_state.ser(buf.reset_index(drop=True)),
            arrow_state.ser(meta),
        ))
        if len(buf):
            # Event-time timer at the earliest buffered row + within: the
            # group re-fires when its oldest pending start stabilizes even
            # if no further events arrive (Flink's CEP cleanup timer parity).
            earliest = float(buf["__t"].min())
            state.setTimeoutTimestamp(
                max(int((earliest + within) * 1000) + 1, wm_ms + 1)
            )
        if out_rows:
            yield pd.DataFrame(out_rows, columns=out_cols)

    grouped = src.withColumn("__kg", arrow_state.key_group(key)).groupBy("__kg")
    return grouped.applyInPandasWithState(
        fn,
        out_schema,
        "buf binary, meta binary",
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )
