"""In-memory span tracer for the traced benchmark run.

A span records (name, start, end, parent index, op id).  Spans nest per
thread; all spans of one benchmark operation share the op id.  Nothing
is written while the run measures: the list is dumped once at the end.

``install`` wraps the engine's public entry points from the outside
(module attributes and class methods), so the traced program is the
unmodified repository code.  ``self_times`` turns spans into self time:
a span's duration minus the part of it covered by its children.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[list] = []  # [name, start, end, parent, op]
        self._local = threading.local()
        self.op = None

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        st = self._stack()
        rec = [name, time.perf_counter(), None, st[-1] if st else None, self.op]
        self.spans.append(rec)
        st.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            st.pop()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def per_span_cost(self, n: int = 20000) -> float:
        """Seconds one span adds, measured on empty spans."""
        saved_spans, saved_op = self.spans, self.op
        self.spans = []
        t0 = time.perf_counter()
        for _ in range(n):
            with self.span("calibration"):
                pass
        cost = (time.perf_counter() - t0) / n
        self.spans, self.op = saved_spans, saved_op
        return cost

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [
                    {"name": s[0], "start": s[1], "end": s[2], "parent": s[3], "op": s[4]}
                    for s in self.spans
                ],
                f,
            )


def self_times(spans) -> list[float]:
    """Self time of each span: its duration minus the union of its direct
    children's intervals, clipped to the span.  ``spans`` holds
    (name, start, end, parent, ...) records; open spans count as empty."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s[3] is not None and s[2] is not None:
            children.setdefault(s[3], []).append((s[1], s[2]))
    out = []
    for i, s in enumerate(spans):
        if s[2] is None:
            out.append(0.0)
            continue
        covered = 0.0
        cur_start = cur_end = None
        for a, b in sorted(children.get(i, ())):
            a, b = max(a, s[1]), min(b, s[2])
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out.append(max(0.0, (s[2] - s[1]) - covered))
    return out


def summarize(spans, since: float = float("-inf")) -> dict[str, dict]:
    """Per span name: call count, total duration and total self time of
    spans that started at or after ``since``."""
    st = self_times(spans)
    out: dict[str, dict] = {}
    for s, self_t in zip(spans, st):
        if s[2] is None or s[1] < since:
            continue
        d = out.setdefault(s[0], {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        d["calls"] += 1
        d["total_s"] += s[2] - s[1]
        d["self_s"] += self_t
    return out


# (span name, module path, attribute, class name or None)
TRACE_POINTS = (
    ("engine.sql", "flink_1_8_sourcecode_spark.engine", "sql", "Engine"),
    ("engine.explain", "flink_1_8_sourcecode_spark.engine", "explain", "Engine"),
    ("engine.insert", "flink_1_8_sourcecode_spark.engine", "insert_into", "Engine"),
    ("catalog.register", "flink_1_8_sourcecode_spark.engine", "register_testdata", "Engine"),
    ("catalog.register", "flink_1_8_sourcecode_spark.engine", "register", "Engine"),
    # engine.py binds rewrite_flink_sql at import time: wrap that binding
    ("plans.rewrite", "flink_1_8_sourcecode_spark.engine", "rewrite_flink_sql", None),
    # Engine.sql imports match_recognize at call time from its module
    ("cep.sql", "flink_1_8_sourcecode_spark.cep.match_recognize", "match_recognize", None),
    ("operators.curate_plan", "flink_1_8_sourcecode_spark.operators.pipeline", "curate_corpus", None),
    ("operators.lsh_plan", "flink_1_8_sourcecode_spark.operators.dedup", "minhash_lsh_pairs", None),
    ("operators.knn_plan", "flink_1_8_sourcecode_spark.operators.similarity", "cosine_topk_gemm", None),
    ("session.start", "flink_1_8_sourcecode_spark.session", "get_spark", None),
)


def install(tracer: Tracer, hooks: dict | None = None):
    """Wrap every TRACE_POINTS target; returns an undo callable.
    ``hooks`` maps a span name to a callback given each call's return
    value (used to keep the LSH candidate pairs for counting)."""
    import importlib

    undo = []
    for name, mod_path, attr, cls_name in TRACE_POINTS:
        mod = importlib.import_module(mod_path)
        owner = getattr(mod, cls_name) if cls_name else mod
        orig = getattr(owner, attr)
        wrapped = tracer.wrap(name, orig)
        hook = (hooks or {}).get(name)
        if hook is not None:
            inner = wrapped

            @functools.wraps(orig)
            def wrapped(*a, __inner=inner, __hook=hook, **k):
                out = __inner(*a, **k)
                __hook(out)
                return out

        setattr(owner, attr, wrapped)
        undo.append((owner, attr, orig))

    def restore():
        for owner, attr, orig in reversed(undo):
            setattr(owner, attr, orig)

    return restore
